"""`corpus_batch`: the data-processing core as batch queries, each run to
the `noop` sink in an order the seed permutes.

The queries are headline queries of the root `bench.py` (`BENCH_QUERIES`)
that the library's registry holds with a DuckDB oracle.  No query writes
to the tenant store, so a change to `sources.tenancy` or to the request
path should not move this workload.

The untimed warm-up pass collects every query and compares it with its
DuckDB oracle (`registry.ORACLES`) using the row-count, column and value
hash comparison of `tools/oracle_check.py`; it also pays the first-run JIT
cost, which a long-lived service pays once.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import datagen
from perfbench.perfstats import Outcomes, median
from perfbench.proctree import per_op, spent

# A subset of bench.BENCH_QUERIES, all oracle-checked, sized so the
# warm-up pass plus a timed pass fit one run (see README.md);
# training_pipeline also covers exact and n-gram dedup and LM training
# and scoring.
QUERIES = [
    "vector_topk_similarity",
    "json_filter_recency_topk",
    "rolling_context",
    "response_clean",
    "pricing_summary",
    "sessionize_gap30m",
    "training_pipeline",
]
COUNTERS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


def compare_with_oracle(cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]) -> list[str]:
    """The row-count, column and order-insensitive value-hash comparison of
    tools/oracle_check.py."""
    from tools.oracle_check import value_hash

    problems = []
    if len(rows) != len(orows):
        problems.append(f"rows {len(rows)} vs {len(orows)}")
    if sorted(cols) != sorted(ocols):
        problems.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
    elif value_hash(cols, rows) != value_hash(ocols, orows):
        problems.append("value-hash mismatch")
    return problems


class CorpusBatch:
    def __init__(self, spark, work_dir: str, seed: int, tracer, meter):
        self.spark = spark
        self.tracer = tracer
        self.meter = meter
        self.rng = np.random.default_rng([seed, 0xBA7C])
        self.seed = seed
        self.sf_dir = os.path.join(work_dir, "tables")
        self.outcomes = Outcomes()
        self.passes: list[dict[str, tuple[float, float]]] = []
        self.latencies: list[float] = []
        self.cpu: list[dict[str, float]] = []  # CPU seconds by role, per timed pass
        self.trace_overhead_s = 0.0

    def setup(self) -> None:
        datagen.write_tables(self.seed, self.sf_dir)

    def warmup(self) -> None:
        """Untimed oracle pass: collect each query and check it."""
        import duckdb

        from psy_supabase_spark.registry import ORACLES, QUERIES as REGISTERED
        from psy_supabase_spark.schemas import TESTDATA_TABLES

        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name in self.rng.permutation(QUERIES):
                problems = []
                try:
                    df = REGISTERED[name](self.spark, self.sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    res = con.execute(ORACLES[name])
                    ocols = [d[0] for d in res.description]
                    problems = compare_with_oracle(df.columns, rows, ocols, [tuple(r) for r in res.fetchall()])
                except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                    problems = [f"{type(e).__name__}: {e}"]
                self.outcomes.record([f"oracle {name}: {p}" for p in problems])
        finally:
            con.close()

    def _pass(self, p: int) -> None:
        from psy_supabase_spark.registry import QUERIES as REGISTERED

        op = f"pass{p}"
        walls: dict[str, tuple[float, float]] = {}
        span = self.tracer.span
        cpu0 = self.meter.read()
        with span("batch.pass", op):
            for name in self.rng.permutation(QUERIES):
                problems = []
                t0 = time.perf_counter()
                try:
                    with span(f"batch.{name}", op):
                        with span(f"batch.{name}.build", op):
                            df = REGISTERED[name](self.spark, self.sf_dir)
                        t1 = time.perf_counter()
                        with span(f"batch.{name}.exec", op):
                            df.write.mode("overwrite").format("noop").save()
                    walls[name] = (t1 - t0, time.perf_counter() - t1)
                except Exception as e:  # noqa: BLE001
                    problems.append(f"{op} {name}: {type(e).__name__}: {e}")
                self.outcomes.record(problems)
        self.cpu.append(spent(cpu0, self.meter.read()))
        self.passes.append(walls)
        self.latencies.append(sum(b + e for b, e in walls.values()))

    def measure(self, seconds: float) -> None:
        """Whole passes while the next one is expected to end within
        ``seconds``; at least one."""
        overhead0 = self.tracer.overhead_s
        start = time.perf_counter()
        while not self.passes or (time.perf_counter() - start) + self.latencies[-1] <= seconds:
            self._pass(len(self.passes))
        self.trace_overhead_s = (self.tracer.overhead_s - overhead0) / len(self.passes)

    def layer_metrics(self) -> dict[str, float]:
        """Per-query medians over the timed passes, and per-pass totals of
        Spark's counters."""
        tr = self.tracer
        out: dict[str, float] = {}
        for name in QUERIES:
            walls = [w[name] for w in self.passes if name in w]
            out[f"batch.{name}.build_s"] = median([b for b, _ in walls])
            out[f"batch.{name}.exec_s"] = median([e for _, e in walls])
            out[f"batch.{name}.jobs"] = median([tr.total(s, "jobs") for s in tr.named(f"batch.{name}")])
        passes = tr.named("batch.pass")
        out["batch.spark.build_jobs"] = median(
            [sum(s.counts["jobs"] for s in tr.spans if s.op == p.op and s.name.endswith(".build")) for p in passes]
        )
        for counter in COUNTERS:
            out[f"batch.spark.{counter}"] = median([tr.total(p, counter) for p in passes])
        for role, cpu_s in per_op(self.cpu).items():
            out[f"batch.cpu.{role}_s"] = cpu_s
        out["batch.trace_overhead_s"] = self.trace_overhead_s
        return out
