"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload chat --seed 1 --seconds 15 --trace 0

The run starts Spark through the library's own `session.get_spark` on
`local[<cores>]`, builds the workload's inputs from the seed, warms up
untimed, then measures for about ``--seconds``.  Every output is checked;
a failed check or an exception counts as a failed operation and makes
``correct`` false.  With ``--trace 0`` the last line carries the
end-to-end metrics; with ``--trace 1`` every call into the library runs
in its own span and job group and the last line carries the per-layer
metrics (layers the workload does not call read 0).  Spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")

END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}


def _workloads():
    from perfbench.chat import STEPS, Chat
    from perfbench.corpus import COUNTERS, QUERIES, CorpusBatch
    from perfbench.proctree import ROLES

    per_layer = [f"{name}_s" for name in STEPS.values()] + [
        "chat.operators.topk.retrieve_jobs",
        "chat.api.request_jobs",
        "chat.api.request_self_s",
        "chat.spark.tasks",
        "chat.spark.executor_run_s",
        "chat.spark.executor_cpu_s",
        "chat.spark.gc_s",
        "chat.sources.tenancy.files",
        "chat.sources.tenancy.bytes_written",
        "chat.store_bytes_per_user_byte",
    ] + [f"chat.cpu.{role}_s" for role in ROLES] + ["chat.trace_overhead_s"]
    for q in QUERIES:
        per_layer += [f"batch.{q}.build_s", f"batch.{q}.exec_s", f"batch.{q}.jobs"]
    per_layer += ["batch.spark.build_jobs"] + [f"batch.spark.{c}" for c in COUNTERS]
    per_layer += [f"batch.cpu.{role}_s" for role in ROLES]
    per_layer += ["batch.trace_overhead_s", "driver.peak_rss_mb"]
    return {"chat": Chat, "corpus_batch": CorpusBatch}, per_layer


def _environment() -> None:
    """Settings the library's Spark session and its Python workers read at
    launch; set here so the library itself changes nothing."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    local_dirs = os.path.join(OUT_DIR, "spark-local")
    os.makedirs(local_dirs, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    # Spark's Python workers import the library by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # temporary files of Python, the JVM and Spark stay inside the checkout
    tmp = os.path.join(OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if o
    )
    sys.path.insert(0, ROOT)


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) CPU ticks since boot: time the hypervisor gave this
    machine's CPUs to someone else inflates every wall time measured."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "psy_supabase_spark")):
        print(f"no psy_supabase_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    _environment()
    workloads, per_layer = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; expected one of {sorted(workloads)}", file=sys.stderr)
        return 2

    import pyspark

    from perfbench.proctree import CpuMeter
    from perfbench.spans import Tracer
    from psy_supabase_spark.session import get_spark

    work_dir = os.path.join(OUT_DIR, f"work-{args.workload}-{os.getpid()}")
    spark = get_spark("perfbench")
    phases = {"spark_start_s": time.perf_counter() - PROCESS_START}
    try:
        env = {
            "nproc": os.environ["SPARK_GRAFT_CPUS"],
            "pyspark": pyspark.__version__,
            "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        }
        tracer = Tracer(spark, bool(args.trace))
        jvm_proc = getattr(spark.sparkContext._gateway, "proc", None)
        meter = CpuMeter(jvm_proc.pid if jvm_proc is not None else None)
        wl = workloads[args.workload](spark, work_dir, args.seed, tracer, meter)
        t = time.perf_counter()
        wl.setup()
        phases["inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - PROCESS_START
        ticks0 = _cpu_ticks()
        wl.measure(args.seconds)
        ticks1 = _cpu_ticks()
        if args.trace:
            layers = dict.fromkeys(per_layer, 0.0)
            layers.update(wl.layer_metrics())
            tracer.write(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
        jvm_rss_kb = _rss_kb(jvm_proc.pid) if jvm_proc is not None else 0
    finally:
        _stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    from perfbench.perfstats import median, tail
    from perfbench.proctree import per_op

    peak_rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + jvm_rss_kb) / 1024
    lat = wl.latencies
    tail_pt = tail(lat)
    print(json.dumps({
        "env": env,
        "setup_phases": phases,
        "samples": len(lat),
        "op_p50_s": median(lat),
        "latencies_s": lat,
        "cpu_s": wl.cpu,
        "tail": None if tail_pt is None else {"percentile": tail_pt[0], "value_s": tail_pt[1]},
        "host_steal_share": (
            (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None
        ),
        "error_rate": wl.outcomes.error_rate,
        "problems": wl.outcomes.problems[:20],
    }))
    if args.trace:
        values = {**layers, "driver.peak_rss_mb": peak_rss_mb}
        units = {k: _unit(k) for k in values}
    else:
        values = {"setup_s": setup_s, "op_cpu_s": sum(per_op(wl.cpu).values())}
        units = END_TO_END
    out = wl.outcomes
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("per_user_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
