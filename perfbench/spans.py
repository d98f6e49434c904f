"""Spans around the harness's calls into the library, with Spark's own
job, stage and task counters attached.

Each span runs under its own Spark job group, so every job the library
starts inside it is attributed to that span.  The counters are read from
the status store right after the span ends: `spark.ui.retainedJobs`
(1000 by default) would evict early spans' jobs before the run ends, and
the harness changes no session setting to keep them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.perfstats import self_time

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes",
)


def _scala_items(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class Span:
    id: int
    name: str
    op: str  # request id or query-pass id the span belongs to
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise every span is a no-op, so the
    untraced run pays nothing but a context-manager call."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[tuple[int, int]] = set()
        # wall time spent inside the tracer's own bookkeeping
        self.overhead_s = 0.0
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, op, parent.id if parent else None)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(self._group(sp), name, False)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._read_counters(sp)
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.name, False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - sp.end

    @staticmethod
    def _group(sp: Span) -> str:
        return f"perfbench-span-{sp.id}"

    def _read_counters(self, sp: Span) -> None:
        jsc = self._sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gateway = self._sc._gateway
        no_statuses = gateway.jvm.java.util.ArrayList()
        no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        c = sp.counts
        for job_id in self._sc.statusTracker().getJobIdsForGroup(self._group(sp)):
            c["jobs"] += 1
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.length()):
                attempts = store.stageData(stage_ids.apply(i), False, no_statuses, False, no_quantiles)
                for stage in _scala_items(attempts):
                    key = (stage.stageId(), stage.attemptId())
                    # a stage reused by a later job is reported SKIPPED there;
                    # its work is counted once, by the span that ran it
                    if stage.status().toString() != "COMPLETE" or key in self._seen_stages:
                        continue
                    self._seen_stages.add(key)
                    c["stages"] += 1
                    c["tasks"] += stage.numCompleteTasks()
                    c["executor_run_s"] += stage.executorRunTime() / 1e3
                    c["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                    c["gc_s"] += stage.jvmGcTime() / 1e3
                    c["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                    c["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()

    # ---- queries over the recorded spans -------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        return self_time(sp.start, sp.end, [(c.start, c.end) for c in self.children(sp)])

    def total(self, sp: Span, counter: str) -> float:
        """A counter summed over the span and all its descendants."""
        return sp.counts[counter] + sum(self.total(c, counter) for c in self.children(sp))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                row = asdict(sp)
                row["self_s"] = self.self_time(sp)
                f.write(json.dumps(row) + "\n")
