"""`chat`: the reference's per-request /chat lifecycle through
`api.PsyEngine`, as a closed loop with one client.

Each request runs, and collects, in the reference's order: the safety
gate (a blocked question short-circuits to a canned reply, still logged),
the rolling context, cosine top-k retrieval with the default-KB fallback,
cleaning of a stub answer, then the append of the turn to the tenant's
`interactions`.  Every step is a handful of tiny Spark jobs, so this
workload measures fixed per-request overhead; the knowledge base is
1536-wide so retrieval takes the GEMM route, and each request adds one
file to the tenant store, so reads are measured while the store grows.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import datagen
from perfbench.perfstats import Outcomes, median
from perfbench.proctree import per_op, spent

DIM = 1536
TOP_K = 5
KB_TENANTS = [f"tenant_{i}" for i in range(8)]
NO_KB_TENANTS = [f"tenant_{i}" for i in range(8, 12)]
KB_ROWS_PER_TENANT = 100
DEFAULT_KB_ROWS = 200
# The request mix repeats every MIX_PERIOD requests and is the same for
# every seed: position NO_KB_AT of each period goes to a tenant without a
# knowledge base (the default-KB fallback), position BLOCK_AT carries a
# harm phrase the safety gate blocks, the others go to tenants with one.
# The Zipf-like rank of each request's tenant comes from a fixed schedule
# RNG; the seed decides which tenant holds which rank, and every text and
# vector.  Timing covers whole periods only, so every run times the same
# mix, and the warm-up requests (positions 0 and 1) run both retrieval
# paths before timing begins.
MIX_PERIOD = 4
NO_KB_AT, BLOCK_AT = 1, 3
SCHEDULE_SEED = 0x5C4ED
ZIPF_S = 1.1
HARM_PHRASES = ["i want to hurt myself", "i think about suicide", "i might hurt someone"]
QUERY_NOISE = 0.3
# the first requests run ~1.4x slower while the JVM compiles the request path
WARMUP_REQUESTS = 2
# cosine similarities are compared after the engine's 6-decimal rounding
SIM_TOL = 2e-6

STEPS = {
    "safety": "chat.functions.text.safety",
    "context": "chat.operators.windows.context",
    "retrieve": "chat.operators.topk.retrieve",
    "clean": "chat.functions.response_clean.clean",
    "append": "chat.sources.tenancy.append",
}
REQUEST = "chat.api.request"


@dataclass
class Turn:
    question: str
    answer: str


@dataclass
class KnowledgeBase:
    contents: list[str]
    vectors: np.ndarray  # float64 copy of the stored float32 vectors
    index: dict[str, int] = field(init=False)
    unit: np.ndarray = field(init=False)

    def __post_init__(self):
        self.index = {c: i for i, c in enumerate(self.contents)}
        self.unit = self.vectors / np.linalg.norm(self.vectors, axis=1, keepdims=True)


class Chat:
    def __init__(self, spark, work_dir: str, seed: int, tracer, meter):
        from psy_supabase_spark.api import PsyEngine

        self.spark = spark
        self.tracer = tracer
        self.meter = meter
        self.rng = np.random.default_rng([seed, 0xC4A7])
        self.seed = seed
        self.schedule = np.random.default_rng(SCHEDULE_SEED)
        # tenants in Zipf-rank order
        self.kb_tenants = [str(t) for t in self.rng.permutation(KB_TENANTS)]
        self.no_kb_tenants = [str(t) for t in self.rng.permutation(NO_KB_TENANTS)]
        self.warehouse = os.path.join(work_dir, "warehouse")
        self.engine = PsyEngine(spark, self.warehouse)
        self.outcomes = Outcomes()
        self.kb: dict[str, KnowledgeBase] = {}
        self.turns: dict[str, list[Turn]] = {}
        self.latencies: list[float] = []
        self.cpu: list[dict[str, float]] = []  # CPU seconds by role, per timed request
        self.timed_ops: set[str] = set()
        self.trace_overhead_s = 0.0
        self.user_bytes = 0
        self.appends = 0
        self._seq = 0

    # ---- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Load the knowledge bases: document text paired with 1536-wide
        synthetic embeddings, one append per tenant plus `default`."""
        from psy_supabase_spark.sources.synth import synthetic_embeddings

        owners = ["default"] * DEFAULT_KB_ROWS + [
            t for t in KB_TENANTS for _ in range(KB_ROWS_PER_TENANT)
        ]
        texts = datagen.document_texts(self.rng, len(owners))
        self.corpus = texts
        emb = (
            synthetic_embeddings(self.spark, len(owners), DIM, seed=self.seed)
            .toPandas()
            .sort_values("vec_id")
        )
        vectors = np.stack(emb["embedding"].to_numpy())
        for tenant in ["default", *KB_TENANTS]:
            rows = [i for i, o in enumerate(owners) if o == tenant]
            contents = [f"{tenant} doc {i}: {texts[i]}" for i in rows]
            pdf = emb.iloc[rows].assign(content=contents)[["content", "embedding"]]
            self.engine.add_documents(tenant, self.spark.createDataFrame(pdf))
            self.kb[tenant] = KnowledgeBase(contents, vectors[rows].astype(np.float64))
            self.user_bytes += sum(len(c.encode()) for c in contents) + vectors[rows].nbytes

    # ---- one request --------------------------------------------------------

    def _question(self, seq: int) -> tuple[str, bool]:
        words = self.corpus[int(self.rng.integers(0, len(self.corpus)))].split()
        start = int(self.rng.integers(0, max(1, len(words) - 8)))
        question = f"how should i handle {' '.join(words[start:start + 8])} ({seq})"
        if seq % MIX_PERIOD == BLOCK_AT:
            harm = HARM_PHRASES[int(self.rng.integers(0, len(HARM_PHRASES)))]
            return f"{question} {harm}", True
        return question, False

    def _query_vec(self, kb: KnowledgeBase) -> np.ndarray:
        base = kb.vectors[int(self.rng.integers(0, len(kb.contents)))]
        noise = self.rng.standard_normal(DIM) * (QUERY_NOISE / np.sqrt(DIM))
        return base + noise

    def _tenant(self, seq: int) -> str:
        group = self.no_kb_tenants if seq % MIX_PERIOD == NO_KB_AT else self.kb_tenants
        weights = 1.0 / np.arange(1, len(group) + 1) ** ZIPF_S
        return group[int(self.schedule.choice(len(group), p=weights / weights.sum()))]

    def request(self, timed: bool) -> None:
        seq = self._seq
        self._seq += 1
        tenant = self._tenant(seq)
        question, harmful = self._question(seq)
        kb = self.kb.get(tenant, self.kb["default"])
        qvec = self._query_vec(kb)
        problems: list[str] = []
        op = f"req{seq}"
        cpu0 = self.meter.read()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(REQUEST, op):
                self._serve(op, seq, tenant, question, harmful, kb, qvec, problems)
        except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
            problems.append(f"{op}: {type(e).__name__}: {e}")
        wall = time.perf_counter() - t0
        cpu = spent(cpu0, self.meter.read())
        if timed:
            self.latencies.append(wall)
            self.cpu.append(cpu)
            self.timed_ops.add(op)
        self.outcomes.record(problems)

    def _serve(self, op, seq, tenant, question, harmful, kb, qvec, problems) -> None:
        spark, engine, span = self.spark, self.engine, self.tracer.span
        with span(STEPS["safety"], op):
            q_df = spark.createDataFrame([(question,)], "question string")
            verdict = engine.classify_safety(q_df).collect()[0]
        if bool(verdict["blocked"]) != harmful:
            problems.append(f"{op}: safety gate blocked={verdict['blocked']} for harmful={harmful}")
        if verdict["blocked"]:
            answer = f"[{verdict['safety']['category']}] Please reach out to a crisis line now."
            self._append(op, seq, tenant, None, question, answer)
            return
        with span(STEPS["context"], op):
            history = engine.build_context(tenant).collect()
        problems += self._check_context(op, tenant, history)
        with span(STEPS["retrieve"], op):
            hits = engine.get_relevant_documents(tenant, qvec.tolist(), k=TOP_K).collect()
        problems += self._check_topk(op, hits, kb, qvec)
        top = hits[0]["content"] if hits else ""
        stub = (
            f"<p>Thank you for sharing&nbsp;that.</p> “Based on {top[:60]}” "
            "-- I understand how you feel...   https://example.org/help"
        )
        with span(STEPS["clean"], op):
            a_df = spark.createDataFrame([(stub,)], "answer string")
            cleaned = engine.clean_responses(a_df).collect()[0]["cleaned_response"]
        if not cleaned:
            problems.append(f"{op}: empty cleaned response")
        recent = sorted(history, key=lambda r: r["interactionID"])[-3:]
        context = " ".join(f"Q: {r['question']} A: {r['answer']}" for r in recent) or None
        self._append(op, seq, tenant, context, question, cleaned or "")

    def _append(self, op, seq, tenant, context, question, answer) -> None:
        metadata = json.dumps({"topic": "general", "questionID": str(seq)})
        with self.tracer.span(STEPS["append"], op):
            self.engine.add_interaction(
                tenant, context=context, question=question, answer=answer, metadata=metadata
            )
        self.turns.setdefault(tenant, []).append(Turn(question, answer))
        self.appends += 1
        self.user_bytes += sum(len(s.encode()) for s in (context or "", question, answer, metadata))

    # ---- output checks --------------------------------------------------------

    def _check_context(self, op, tenant, history) -> list[str]:
        """The newest row of the tenant's history is the turn appended last
        for it, and its context renders the turn before that."""
        turns = self.turns.get(tenant, [])
        if len(history) != len(turns):
            return [f"{op}: {tenant} history has {len(history)} rows, {len(turns)} appended"]
        if not turns:
            return []
        newest = max(history, key=lambda r: r["interactionID"])
        last = turns[-1]
        if (newest["question"], newest["answer"]) != (last.question, last.answer):
            return [f"{op}: {tenant} newest history row is not the last appended turn"]
        if len(turns) > 1:
            prev = turns[-2]
            if f"Q: {prev.question} A: {prev.answer}" not in (newest["context"] or ""):
                return [f"{op}: {tenant} context lacks the previous turn"]
        return []

    def _check_topk(self, op, hits, kb: KnowledgeBase, qvec: np.ndarray) -> list[str]:
        """Brute-force cosine top-k in numpy, ranked by (similarity desc,
        content asc); positions may only differ between near-equal
        similarities."""
        sims = np.round(kb.unit @ (qvec / np.linalg.norm(qvec)), 6)
        ranked = sorted(range(len(kb.contents)), key=lambda j: (-sims[j], kb.contents[j]))[:TOP_K]
        if len(hits) != len(ranked):
            return [f"{op}: top-k returned {len(hits)} rows, expected {len(ranked)}"]
        if len({h["content"] for h in hits}) != len(hits):
            return [f"{op}: top-k repeats a document"]
        for pos, h in enumerate(hits):
            j = kb.index.get(h["content"])
            if j is None:
                return [f"{op}: top-k returned a document outside the tenant's KB"]
            if abs(sims[j] - h["similarity"]) > SIM_TOL or abs(sims[ranked[pos]] - h["similarity"]) > SIM_TOL:
                return [f"{op}: top-k position {pos} is {h['content'][:30]!r} at {h['similarity']}"]
        return []

    def check_interaction_ids(self) -> None:
        """Every tenant's stored interaction ids are unique and increase in
        append order."""
        from psy_supabase_spark.api import INTERACTIONS

        rows = self.engine.store.scan(INTERACTIONS).select(
            "user_id", "interaction_id", "question"
        ).collect()
        problems = []
        for tenant, turns in self.turns.items():
            ids = {r["question"]: r["interaction_id"] for r in rows if r["user_id"] == tenant}
            seq_ids = [ids.get(t.question) for t in turns]
            if None in seq_ids or len(ids) != len(turns):
                problems.append(f"{tenant}: stored turns do not match the {len(turns)} appended")
            elif any(b <= a for a, b in zip(seq_ids, seq_ids[1:])):
                problems.append(f"{tenant}: interaction ids {seq_ids} do not increase in append order")
        self.outcomes.record(problems)

    # ---- measurement -----------------------------------------------------------

    def warmup(self) -> None:
        for _ in range(WARMUP_REQUESTS):
            self.request(timed=False)

    def measure(self, seconds: float) -> None:
        """Whole periods of the request mix while the next one is expected
        to end within ``seconds``; at least one."""
        overhead0 = self.tracer.overhead_s
        start = time.perf_counter()
        periods = 0
        while periods == 0 or (time.perf_counter() - start) * (periods + 1) / periods <= seconds:
            for _ in range(MIX_PERIOD):
                self.request(timed=True)
            periods += 1
        self.trace_overhead_s = (self.tracer.overhead_s - overhead0) / len(self.latencies)
        self.check_interaction_ids()

    def store_stats(self) -> dict[str, float]:
        files = data_bytes = table_bytes = 0
        for root, _, names in os.walk(self.warehouse):
            for name in names:
                size = os.path.getsize(os.path.join(root, name))
                data_bytes += size
                if os.sep + "interactions" in root:
                    table_bytes += size
                    files += name.endswith(".parquet")
        return {
            "files_per_append": files / self.appends,
            "bytes_per_append": table_bytes / self.appends,
            "bytes_per_user_byte": data_bytes / self.user_bytes,
        }

    def layer_metrics(self) -> dict[str, float]:
        """Per-request medians over the timed requests' spans."""
        tr = self.tracer

        def timed(name):
            return [s for s in tr.named(name) if s.op in self.timed_ops]

        requests = timed(REQUEST)
        out = {f"{name}_s": median([s.duration for s in timed(name)]) for name in STEPS.values()}
        out["chat.operators.topk.retrieve_jobs"] = median(
            [tr.total(s, "jobs") for s in timed(STEPS["retrieve"])]
        )
        out["chat.api.request_jobs"] = median([tr.total(s, "jobs") for s in requests])
        out["chat.api.request_self_s"] = median([tr.self_time(s) for s in requests])
        for counter in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s"):
            out[f"chat.spark.{counter}"] = median([tr.total(s, counter) for s in requests])
        stats = self.store_stats()
        out["chat.sources.tenancy.files"] = stats["files_per_append"]
        out["chat.sources.tenancy.bytes_written"] = stats["bytes_per_append"]
        out["chat.store_bytes_per_user_byte"] = stats["bytes_per_user_byte"]
        for role, cpu_s in per_op(self.cpu).items():
            out[f"chat.cpu.{role}_s"] = cpu_s
        out["chat.trace_overhead_s"] = self.trace_overhead_s
        return out
