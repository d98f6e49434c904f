"""Benchmark driver — one JSON line on stdout.

Runs the headline queries (BASELINE.md: brute-force cosine top-k J2,
JSON recency top-k P3+O2, rolling context W1, taxonomy argmax A1, the
T6 cleaning pipeline, the heavy relational/dedup/sessionization paths,
and the composed 10-stage training pipeline) at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS].

Round-over-round discipline (protocol fixed r13):
- a frozen ~0.1 s probe is interleaved before EVERY headline
  repetition and `queries_calibrated` (median of rep/adjacent-probe,
  on stdout AND in extras) is the cross-round trend series, so host
  drift can be separated from code cost; raw seconds remain the
  primary same-session signal;
- headline queries exercise the engine's SELF-TUNING defaults (auto IVF
  lists + nprobe sweep to recall ≥ 0.9, auto SemDeDup k, dim-aware SRP
  banding) and the chosen configs are echoed in extras;
- absorbed costs carry measured attributions (`minhash_salt_overhead_sec`,
  `text_profile_gates_overhead_sec`, `fit_sample_premium_sec`,
  `semdedup_fixed8_sec`);
- both stateful streaming admission filters are priced over 10
  micro-batches with the per-batch FLOOR and the MARGINAL throughput
  reported separately.

IVF methodology (an index is build-once/search-many — the reference
instead re-created its ivfflat index per request, `main.py:57`):
the index is built and persisted ONCE outside the timed section
(`extra.ivf_build_sec`) with the auto-lists rule, an nprobe sweep picks
the cheapest config with recall@10 ≥ 0.9 (`extra.ivf_recall_at_10`),
and the timed `ann_ivf_search` entry measures SEARCH ONLY against the
persisted partition-pruned layout.

Each query executes fully via the noop sink (no driver collect, no
result materialization cost in the timing).

Output contract (r8): the stdout JSON line carries ONLY
{metric, value, unit, queries{name: sec}, sf, extra_file} and is
asserted < 1,800 chars — round 7's line grew past the driver's
2,000-char tail window and the round lost its perf artifact
(BENCH_r07.json parsed:null).  The full extras block (probe medians,
calibrated band, IVF/PQ/streaming/analytics telemetry) is written to
BENCH_EXTRA.json next to this file and committed with the round — diff
that sidecar mechanically.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from psy_supabase_spark.operators import dedup  # noqa: E402
from psy_supabase_spark.registry import QUERIES  # noqa: E402
from psy_supabase_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "vector_topk_similarity",   # J2 brute-force cosine top-k
    "knn_join_multi",           # N-query broadcast KNN (salted two-phase)
    "json_filter_recency_topk", # P3+O2
    "rolling_context",          # W1
    "topic_classify_argmax",    # A1
    "ner_entity_boost",         # T4+A1 entity-boosted argmax (map-side)
    "response_clean",           # T6 ten-pass cleaning pipeline
    "pricing_summary",          # TPC-H Q1 shape
    "revenue_by_nation",        # multi-join shape
    "sessionize_gap30m",        # window + agg
    "asof_join_purchase_click", # as-of join (union + window, zero joins)
    "dedup_minhash_lsh",        # MinHash LSH near-dup
    "simhash_neardup",          # SimHash banded near-dup
    "embedding_neardup_lsh",    # SRP near-dup
    "text_profile",             # text-analysis scan
    "multimodal_features",      # mapInPandas path
    "events_hourly_rollup",     # tumbling rollup
    "winnow_neardup",           # winnowing fingerprints + pair search
    "semdedup_pairs",           # SemDeDup cluster + within-cluster GEMM
    "lm_score",                 # bigram Stupid-Backoff train + score
    "exact_substr",             # ExactSubstr span excision (Lee 2021)
    "training_pipeline",        # the composed 10-stage end-to-end DAG
]


def _probe_run(spark) -> float:
    """FROZEN per-query calibration probe: hash + shuffle + agg over a
    generated range (no I/O, no engine code under test), ~0.1 s — cheap
    enough to interleave before EVERY headline repetition, fixed forever
    so per-query calibrated medians (query_time / adjacent_probe_time)
    compare across rounds.  A denominator sampled next to each
    measurement, not at the session's ends (r12 verdict #2: a
    session-bracketing calibration said the host was 1.3× faster while
    raw rose 3.6%).  Never change the workload."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(0, 5_000_000, 1, 32)
        .select(
            (F.col("id") % 1000).alias("k"),
            (F.pmod(F.xxhash64("id"), F.lit(1_000_000))).alias("h"),
        )
        .groupBy("k")
        .agg(F.sum("h").alias("s"), F.count("*").alias("c"))
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    return time.time() - t0


def _winnow_neardup(spark, sf_dir):
    # not in the 50-slot driver registry (its oracle evidence is absorbed
    # into doc_adjacent_stats); benched directly so the newest dedup
    # modality has a tracked perf number.  df_cap=100 (2% of the sf0.1
    # corpus): 8-char shingles are common English, so corpus-level pair
    # search MUST drop high-df fingerprints or the inverted index goes
    # quadratic on boilerplate (measured: df_cap=100k → 10.7M junk pairs
    # in 66s; df_cap=100 → 506 true partial-overlap pairs in 3s)
    from psy_supabase_spark.operators import winnow
    from psy_supabase_spark.sources.catalog import load_table

    return winnow.winnow_neardup_pairs(
        load_table(spark, sf_dir, "documents"), 5, df_cap=100
    )


def _semdedup_pairs(spark, sf_dir):
    # SemDeDup pair stage over the embeddings table: seeded k-means fit +
    # one GEMM assignment pass + within-cluster GEMM pair search.  eps
    # 0.5 (the corpus is uniform-random — its worst case, like IVF).
    # n_clusters=None exercises the SELF-TUNING default (r6 verdict #7:
    # the headline must price the rule the scale step relies on, not a
    # hand-picked k); the chosen k is echoed in extras and the legacy
    # k=8 config is re-measured as semdedup_fixed8_sec for
    # round-over-round comparability.
    from psy_supabase_spark.operators import semdedup
    from psy_supabase_spark.sources.catalog import load_table

    return semdedup.semdedup_pairs(
        load_table(spark, sf_dir, "embeddings"), 0.5, n_clusters=None
    )


def _lm_score(spark, sf_dir):
    # CCNet LM stage end-to-end: train the bigram Stupid-Backoff model on
    # the corpus (two count shuffles) and score every doc (bounded model
    # -> broadcast probes)
    from psy_supabase_spark.operators import lm
    from psy_supabase_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    model = lm.train_bigram_lm(docs, vocab_cap=1_000_000, bigram_cap=10_000_000)
    return lm.score_documents(docs, model)


def _exact_substr(spark, sf_dir):
    # ExactSubstr excision end-to-end (window rows -> dup grams -> merge
    # -> rebuild) at L=20: the synthetic corpus has little true span
    # duplication, so this prices the machinery, not the removals
    from psy_supabase_spark.operators import substr
    from psy_supabase_spark.sources.catalog import load_table

    return substr.excise_duplicate_spans(
        load_table(spark, sf_dir, "documents"), 20
    )


LOCAL_QUERIES = {
    "winnow_neardup": _winnow_neardup,
    "semdedup_pairs": _semdedup_pairs,
    "lm_score": _lm_score,
    "exact_substr": _exact_substr,
}

# lists come from the engine's SELF-TUNING rule (ivf.default_n_lists ≈
# √N with a size floor — r6 verdict #7: the headline must exercise the
# rule, not a pinned table); nprobe sweeps cheapest-first and the first
# config with recall@10 >= 0.9 wins.  Uniform-random vectors are IVF's
# worst case — real embedding corpora cluster far better, so this is a
# lower bound.
NPROBE_SWEEP = [4, 6, 8, 12, 16, 24, 32, 48]
IVF_RECALL_TARGET = 0.9


def _run(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _ivf_section(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, object]]:
    from pyspark.sql import functions as F

    from psy_supabase_spark.operators import ivf, topk
    from psy_supabase_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    exact_ids = [r.vec_id for r in topk.topk_similarity(emb, qvec, k=10).collect()]

    # lists: the self-tuning rule the scale step relies on
    lists = ivf.default_n_lists(emb.count(), len(qvec))
    nprobe, chosen_recall, best = None, -1.0, None
    for np_try in NPROBE_SWEEP:
        index = ivf.build_ivf_cached(emb, f"{sf_dir}/embeddings", n_lists=lists)
        ids = [r.vec_id for r in ivf.ivf_search(index, qvec, k=10, nprobe=np_try).collect()]
        recall = ivf.recall_at_k(exact_ids, ids, 10)
        if best is None or recall > best[1]:
            best = (np_try, recall)
        if recall >= IVF_RECALL_TARGET:
            nprobe, chosen_recall = np_try, recall
            break
    if nprobe is None:  # fall back to the best-observed config
        nprobe, chosen_recall = best

    # amortized build: fit + assign + persist the partition-pruned layout
    layout = os.path.join(tempfile.mkdtemp(prefix="ivf_bench_"), "layout")
    t0 = time.time()
    index = ivf.build_ivf(emb, n_lists=lists)
    ivf.write_ivf_layout(index, layout)
    build_sec = round(time.time() - t0, 3)

    # timed search ONLY: file-level partition pruning on the layout
    t0 = time.time()
    _run(ivf.search_layout(spark, layout, index.centers, qvec, k=5, nprobe=nprobe))
    search_sec = round(time.time() - t0, 3)

    # IVF-SQ8 serving twin: int8 first pass + full-precision rescore over a
    # 100-query batch, vs the same batch at full precision — measures the
    # quantized path end-to-end and its recall against exact brute force
    queries = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    t0 = time.time()
    _run(ivf.ivf_search_batch(index, queries, k=10, nprobe=nprobe))
    batch_full_sec = round(time.time() - t0, 3)
    # SQ8 store is BUILD-time work: persist it like the layout, read it
    # back, and time serving against the stored int8 form only
    sq8_path = os.path.join(tempfile.mkdtemp(prefix="ivf_sq8_"), "sq8")
    ivf.write_ivf_sq8_layout(index, sq8_path)
    sq8_store = spark.read.parquet(sq8_path)
    t0 = time.time()
    _run(ivf.ivf_search_batch(index, queries, k=10, nprobe=nprobe, sq8=True, sq8_store=sq8_store))
    batch_sq8_sec = round(time.time() - t0, 3)
    sq8_ids = [
        r.vec_id
        for r in ivf.ivf_search_batch(
            index,
            queries.where(F.col("query_id") == 0),
            k=10,
            nprobe=nprobe,
            sq8=True,
            sq8_store=sq8_store,
        ).collect()
    ]
    sq8_recall = ivf.recall_at_k(exact_ids, sq8_ids, 10)

    # PQ serving tier (operators/pq): 8-byte codes (32x vs float32), ADC
    # map-side scoring + exact rescore.  Fit + encode are build-time like
    # the layouts; timed = the 100-query batch only.
    from psy_supabase_spark.operators import pq

    t0 = time.time()
    books = pq.pq_fit(emb, m=8)
    pq_path = os.path.join(tempfile.mkdtemp(prefix="ivf_pq_"), "pq")
    pq.pq_encode(emb, books).write.mode("overwrite").parquet(pq_path)
    pq_build_sec = round(time.time() - t0, 3)
    enc = spark.read.parquet(pq_path)
    t0 = time.time()
    _run(pq.pq_search_batch(enc, queries, books, emb, k=10, rescore_factor=8))
    batch_pq_sec = round(time.time() - t0, 3)
    pq_ids = [
        r.vec_id
        for r in pq.pq_search_batch(
            enc, queries.where(F.col("query_id") == 0), books, emb, k=10, rescore_factor=8
        ).collect()
    ]
    pq_recall = ivf.recall_at_k(exact_ids, pq_ids, 10)

    # FIXED-CONFIG trend anchor (r7 verdict #2/#5): the auto-lists rule +
    # sweep changed the benched config between rounds (16 lists/nprobe 12
    # at r6 → 44/32 at r7), conflating policy with perf in the headline's
    # trend line.  Measure r6's exact config every round alongside the
    # auto headline so one stated policy stays comparable across rounds.
    fixed_lists, fixed_nprobe = 16, 12
    fixed_layout = os.path.join(tempfile.mkdtemp(prefix="ivf_fixed_"), "layout")
    fixed_index = ivf.build_ivf(emb, n_lists=fixed_lists)
    ivf.write_ivf_layout(fixed_index, fixed_layout)
    fixed_sec = None
    for _ in range(3):
        t0 = time.time()
        _run(
            ivf.search_layout(
                spark, fixed_layout, fixed_index.centers, qvec, k=5,
                nprobe=fixed_nprobe,
            )
        )
        dt = time.time() - t0
        fixed_sec = dt if fixed_sec is None else min(fixed_sec, dt)
    fixed_ids = [
        r.vec_id
        for r in ivf.ivf_search(fixed_index, qvec, k=10, nprobe=fixed_nprobe).collect()
    ]
    fixed_recall = ivf.recall_at_k(exact_ids, fixed_ids, 10)

    timings = {"ann_ivf_search": search_sec}
    extra = {
        "ivf_build_sec": build_sec,
        "ivf_lists": lists,
        "ivf_lists_rule": "default_n_lists(auto)",
        "ivf_nprobe": nprobe,
        "ivf_recall_at_10": chosen_recall,
        "ivf_fixed16x12_search_sec": round(fixed_sec, 3),
        "ivf_fixed16x12_recall_at_10": fixed_recall,
        "ivf_batch100_full_sec": batch_full_sec,
        "ivf_batch100_sq8_sec": batch_sq8_sec,
        "ivf_sq8_recall_at_10": sq8_recall,
        "pq_build_sec": pq_build_sec,
        "pq_batch100_sec": batch_pq_sec,
        "pq_recall_at_10": pq_recall,
    }
    return timings, extra


def _recall_map(rows) -> dict:
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    return {q: [v for _, v in sorted(pairs)] for q, pairs in by_q.items()}


def _avg_recall(gt: dict, got: dict, k: int) -> float:
    from psy_supabase_spark.operators.ivf import recall_at_k

    vals = [recall_at_k(ids, got.get(q, []), k) for q, ids in gt.items()]
    return round(sum(vals) / len(vals), 3) if vals else 0.0


def _dim1536_section(spark) -> dict[str, object]:
    """Validate the vector family at the reference's REAL dimensionality
    (round-6 verdict #1): the reference declares vector(1536)
    (query.txt:84) and actually embeds at 2048 (text_generator.py:314-316),
    while the driver testdata is dim 64.  A seeded clustered corpus
    (sources/synth: 20k vectors, 2000 micro-modes of ~10 near-copies — a
    realistic near-dup group structure) exercises exact / IVF / SQ8 / PQ /
    SRP / SemDeDup at width 1536; single-run timings (capability scale,
    not min-of-2 — this section prices a whole family, round-over-round
    diffs happen at the family level).

    What the width exposed (fixed this round, measured here):
    - probe selection via per-centroid literal expressions + per-pair HOF
      folds → ivf_search_batch_gemm (expression path measured 45.7 s for
      a 10-query batch at nprobe 4; the GEMM batch-100 runs ~1 s);
    - quantize_int8's three per-element folds → Arrow quantization
      (expression store build measured 267 s at 20k rows; Arrow ~2 s)."""
    from pyspark.sql import functions as F

    from psy_supabase_spark.operators import ivf, lsh, pq, semdedup, topk
    from psy_supabase_spark.sources.synth import synthetic_embeddings

    extra: dict[str, object] = {}
    n, dim, modes, k = 10_000, 1536, 1_000, 10

    t0 = time.time()
    path = os.path.join(tempfile.mkdtemp(prefix="dim1536_"), "emb")
    synthetic_embeddings(spark, n, dim, n_modes=modes).write.parquet(path)
    emb = spark.read.parquet(path)
    emb.count()
    extra["dim1536_gen_persist_sec"] = round(time.time() - t0, 3)

    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    t0 = time.time()
    _run(topk.topk_similarity(emb, qvec, k=k))
    extra["dim1536_exact_expr_topk1_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    index = ivf.build_ivf(emb, n_lists=32)
    index.assigned = index.assigned.cache()
    index.assigned.count()
    extra["dim1536_ivf_build_sec"] = round(time.time() - t0, 3)

    queries = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    t0 = time.time()
    gt = _recall_map(ivf.ivf_search_batch_gemm(index, queries, k=k, nprobe=32).collect())
    extra["dim1536_gemm_bruteforce100_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    got = _recall_map(ivf.ivf_search_batch_gemm(index, queries, k=k, nprobe=4).collect())
    extra["dim1536_ivf_gemm_batch100_sec"] = round(time.time() - t0, 3)
    extra["dim1536_ivf_recall_at_10"] = _avg_recall(gt, got, k)

    t0 = time.time()
    store = ivf.quantized_store(index).cache()  # arrow kernel (auto at wide dim)
    store.count()
    extra["dim1536_sq8_store_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    got = _recall_map(
        ivf.ivf_search_batch_gemm(index, queries, k=k, nprobe=4, sq8_store=store).collect()
    )
    extra["dim1536_sq8_batch100_sec"] = round(time.time() - t0, 3)
    extra["dim1536_sq8_recall_at_10"] = _avg_recall(gt, got, k)

    t0 = time.time()
    books = pq.pq_fit(emb, m=16, fit_sample_cap=5_000)
    pq_path = os.path.join(tempfile.mkdtemp(prefix="dim1536_pq_"), "pq")
    # ONE encode pass carries centroid_id (passthrough) so the same store
    # serves flat-PQ and IVF-PQ; encode/persist is build-time work
    pq.pq_encode(index.assigned, books, passthrough=["centroid_id"]).write.mode(
        "overwrite"
    ).parquet(pq_path)
    enc = spark.read.parquet(pq_path)
    extra["dim1536_pq_build_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    got = _recall_map(
        pq.pq_search_batch(enc, queries, books, emb, k=k, rescore_factor=8).collect()
    )
    extra["dim1536_pq_batch100_sec"] = round(time.time() - t0, 3)
    extra["dim1536_pq_recall_at_10"] = _avg_recall(gt, got, k)

    # full FAISS ladder: coarse probe prune + ADC + exact rescore
    t0 = time.time()
    got = _recall_map(
        pq.ivf_pq_search_batch(
            index, enc, queries, books, k=k, nprobe=4, rescore_factor=8
        ).collect()
    )
    extra["dim1536_ivfpq_batch100_sec"] = round(time.time() - t0, 3)
    extra["dim1536_ivfpq_recall_at_10"] = _avg_recall(gt, got, k)

    # residual (IVF-ADC) rung of the same ladder at the same m/nprobe/f:
    # the delta vs dim1536_ivfpq_* prices the q·centroid ADC term and the
    # residual codebooks on THIS corpus (isotropic micro-mode noise — the
    # regime map in operators/pq says expect parity here, and a recall
    # REGRESSION would flag a broken centroid term)
    t0 = time.time()
    rbooks = pq.pq_fit_residual(index, m=16, fit_sample_cap=5_000)
    rpq_path = os.path.join(tempfile.mkdtemp(prefix="dim1536_rpq_"), "rpq")
    pq.pq_encode_residual(index.assigned, index, rbooks).write.mode(
        "overwrite"
    ).parquet(rpq_path)
    renc = spark.read.parquet(rpq_path)
    extra["dim1536_ivfpq_residual_build_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    got = _recall_map(
        pq.ivf_pq_search_batch(
            index, renc, queries, rbooks, k=k, nprobe=4, rescore_factor=8,
            residual=True,
        ).collect()
    )
    extra["dim1536_ivfpq_residual_batch100_sec"] = round(time.time() - t0, 3)
    extra["dim1536_ivfpq_residual_recall_at_10"] = _avg_recall(gt, got, k)

    # banding from the SELF-TUNING rule (r6 verdict #3/#7: the 15 s
    # measurement used hand-picked 192p/16b — 12-bit bands whose 192-plane
    # signature GEMM and 16-way explode were the cost; suggest_banding
    # picks the recall-targeted minimum for THIS corpus size/threshold)
    n_planes, bands = lsh.suggest_banding(n, 0.9, dim=dim)
    extra["dim1536_srp_banding"] = f"{n_planes}p/{bands}b(auto)"
    # auto verify routing: n·dim·8 B = 123 MB fits the broadcast valve, so
    # the matrix ships once and bare id-pairs score in place (the join
    # route with its payload-attach shuffles stays the >valve scale path)
    extra["dim1536_srp_verify_route"] = "broadcast(auto)"
    t0 = time.time()
    extra["dim1536_srp_pairs"] = lsh.srp_neardup_pairs(
        emb, 0.9, dim=dim, n_planes=n_planes, bands=bands, n_rows=n
    ).count()
    extra["dim1536_srp_pairs_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    extra["dim1536_semdedup_pairs"] = semdedup.semdedup_pairs(
        emb, 0.9, n_clusters=32
    ).count()
    extra["dim1536_semdedup_pairs_sec"] = round(time.time() - t0, 3)
    # SemDeDup's pair stage is exact within clusters and the planted
    # near-dup groups are cluster-local here, so its count is the true
    # pair total — the ratio is SRP's measured candidate recall at 0.9
    if extra["dim1536_semdedup_pairs"]:
        extra["dim1536_srp_recall_vs_true"] = round(
            extra["dim1536_srp_pairs"] / extra["dim1536_semdedup_pairs"], 3
        )

    index.assigned.unpersist()
    store.unpersist()
    return extra


def _stream_admission_section(spark, sf_dir: str) -> dict[str, object]:
    """Throughput of the COMPOSED stateless admission stack as a real
    readStream (round-6 verdict #7): contamination flag → Gopher gates →
    URL blocklist → PII redaction → LM fluency score → learned-classifier
    probability, drained with availableNow into a noop sink.  The batch
    twins are benched individually (lm_score, text_profile gates, ...);
    this prices the STREAM path end-to-end.  Models are trained
    batch-side outside the timed window (build-time work, like the IVF
    layouts); the timed window is source-scan → all six stages → sink."""
    from pyspark.sql import functions as F

    from psy_supabase_spark.functions.pii import redact_pii
    from psy_supabase_spark.functions.quality import gopher_quality_flags
    from psy_supabase_spark.functions.url import is_blocked
    from psy_supabase_spark.operators import lm, quality_clf
    from psy_supabase_spark.operators.decontam import flag_contaminated
    from psy_supabase_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    src = os.path.join(tempfile.mkdtemp(prefix="admission_src_"), "docs")
    docs.write.parquet(src)

    bench_set = docs.limit(10).select("text")
    model = lm.collect_model(
        lm.train_bigram_lm(docs, vocab_cap=1_000_000, bigram_cap=10_000_000)
    )
    # gopher-only weak labels: the synthetic docs have no terminal
    # punctuation, so the C4 family would fail every row and degenerate
    # the fit (the weak_labels docstring's warning, verified here)
    labeled = quality_clf.weak_labels_from_gates(
        docs, families=("gopher",), min_words=30, min_stopword_hits=1
    )
    clf = quality_clf.train_quality_classifier(labeled)

    def admit(df):
        flagged = flag_contaminated(df, bench_set, n=8)
        g = gopher_quality_flags("text", min_words=30, min_stopword_hits=1)
        out = (
            flagged.withColumn("_q", g)
            .where(
                ~F.col("is_contaminated")
                & F.col("_q.passes")
                & ~is_blocked("text", ["spam.example"])
            )
            .select("doc_id", redact_pii("text").alias("text"))
        )
        out = lm.score_stream(out, model)
        return quality_clf.score_quality(out, clf)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    t0 = time.time()
    q = (
        admit(stream)
        .writeStream.format("noop")
        .option(
            "checkpointLocation",
            os.path.join(tempfile.mkdtemp(prefix="admission_ckpt_"), "ckpt"),
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    extra = {
        "stream_admission_n_docs": n_docs,
        "stream_admission_wall_sec": round(wall, 3),
        "stream_admission_docs_per_sec": round(n_docs / wall, 1),
    }

    # embedding-modality admission twin: the sf0.1 embeddings through the
    # SRP streaming filter (index starts empty; within-run the stream is
    # its own dedup pressure) — stateful foreachBatch path, 10 single-file
    # micro-batches so the cross-batch index is exercised repeatedly and
    # the per-batch FIXED cost can be separated from the marginal per-doc
    # cost (r6 verdict #2: the 2-batch blend neither proved nor priced
    # the stateful path).  The floor is measured directly: one EMPTY
    # batch through the same process_batch after the stream drains prices
    # index-read + band-join-with-nothing + components + txlog commits at
    # final index size; marginal throughput excludes batches × floor.
    from psy_supabase_spark.streaming.neardup import StreamingEmbeddingNearDupFilter

    emb = load_table(spark, sf_dir, "embeddings")
    n_emb = emb.count()
    esrc = os.path.join(tempfile.mkdtemp(prefix="admission_emb_"), "emb")
    n_batches = 10
    emb.repartition(n_batches).write.parquet(esrc)
    # fold_every=8: the counts commit (2nd txlog write per batch, O(index
    # buckets) rewrite) amortizes across 8 batches — the production
    # throughput knob, echoed below
    # expected_n sizes the (frozen-at-construction) banding for the full
    # index instead of the legacy 24p/8b — with 3-bit bands every batch
    # row collides with ~N/8 indexed rows per band, the dominant marginal
    # cost of the r7 measurement
    filt = StreamingEmbeddingNearDupFilter(
        spark,
        os.path.join(tempfile.mkdtemp(prefix="admission_embidx_"), "idx"),
        threshold=0.9,
        fold_every=8,
        expected_n=n_emb,
    )
    extra["stream_embedding_neardup_banding"] = (
        f"{filt.n_planes}p/{filt.bands}b(auto@{n_emb})"
    )
    batch_walls: list[float] = []

    def _timed_batch(df, e):
        b0 = time.time()
        filt.process_batch(df, e)
        batch_walls.append(time.time() - b0)

    estream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(esrc)
    )
    t0 = time.time()
    q = (
        estream.writeStream.foreachBatch(_timed_batch)
        .option(
            "checkpointLocation",
            os.path.join(tempfile.mkdtemp(prefix="admission_embckpt_"), "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    # floor: an empty batch through the identical code path (min of 2 —
    # the first run also JITs the empty-edge plans)
    empty = spark.createDataFrame([], emb.schema)
    floor = None
    for _ in range(2):
        f0 = time.time()
        filt.process_batch(empty)
        dt = time.time() - f0
        floor = dt if floor is None else min(floor, dt)
    batched = sum(batch_walls)
    marginal = batched - len(batch_walls) * floor
    extra["stream_embedding_neardup_wall_sec"] = round(wall, 3)
    extra["stream_embedding_neardup_vecs_per_sec"] = round(n_emb / wall, 1)
    extra["stream_embedding_neardup_batches"] = len(batch_walls)
    extra["stream_embedding_neardup_fold_every"] = 8
    extra["stream_embedding_neardup_floor_sec_per_batch"] = round(floor, 3)
    extra["stream_embedding_neardup_marginal_vecs_per_sec"] = (
        round(n_emb / marginal, 1) if marginal > 0 else None
    )

    # text-modality stateful twin (SimHash filter) under the identical
    # 10-batch / floor / marginal protocol — the embedding number alone
    # left the text filter's stateful path unpriced
    from psy_supabase_spark.streaming.neardup import StreamingNearDupFilter

    tsrc = os.path.join(tempfile.mkdtemp(prefix="admission_txt_"), "docs")
    docs.repartition(n_batches).write.parquet(tsrc)
    tfilt = StreamingNearDupFilter(
        spark,
        os.path.join(tempfile.mkdtemp(prefix="admission_txtidx_"), "idx"),
        fold_every=8,
    )
    t_walls: list[float] = []

    def _timed_tbatch(df, e):
        b0 = time.time()
        tfilt.process_batch(df, e)
        t_walls.append(time.time() - b0)

    tstream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tsrc)
    )
    t0 = time.time()
    q = (
        tstream.writeStream.foreachBatch(_timed_tbatch)
        .option(
            "checkpointLocation",
            os.path.join(tempfile.mkdtemp(prefix="admission_txtckpt_"), "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t_wall = time.time() - t0
    tempty = spark.createDataFrame([], docs.schema)
    t_floor = None
    for _ in range(2):
        f0 = time.time()
        tfilt.process_batch(tempty)
        dt = time.time() - f0
        t_floor = dt if t_floor is None else min(t_floor, dt)
    t_marginal = sum(t_walls) - len(t_walls) * t_floor
    extra["stream_text_neardup_wall_sec"] = round(t_wall, 3)
    extra["stream_text_neardup_docs_per_sec"] = round(n_docs / t_wall, 1)
    extra["stream_text_neardup_batches"] = len(t_walls)
    extra["stream_text_neardup_fold_every"] = 8
    extra["stream_text_neardup_floor_sec_per_batch"] = round(t_floor, 3)
    extra["stream_text_neardup_marginal_docs_per_sec"] = (
        round(n_docs / t_marginal, 1) if t_marginal > 0 else None
    )
    return extra


def _corpus_analytics_section(spark, sf_dir: str) -> dict[str, object]:
    """Price the round-7 corpus-analytics operators (heavy hitters, BM25,
    TF-IDF keyterms) as extras: none is a headline query (the shared
    headline set stays round-over-round comparable), but their cost and
    the MG-vs-declarative delta should be measured, not guessed."""
    from psy_supabase_spark.operators import heavyhitters as hh
    from psy_supabase_spark.operators import retrieval as rt
    from psy_supabase_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    extra: dict[str, object] = {}

    # trigram units: the synthetic corpus has a ~31-word vocabulary, so
    # unigram heavy hitters degenerates to "count the vocab"; the
    # trigram space (~30k distinct at sf0.1) is where the MG summary
    # actually works for its living.  The distribution is near-uniform
    # (hostile to MG by construction), so first find the capacity whose
    # exactness certificate holds, echo it, then time at that capacity.
    cap = 4096
    while True:
        try:
            n_mg = hh.top_tokens(docs, 50, capacity=cap, ngram=3).count()
            break
        except ValueError:
            cap *= 4
    extra["hh_trigram_capacity"] = cap
    best_mg = best_exact = None
    for _ in range(2):
        t0 = time.time()
        n_mg = hh.top_tokens(docs, 50, capacity=cap, ngram=3).count()
        dt = time.time() - t0
        best_mg = dt if best_mg is None else min(best_mg, dt)
        t0 = time.time()
        n_exact = hh.top_tokens_exact(docs, 50, ngram=3).count()
        dt = time.time() - t0
        best_exact = dt if best_exact is None else min(best_exact, dt)
    extra["hh_trigram_top50_mg_sec"] = round(best_mg, 3)
    extra["hh_trigram_top50_exact_sec"] = round(best_exact, 3)
    extra["hh_trigram_top50_rows"] = int(min(n_mg, n_exact))
    # r8: the auto route must pick the cheaper plan on THIS corpus —
    # echo what it chose so the crossover heuristic stays auditable
    # (small trigram vocab here → expect "exact", matching the timings
    # above; MG is the web-scale vocabulary-bound regime)
    extra["hh_auto_route"] = hh.route_top_tokens(docs, ngram=3)

    best = None
    for _ in range(2):
        t0 = time.time()
        rt.bm25_topk(docs, ["fast", "query"], 10).collect()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    extra["bm25_top10_sec"] = round(best, 3)

    best = None
    for _ in range(2):
        t0 = time.time()
        _run(rt.keyterms_tfidf(docs, 3))
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    extra["keyterms_top3_sec"] = round(best, 3)

    # DSIR selection (features → two distribution fits → decimal-exact
    # weights → Gumbel-top-k), target = the English slice
    from pyspark.sql import functions as F

    from psy_supabase_spark.operators import dsir

    target = docs.where(F.col("lang") == "en")
    best = None
    for _ in range(2):
        t0 = time.time()
        n_sel = dsir.dsir_select(docs, target, 500).count()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    extra["dsir_select500_sec"] = round(best, 3)
    extra["dsir_select500_rows"] = int(n_sel)
    return extra


def _tp_stage_section(spark, sf_dir: str) -> dict[str, object]:
    """Per-stage wall attribution for training_pipeline (r8 verdict #1):
    the flagship composed query is ~25% of the headline wall, priced as
    one number until now.  Cumulative-prefix timing, min-of-2: time the
    DAG truncated after each stage (queries.training_pipeline.STAGE_ORDER
    — build_prefix shares the registered query's construction, so the
    prefixes cannot drift from the headline), then difference adjacent
    prefixes for each stage's marginal cost.  Marginals are clamped at 0:
    a stage whose filter SHRINKS downstream work can legitimately time
    below its predecessor (run-to-run noise then shows as 0.0, and the
    cumulative vector — also emitted — stays the ground truth)."""
    from psy_supabase_spark.queries import training_pipeline as TP

    cum: dict[str, float] = {}
    for stage in TP.STAGE_ORDER:
        best = None
        for _ in range(2):
            t0 = time.time()
            _run(TP.build_prefix(spark, sf_dir, stage))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        cum[stage] = round(best, 3)
    marginal: dict[str, float] = {}
    prev = 0.0
    for stage in TP.STAGE_ORDER:
        marginal[stage] = round(max(cum[stage] - prev, 0.0), 3)
        prev = cum[stage]
    top = max(marginal, key=marginal.get)  # type: ignore[arg-type]
    return {
        "tp_stage_cum_secs": cum,
        "tp_stage_secs": marginal,
        "tp_stage_top": f"{top}:{marginal[top]}",
    }


def _srp_exact_k_section(spark, sf_dir: str) -> dict[str, object]:
    """Price the exact-k completion path (r8 verdict #4): srp_topk's
    brute_fallback checkpoints the ranked LSH answer and re-serves only
    the under-k queries through the exact KNN join.  Three timings over
    the same 64-query batch — plain LSH (pre-filter semantics), exact-k
    completion, and the full brute KNN join — plus the fraction of
    queries the completion actually re-served, so the premium is
    attributable: near-0 completed_frac means the checkpoint dominates
    the delta; high frac means the brute re-serve does."""
    from pyspark.sql import functions as F

    from psy_supabase_spark.operators import lsh, topk
    from psy_supabase_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = int(emb.select(F.size("embedding")).head()[0])
    k = 10
    queries = emb.where(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    n_queries = queries.count()

    def _srp(fallback: bool):
        return lsh.srp_topk(
            emb, queries, k=k, dim=dim, brute_fallback=fallback
        )

    plain_sec = exact_sec = brute_sec = None
    for _ in range(2):
        t0 = time.time()
        _run(_srp(False))
        dt = time.time() - t0
        plain_sec = dt if plain_sec is None else min(plain_sec, dt)
        t0 = time.time()
        _run(_srp(True))
        dt = time.time() - t0
        exact_sec = dt if exact_sec is None else min(exact_sec, dt)
        t0 = time.time()
        join_fn = topk.knn_join_gemm if dim >= 256 else topk.knn_join
        _run(join_fn(emb, queries, k=k))
        dt = time.time() - t0
        brute_sec = dt if brute_sec is None else min(brute_sec, dt)
    # how many queries did the completion actually re-serve?
    full = (
        _srp(False)
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= k)
        .count()
    )
    completed = n_queries - full
    return {
        "srp_exact_k_sec": round(exact_sec, 3),
        "srp_exact_k_plain_lsh_sec": round(plain_sec, 3),
        "srp_exact_k_brute_knn_sec": round(brute_sec, 3),
        "srp_exact_k_completed_frac": round(completed / max(n_queries, 1), 3),
        "srp_exact_k_n_queries": int(n_queries),
    }


def _linkgraph_bloom_section(spark, sf_dir: str) -> dict[str, object]:
    """Price the r11 link-graph + membership operators: host-level
    PageRank (3 power iterations over an sf-scaled synthetic edge list
    with a deliberate hot destination — 1/3 of all edges point at h0,
    the zipf-head shape of real host graphs) and the portable Bloom
    filter (distributed build over the even-doc URL set at 1% target
    fp, then both serving tiers over the full set plus the measured fp
    rate on the unseen half, so the priced contract is checked, not
    assumed)."""
    from pyspark.sql import functions as F

    from psy_supabase_spark.operators import bloom as BL
    from psy_supabase_spark.operators import linkgraph as LG
    from psy_supabase_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    extra: dict[str, object] = {}

    edges = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j")
    ).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 997).cast("string")).alias(
            "src_host"
        ),
        F.when((F.col("doc_id") + F.col("j")) % 3 == 0, F.lit("h0"))
        .otherwise(
            F.concat(
                F.lit("h"),
                ((F.col("doc_id") * 31 + F.col("j") * 7 + 1) % 997).cast(
                    "string"
                ),
            )
        )
        .alias("dst_host"),
    )
    extra["pagerank_edges"] = int(edges.count())
    best = None
    for _ in range(2):
        t0 = time.time()
        _run(LG.host_pagerank(edges, iterations=3))
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    extra["pagerank_iter3_sec"] = round(best, 3)

    url = F.concat(
        F.lit("http://h"),
        (F.col("doc_id") % 997).cast("string"),
        F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
    )
    prev = docs.where(F.col("doc_id") % 2 == 0).select(url.alias("url"))
    n_prev = max(prev.count(), 1)
    m, k = BL.bloom_params(n_prev, 0.01)
    t0 = time.time()
    words = BL.bloom_build(prev, "url", m, k)
    extra["bloom_build_sec"] = round(time.time() - t0, 3)
    extra["bloom_m_bits"], extra["bloom_k"] = m, k
    probe = docs.select(url.alias("url"))
    # construct each tier's plan ONCE outside the timed window (the
    # serving shape: a probe plan is reused across batches; the literal
    # tier's 749-word array literal costs driver-side construction that
    # would otherwise dominate the sub-second execution being measured)
    tiers = {
        "literal": probe.select(
            BL.bloom_contains_expr("url", words, m, k).alias("h")
        ),
        "udf": BL.bloom_contains_udf(probe, "url", words, m, k),
    }
    for tier, frame in tiers.items():
        best = None
        for _ in range(2):
            t0 = time.time()
            _run(frame)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        extra[f"bloom_probe_{tier}_sec"] = round(best, 3)
    # r12 mid-band pricing (m = 2^27: the plan literal would be 16 MB, so
    # only the Arrow tier serves here).  The word frame stays SPARSE
    # (<= n_prev*k rows).
    m_big, k_big = 1 << 27, 7
    dense = BL.bloom_build(prev, "url", m_big, k_big)
    extra["bloom_m27_words"] = sum(1 for w in dense if w)
    big_probe = BL.bloom_contains_udf(probe, "url", dense, m_big, k_big)
    best = None
    for _ in range(2):
        t0 = time.time()
        _run(big_probe)
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    extra["bloom_m27_probe_udf_sec"] = round(best, 3)
    odds = docs.where(F.col("doc_id") % 2 == 1).select(url.alias("url"))
    n_odds = odds.count()
    n_fp = odds.where(BL.bloom_contains_expr("url", words, m, k)).count()
    extra["bloom_fp_measured"] = (
        round(n_fp / n_odds, 5) if n_odds else 0.0
    )
    # r12 HLL: distinct-url sketch priced, accuracy checked vs exact
    # (the bloom fp pattern: the contract is measured, not assumed)
    from psy_supabase_spark.operators import hll as HLL

    n_exact = max(probe.distinct().count(), 1)
    best = None
    est = None
    for _ in range(2):
        t0 = time.time()
        regs = HLL.hll_registers(probe, "url", b=12).collect()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
        est = HLL.hll_estimate(regs, b=12)
    extra["hll_build_sec"] = round(best, 3)
    extra["hll_est_err"] = round(abs(est - n_exact) / n_exact, 5)
    return extra


def _warc_section(spark, sf_dir: str) -> dict[str, object]:
    """Price the WARC ingest boundary (r9 verdict #7 — the only operator
    family without a regression-visible number): synthesize a
    multi-shard Common-Crawl-layout corpus from the documents table
    (gzip member per response record, HTML page per doc — the
    crawl_ingest_demo grammar), then time the full read_warc path
    (binaryFile → incremental gunzip → streaming record scan → HTTP
    split) through the noop sink.  Shard synthesis is corpus-prep, not
    ingest, and stays outside the timed window."""
    import gzip

    from psy_supabase_spark.sources import warc
    from psy_supabase_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text").collect()

    def _rec(doc_id: int, text: str) -> bytes:
        html = (
            f"<html><head><title>Doc {doc_id}</title></head>"
            f"<body><h1>Doc {doc_id}</h1><p>{text}</p></body></html>"
        ).encode()
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        hdr = (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{doc_id}>\r\n"
            f"WARC-Target-URI: http://example.com/doc/{doc_id}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        return gzip.compress(hdr + http + b"\r\n\r\n")

    n_shards = 8
    shard_dir = Path(tempfile.mkdtemp(prefix="warc_bench_")) / "shards"
    shard_dir.mkdir(parents=True)
    total_bytes = 0
    for s in range(n_shards):
        blob = b"".join(_rec(r.doc_id, r.text) for r in rows[s::n_shards])
        (shard_dir / f"shard-{s:05d}.warc.gz").write_bytes(blob)
        total_bytes += len(blob)

    best = None
    for _ in range(2):
        t0 = time.time()
        _run(warc.read_warc(spark, str(shard_dir)))
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)

    # CDX random access (r10 verdict, next #1): price the index-then-
    # fetch path against the full-scan-then-filter path at 1%
    # selectivity — the access pattern that motivates record-level
    # random access (a filtered URL set pulls N records, not N shards).
    from pyspark.sql import functions as F

    from psy_supabase_spark.sources import cdx

    t0 = time.time()
    index = cdx.index_warc_members(spark, str(shard_dir))
    index.cache()
    n_indexed = index.count()
    cdx_index_sec = time.time() - t0
    hit_expr = (
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long") % 100 == 0
    )
    hits = index.where(hit_expr)
    cdx_fetch_sec = None
    for _ in range(2):
        t0 = time.time()
        fetched = cdx.fetch_records(hits).count()
        dt = time.time() - t0
        cdx_fetch_sec = dt if cdx_fetch_sec is None else min(cdx_fetch_sec, dt)
    uri_hit = (
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long") % 100
        == 0
    )
    cdx_fullscan_sec = None
    for _ in range(2):
        t0 = time.time()
        scanned = warc.read_warc(spark, str(shard_dir)).where(uri_hit).count()
        dt = time.time() - t0
        cdx_fullscan_sec = (
            dt if cdx_fullscan_sec is None else min(cdx_fullscan_sec, dt)
        )
    index.unpersist()

    return {
        "warc_shards": n_shards,
        "warc_records": len(rows),
        "warc_gz_bytes": total_bytes,
        "warc_shard_wall_sec": round(best, 3),
        "warc_parse_docs_per_sec": round(len(rows) / best, 1),
        "cdx_indexed_members": int(n_indexed),
        "cdx_index_sec": round(cdx_index_sec, 3),
        "cdx_fetch_records": int(fetched),
        "cdx_fetch_sec": round(cdx_fetch_sec, 3),
        "cdx_fullscan_filter_records": int(scanned),
        "cdx_fullscan_filter_sec": round(cdx_fullscan_sec, 3),
        "cdx_fetch_vs_fullscan": round(cdx_fetch_sec / max(cdx_fullscan_sec, 1e-9), 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    # warm the JVM + parquet footers once so timings measure the queries
    from psy_supabase_spark.sources.catalog import load_table

    for t in ("lineitem", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()

    # min of 2 runs per query: single-run numbers on this box swing ±20%
    # (JIT, page cache, GC); the min is the stable capability estimate and
    # makes round-over-round BENCH diffs meaningful
    # the LSH trio swings hardest (multi-stage plans, pandas-UDF stages);
    # a third repetition pins their min to the stable estimate.
    # SUB-SECOND queries escalate to min-of-5 (r7 verdict #4: their
    # round-over-round swings — rolling_context +43%, knn_join_multi +22%
    # — exceeded measured host drift on untouched code; at <1 s the
    # per-rep noise floor dominates 2 reps, so buy the extra samples
    # exactly where they're cheapest).
    noisy = {"dedup_minhash_lsh", "simhash_neardup", "embedding_neardup_lsh"}
    timings: dict[str, float] = {}
    # r13 (r12 verdict #2): a fixed-work probe runs immediately BEFORE
    # every repetition, so each query gets a host-speed denominator
    # sampled next to it — queries_calibrated (median of dt/probe over
    # the reps) is the cross-round trend series; raw stays the primary
    # same-session signal.  One untimed probe first pays its JIT.
    _probe_run(spark)
    calibrated: dict[str, float] = {}
    probe_meds: dict[str, float] = {}

    def med(xs: list[float]) -> float:
        # TRUE median: even counts average the two middle values — the
        # upper-middle shortcut would publish the WORSE rep's ratio for
        # every 2-rep query (r13 review), a systematic upward bias the
        # protocol text doesn't describe
        s = sorted(xs)
        h = len(s) // 2
        return s[h] if len(s) % 2 else (s[h - 1] + s[h]) / 2

    for name in BENCH_QUERIES:
        best, reps = None, 0
        ratios: list[float] = []
        probes: list[float] = []
        while True:
            probe = _probe_run(spark)
            t0 = time.time()
            _run((QUERIES.get(name) or LOCAL_QUERIES[name])(spark, sf_dir))
            dt = time.time() - t0
            probes.append(probe)
            ratios.append(dt / probe)
            best = dt if best is None else min(best, dt)
            reps += 1
            base = 3 if name in noisy else 2
            if reps < base or (best < 1.0 and reps < 5):
                continue
            break
        timings[name] = round(best, 3)
        calibrated[name] = round(med(ratios), 2)
        probe_meds[name] = round(med(probes), 3)

    ivf_timings, ivf_extra = _ivf_section(spark, sf_dir)
    timings.update(ivf_timings)

    # wide-dim validation (SPARK_GRAFT_DIM1536=0 to skip)
    dim1536_extra = (
        _dim1536_section(spark)
        if os.environ.get("SPARK_GRAFT_DIM1536", "1") != "0"
        else {}
    )

    # composed streaming admission throughput (SPARK_GRAFT_STREAM=0 to skip)
    stream_extra = (
        _stream_admission_section(spark, sf_dir)
        if os.environ.get("SPARK_GRAFT_STREAM", "1") != "0"
        else {}
    )

    analytics_extra = _corpus_analytics_section(spark, sf_dir)

    # training_pipeline per-stage attribution (SPARK_GRAFT_TP_STAGES=0 to skip)
    tp_extra = (
        _tp_stage_section(spark, sf_dir)
        if os.environ.get("SPARK_GRAFT_TP_STAGES", "1") != "0"
        else {}
    )

    # exact-k completion pricing (SPARK_GRAFT_SRP_EXACTK=0 to skip)
    srp_exactk_extra = (
        _srp_exact_k_section(spark, sf_dir)
        if os.environ.get("SPARK_GRAFT_SRP_EXACTK", "1") != "0"
        else {}
    )

    # WARC ingest pricing (SPARK_GRAFT_WARC=0 to skip)
    warc_extra = (
        _warc_section(spark, sf_dir)
        if os.environ.get("SPARK_GRAFT_WARC", "1") != "0"
        else {}
    )

    # link-graph + bloom pricing (SPARK_GRAFT_LINKGRAPH=0 to skip)
    linkgraph_extra = (
        _linkgraph_bloom_section(spark, sf_dir)
        if os.environ.get("SPARK_GRAFT_LINKGRAPH", "1") != "0"
        else {}
    )

    # measure (not just name) the cost of default-on hot-id salting on the
    # headline minhash query: same operator, valve off — the delta IS the
    # protection premium the bench notes below explain
    docs = load_table(spark, sf_dir, "documents")
    unsalted = None
    for _ in range(2):
        t0 = time.time()
        _run(dedup.minhash_lsh_pairs(docs, 0.5, hot_id_threshold=None))
        dt = time.time() - t0
        unsalted = dt if unsalted is None else min(unsalted, dt)
    salt_overhead = round(timings["dedup_minhash_lsh"] - unsalted, 3)

    # r8 verdict watch (#6): embedding_neardup_lsh's calib-relative ratio
    # crossed 10.0 in r8 with no code change on its path.  Attribute by
    # pricing both exact-verify routes of the SAME operator explicitly:
    # "broadcast" (ship the corpus matrix once, score bare id-pairs in
    # place — what auto picks at bench scale) vs "join" (shuffle-attach
    # payloads + int8 coarse pre-drop — the 100 TB shape).  Whichever
    # moved carries the regression; neither moving names the calibration
    # workload itself as the denominator drift.
    from psy_supabase_spark.operators import lsh as _lsh

    emb_nd = load_table(spark, sf_dir, "embeddings")
    nd_route_secs = {}
    # at the testdata's dim 64 "auto" always resolves to "join" (the
    # broadcast route requires the Arrow kernel, gated to wide dims so
    # the oracle-pinned expression fold stays the narrow-dim spelling) —
    # so "join" here IS the headline's route, re-timed in isolation, and
    # "broadcast" is priced with verify_arrow=True as the alternative
    # (last-ulp rounding may differ; timing attribution only).
    for route, kw in (("join", {}), ("broadcast", {"verify_arrow": True})):
        best = None
        for _ in range(2):
            t0 = time.time()
            _run(_lsh.srp_neardup_pairs(emb_nd, 0.5, verify_route=route, **kw))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        nd_route_secs[route] = round(best, 3)

    # multimodal_features absorbed the WARC-boundary oracle evidence in
    # r10 (mini-shard synthesis + two production-parser passes joined
    # onto the blob features); price the bare extract so the absorbed
    # cost stays attributed (the text_profile gates pattern)
    from psy_supabase_spark.operators import multimodal as _mm

    mm_base = None
    for _ in range(2):
        t0 = time.time()
        _run(_mm.extract_blob_features(_mm.attach_blobs(docs)))
        dt = time.time() - t0
        mm_base = dt if mm_base is None else min(mm_base, dt)
    mm_warc_overhead = round(timings["multimodal_features"] - mm_base, 3)
    # the r11 media-sniff gate leg (PNG/WAV/MP3/MP4 render + sniff-back),
    # timed alone so the Common Crawl harness and the media gate are
    # separately attributable inside the headline's overhead term
    from psy_supabase_spark.queries.pipeline_queries import media_sniff_evidence

    mm_media_gate = None
    for _ in range(2):
        t0 = time.time()
        _run(media_sniff_evidence(docs))
        dt = time.time() - t0
        mm_media_gate = dt if mm_media_gate is None else min(mm_media_gate, dt)

    # same treatment for text_profile's r5 growth: the headline query
    # absorbed the Gopher/C4 gates + Arrow repetition signals; measure
    # the profile without the gate columns so the absorbed-evidence cost
    # stays a number, not a narrative
    from psy_supabase_spark.operators import textanalysis as TA

    profile_base = None
    for _ in range(2):
        t0 = time.time()
        _run(TA.text_profile(docs))
        dt = time.time() - t0
        profile_base = dt if profile_base is None else min(profile_base, dt)
    gates_overhead = round(timings["text_profile"] - profile_base, 3)

    # doc_adjacent_stats absorbed the r12 frontier-pacing evidence
    # (crawl-delay parse mirror + schedule_frontier slots); price the
    # leg alone so the absorbed cost stays a number (the mm pattern)
    from pyspark.sql import functions as F

    from psy_supabase_spark.operators import robots as _rb
    from psy_supabase_spark.queries.text_queries import _robots_txt_col

    _rb_j = (F.col("doc_id") % 3).cast("string")
    _fr_src = (
        docs.select(_rb_j.alias("j"))
        .distinct()
        .select(
            F.concat(F.lit("h"), "j").alias("host"),
            _robots_txt_col(F.col("j")).alias("robots_txt"),
        )
    )
    _fr_urls = docs.select(
        "doc_id",
        F.concat(F.lit("h"), _rb_j).alias("fr_host"),
        F.concat(
            F.lit("http://h"), _rb_j, F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("fr_url"),
    )
    frontier_leg = None
    for _ in range(2):
        t0 = time.time()
        _run(
            _rb.schedule_frontier(
                _fr_urls,
                _rb.robots_crawl_delays(_fr_src, agent="nobody"),
                host_col="fr_host",
                url_col="fr_url",
            )
        )
        dt = time.time() - t0
        frontier_leg = dt if frontier_leg is None else min(frontier_leg, dt)

    # attribution extras (r6 verdict #1): price the deliberate trades the
    # headline queries absorbed, the way salting was priced in r5.
    from psy_supabase_spark.operators import ivf as _ivf
    from psy_supabase_spark.operators import semdedup as _semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    # (a) the two-phase hash-ordered fit sample vs the legacy layout-biased
    # .limit(cap) — the premium semdedup_pairs/IVF/PQ builds pay for
    # layout-independent, distribution-covering fits
    two_phase = naive = None
    for _ in range(2):
        t0 = time.time()
        _ivf.fit_sample_vectors(
            emb, _ivf.FIT_SAMPLE_CAP, id_col="vec_id", vec_col="embedding"
        )
        dt = time.time() - t0
        two_phase = dt if two_phase is None else min(two_phase, dt)
        t0 = time.time()
        emb.select("embedding").limit(_ivf.FIT_SAMPLE_CAP).collect()
        dt = time.time() - t0
        naive = dt if naive is None else min(naive, dt)
    fit_premium = round(two_phase - naive, 3)
    # (b) the legacy fixed-k SemDeDup config, for round-over-round
    # comparability with r5/r6 now that the headline uses the auto rule
    semdedup_fixed8 = None
    for _ in range(2):
        t0 = time.time()
        _run(_semdedup.semdedup_pairs(emb, 0.5, n_clusters=8))
        dt = time.time() - t0
        semdedup_fixed8 = dt if semdedup_fixed8 is None else min(semdedup_fixed8, dt)

    # r14 (r13 verdict #3): the calibrated drift band.  queries_calibrated
    # (adjacent-probe medians) is THE cross-round series.  The acceptance
    # band: per-query calibrated ratio vs the committed baseline > 1.3 =
    # investigate, > 2.0 = weak.  The baseline file is re-stamped each
    # round from the archived run so the band always compares one round
    # back.
    CAL_INVESTIGATE, CAL_WEAK = 1.3, 2.0
    cal_baseline_file = Path(__file__).resolve().parent / "bench_calibrated_baseline.json"
    cal_ratios: dict[str, float] = {}
    cal_flags: dict[str, str] = {}
    cal_base_round = None
    if cal_baseline_file.exists():
        with open(cal_baseline_file) as f:
            cal_base = json.load(f)
        cal_base_round = cal_base.get("round")
        prev_cal = cal_base.get("queries_calibrated", {})
        for name, cur in calibrated.items():
            if name in prev_cal and prev_cal[name] > 0:
                r = round(cur / prev_cal[name], 3)
                cal_ratios[name] = r
                if r > CAL_WEAK:
                    cal_flags[name] = "weak"
                elif r > CAL_INVESTIGATE:
                    cal_flags[name] = "investigate"

    total = round(sum(timings.values()), 3)
    extra = {
        "schema_version": 5,
        # r13 protocol (r12 verdict #2): a frozen ~0.1 s probe runs
        # immediately before every repetition; queries_calibrated is
        # the per-query MEDIAN of (rep_time / adjacent_probe_time) —
        # the denominator is sampled next to the numerator, so host
        # drift inside the session cannot skew one series against the
        # other.  query_probe_secs echoes the probe medians so the
        # denominator's own drift is a number.  Also on stdout, so
        # BENCH_r{N}.json carries BOTH series.
        "probe_def": "range5M-hash-2agg noop, interleaved before every rep",
        "query_probe_secs": probe_meds,
        "queries_calibrated": calibrated,
        # r14 drift band (r13 verdict #3): ratios of this run's
        # calibrated medians over the committed previous-round baseline
        # (bench_calibrated_baseline.json); >1.3 investigate, >2.0 weak.
        # Empty flags = every query inside the band.
        "calibrated_band_def": (
            f"cur/prev calibrated median vs r{cal_base_round} baseline; "
            f">{CAL_INVESTIGATE} investigate, >{CAL_WEAK} weak; "
            "queries_calibrated is the ONLY cross-round series"
        ),
        "calibrated_ratio_vs_prev": cal_ratios,
        "calibrated_band_flags": cal_flags,
        "semdedup_auto_n_clusters": _semdedup.default_n_clusters(emb.count()),
        "semdedup_fixed8_sec": round(semdedup_fixed8, 3),
        "fit_sample_premium_sec": fit_premium,
        "fit_sample_naive_limit_sec": round(naive, 3),
        **ivf_extra,
        **dim1536_extra,
        **stream_extra,
        **analytics_extra,
        **tp_extra,
        **srp_exactk_extra,
        **warc_extra,
        **linkgraph_extra,
        # r5: minhash/srp pay for default-on hot-id detection
        # (dedup.hot_id_estimate: one narrow job over the banded
        # subtree) after proving default AQE will NOT split the
        # skewed verify join (tests/test_scale.py) — the r4
        # checkpoint+collect spelling was faster locally but
        # non-fault-tolerant and nondeterministic.  The premium
        # is measured every run: salted headline minus the
        # valve-off spelling of the same operator.
        "hot_id_detection": "default_on_estimated",
        "minhash_unsalted_sec": round(unsalted, 3),
        "minhash_salt_overhead_sec": salt_overhead,
        "embedding_neardup_route_broadcast_sec": nd_route_secs["broadcast"],
        "embedding_neardup_route_join_sec": nd_route_secs["join"],
        "text_profile_gates_overhead_sec": gates_overhead,
        "doc_adjacent_frontier_leg_sec": round(frontier_leg, 3),
        "multimodal_base_extract_sec": round(mm_base, 3),
        # the multimodal-only residual under its own name (r10 verdict,
        # next #5): a real multimodal regression is visible here even
        # when the larger WARC-harness term moves
        "multimodal_features_sans_warc_sec": round(mm_base, 3),
        "multimodal_warc_overhead_sec": mm_warc_overhead,
        "multimodal_media_gate_sec": round(mm_media_gate, 3),
    }

    # OUTPUT CONTRACT (r7 verdict #1): the driver parses the stdout JSON
    # from a 2,000-char tail window — round 7's single line grew to 3,099
    # chars and the round shipped with parsed:null.  The stdout line now
    # carries ONLY the headline block plus a pointer; the full extras
    # block goes to a sidecar committed with the round.  The length
    # assert makes outgrowing the window a loud bench failure, never a
    # silent evidence loss again.
    extra_file = str(Path(__file__).resolve().parent / "BENCH_EXTRA.json")
    headline = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # second series (r12 verdict #2): per-query medians of
        # rep_time / adjacent fixed-work probe — host-drift-free
        "queries_calibrated": calibrated,
        "sf": float(sf),
        "extra_file": "BENCH_EXTRA.json",
    }
    with open(extra_file, "w") as f:
        json.dump({**headline, "extra": extra}, f, indent=1, sort_keys=True)
        f.write("\n")
    line = json.dumps(headline)
    if len(line) >= 1800:
        # RuntimeError, not assert: this guard exists to make evidence loss
        # loud and must survive `python -O`.
        raise RuntimeError(
            f"stdout bench line is {len(line)} chars — the driver's tail "
            "window is 2,000; move new keys into the BENCH_EXTRA.json sidecar"
        )
    print(line)


if __name__ == "__main__":
    main()
