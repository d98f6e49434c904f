"""Portable Bloom filter (operators/bloom): position portability,
distributed build == local build, tier row-identity, no false
negatives, priced false positives, DuckDB membership parity."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from psy_supabase_spark.operators import bloom

M, K = 4096, 3
BUILD = [f"http://h{i}.example/p/{i}" for i in range(0, 400, 2)]   # evens
PROBE = [f"http://h{i}.example/p/{i}" for i in range(400)]         # both


def _df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "url string")


def test_positions_portable_spark_duckdb(spark):
    """The k bit positions are identical in Spark and DuckDB for the
    same keys — the portability contract every verdict rests on."""
    got = {
        r.url: list(r.pos)
        for r in _df(spark, PROBE[:50])
        .select("url", bloom.bloom_positions("url", M, K).alias("pos"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(u,) for u in PROBE[:50]])
    want = dict(
        con.execute(
            f"SELECT url, {bloom.bloom_positions_sql('url', M, K)} FROM t"
        ).fetchall()
    )
    assert got == want
    # and the hashlib spelling (numpy tier) agrees too
    import hashlib

    for u, pos in got.items():
        md = hashlib.md5(u.encode()).hexdigest()
        h1, h2 = int(md[0:15], 16) % M, int(md[16:31], 16) % M
        assert pos == [(h1 + i * h2) % M for i in range(K)]


def test_distributed_build_equals_local(spark):
    words = bloom.bloom_build(_df(spark, BUILD), "url", M, K)
    assert words == bloom.bloom_local(BUILD, M, K)
    assert len(words) == M // 32


def test_no_false_negatives_and_priced_fp(spark):
    words = bloom.bloom_build(_df(spark, BUILD), "url", M, K)
    hits = {
        r.url: r.hit
        for r in _df(spark, PROBE)
        .select("url", bloom.bloom_contains_expr("url", words, M, K).alias("hit"))
        .collect()
    }
    assert all(hits[u] for u in BUILD), "a built key missed: impossible"
    odds = [u for u in PROBE if u not in set(BUILD)]
    fp = sum(hits[u] for u in odds) / len(odds)
    # n=200, m=4096, k=3 -> theoretical fp ~ (1-e^{-600/4096})^3 ~ 0.26%;
    # allow generous slack, but it must stay a small minority
    assert fp < 0.15


def test_tiers_row_identical(spark):
    """The literal and numpy tiers give the same verdict on every row,
    false positives included."""
    words = bloom.bloom_build(_df(spark, BUILD), "url", M, K)
    df = _df(spark, PROBE)
    lit_rows = df.select(
        "url", bloom.bloom_contains_expr("url", words, M, K).alias("bloom_hit")
    )
    np_rows = bloom.bloom_contains_udf(df, "url", words, M, K)
    want = sorted(map(tuple, lit_rows.collect()))
    assert want == sorted(map(tuple, np_rows.collect()))


def test_join_tier_null_keys_and_extra_columns(spark):
    """Null keys verdict null in every tier; the numpy tier keeps the
    frame's other columns."""
    words = bloom.bloom_local(BUILD, M, K)
    df = spark.createDataFrame(
        [(BUILD[0], 1), (None, 2), ("http://never.example/x", 3)],
        "url string, tag int",
    )
    np_rows = bloom.bloom_contains_udf(df, "url", words, M, K)
    assert np_rows.columns == ["url", "tag", "bloom_hit"]
    got = {r.tag: r.bloom_hit for r in np_rows.collect()}
    lit = {
        r.tag: r.h
        for r in df.select(
            "tag", bloom.bloom_contains_expr("url", words, M, K).alias("h")
        ).collect()
    }
    assert got == lit and got[1] is True and got[2] is None


def test_membership_duckdb_parity(spark):
    """The SQL mirror (all k positions present in the build-side set-bit
    table) reproduces the EXACT verdict set, false positives included."""
    words = bloom.bloom_build(_df(spark, BUILD), "url", M, K)
    got = sorted(
        (r.url, r.hit)
        for r in _df(spark, PROBE)
        .select("url", bloom.bloom_contains_expr("url", words, M, K).alias("hit"))
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE b (url VARCHAR)")
    con.executemany("INSERT INTO b VALUES (?)", [(u,) for u in BUILD])
    con.execute("CREATE TABLE p (url VARCHAR)")
    con.executemany("INSERT INTO p VALUES (?)", [(u,) for u in PROBE])
    want = sorted(
        con.execute(f"""
        WITH bits AS (
          SELECT list(DISTINCT pos) AS bl FROM (
            SELECT unnest({bloom.bloom_positions_sql('url', M, K)}) AS pos
            FROM b
          )
        )
        SELECT url,
               list_has_all(bits.bl,
                            {bloom.bloom_positions_sql('url', M, K)}) AS hit
        FROM p CROSS JOIN bits
        """).fetchall()
    )
    assert got == want


def test_filter_unseen_keeps_exactly_the_misses(spark):
    words = bloom.bloom_build(_df(spark, BUILD), "url", M, K)
    kept = {
        r.url
        for r in bloom.filter_unseen(_df(spark, PROBE), "url", words, M, K).collect()
    }
    assert kept.isdisjoint(set(BUILD))
    # kept = odds minus false positives; must still be the large majority
    odds = {u for u in PROBE} - set(BUILD)
    assert kept <= odds and len(kept) > 0.85 * len(odds)


def test_params_sizing():
    m, k = bloom.bloom_params(1_000_000, 0.01)
    assert m % 32 == 0 and 9_500_000 < m < 9_700_000 and k == 7
    assert bloom.bloom_params(0, 0.01) == (32, 1)


def test_literal_tier_stays_codegen(spark):
    """No Python in the literal tier's plan."""
    words = bloom.bloom_local(BUILD, M, K)
    plan = (
        _df(spark, PROBE)
        .select(bloom.bloom_contains_expr("url", words, M, K).alias("h"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_bloom_merge_equals_joint_build(spark):
    """Union by word-OR answers exactly like a filter built over the
    concatenated corpora (bloom union is exact)."""
    a = [f"a{i}" for i in range(100)]
    b = [f"b{i}" for i in range(100)]
    merged = bloom.bloom_merge(bloom.bloom_local(a, M, K), bloom.bloom_local(b, M, K))
    assert merged == bloom.bloom_local(a + b, M, K)
    with pytest.raises(ValueError):
        bloom.bloom_merge(bloom.bloom_local(a, M, K), bloom.bloom_local(a, 2 * M, K))
    assert bloom.bloom_merge() == []


def test_filter_unseen_null_keys_pass_through(spark):
    """NULL keys carry no membership evidence and must pass (the
    dedupe_captures posture) — ~NULL is NULL and silently dropped them
    before (r13 review)."""
    from psy_supabase_spark.operators import bloom

    m, k = bloom.bloom_params(10, 0.01)
    words = bloom.bloom_local(["seen"], m, k)
    df = spark.createDataFrame(
        [("seen",), ("new",), (None,)], "key string"
    )
    got = sorted(
        (r.key or "~null")
        for r in bloom.filter_unseen(df, "key", words, m, k).collect()
    )
    assert got == ["new", "~null"]
