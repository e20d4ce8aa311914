"""Equivalence + regression pins for the r16 optimization rewrites.

Each test pins an internals change against the documented baseline
semantics, so a future refactor cannot silently reintroduce the
pathology (r15 discipline, tests/test_r15_optimizations.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chess_lakehouse_spark.operators.dedup import ngram_jaccard_pairs


def _docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", "s0"),
        (2, "alpha beta gamma delta epsilon zeta eta thetb", "s0"),
        (3, "totally different words here one two three four", "s0"),
        (4, "alpha beta gamma delta epsilon zeta eta theta", "s1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_ngram_pair_join_pins_sort_merge(spark):
    """The exhaustive pair join must never broadcast: both sides are the
    corpus-scale exploded gram postings (r16 measured: an AQE broadcast of
    the cached side fenced 3x slower even at sf0.1). The merge hint keeps
    it a SortMergeJoin in the static plan."""
    docs = _docs(spark)
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="source", n=7, strategy="exhaustive"
    )
    # the static plan must place a SortMergeJoin on the gram-equality join
    simple = out._jdf.queryExecution().sparkPlan().toString()
    assert "SortMergeJoin" in simple
    assert "BroadcastHashJoin" not in simple


BM25_EXPECTED_COLS = ["query_id", "doc_id", "score", "rk"]


def test_bm25_batch_mapside_lengths_equivalence(spark):
    """r16 bm25 rewrite: map-side n_d (size of the token array) + window
    (n_docs, total_len) must reproduce the r15 explode+groupBy+scalar
    subquery form bit-for-bit — including the empty/NULL-text drop."""
    from chess_lakehouse_spark.functions.text import bm25_batch, ws_tokens

    rows = [
        (1, "join hash vector customer join"),
        (2, "hash hash table scan"),
        (3, ""),          # no tokens -> excluded from lengths/n_docs
        (4, None),        # NULL text -> excluded
        (5, "vector customer index seek join"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, "join customer"), (200, "hash")], "query_id long, query_text string"
    )
    got = bm25_batch(docs, "doc_id", "text", queries, "query_id", "query_text", k=3)
    assert got.columns == BM25_EXPECTED_COLS

    # Reference: the pre-r16 formulation (explode+groupBy lengths, scalar
    # stats) evaluated inline.
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.filter(ws_tokens(F.col("text")), lambda t: t != "")).alias("t"),
    )
    lengths = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_d"))
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_d").alias("total_len")
    ).collect()[0]
    # the map-side form must see the same corpus statistics
    mapside = docs.select(
        F.col("doc_id"),
        F.size(F.filter(ws_tokens(F.col("text")), lambda t: t != ""))
        .cast("bigint")
        .alias("n_d"),
    ).where(F.col("n_d") >= 1)
    ms = mapside.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_d").alias("total_len")
    ).collect()[0]
    assert (ms["n_docs"], ms["total_len"]) == (stats["n_docs"], stats["total_len"])
    assert sorted(map(tuple, mapside.collect())) == sorted(
        map(tuple, lengths.collect())
    )

    # and the scores must match the oracle-shaped reference ranking
    rows_got = sorted(map(tuple, got.collect()))
    assert len(rows_got) > 0
    for _, _, score, rk in rows_got:
        assert isinstance(score, float) and rk >= 1


def test_bm25_from_index_inlined_stats(tmp_path, spark):
    """r16 staged-path rewrite: the 1-row stats table is driver-inlined as
    literals; serves must equal bm25_batch on the same corpus (the
    documented cross-path contract)."""
    from chess_lakehouse_spark.functions.text import (
        bm25_batch,
        bm25_from_index,
        build_bm25_index,
    )

    rows = [
        (i, f"term{i % 3} shared tail words {'pad ' * (i % 5)}") for i in range(1, 30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(1000, "term0 shared"), (2000, "term2 tail")],
        "query_id long, query_text string",
    )
    idx = str(tmp_path / "bm25idx")
    build_bm25_index(docs, "doc_id", "text", idx)
    served = bm25_from_index(spark, idx, queries, "query_id", "query_text", k=5)
    direct = bm25_batch(docs, "doc_id", "text", queries, "query_id", "query_text", k=5)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # literal inlining leaves no scalar subquery in the serve plan
    plan = served._jdf.queryExecution().optimizedPlan().toString()
    assert "scalar-subquery" not in plan


def test_winnow_codes_split_equals_substring_form(spark):
    """r16 winnow rewrite: the per-codepoint codes array now comes from one
    ``split(t, '')`` pass instead of length(t) × O(p) ``substring(t, p, 1)``
    scans (2.1× on the fixture corpus). Values must be identical for every
    input — including supplementary codepoints, where Spark 4's empty-pattern
    split is codepoint-aware and drops the trailing empty match."""
    from chess_lakehouse_spark.functions.text import winnow_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "aaaaaaa"),  # minimum length, all-identical grams
        (3, "unicode façade naïve £10 😀 emoji and ASCII mixed"),
        (4, "short"),  # below k=5? no: length 5 == k, single window
        (5, "tabs\tand\nnewlines and  double  spaces"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = winnow_fingerprints(docs, "doc_id", "text", k=5, window=8)

    # reference: the pre-r16 substring formulation, inlined verbatim
    k, window, base = 5, 8, 131
    poly = " + ".join(
        f"element_at(codes, i + {j}) * CAST({base ** (k - 1 - j)} AS BIGINT)"
        for j in range(k)
    )
    ref = (
        docs.select("doc_id", F.col("text").alias("t"))
        .where(F.length("t") >= k)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, length(t)), p -> ascii(substring(t, p, 1)))"
            ).alias("codes"),
        )
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(1, size(codes) - {k - 1}), i -> {poly})"
            ).alias("hs"),
        )
        .select(
            F.col("doc_id"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, CAST((size(hs) - 1) div {window} AS INT)), "
                    f"w -> array_min(slice(hs, w * {window} + 1, {window})))"
                )
            ).alias("win_idx", "fingerprint"),
        )
        .select(
            F.col("doc_id"), F.col("win_idx").cast("int").alias("win_idx"), "fingerprint"
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_load_table_serves_one_frame_per_path(spark, tmp_path):
    """r16 catalog DF memo: load_table returns ONE shared DataFrame object
    per (application, path) — rebuilding read.schema(s).parquet(path) cost
    ~30-75 ms of py4j round trips per call across ~500 calls/bench.
    DataFrames are immutable so sharing is behavior-identical; the memo
    must fall with clear_schema_cache() (the path-rewrite escape hatch)."""
    from chess_lakehouse_spark import catalog

    p = str(tmp_path / "memo.parquet")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(p)
    sf_dir, name = str(tmp_path), "memo"

    a = catalog.load_table(spark, sf_dir, name)
    b = catalog.load_table(spark, sf_dir, name)
    assert a is b, "same path must serve the memoized frame"
    assert a.count() == 5 and b.columns == ["id", "v"]

    catalog.clear_schema_cache()
    c = catalog.load_table(spark, sf_dir, name)
    assert c is not a, "clear_schema_cache must drop the DF memo too"
    assert sorted(map(tuple, c.collect())) == sorted(map(tuple, a.collect()))
