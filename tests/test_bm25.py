"""Okapi BM25 retrieval, pinned against a pure-Python reference with the
identical idf variant, rounding chain, and tie-break."""

from __future__ import annotations

import math

import pytest

from chess_lakehouse_spark.functions.text import bm25_topk

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog chased the cat around the yard"),
    (2, "quantum chromodynamics lattice gauge theory"),
    (3, "cat cat cat cat"),
    (4, "a dog is a loyal dog"),
    (5, "mat weaving with reed fibers"),
]


def _ref_bm25(docs, query, k1=1.2, b=0.75):
    terms = sorted({t for t in query.split() if t})
    n_docs = len(docs)
    lengths = {i: len(t.split()) for i, t in docs}
    avgdl = sum(lengths.values()) / n_docs
    dfreq = {
        t: sum(1 for _, text in docs if t in text.split()) for t in terms
    }
    scores = {}
    for i, text in docs:
        toks = text.split()
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if tf == 0 or dfreq[t] == 0:
                continue
            idf = round(math.log((2 * n_docs + 2) / (2 * dfreq[t] + 1)), 6)
            s += round(idf * tf / (tf + k1 * (1 - b + b * lengths[i] / avgdl)), 6)
        if s:
            scores[i] = round(s, 6)
    return scores


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "id long, text string")


def test_bm25_matches_python_reference(spark, docs_df):
    got = {
        r["id"]: r["score"]
        for r in bm25_topk(docs_df, "id", "text", "cat mat", k=10).collect()
    }
    want = _ref_bm25(DOCS, "cat mat")
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=3e-6)


def test_bm25_ordering_and_k(spark, docs_df):
    rows = bm25_topk(docs_df, "id", "text", "cat", k=2).collect()
    assert len(rows) == 2
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # doc 3 is pure repetition of 'cat'; saturation keeps doc 0 competitive
    # but 3 still leads on tf
    assert rows[0]["id"] == 3


def test_bm25_no_match_and_validation(spark, docs_df):
    from chess_lakehouse_spark.functions.text import bm25_batch

    # no matching term, or no documents: no rows (the 1-row corpus stats
    # of an empty corpus must not surface as a NULL-scored row)
    empty = docs_df.where("id < 0")
    assert bm25_topk(docs_df, "id", "text", "zebra", k=5).collect() == []
    assert bm25_topk(empty, "id", "text", "cat", k=5).collect() == []
    for corpus, qtext in ((docs_df, "zebra"), (empty, "cat")):
        queries = spark.createDataFrame([("q", qtext)], "qid string, qtext string")
        assert bm25_batch(corpus, "id", "text", queries, "qid", "qtext").collect() == []
    with pytest.raises(ValueError, match="at least one term"):
        bm25_topk(docs_df, "id", "text", "   ")
    with pytest.raises(ValueError, match="k must"):
        bm25_topk(docs_df, "id", "text", "cat", k=0)


def test_rrf_fuse_hybrid_matches_python_reference(spark, docs_df):
    """Fuse a BM25 list with a second ranked list; exact Python parity."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from chess_lakehouse_spark.functions.text import rrf_fuse

    bm = bm25_topk(docs_df, "id", "text", "cat mat", k=5)
    bm_ranked = bm.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("id").asc())),
    )
    other = spark.createDataFrame(
        [(2, 1), (0, 2), (5, 3)], "id long, rk int"
    )
    got = [
        (r["id"], r["score"])
        for r in rrf_fuse([bm_ranked, other], "id", k=10).collect()
    ]

    bm_ranks = {
        r["id"]: r["rk"] for r in bm_ranked.collect()
    }
    other_ranks = {2: 1, 0: 2, 5: 3}
    want = {}
    for ranks in (bm_ranks, other_ranks):
        for i, rk in ranks.items():
            want[i] = round(want.get(i, 0.0) + round(1.0 / (60 + rk), 6), 6)
    want_sorted = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [(i, pytest.approx(s, abs=2e-6)) for i, s in want_sorted] == got


def test_bm25_batch_equals_per_query(spark, docs_df):
    """The one-pass batch form must reproduce bm25_topk exactly for every
    query (same idf, rounding, tie-break)."""
    from chess_lakehouse_spark.functions.text import bm25_batch

    qs = [("q1", "cat mat"), ("q2", "dog"), ("q3", "quantum the"), ("q4", "zebra")]
    queries = spark.createDataFrame(qs, "qid string, qtext string")
    batch = bm25_batch(docs_df, "id", "text", queries, "qid", "qtext", k=4)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["rk"], r["doc_id"], r["score"]))
    for qid, qtext in qs:
        want = [
            (i + 1, r["id"], r["score"])
            for i, r in enumerate(bm25_topk(docs_df, "id", "text", qtext, k=4).collect())
        ]
        assert sorted(got.get(qid, [])) == want, qid


def test_hybrid_search_end_to_end_on_testdata(spark):
    """The full hybrid path over the real fixture tables: BM25 lexical
    candidates over documents + brute-force cosine kNN over embeddings
    (vec_id aligned with doc_id), fused with RRF."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from chess_lakehouse_spark.functions.text import bm25_topk, rrf_fuse
    from chess_lakehouse_spark.operators.similarity import knn_brute_force

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding")
    )
    query_terms = " ".join(
        docs.limit(1).collect()[0]["text"].split()[:5]
    )
    bm = bm25_topk(docs, "doc_id", "text", query_terms, k=10)
    bm_ranked = bm.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "rk")
    probe = emb.limit(1).select(F.col("doc_id").alias("vec_id"), "embedding")
    knn = knn_brute_force(
        emb.select(F.col("doc_id").alias("vec_id"), "embedding"),
        probe, "vec_id", "embedding", k=10,
    ).select(F.col("cand_id").alias("doc_id"), "rk")

    fused = rrf_fuse([bm_ranked, knn], "doc_id", k=5)
    rows = fused.collect()
    assert len(rows) == 5
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every fused candidate came from one of the two retrievers
    cand = {r["doc_id"] for r in bm_ranked.collect()} | {
        r["doc_id"] for r in knn.collect()
    }
    assert {r["doc_id"] for r in rows} <= cand
    # a doc ranked by BOTH retrievers outscores one ranked by only one at
    # similar ranks: the probe doc itself is rank-1 in knn
    probe_id = probe.collect()[0]["vec_id"]
    both = {r["doc_id"] for r in bm_ranked.collect()} & {
        r["doc_id"] for r in knn.collect()
    }
    if probe_id in both:
        assert rows[0]["doc_id"] == probe_id


def test_rrf_fuse_validation(spark):
    from chess_lakehouse_spark.functions.text import rrf_fuse

    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], "id")
    df = spark.createDataFrame([(1, 1)], "id long, rk int")
    with pytest.raises(ValueError, match="k >= 1"):
        rrf_fuse([df], "id", k=0)


#: The canonical oracle now lives in suite/llm.py (gated as the bm25_topk
#: driver query since r6); import it so this parity pin and the suite
#: cannot diverge.
from chess_lakehouse_spark.suite.llm import _BM25_ORACLE_TPL  # noqa: E402


def test_bm25_duckdb_oracle_parity(spark):
    """Full oracle-style parity on the real sf0.001 documents table: the
    DuckDB SQL above reproduces bm25_topk bit-for-bit (rounded to the
    contract's 6 decimals) — the evidence behind the r6 window note that
    bm25 is suite-oracle-ready."""
    import duckdb

    query = "the cat"
    terms = sorted({t for t in query.split() if t})
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM '/root/testdata/sf0.001/documents.parquet'"
    )
    sql = _BM25_ORACLE_TPL.format(
        terms_values=", ".join(f"('{t}')" for t in terms), k1=1.2, b=0.75, k=10
    )
    duck = con.execute(sql).fetchall()

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(docs, "doc_id", "text", query, k=10).collect()
    ]
    assert [(i, round(s, 6)) for i, s in duck] == [(i, round(s, 6)) for i, s in got]


def test_bm25_rare_term_beats_common(spark, docs_df):
    rows = bm25_topk(docs_df, "id", "text", "quantum the", k=6).collect()
    # 'quantum' appears in one doc; its idf dwarfs the ubiquitous 'the'
    assert rows[0]["id"] == 2


#: The canonical bm25_batch oracle lives in suite/llm.py (promoted at r8
#: registration; imported here so engine test and gated oracle cannot
#: diverge). Tests splice a VALUES CTE for the query table; the gated
#: query uses a doc-derived CTE.
from chess_lakehouse_spark.suite.llm import bm25_batch_oracle_sql


def _bm25_batch_values_oracle(qs: list[tuple[str, str]], k: int) -> str:
    values = ", ".join(f"('{q}', '{t}')" for q, t in qs)
    return bm25_batch_oracle_sql(
        f"queries(query_id, qtext) AS (VALUES {values})", k
    )


def test_bm25_batch_duckdb_oracle_parity(spark):
    """Full oracle parity for bm25_batch on the real fixture corpus — the
    r7 suite-promotion evidence (same pattern as the r5 bm25/dsir pins)."""
    import duckdb

    from chess_lakehouse_spark.functions.text import bm25_batch

    qs = [("qa", "join hash"), ("qb", "vector customer table"), ("qc", "zebra")]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    queries = spark.createDataFrame(qs, "qid string, qtext string")
    got = sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rk"])
        for r in bm25_batch(docs, "doc_id", "text", queries, "qid", "qtext", k=7).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM '/root/testdata/sf0.001/documents.parquet'"
    )
    sql = _bm25_batch_values_oracle(qs, k=7)
    duck = sorted(con.execute(sql).fetchall())
    assert duck == got
    assert len({q for q, *_ in got}) == 2  # zebra matches nothing


def test_bm25_index_serving_equals_one_pass(spark, docs_df, tmp_path):
    """build_bm25_index + bm25_from_index reproduces bm25_batch exactly —
    both the pushed-literal branch (small batch) and the semi-join
    fallback (max_pushdown_terms forced to 0-ish) — because all paths end
    in the shared _bm25_score_rank builder."""
    from chess_lakehouse_spark.functions.text import (
        bm25_batch,
        bm25_from_index,
        build_bm25_index,
    )

    idx = str(tmp_path / "bm25_idx")
    build_bm25_index(docs_df, "id", "text", idx, n_posting_files=4)
    queries = spark.createDataFrame(
        [(100, "cat mat"), (101, "dog yard"), (102, "lattice gauge")],
        "qid long, qtext string",
    )
    want = sorted(
        tuple(r) for r in bm25_batch(docs_df, "id", "text", queries, "qid", "qtext", k=5).collect()
    )
    pushed = sorted(
        tuple(r)
        for r in bm25_from_index(spark, idx, queries, "qid", "qtext", k=5).collect()
    )
    joined = sorted(
        tuple(r)
        for r in bm25_from_index(
            spark, idx, queries, "qid", "qtext", k=5, max_pushdown_terms=1
        ).collect()
    )
    assert want == pushed == joined
    assert len(want) > 0


def test_bm25_index_term_filter_reaches_postings_scan(spark, docs_df, tmp_path):
    """Small-batch serving must push the term literal to the Parquet scan
    (the footer-skipping precondition write_clustered provides): the
    physical plan's postings scan carries an In(t, ...) pushed filter."""
    from chess_lakehouse_spark.functions.text import bm25_from_index, build_bm25_index

    idx = str(tmp_path / "bm25_idx2")
    build_bm25_index(docs_df, "id", "text", idx, n_posting_files=4)
    queries = spark.createDataFrame([(1, "cat mat")], "qid long, qtext string")
    out = bm25_from_index(spark, idx, queries, "qid", "qtext", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "In(t, [cat,mat])" in plan or "In(t, [mat,cat])" in plan


def test_bm25_index_stats_and_layout(spark, docs_df, tmp_path):
    """The staged tables carry the exact corpus statistics, and the
    postings files cover disjoint term ranges (pyarrow footer check —
    the property the file-skip claim rests on)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from chess_lakehouse_spark.functions.text import build_bm25_index

    idx = str(tmp_path / "bm25_idx3")
    build_bm25_index(docs_df, "id", "text", idx, n_posting_files=3)
    stats = spark.read.parquet(f"{idx}/stats").first()
    n_tokens = sum(len(t.split()) for _, t in DOCS)
    assert stats["n_docs"] == len(DOCS) and stats["total_len"] == n_tokens
    ranges = []
    for f in sorted(Path(f"{idx}/postings").glob("*.parquet")):
        md = pq.read_metadata(str(f))
        col = md.row_group(0).column(0)
        lo = col.statistics.min
        hi = pq.read_metadata(str(f)).row_group(md.num_row_groups - 1).column(0).statistics.max
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next


def test_append_bm25_index_equals_full_rebuild(spark, docs_df, tmp_path):
    """Append-only index lifecycle: build on part A then append the new
    docs of part B must serve identical results to a full rebuild, and
    the re-clustered postings files stay range-disjoint."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from chess_lakehouse_spark.functions.text import (
        append_bm25_index,
        bm25_from_index,
        build_bm25_index,
    )

    part_a = docs_df.where("id < 3")
    part_b = docs_df.where("id >= 3")
    inc = str(tmp_path / "idx_inc")
    build_bm25_index(part_a, "id", "text", inc, n_posting_files=3)
    append_bm25_index(part_b, "id", "text", inc, n_posting_files=3)
    ref = str(tmp_path / "idx_ref")
    build_bm25_index(docs_df, "id", "text", ref, n_posting_files=3)

    queries = spark.createDataFrame(
        [(1, "cat mat"), (2, "dog yard"), (3, "lattice gauge")],
        "qid long, qtext string",
    )
    got = sorted(tuple(r) for r in bm25_from_index(spark, inc, queries, "qid", "qtext", k=5).collect())
    want = sorted(tuple(r) for r in bm25_from_index(spark, ref, queries, "qid", "qtext", k=5).collect())
    assert got == want and len(got) > 0

    ranges = []
    for f in sorted(Path(f"{inc}/postings").glob("*.parquet")):
        md = pq.read_metadata(str(f))
        lo = md.row_group(0).column(0).statistics.min
        hi = md.row_group(md.num_row_groups - 1).column(0).statistics.max
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next


def test_append_bm25_index_retry_is_idempotent(spark, docs_df, tmp_path):
    """Crash-retry contract (r8 ADVICE): re-running the SAME append —
    foreachBatch-style replay, or an operator retrying a failed job —
    must leave the index identical to a single append (and to a full
    rebuild): every merge anti-joins the delta's doc ids out of the
    staged tables first, so nothing double-counts. Before the fix the
    blind lengths append made a retry silently inflate n_docs/total_len
    and corrupt every served score."""
    from chess_lakehouse_spark.functions.text import (
        append_bm25_index,
        bm25_from_index,
        build_bm25_index,
    )

    part_a = docs_df.where("id < 3")
    part_b = docs_df.where("id >= 3")
    idx = str(tmp_path / "idx_retry")
    build_bm25_index(part_a, "id", "text", idx, n_posting_files=3)
    append_bm25_index(part_b, "id", "text", idx, n_posting_files=3)
    append_bm25_index(part_b, "id", "text", idx, n_posting_files=3)  # the retry

    ref = str(tmp_path / "idx_ref2")
    build_bm25_index(docs_df, "id", "text", ref, n_posting_files=3)

    for sub in ("lengths", "stats", "dfreq", "postings"):
        got = sorted(tuple(r) for r in spark.read.parquet(f"{idx}/{sub}").collect())
        want = sorted(tuple(r) for r in spark.read.parquet(f"{ref}/{sub}").collect())
        assert got == want, f"{sub} diverged after retried append"

    queries = spark.createDataFrame([(1, "cat mat")], "qid long, qtext string")
    got = sorted(tuple(r) for r in bm25_from_index(spark, idx, queries, "qid", "qtext", k=5).collect())
    want = sorted(tuple(r) for r in bm25_from_index(spark, ref, queries, "qid", "qtext", k=5).collect())
    assert got == want and len(got) > 0


def test_append_bm25_index_every_table_complete_at_every_crash_point(
    spark, docs_df, tmp_path, monkeypatch
):
    """Reader-during-maintenance contract (SCALE.md): every component
    table publishes via the rename-aside swap, so at ANY crash point
    each of postings/lengths/dfreq/stats is a COMPLETE table equal to
    either the pre-append or the post-append generation — never deleted,
    never half-written (dfreq/stats previously overwrote in place and
    had a reader-visible deleted window). And from every crash point a
    plain retry converges to the full rebuild."""
    from chess_lakehouse_spark.functions.text import (
        append_bm25_index,
        build_bm25_index,
    )
    from chess_lakehouse_spark.operators import publish

    part_a = docs_df.where("id < 3")
    part_b = docs_df.where("id >= 3")

    pre = str(tmp_path / "idx_pre")
    build_bm25_index(part_a, "id", "text", pre, n_posting_files=3)
    ref = str(tmp_path / "idx_ref")
    build_bm25_index(docs_df, "id", "text", ref, n_posting_files=3)

    def gen(idx_dir, sub):
        return sorted(
            tuple(r) for r in spark.read.parquet(f"{idx_dir}/{sub}").collect()
        )

    real_swap = publish._swap_lake_dirs
    tables = ("postings", "lengths", "dfreq", "stats")
    for crash_at in range(1, 5):  # the append performs 4 swaps, in order
        idx = str(tmp_path / f"idx_crash{crash_at}")
        build_bm25_index(part_a, "id", "text", idx, n_posting_files=3)
        calls = {"n": 0}

        def fail_at(spark_, tmp, lake_dir, op, _k=crash_at, _c=calls):
            _c["n"] += 1
            if _c["n"] == _k:
                raise IOError(f"injected crash before swap #{_k}")
            real_swap(spark_, tmp, lake_dir, op)

        monkeypatch.setattr(publish, "_swap_lake_dirs", fail_at)
        with pytest.raises(IOError, match="injected crash"):
            append_bm25_index(part_b, "id", "text", idx, n_posting_files=3)
        monkeypatch.setattr(publish, "_swap_lake_dirs", real_swap)

        for sub in tables:
            got = gen(idx, sub)  # must READ cleanly — never a partial dir
            assert got in (gen(pre, sub), gen(ref, sub)), (
                f"crash@{crash_at}: {sub} is neither generation"
            )
        append_bm25_index(part_b, "id", "text", idx, n_posting_files=3)
        for sub in tables:
            assert gen(idx, sub) == gen(ref, sub), (
                f"crash@{crash_at}: retry did not converge on {sub}"
            )


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_bm25_staged_candidate_matches_oracle(spark, sf_dir):
    """r10 staging candidate (q_bm25_staged): BM25 served from the staged
    term-clustered lake index must equal the RAW-table batch-BM25 oracle
    exactly, at both local scales — the lake_skipping_read gating
    pattern, pinned ahead of registration per the suite plan."""
    import duckdb

    from chess_lakehouse_spark.suite.llm import BM25_STAGED_ORACLE, q_bm25_staged

    sdf = q_bm25_staged(spark, sf_dir)
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    drows = sorted(tuple(r) for r in con.execute(BM25_STAGED_ORACLE).fetchall())
    con.close()
    assert len(srows) > 0
    assert srows == drows
