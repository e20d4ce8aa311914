"""Staged substring-search index (functions/text.py:build_substring_index /
substring_search_from_index — the pg_trgm / codesearch trigram pattern):
brute-contains parity incl. short-query fallback and misses, gram-pushdown
plan shape, zero-corpus-scan pin on the long-query path, and the staged
q_substring_search candidate's two-scale oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chess_lakehouse_spark.functions.text import (
    build_substring_index,
    substring_grams,
    substring_search_from_index,
)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("subidx") / "idx")
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    build_substring_index(docs, "doc_id", "text", d, q=3)
    return d


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


def test_substring_grams_edges(spark):
    """Distinct grams; below-q strings gram to empty, not to a countdown
    sequence; NULL text ALSO grams to empty (the CASE falls through to
    otherwise) — callers filter NULLs first when they must distinguish."""
    df = spark.createDataFrame(
        [("abcd",), ("ab",), ("",), ("aaaa",), (None,)], "t string"
    ).select(substring_grams(F.col("t"), 3).alias("g"))
    got = [r.g for r in df.collect()]
    assert got[0] == ["abc", "bcd"]
    assert got[1] == [] and got[2] == []
    assert got[3] == ["aaa"]  # distinct collapses the repeat
    assert got[4] == []       # NULL text -> empty array, not NULL


def test_matches_brute_contains_scan(spark, idx):
    """Hits + misses + short-query fallback + NULL/empty queries: the
    index path returns exactly the brute scan's rows."""
    docs = _docs(spark)
    qs = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("qid"), F.substring("text", 21, 12).alias("qt")
    )
    extra = spark.createDataFrame(
        [(100001, "zqxjv"), (100002, "ha"), (100003, ""), (100004, None)],
        "qid long, qt string",
    )
    queries = qs.unionByName(extra)
    got = sorted(
        tuple(r)
        for r in substring_search_from_index(
            spark, idx, docs, "doc_id", "text", queries, "qid", "qt"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in queries.where(F.col("qt").isNotNull() & (F.length("qt") >= 1))
        .join(docs.select("doc_id", "text"), F.contains(F.col("text"), F.col("qt")))
        .select("qid", "doc_id")
        .collect()
    )
    assert got == want and len(got) > 0
    pairs = set(got)
    assert all((r.qid, r.qid) in pairs for r in qs.collect())  # own doc found
    assert not any(q == 100001 for q, _ in pairs)              # miss is a miss
    assert any(q == 100002 for q, _ in pairs)                  # short fallback


def test_long_path_never_scans_corpus_files(spark, idx):
    """The candidate plan (everything before the candidate-pruned verify)
    reads ONLY index files: inputFiles of the gram-join candidate stage
    must all live under the index dir. The verify join then touches the
    corpus exactly once, semi-pruned to candidate ids — pinned by the
    pushed isin filter appearing in the postings scan."""
    docs = _docs(spark)
    queries = spark.createDataFrame([(1, "value table")], "qid long, qt string")
    out = substring_search_from_index(
        spark, idx, docs, "doc_id", "text", queries, "qid", "qt"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the bounded-literal gram pushdown reached the parquet scan
    assert "PushedFilters" in plan and "In(g, [" in plan, plan[:2000]


def test_q_mismatch_cannot_happen_serve_derives_q(spark, tmp_path):
    """Serve derives q from meta/ — an index built at q=4 serves q=4 grams
    with no parameter to get wrong; parity with brute holds on that
    layout too."""
    docs = _docs(spark).limit(100)
    d = str(tmp_path / "idx4")
    build_substring_index(docs, "doc_id", "text", d, q=4)
    queries = docs.where(F.col("doc_id") % 31 == 0).select(
        F.col("doc_id").alias("qid"), F.substring("text", 5, 9).alias("qt")
    )
    got = sorted(
        tuple(r)
        for r in substring_search_from_index(
            spark, d, docs, "doc_id", "text", queries, "qid", "qt"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in queries.join(
            docs.select("doc_id", "text"), F.contains(F.col("text"), F.col("qt"))
        )
        .select("qid", "doc_id")
        .collect()
    )
    assert got == want and len(got) > 0


def test_build_validation(spark):
    with pytest.raises(ValueError, match="q must"):
        build_substring_index(_docs(spark), "doc_id", "text", "/tmp/x", q=1)


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_q_substring_search_matches_suite_oracle(spark, sf_dir):
    """Driver-style gating proof: exact values, driver-safe types, both
    local scales; the index-free brute oracle checks the posting
    intersection path rather than mirroring it."""
    import duckdb

    from chess_lakehouse_spark.suite.llm import (
        SUBSTR_SEARCH_ORACLE,
        q_substring_search,
    )

    sdf = q_substring_search(spark, sf_dir)
    assert [d for _, d in sdf.dtypes] == ["bigint", "bigint"]
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rel = con.sql(SUBSTR_SEARCH_ORACLE)
    assert all(str(t) == "BIGINT" for t in rel.types), [str(t) for t in rel.types]
    drows = sorted(tuple(r) for r in con.execute(SUBSTR_SEARCH_ORACLE).fetchall())
    con.close()
    assert len(srows) > 0
    assert srows == drows


def test_append_equals_rebuild_and_is_retry_idempotent(spark, tmp_path):
    """Append lifecycle: build on half the corpus, fold the other half —
    postings and meta equal a from-scratch build over everything; a
    RETRIED append (the crash-replay shape) changes nothing; serving off
    the appended index equals serving off the rebuilt one."""
    from chess_lakehouse_spark.functions.text import append_substring_index

    docs = _docs(spark)
    d1 = docs.where(F.col("doc_id") % 2 == 0)
    d2 = docs.where(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    build_substring_index(d1, "doc_id", "text", inc, q=3)
    append_substring_index(d2, "doc_id", "text", inc)
    build_substring_index(docs, "doc_id", "text", full, q=3)

    def postings(d):
        return sorted(map(tuple, spark.read.parquet(f"{d}/postings").collect()))

    def meta(d):
        return tuple(spark.read.parquet(f"{d}/meta").first())

    assert postings(inc) == postings(full)
    assert meta(inc) == meta(full)

    # retried append: anti-join on delta ids makes it a no-op
    append_substring_index(d2, "doc_id", "text", inc)
    assert postings(inc) == postings(full) and meta(inc) == meta(full)

    queries = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("qid"), F.substring("text", 21, 12).alias("qt")
    )
    got_inc = sorted(
        tuple(r)
        for r in substring_search_from_index(
            spark, inc, docs, "doc_id", "text", queries, "qid", "qt"
        ).collect()
    )
    got_full = sorted(
        tuple(r)
        for r in substring_search_from_index(
            spark, full, docs, "doc_id", "text", queries, "qid", "qt"
        ).collect()
    )
    assert got_inc == got_full and len(got_inc) > 0


def test_fold_case_mode_is_meta_driven(spark, tmp_path):
    """fold_case=True indexes lowered text and lowers queries at serve —
    the mode rides meta/ like q, so serve cannot get it wrong; parity
    with the case-folded brute scan, and the case-SENSITIVE index on the
    same data stays strict."""
    rows = [
        (1, "The Yellow KING rides"),
        (2, "the yellow king rides"),
        (3, "unrelated content here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, "Yellow King")], "qid long, qt string"
    )
    ci = str(tmp_path / "ci")
    cs = str(tmp_path / "cs")
    build_substring_index(docs, "doc_id", "text", ci, q=3, fold_case=True)
    build_substring_index(docs, "doc_id", "text", cs, q=3)

    got_ci = sorted(
        tuple(r)
        for r in substring_search_from_index(
            spark, ci, docs, "doc_id", "text", queries, "qid", "qt"
        ).collect()
    )
    assert got_ci == [(100, 1), (100, 2)]
    got_cs = sorted(
        tuple(r)
        for r in substring_search_from_index(
            spark, cs, docs, "doc_id", "text", queries, "qid", "qt"
        ).collect()
    )
    assert got_cs == []  # exact case: 'Yellow KING' != 'Yellow King'


def test_regex_required_literals_subset():
    """The safe-subset extractor: literal runs split on wildcards; any
    construct outside the subset returns None (fallback), never a wrong
    'required' literal."""
    from chess_lakehouse_spark.functions.text import regex_required_literals as rrl

    assert rrl("hello.*world", 3) == ["hello", "world"]
    assert rrl("^foo.bar baz$", 3) == ["foo", "bar baz"]
    assert rrl(r"x\.y rides", 3) == ["x.y rides"]
    assert rrl("ab.*cd", 3) == []          # supported, runs too short
    assert rrl("a|b", 3) is None           # alternation
    assert rrl("col[ou]r", 3) is None      # class
    assert rrl("ab+c", 3) is None          # quantified literal
    assert rrl(r"\d+", 3) is None          # class shorthand
    assert rrl("(group)", 3) is None       # group
    assert rrl(".**", 3) is None           # stacked quantifier
    assert rrl(r"a\.*b", 3) is None        # quantified ESCAPED literal


def test_regex_search_matches_full_rlike_scan(spark, idx):
    """Index-accelerated path and fallback path both equal the brute
    rlike scan; a fold_case index is rejected loudly."""
    from chess_lakehouse_spark.functions.text import regex_search_from_index

    docs = _docs(spark)

    def brute(pattern):
        return sorted(
            r.doc_id
            for r in docs.where(F.col("text").rlike(pattern))
            .select("doc_id")
            .collect()
        )

    # indexable: two required runs around a wildcard gap
    for pattern in ("value.*table", "^key.*scan", "part hash.+value"):
        got = sorted(
            r.doc_id
            for r in regex_search_from_index(
                spark, idx, docs, "doc_id", "text", pattern
            ).collect()
        )
        assert got == brute(pattern), pattern
        assert len(got) > 0, pattern
    # unsupported: alternation → honest fallback, same rows
    pat = "value (table|part)"
    got = sorted(
        r.doc_id
        for r in regex_search_from_index(
            spark, idx, docs, "doc_id", "text", pat
        ).collect()
    )
    assert got == brute(pat)


def test_regex_search_rejects_folded_index(spark, tmp_path):
    from chess_lakehouse_spark.functions.text import regex_search_from_index

    docs = _docs(spark).limit(10)
    d = str(tmp_path / "ci")
    build_substring_index(docs, "doc_id", "text", d, q=3, fold_case=True)
    with pytest.raises(ValueError, match="case-sensitive"):
        regex_search_from_index(spark, d, docs, "doc_id", "text", "abc.*def")


def test_pipeline_cli_build_search_index_stage(spark, tmp_path, capsys):
    """build-search-index CLI: build then --append fold a delta, serving
    off the staged artifact equals a rebuild over everything."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d1 = docs.where(F.col("doc_id") % 2 == 0)
    d2 = docs.where(F.col("doc_id") % 2 == 1)
    p1, p2 = tmp_path / "d1", tmp_path / "d2"
    d1.write.parquet(str(p1))
    d2.write.parquet(str(p2))
    idx_dir = str(tmp_path / "searchidx")
    pipeline_cli.main([
        "build-search-index", "--inParquet", str(p1), "--indexDir", idx_dir,
    ])
    pipeline_cli.main([
        "build-search-index", "--inParquet", str(p2), "--indexDir", idx_dir,
        "--append",
    ])
    out = capsys.readouterr().out
    assert out.count("[build-search-index]") == 2 and "q=3" in out

    queries = docs.where(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("qid"), F.substring("text", 11, 10).alias("qt")
    )
    got = sorted(
        tuple(r)
        for r in substring_search_from_index(
            spark, idx_dir, docs, "doc_id", "text", queries, "qid", "qt"
        ).collect()
    )
    full = str(tmp_path / "full")
    build_substring_index(docs, "doc_id", "text", full, q=3)
    want = sorted(
        tuple(r)
        for r in substring_search_from_index(
            spark, full, docs, "doc_id", "text", queries, "qid", "qt"
        ).collect()
    )
    assert got == want and len(got) > 0


def test_cli_append_rejects_contradictory_flags(spark, tmp_path):
    """--append with --qgram/--foldCase exits loudly: the staged meta owns
    those parameters (review finding, fixed)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    docs = _docs(spark).limit(20)
    src = tmp_path / "src"
    docs.write.parquet(str(src))
    idx = str(tmp_path / "idx")
    pipeline_cli.main([
        "build-search-index", "--inParquet", str(src), "--indexDir", idx,
    ])
    with pytest.raises(SystemExit, match="qgram"):
        pipeline_cli.main([
            "build-search-index", "--inParquet", str(src), "--indexDir", idx,
            "--append", "--qgram", "4",
        ])


def test_snippets_positions_counts_and_fold_case(spark, tmp_path):
    """KWIC enrichment: first-match position and occurrence count agree
    with Python string ops on every hit; the snippet contains the match;
    a fold_case index matches case-insensitively and slices the ORIGINAL
    text."""
    from chess_lakehouse_spark.functions.text import substring_match_snippets

    rows = [
        (1, "alpha beta gamma beta delta"),
        (2, "Beta at the very start"),
        (3, "nothing relevant here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame([(100, "beta")], "qid long, qt string")

    cs = str(tmp_path / "cs")
    build_substring_index(docs, "doc_id", "text", cs, q=3)
    got = {
        (r.qid, r.doc_id): r
        for r in substring_match_snippets(
            spark, cs, docs, "doc_id", "text", queries, "qid", "qt", context=5
        ).collect()
    }
    assert set(got) == {(100, 1)}
    r = got[(100, 1)]
    assert r.pos == rows[0][1].find("beta") + 1
    assert r.n_matches == rows[0][1].count("beta") == 2
    assert "beta" in r.snippet and len(r.snippet) <= len("beta") + 10

    ci = str(tmp_path / "ci")
    build_substring_index(docs, "doc_id", "text", ci, q=3, fold_case=True)
    got_ci = {
        (r.qid, r.doc_id): r
        for r in substring_match_snippets(
            spark, ci, docs, "doc_id", "text", queries, "qid", "qt", context=5
        ).collect()
    }
    assert set(got_ci) == {(100, 1), (100, 2)}
    assert got_ci[(100, 2)].pos == 1
    assert got_ci[(100, 2)].snippet.startswith("Beta")  # original casing

    # one qid carrying several texts, one of them on two query rows: a doc
    # pairs only with the query rows whose text it contains
    docs2 = spark.createDataFrame(
        [(1, "hello world"), (2, "other thing")], "doc_id long, text string"
    )
    queries2 = spark.createDataFrame(
        [(7, "world"), (7, "thing"), (7, "world")], "qid long, qt string"
    )
    two = str(tmp_path / "two")
    build_substring_index(docs2, "doc_id", "text", two, q=3)
    got2 = sorted(
        tuple(r)
        for r in substring_match_snippets(
            spark, two, docs2, "doc_id", "text", queries2, "qid", "qt", context=5
        ).collect()
    )
    assert got2 == [
        (7, 1, 7, 1, "ello world"),
        (7, 1, 7, 1, "ello world"),
        (7, 2, 7, 1, "ther thing"),
    ]


def _brute(queries, docs):
    """The index-free reference: one row per (query row, containing doc)."""
    return sorted(
        tuple(r)
        for r in queries.where(F.col("qt").isNotNull() & (F.length("qt") >= 1))
        .join(docs.select("doc_id", "text"), F.contains(F.col("text"), F.col("qt")))
        .select("qid", "doc_id")
        .collect()
    )


def _served(spark, idx, docs, queries):
    return sorted(
        tuple(r)
        for r in substring_search_from_index(
            spark, idx, docs, "doc_id", "text", queries, "qid", "qt"
        ).collect()
    )


def _slice_queries(docs):
    return docs.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("qid"), F.substring("text", 11, 10).alias("qt")
    )


def test_duplicate_postings_in_a_flat_index_change_no_hits(spark, tmp_path):
    """A posting file present twice doubles some posting counts: the
    rarest-gram pick may change, the hits may not."""
    import glob
    import shutil

    docs = _docs(spark)
    idx = str(tmp_path / "idx")
    build_substring_index(docs, "doc_id", "text", idx, q=3)
    first = sorted(glob.glob(f"{idx}/postings/part-*.parquet"))[0]
    shutil.copy(first, f"{idx}/postings/part-99999-copy.parquet")
    queries = _slice_queries(docs)
    want = _brute(queries, docs)
    assert _served(spark, idx, docs, queries) == want and len(want) > 0


def test_streaming_index_readmitting_a_doc_changes_no_hits(spark, tmp_path):
    """The batch-partitioned streaming layout holds a re-admitted doc's
    postings once per batch; serving still equals the brute scan."""
    from chess_lakehouse_spark.streaming import substring_index_batch

    docs = _docs(spark)
    idx = str(tmp_path / "sidx")
    substring_index_batch(docs, 0, idx)
    substring_index_batch(docs.where(F.col("doc_id") % 5 == 0), 1, idx)
    queries = _slice_queries(docs)
    want = _brute(queries, docs)
    assert _served(spark, idx, docs, queries) == want and len(want) > 0


def _rare_gram_corpus(spark):
    """All 22 docs hold every gram of 'aaaa bbbb'; only docs 100 and 101
    hold the gram 'bbQ', and only doc 100 holds 'aaaa bbbbQ'."""
    rows = [(i, "aaaa bbbb") for i in range(1, 21)]
    rows += [(100, "aaaa bbbbQ"), (101, "bbQ aaaa bbbb")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_one_qid_with_two_texts_returns_both_texts_hits(spark, tmp_path):
    """qid is a label, not a key: a qid carrying two texts gets the hits
    of each, as the brute join gives (the former per-qid gram count
    demanded the union of both texts' grams and returned nothing)."""
    docs = _rare_gram_corpus(spark)
    idx = str(tmp_path / "idx")
    build_substring_index(docs, "doc_id", "text", idx, q=3)
    queries = spark.createDataFrame(
        [(1, "aaaa bbbbQ"), (1, "bQ aa"), (2, "bbQ"), (2, "bbQ")],
        "qid long, qt string",
    )
    want = _brute(queries, docs)
    assert (1, 100) in want and (1, 101) in want
    assert want.count((2, 100)) == 2  # a repeated query row repeats its hits
    assert _served(spark, idx, docs, queries) == want


@pytest.mark.parametrize("max_pushdown_grams", [1_000, 0])
def test_candidates_come_from_the_rarest_grams_list(
    spark, tmp_path, max_pushdown_grams
):
    """A query with one rare gram and several common ones: the candidate
    rows are exactly the rare gram's postings, on the isin pushdown path
    and on the semi-join fallback alike."""
    from chess_lakehouse_spark.functions.text import _substring_candidates

    docs = _rare_gram_corpus(spark)
    idx = str(tmp_path / "idx")
    build_substring_index(docs, "doc_id", "text", idx, q=3)
    postings = spark.read.parquet(f"{idx}/postings")
    queries = spark.createDataFrame([(1, "aaaa bbbbQ")], "qid long, qt string")
    cand = _substring_candidates(postings, queries, 3, max_pushdown_grams)
    rare = postings.where(F.col("g") == "bbQ").count()
    assert rare == 2 and postings.where(F.col("g") == "aaa").count() == 22
    assert sorted(r.doc_id for r in cand.collect()) == [100, 101]


def test_one_partition_input_writes_one_posting_file_per_core(spark, tmp_path):
    """The posting width comes from the core count, not from a constant,
    for the flat build and for a streaming batch alike."""
    import glob

    from chess_lakehouse_spark.streaming import substring_index_batch

    docs = _docs(spark)
    assert docs.rdd.getNumPartitions() == 1
    cores = spark.sparkContext.defaultParallelism
    idx = str(tmp_path / "idx")
    build_substring_index(docs, "doc_id", "text", idx, q=3)
    assert len(glob.glob(f"{idx}/postings/part-*.parquet")) == cores
    sidx = str(tmp_path / "sidx")
    substring_index_batch(docs, 0, sidx)
    assert len(glob.glob(f"{sidx}/postings/batch_id=b0/part-*.parquet")) == cores
