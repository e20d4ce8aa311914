"""Tests for registered suite queries (suite/llm.py): two-scale exact
parity against their suite-defined DuckDB oracles, allowlisted output
types, plan-shape guards, and operator-level semantics pins.

- rank_sketch — the mergeable rank/quantile sketch (random-sampling
  quantile summary, Agarwal et al. "Mergeable Summaries" PODS 2012;
  deterministic md5 coins, the CMS discipline): retained set recomputed
  by the oracle, merge == rebuild pinned EXACT (nested levels), audit
  columns measure the true rank error.
- linkage_score — Fellegi-Sunter match scoring (JASA 1969) over the
  registered record_linkage comparison vectors; integer log2-weights
  baked host-side; oracle composes RECORD_LINKAGE_ORACLE verbatim.
- knn_ivfpq — the composed IVFADC lake serve (Jégou et al. TPAMI 2011):
  IVF partition pruning + ADC over the codes column only + exact
  re-rank; oracle unrolls the knn_ivf_kmeans chain AND every PQ slice
  chain in one statement; append == rebuild and the two plan pins
  (PartitionFilters pruning, codes-only ReadSchema) are enforced here.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _oracle_rows(sf_dir: str, tables: list[str], sql: str):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    con.close()
    return rows


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_clean_plan(df):
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# -------------------------------------------------------------- rank_sketch


@pytest.mark.parametrize("sf_dir", SCALES)
def test_rank_sketch_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        RANK_SKETCH_ORACLE,
        q_rank_sketch,
    )

    sdf = q_rank_sketch(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "source": "string",
        "q_ppm": "bigint",
        "est_value": "bigint",
        "n_total": "bigint",
        "n_retained": "bigint",
        "lvl": "int",
        "exact_rank": "bigint",
        "target_rank": "bigint",
        "rank_err_ppm": "bigint",
    }
    _assert_clean_plan(sdf)
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["documents"], RANK_SKETCH_ORACLE)
    # the staged constants put the sketch above the degenerate
    # keep-everything level at both scales — real subsampling is gated
    assert all(r[5] >= 1 for r in srows), "lvl 0 everywhere: k too large"
    # the estimate is a real member of its group (exact_rank >= 1) and
    # the audit target is within the group
    assert all(1 <= r[6] <= r[3] for r in srows)


def test_rank_sketch_merge_equals_rebuild_exact(spark):
    """The mergeability contract, pinned as an EQUALITY: building on
    disjoint batches and merging yields bit-identical retained state to
    one direct build over the union (nested geometric levels)."""
    from chess_lakehouse_spark.operators.sketches import (
        rank_sketch_build,
        rank_sketch_merge,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    direct = rank_sketch_build(
        docs, "doc_id", "n_chars", k=16, by=["source"], seed=0
    )
    parts = [
        rank_sketch_build(
            docs.where(F.col("doc_id") % 3 == i),
            "doc_id",
            "n_chars",
            k=16,
            by=["source"],
            seed=0,
        )
        for i in range(3)
    ]
    merged = rank_sketch_merge(parts, k=16, by=["source"])
    cols = ["source", "doc_id", "n_chars", "level", "lvl", "n_total"]
    a = sorted((tuple(r) for r in direct.select(*cols).collect()), key=str)
    b = sorted((tuple(r) for r in merged.select(*cols).collect()), key=str)
    assert a == b and len(a) > 0
    # the equality covers META rows too: the merge's per-group count-of-
    # record (level = -1, summed from batch meta rows) must equal the
    # direct build's — the zero-retained-batch undercount guard
    n_groups = direct.select("source").distinct().count()
    assert merged.where(F.col("level") == -1).count() == n_groups


def test_rank_sketch_semantics(spark):
    """NULL values excluded (stated contract), k >= n keeps everything
    at level 0, retained sets nest across k, quantile serve cuts the
    retained sample exactly, and the validation guards fire."""
    from chess_lakehouse_spark.operators.sketches import (
        rank_sketch_build,
        rank_sketch_merge,
        rank_sketch_quantiles,
    )

    rows = [(i, "g", i * 10) for i in range(1, 9)] + [(99, "g", None)]
    df = spark.createDataFrame(rows, "doc_id long, source string, v long")
    st = rank_sketch_build(df, "doc_id", "v", k=100, by=["source"])
    ret = st.where(F.col("level") >= 0).collect()
    got = sorted(r["doc_id"] for r in ret)
    assert got == list(range(1, 9))  # NULL value dropped, all retained
    assert {r["lvl"] for r in st.collect()} == {0}
    assert {r["n_total"] for r in st.collect()} == {8}
    # exactly one META row per group carries the count-of-record
    meta = st.where(F.col("level") == -1).collect()
    assert [(r["source"], r["doc_id"], r["v"], r["n_total"]) for r in meta] == [
        ("g", None, None, 8)
    ]

    # retained sets NEST: every k=4 retained row is a k=100 retained row
    st4 = rank_sketch_build(df, "doc_id", "v", k=4, by=["source"])
    ids4 = {r["doc_id"] for r in st4.where(F.col("level") >= 0).collect()}
    assert ids4 <= set(got)

    # serve: q=500000 over R retained rows picks index ceil(R/2)
    qs = rank_sketch_quantiles(st, "doc_id", "v", [500_000], by=["source"])
    [row] = qs.collect()
    vals = sorted(
        r["v"] for r in df.where(F.col("v").isNotNull()).collect()
    )
    assert row["est_value"] == vals[(8 + 1) // 2 - 1]

    with pytest.raises(ValueError, match="k must be >= 1"):
        rank_sketch_build(df, "doc_id", "v", k=0)
    with pytest.raises(ValueError, match="bad probe"):
        rank_sketch_quantiles(st, "doc_id", "v", [0])
    with pytest.raises(ValueError, match="at least one probe"):
        rank_sketch_quantiles(st, "doc_id", "v", [])
    with pytest.raises(ValueError, match="duplicate probes"):
        rank_sketch_quantiles(st, "doc_id", "v", [500_000, 500_000])
    with pytest.raises(ValueError, match="at least one state"):
        rank_sketch_merge([], k=4)


def test_rank_sketch_zero_retained_batch_count_survives_merge(spark):
    """The r15 ADVICE regression: a (group, batch) whose retained set is
    EMPTY (every row's level below the batch's sampling level) must still
    contribute its row count to the merged sketch via its meta row — the
    pre-fix merge recovered counts from retained rows only and silently
    undercounted n_total (wrong lvl*, wrong audit targets). Ids are
    hand-picked by their deterministic md5 levels at seed 0: 1/2/4/6 are
    level 0; 5/11/14/23 are level >= 3."""
    from chess_lakehouse_spark.operators.sketches import (
        rank_sketch_build,
        rank_sketch_merge,
        rank_sketch_quantiles,
    )

    mk = lambda ids: spark.createDataFrame(
        [(i, "g", i * 10) for i in ids], "doc_id long, source string, v long"
    )
    # k=1, n=4 -> lvl = bit_length(ceil(4/1) - 1) = 2 > every level in A
    a = rank_sketch_build(mk([1, 2, 4, 6]), "doc_id", "v", k=1, by=["source"])
    assert a.where(F.col("level") >= 0).count() == 0  # the scenario is real
    [am] = a.where(F.col("level") == -1).collect()
    assert (am["n_total"], am["lvl"]) == (4, 2)

    b = rank_sketch_build(mk([5, 11, 14, 23]), "doc_id", "v", k=1, by=["source"])
    merged = rank_sketch_merge([a, b], k=1, by=["source"])
    # n* counts BOTH batches; lvl* follows: bit_length(ceil(8/1) - 1) = 3
    assert {r["n_total"] for r in merged.collect()} == {8}
    assert {r["lvl"] for r in merged.collect()} == {3}
    # and merge == rebuild still holds bit-identically
    direct = rank_sketch_build(
        mk([1, 2, 4, 6, 5, 11, 14, 23]), "doc_id", "v", k=1, by=["source"]
    )
    key = str
    assert sorted(map(tuple, merged.collect()), key=key) == sorted(
        map(tuple, direct.collect()), key=key
    )
    # a state whose ONLY rows for a group are meta (zero retained) serves
    # no quantile for that group — absent, not wrong, per the documented
    # contract
    assert rank_sketch_quantiles(a, "doc_id", "v", [500_000], by=["source"]).count() == 0


def test_rank_sketch_partitioning_invariance(spark):
    """The retained set is a pure function of (seed, ids, values) —
    identical from any physical layout."""
    from chess_lakehouse_spark.operators.sketches import rank_sketch_build

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = rank_sketch_build(docs, "doc_id", "n_chars", k=16, by=["source"])
    b = rank_sketch_build(
        docs.repartition(13), "doc_id", "n_chars", k=16, by=["source"]
    )
    assert sorted(map(tuple, a.collect()), key=str) == sorted(
        map(tuple, b.collect()), key=str
    )


# ------------------------------------------------------------ linkage_score


@pytest.mark.parametrize("sf_dir", SCALES)
def test_linkage_score_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        LINKAGE_SCORE_ORACLE,
        q_linkage_score,
    )

    sdf = q_linkage_score(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "id_a": "bigint",
        "id_b": "bigint",
        "name_jac_ppm": "bigint",
        "seg_match": "boolean",
        "nation_match": "boolean",
        "bal_diff_cents": "bigint",
        "score_ppm": "bigint",
        "decision": "string",
    }
    _assert_clean_plan(sdf)
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["customer"], LINKAGE_SCORE_ORACLE)
    # all three regions are reachable on the sf0.01 fixture; at minimum
    # the decision column is non-degenerate somewhere
    assert {r[7] for r in srows} <= {"match", "possible", "nonmatch"}


def test_fs_weights_ppm_values_and_validation():
    from chess_lakehouse_spark.operators.linkage import fs_weights_ppm

    # log2(19) = 4.247927..., symmetric m/u
    agree, disagree = fs_weights_ppm(950_000, 50_000)
    assert agree == 4_247_928 and disagree == -4_247_928
    # a field with m=0.8, u=0.5: agree log2(1.6), disagree log2(0.4)
    agree, disagree = fs_weights_ppm(800_000, 500_000)
    assert agree == 678_072 and disagree == -1_321_928
    for m, u in ((500_000, 500_000), (400_000, 600_000), (1_000_000, 1),
                 (500_000, 0)):
        with pytest.raises(ValueError, match="need 0 < u_ppm < m_ppm"):
            fs_weights_ppm(m, u)


def test_fs_match_score_semantics(spark):
    """NULL agreement contributes 0 (the standard missing-field
    treatment), the three regions cut at the thresholds inclusively,
    and the validation guards fire."""
    from chess_lakehouse_spark.operators.linkage import fs_match_score

    df = spark.createDataFrame(
        [(1, True, True), (2, False, True), (3, None, True), (4, None, None)],
        "pair long, f1 boolean, f2 boolean",
    )
    out = fs_match_score(
        df,
        [(F.col("f1"), 100, -200), (F.col("f2"), 50, -60)],
        lower_ppm=-100,
        upper_ppm=150,
    )
    got = {r["pair"]: (r["score_ppm"], r["decision"]) for r in out.collect()}
    assert got == {
        1: (150, "match"),        # 100 + 50, at the upper cut inclusive
        2: (-150, "nonmatch"),    # -200 + 50, below lower
        3: (50, "possible"),      # NULL f1 -> 0, +50
        4: (0, "possible"),       # both incomparable
    }

    with pytest.raises(ValueError, match="at least one field"):
        fs_match_score(df, [], 0, 1)
    with pytest.raises(ValueError, match="lower_ppm"):
        fs_match_score(df, [(F.col("f1"), 1, -1)], 10, 0)
    with pytest.raises(ValueError, match="already carries"):
        fs_match_score(
            df.withColumn("score_ppm", F.lit(1)),
            [(F.col("f1"), 1, -1)],
            0,
            1,
        )


# ---------------------------------------------------------------- knn_ivfpq


@pytest.mark.parametrize("sf_dir", SCALES)
def test_knn_ivfpq_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        KNN_IVFPQ_ORACLE,
        q_knn_ivfpq,
    )

    sdf = q_knn_ivfpq(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "query_id": "bigint",
        "cand_id": "bigint",
        "sim": "double",
        "rk": "int",
    }
    _assert_clean_plan(sdf)
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["embeddings"], KNN_IVFPQ_ORACLE)


def test_ivfpq_plan_pins(spark):
    """The two 100 TB cost cuts must be VISIBLE in the physical plan:
    (1) the probed list_id set reaches the index scan as a
    PartitionFilter (pruning, not a post-scan filter); (2) the ADC
    stage's scan reads (id, codes) ONLY — the raw vector column appears
    in no ReadSchema except the re-rank's."""
    import re

    from chess_lakehouse_spark.suite.llm import q_knn_ivfpq

    plan = _plan(q_knn_ivfpq(spark, "/root/testdata/sf0.001"))
    assert re.search(r"PartitionFilters: \[[^\]]*list_id", plan), plan[:2000]
    scans = set(re.findall(r"ReadSchema: struct<[^>]*>", plan))
    adc_scans = [s for s in scans if "codes" in s]
    assert adc_scans and all("embedding" not in s for s in adc_scans), scans


def test_ivfpq_append_equals_rebuild(spark, tmp_path):
    """append_ivfpq_index folds a delta with the index's OWN sidecar
    models: base+append serves exactly what a single-shot publish over
    the union serves (the append_ivf_index / rollup discipline), and a
    replayed append is a byte-level no-op on the served rows."""
    from chess_lakehouse_spark.operators.similarity import (
        append_ivfpq_index,
        kmeans_fit,
        pq_train,
        publish_ivfpq_index,
        read_ivf_centroids,
        read_pq_codebooks,
        search_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1)
    cents = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=1, seed=0)
    books = pq_train(emb, "vec_id", "embedding", m=2, k=4, iters=1, seed=0)
    probes = emb.where(F.col("vec_id") < 5)

    one = str(tmp_path / "one")
    publish_ivfpq_index(emb, one, "vec_id", "embedding", cents, books)
    want = sorted(
        map(
            tuple,
            search_ivfpq_index(
                spark, one, probes, "vec_id", "embedding", nprobe=2, pool=10, k=3
            ).collect(),
        )
    )

    two = str(tmp_path / "two")
    publish_ivfpq_index(base, two, "vec_id", "embedding", cents, books)
    append_ivfpq_index(delta, two, "vec_id", "embedding", batch_id="b1")
    got = sorted(
        map(
            tuple,
            search_ivfpq_index(
                spark, two, probes, "vec_id", "embedding", nprobe=2, pool=10, k=3
            ).collect(),
        )
    )
    assert got == want and len(got) > 0

    # replayed append: same batch_id re-delivers, served rows unchanged
    append_ivfpq_index(delta, two, "vec_id", "embedding", batch_id="b1")
    again = sorted(
        map(
            tuple,
            search_ivfpq_index(
                spark, two, probes, "vec_id", "embedding", nprobe=2, pool=10, k=3
            ).collect(),
        )
    )
    assert again == got

    # sidecars round-trip the models exactly
    assert read_ivf_centroids(spark, two) == [
        (cid, [float(x) for x in cv]) for cid, cv in cents
    ]
    assert read_pq_codebooks(spark, two) == [
        [(cid, [float(x) for x in cv]) for cid, cv in book] for book in books
    ]


def test_ivfpq_validation(spark, tmp_path):
    from chess_lakehouse_spark.operators.similarity import (
        append_ivfpq_index,
        search_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="pool"):
        search_ivfpq_index(
            spark, str(tmp_path), emb, "vec_id", "embedding", pool=2, k=5
        )
    with pytest.raises(ValueError, match="nprobe"):
        search_ivfpq_index(
            spark, str(tmp_path), emb, "vec_id", "embedding", nprobe=0
        )
    with pytest.raises(ValueError, match="batch_id 'base'"):
        append_ivfpq_index(emb, str(tmp_path), "vec_id", "embedding", "base")


# ----------------------------------------------------------------- manifest


def test_new_candidates_in_manifest():
    """The three queries are registered, and linkage_score's oracle
    embeds the registered record_linkage oracle verbatim (the
    composition discipline)."""
    from chess_lakehouse_spark import suite
    from chess_lakehouse_spark.suite.llm import (
        LINKAGE_SCORE_ORACLE,
        RECORD_LINKAGE_ORACLE,
    )

    for name in ("rank_sketch", "linkage_score", "knn_ivfpq"):
        assert name in suite.ORACLES and name in suite.QUERIES, name
    assert RECORD_LINKAGE_ORACLE.strip() in LINKAGE_SCORE_ORACLE


# ------------------------------------------------- PQ clustered-fixture pin


def test_pq_shortlist_containment_on_clustered_fixture(spark):
    """The r13 PQ recall audit measured 0-200000 ppm on the near-uniform
    fixture embeddings — PQ's documented worst case. This pins the knob
    WORKING on data with structure (r13 verdict, Next-round #5): on a
    planted 16-cluster corpus, ADC-alone recall@5 stays low (all
    members of a cluster share codewords, so ADC cannot rank WITHIN a
    cluster — m codes carry cluster identity, not intra-cluster order)
    while ADC-as-SHORTLISTER achieves total containment of the exact
    top-5 once the pool covers the cluster (the composed knn_ivfpq
    production path: the exact re-rank then restores recall@5 = 1).
    Measured floors recorded in SCALE.md r14."""
    import numpy as np

    from chess_lakehouse_spark.operators.similarity import (
        ann_recall_report,
        knn_brute_force,
        pq_adc_topk,
        pq_train,
    )

    rng = np.random.RandomState(0)
    centers = rng.normal(size=(16, 64)) * 5.0
    rows = [
        (i, (centers[i % 16] + rng.normal(size=64) * 0.3).tolist())
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()
    probes = df.where(F.col("vec_id") < 10)
    exact = knn_brute_force(df, probes, "vec_id", "embedding", k=5)

    books = pq_train(df, "vec_id", "embedding", m=4, k=16, iters=1, seed=0)
    # pool = cluster size: every exact top-5 lands in the ADC shortlist
    short = pq_adc_topk(df, probes, "vec_id", "embedding", books, n=25)
    rep = ann_recall_report(short, exact, "query_id", "cand_id")
    assert rep.agg(F.min("recall_ppm")).first()[0] == 1_000_000

    # ADC-alone top-5 on the SAME books: intra-cluster ranking is beyond
    # m codes — the audit shows the gap the re-rank stage exists to close
    adc5 = pq_adc_topk(df, probes, "vec_id", "embedding", books, n=5)
    rep5 = ann_recall_report(adc5, exact, "query_id", "cand_id")
    assert rep5.agg(F.max("recall_ppm")).first()[0] <= 600_000


def test_rank_sketch_reserved_names(spark):
    df = spark.createDataFrame(
        [(1, "g", 5)], "doc_id long, lvl string, level long"
    )
    from chess_lakehouse_spark.operators.sketches import (
        rank_sketch_build,
        rank_sketch_quantiles,
    )

    with pytest.raises(ValueError, match="reserved"):
        rank_sketch_build(df, "doc_id", "level", 4, by=["lvl"])
    st = spark.createDataFrame(
        [("g", 1, 5, 0, 0, 1)],
        "q_ppm string, doc_id long, v long, level int, lvl int, n_total long",
    )
    with pytest.raises(ValueError, match="reserved"):
        rank_sketch_quantiles(st, "doc_id", "v", [500_000], by=["q_ppm"])


# --------------------------------------------------------- rank_sketch_staged


@pytest.mark.parametrize("sf_dir", SCALES)
def test_rank_sketch_staged_matches_oracle_two_scales(spark, sf_dir):
    """The staged lifecycle (3 disjoint ingest batches ->
    write_rank_sketch_batch -> rank_sketch_from_batches serve) passes
    the SAME audit as the single-pass build — against
    RANK_SKETCH_ORACLE verbatim, the serving-layout-may-never-change-
    the-verdict discipline."""
    from chess_lakehouse_spark import suite
    from chess_lakehouse_spark.suite.llm import (
        RANK_SKETCH_ORACLE,
        q_rank_sketch_staged,
    )

    # the registered entry shares the oracle verbatim
    assert suite.ORACLES["rank_sketch_staged"] is RANK_SKETCH_ORACLE
    sdf = q_rank_sketch_staged(spark, sf_dir)
    _assert_clean_plan(sdf)
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["documents"], RANK_SKETCH_ORACLE)


def test_rank_sketch_staged_lifecycle(spark, tmp_path):
    """Replay safety + zero-raw-access serve: a re-written batch
    partition leaves the served state byte-identical; the staged serve
    equals the direct build; an empty state dir fails loudly."""
    from chess_lakehouse_spark.operators.sketches import (
        rank_sketch_build,
        rank_sketch_from_batches,
        write_rank_sketch_batch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    state_dir = str(tmp_path / "state")
    for i in range(3):
        part = rank_sketch_build(
            docs.where(F.col("doc_id") % 3 == i),
            "doc_id", "n_chars", k=16, by=["source"], seed=0,
        )
        write_rank_sketch_batch(part, state_dir, f"b{i}")
    served = rank_sketch_from_batches(spark, state_dir, k=16, by=["source"])
    direct = rank_sketch_build(docs, "doc_id", "n_chars", k=16, by=["source"])
    cols = ["source", "doc_id", "n_chars", "level", "lvl", "n_total"]
    want = sorted((tuple(r) for r in direct.select(*cols).collect()), key=str)
    assert (
        sorted((tuple(r) for r in served.select(*cols).collect()), key=str)
        == want
    )

    # crash-replay: republishing batch b1 is value-identical
    part1 = rank_sketch_build(
        docs.where(F.col("doc_id") % 3 == 1),
        "doc_id", "n_chars", k=16, by=["source"], seed=0,
    )
    write_rank_sketch_batch(part1, state_dir, "b1")
    again = rank_sketch_from_batches(spark, state_dir, k=16, by=["source"])
    assert (
        sorted((tuple(r) for r in again.select(*cols).collect()), key=str)
        == want
    )

    with pytest.raises(ValueError, match="empty state"):
        rank_sketch_from_batches(
            spark, str(tmp_path / "nope"), k=16, by=["source"]
        )


# ----------------------------------------------------------- linkage_entities


@pytest.mark.parametrize("sf_dir", SCALES)
def test_linkage_entities_matches_oracle_two_scales(spark, sf_dir):
    """End-to-end ER parity. sf0.001 is the stated zero-match parity
    case (all singletons — the empty-edge serve); sf0.01 carries real
    multi-member entities."""
    from chess_lakehouse_spark.suite.llm import (
        LINKAGE_ENTITIES_ORACLE,
        q_linkage_entities,
    )

    sdf = q_linkage_entities(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "c_custkey": "bigint",
        "entity_id": "bigint",
        "n_members": "bigint",
        "is_canonical": "boolean",
    }
    _assert_clean_plan(sdf)
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["customer"], LINKAGE_ENTITIES_ORACLE)
    # every customer appears exactly once; every entity has exactly one
    # canonical member and it IS the entity id
    assert len({r[0] for r in srows}) == len(srows)
    canon = [r for r in srows if r[3]]
    assert {r[1] for r in srows} == {r[0] for r in canon}
    if sf_dir.endswith("0.01"):
        assert any(r[2] > 1 for r in srows), "expected multi-member entities"
    else:
        assert all(r[2] == 1 for r in srows), "sf0.001 is the singleton case"


def test_linkage_entities_fusion_semantics(spark):
    """Transitive fusion on a crafted match graph: a-b and b-c matched
    => one entity of 3 under the min id; the untouched record stays a
    singleton."""
    from chess_lakehouse_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 7), (7, 4)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {2: 2, 7: 2, 4: 2}
