"""Tests for registered suite queries (suite/llm.py): two-scale exact
parity against their suite-defined DuckDB oracles, allowlisted output
types, plan-shape guards, and operator-level semantics pins.

- sample_reservoir — weighted reservoir sample per group (algorithm
  A-ES, Efraimidis & Spirakis, IPL 2006): k items per group with the
  largest deterministic key u^(1/w); the weighted-inclusion monotonicity
  (heavier items sampled more often across seeds) is property-pinned.
- curriculum_order — quality-descending phase buckets, per-phase source
  interleave, exact global cumulative token count via the distributed
  prefix-sum skeleton (global_prefix_sum, pinned against a
  single-partition reference in tests/test_exact_quantiles.py).
- stream_rollup — the incremental-rollup streaming twin end to end
  (file feed -> foreachBatch append_rollup -> serve); shares
  ROLLUP_STAGED_ORACLE verbatim.
- qc_card_signals — the QC card's integer signal family as one tall
  frame; oracle composes the registered signal oracles as CTEs.
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
    rows = sorted(
        tuple(r) for r in con.execute(sql).fetchall()
    )
    con.close()
    return rows


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --------------------------------------------------------- sample_reservoir


@pytest.mark.parametrize("sf_dir", SCALES)
def test_sample_reservoir_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        RESERVOIR_K,
        SAMPLE_RESERVOIR_ORACLE,
        q_sample_reservoir,
    )

    sdf = q_sample_reservoir(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "doc_id": "bigint",
        "source": "string",
        "weight": "bigint",
        "rk": "bigint",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["documents"], SAMPLE_RESERVOIR_ORACLE)
    # exactly k per source when the source has >= k rows (fixture does)
    import collections

    per = collections.Counter(r[1] for r in srows)
    assert all(v == RESERVOIR_K for v in per.values())


def test_weighted_reservoir_semantics(spark):
    """A-ES pins: k >= group size keeps everything; non-positive/NULL
    weights are excluded (stated contract); determinism across
    partitionings; and weighted inclusion monotonicity — over many
    seeds, an item with 50x the weight of its peers is drawn far more
    often than any individual peer."""
    from chess_lakehouse_spark.operators.sampling import (
        weighted_reservoir_per_group,
    )

    rows = [(1, "g", 10), (2, "g", 10), (3, "g", None), (4, "g", 0), (5, "g", -3)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    out = weighted_reservoir_per_group(df, "doc_id", "source", "w", 10)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]

    with pytest.raises(ValueError, match="k must be >= 1"):
        weighted_reservoir_per_group(df, "doc_id", "source", "w", 0)

    big = spark.createDataFrame(
        [(i, "g", 500 if i == 0 else 10) for i in range(21)],
        "doc_id long, source string, w long",
    )
    hits = {i: 0 for i in range(21)}
    for seed in range(40):
        got = weighted_reservoir_per_group(
            big, "doc_id", "source", "w", 3, seed=seed
        )
        # partitioning-invariant: same picks from a different layout
        got7 = weighted_reservoir_per_group(
            big.repartition(7), "doc_id", "source", "w", 3, seed=seed
        )
        a = sorted(tuple(r) for r in got.collect())
        assert a == sorted(tuple(r) for r in got7.collect())
        for r in a:
            hits[r[0]] += 1
    peers = [hits[i] for i in range(1, 21)]
    assert hits[0] > max(peers), (hits[0], max(peers))


# --------------------------------------------------------- curriculum_order


@pytest.mark.parametrize("sf_dir", SCALES)
def test_curriculum_order_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        CURRICULUM_ORDER_ORACLE,
        q_curriculum_order,
    )

    sdf = q_curriculum_order(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "doc_id": "bigint",
        "source": "string",
        "phase": "int",
        "seq": "bigint",
        "n_tokens": "bigint",
        "pos": "bigint",
        "cum_tokens": "bigint",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["documents"], CURRICULUM_ORDER_ORACLE)


def test_curriculum_order_semantics(spark):
    """Phase 1 holds the TOP-quality tercile; within a phase sources
    interleave (consecutive positions rotate sources when multiple
    remain); cum_tokens is the exact running total in pos order; NULL
    quality rows are excluded (stated contract)."""
    from chess_lakehouse_spark.operators.sampling import curriculum_order

    rows = [
        (i, f"s{i % 2}", float(i), (i % 5) + 1) for i in range(12)
    ] + [(99, "s0", None, 4)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, q double, n long"
    )
    out = curriculum_order(df, "doc_id", "source", "q", "n", 3).orderBy("pos")
    got = out.collect()
    assert len(got) == 12  # the NULL-quality row is excluded
    # phase 1 = the four highest-q docs (8..11)
    assert sorted(r["doc_id"] for r in got if r["phase"] == 1) == [8, 9, 10, 11]
    # cumulative exactness
    tot = 0
    for idx, r in enumerate(got, start=1):
        assert r["pos"] == idx
        tot += r["n_tokens"]
        assert r["cum_tokens"] == tot
    # interleave: within each phase, seq runs 1,1,2,2 (two sources)
    for ph in (1, 2, 3):
        seqs = [r["seq"] for r in got if r["phase"] == ph]
        assert seqs == sorted(seqs)


# ------------------------------------------------------------ stream_rollup


@pytest.mark.parametrize("sf_dir", SCALES)
def test_stream_rollup_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        ROLLUP_STAGED_ORACLE,
        q_stream_rollup,
    )

    sdf = q_stream_rollup(spark, sf_dir)
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["events"], ROLLUP_STAGED_ORACLE)


def test_stream_rollup_equals_batch_rollup_same_oracle(spark):
    """The bloom_gate_table discipline applied to ingestion: the
    streaming fold and the registered batch fold serve IDENTICAL rows
    (same oracle, so a drift would already fail parity — this pins the
    two Spark paths directly against each other too)."""
    from chess_lakehouse_spark.suite.llm import q_rollup_staged, q_stream_rollup

    sf = "/root/testdata/sf0.001"
    a = sorted(tuple(r) for r in q_stream_rollup(spark, sf).collect())
    b = sorted(tuple(r) for r in q_rollup_staged(spark, sf).collect())
    assert a == b


# --------------------------------------------------------- qc_card_signals


@pytest.mark.parametrize("sf_dir", SCALES)
def test_qc_card_signals_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        QC_CARD_SIGNALS_ORACLE,
        q_qc_card_signals,
    )

    sdf = q_qc_card_signals(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "signal": "string",
        "k1": "string",
        "k2": "string",
        "metric": "string",
        "value": "bigint",
        "value_str": "string",
    }
    srows = sorted(
        tuple((x is not None, x) for x in r) for r in sdf.collect()
    )
    orows = sorted(
        tuple((x is not None, x) for x in r)
        for r in duckdb_rows(sf_dir, QC_CARD_SIGNALS_ORACLE)
    )
    assert len(srows) > 0
    assert srows == orows
    # all five signal families present
    fams = {r[0][1] for r in srows}
    assert fams == {
        "source_summary",
        "gate_attribution",
        "length_histogram",
        "shard_balance",
        "top_tokens",
    }


def duckdb_rows(sf_dir: str, sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rows = con.execute(sql).fetchall()
    con.close()
    return rows


def test_qc_card_signals_shares_bundle_frames(spark, tmp_path):
    """The gated tall frame and the rendered bundle derive from ONE
    qc_signal_frames composition: the tall frame's per-signal totals
    must equal the bundle's written parquet for the shared signals."""
    from chess_lakehouse_spark.report import qc_card_signals_tall, qc_report_bundle

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    gates = {
        "len": F.col("n_chars") >= 300,
        "lang": F.col("lang") == "en",
        "stop": F.col("text").contains(" the "),
    }
    out = str(tmp_path / "bundle")
    qc_report_bundle(docs, out, n_shards=16, gates=gates)
    tall = qc_card_signals_tall(docs, n_shards=16, gates=gates)
    shard_tall = {
        (r["k1"], r["metric"]): r["value"]
        for r in tall.where(F.col("signal") == "shard_balance").collect()
    }
    bundle = spark.read.parquet(f"{out}/shard_balance")
    for r in bundle.collect():
        for m in ("n_docs", "size_mass", "skew_ppm"):
            assert shard_tall[(str(r["shard"]), m)] == r[m]


def test_staged_candidate_plans_clean(spark):
    """No CartesianProduct / BatchEvalPython in these queries' physical
    plans."""
    from chess_lakehouse_spark.suite.llm import (
        q_curriculum_order,
        q_qc_card_signals,
        q_sample_reservoir,
    )

    sf = "/root/testdata/sf0.001"
    for fn in (q_sample_reservoir, q_curriculum_order, q_qc_card_signals):
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__


# ------------------------------------------------------------ record_linkage


@pytest.mark.parametrize("sf_dir", SCALES)
def test_record_linkage_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        RECORD_LINKAGE_ORACLE,
        q_record_linkage,
    )

    sdf = q_record_linkage(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "id_a": "bigint",
        "id_b": "bigint",
        "name_jac_ppm": "bigint",
        "seg_match": "boolean",
        "nation_match": "boolean",
        "bal_diff_cents": "bigint",
    }
    srows = sorted(
        tuple((x is not None, x) for x in r) for r in sdf.collect()
    )
    orows = sorted(
        tuple((x is not None, x) for x in r)
        for r in _oracle_rows(sf_dir, ["customer"], RECORD_LINKAGE_ORACLE)
    )
    assert len(srows) > 0
    assert srows == orows


def test_blocking_pairs_semantics(spark):
    """Multi-pass OR union; NULL blocking keys excluded from their pass
    (but the record still pairs through other passes); the bucket cap
    drops a non-discriminative key's pairs; empty key_sets rejected."""
    from chess_lakehouse_spark.operators.linkage import blocking_pairs

    rows = [
        (1, "x", "p"),
        (2, "x", "p"),
        (3, None, "p"),   # NULL in pass-1 key; pairs through pass 2
        (4, "y", None),   # NULL in pass-2 key; pairs through pass 1
        (5, "y", "q"),
    ]
    df = spark.createDataFrame(rows, "id long, k1 string, k2 string")
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in blocking_pairs(
            df, "id", {"a": [F.col("k1")], "b": [F.col("k2")]}
        ).collect()
    )
    # pass a: (1,2) via x, (4,5) via y; pass b: (1,2),(1,3),(2,3) via p
    assert got == [(1, 2), (1, 3), (2, 3), (4, 5)]

    capped = blocking_pairs(
        df, "id", {"b": [F.col("k2")]}, max_bucket_size=2
    )
    assert capped.collect() == []  # the p-bucket (3 ids) is over the cap

    with pytest.raises(ValueError, match="at least one pass"):
        blocking_pairs(df, "id", {})
    with pytest.raises(ValueError, match="no key columns"):
        blocking_pairs(df, "id", {"a": []})


def test_pair_field_jaccard_edges(spark):
    """Gram-set edges: identical fields -> 1e6; one side shorter than q
    -> 0; both sides empty -> NULL (incomparable, not identical)."""
    from chess_lakehouse_spark.operators.linkage import pair_field_jaccard_ppm

    recs = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdef"), (3, "ab"), (4, None), (5, "x")],
        "id long, f string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["j"]
        for r in pair_field_jaccard_ppm(
            pairs, recs, "id", "f", q=3, out_col="j"
        ).collect()
    }
    assert got == {
        (1, 2): 1_000_000,
        (1, 3): 0,
        (3, 4): None,
        (4, 5): None,
    }


# ---------------------------------------------------------------- knn_pq_adc


@pytest.mark.parametrize("sf_dir", SCALES)
def test_knn_pq_adc_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import KNN_PQ_ADC_ORACLE, q_knn_pq_adc

    # the oracle unrolls the slice chains against dim=64 — pin the
    # fixture dim so a testdata change fails loudly here, not as a
    # silent slice mismatch
    dim = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.size("embedding").alias("d"))
        .first()["d"]
    )
    assert dim == 64
    sdf = q_knn_pq_adc(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "query_id": "bigint",
        "cand_id": "bigint",
        "sim": "double",
        "rk": "int",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["embeddings"], KNN_PQ_ADC_ORACLE)


def test_pq_semantics(spark):
    """PQ pins: codes live in [0, k) with one code per slice;
    encoding is partitioning-invariant; m must divide the dim; the ADC
    score of a probe against a corpus vector equals the probe·x̂ dot
    with x̂ the concatenated chosen centroids (reconstruction
    identity)."""
    from chess_lakehouse_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(emb, "vec_id", "embedding", m=4, k=5, iters=1, seed=3)
    assert len(books) == 4 and all(len(b) == 5 for b in books)
    enc = pq_encode(emb, "vec_id", "embedding", books)
    rows = enc.collect()
    assert all(len(r["codes"]) == 4 for r in rows)
    assert all(0 <= c < 5 for r in rows for c in r["codes"])
    enc7 = pq_encode(emb.repartition(7), "vec_id", "embedding", books)
    assert sorted(map(tuple, enc7.collect())) == sorted(map(tuple, rows))

    with pytest.raises(ValueError, match="must divide"):
        pq_train(emb, "vec_id", "embedding", m=7)

    # reconstruction identity for one probe/cand pair, via driver math
    probe = emb.where(F.col("vec_id") == 0)
    out = pq_adc_topk(emb, probe, "vec_id", "embedding", books, n=3).collect()
    assert len(out) == 3
    qv = [float(x) for x in probe.first()["embedding"]]
    code_by_id = {r["vec_id"]: r["codes"] for r in rows}
    d = 64 // 4
    for r in out:
        xhat = []
        for s, c in enumerate(code_by_id[r["cand_id"]]):
            xhat.extend(dict(books[s])[c])
        acc = 0.0
        for i in range(64):
            acc += qv[i] * xhat[i]
        # same left-fold order per slice; cross-slice addition matches
        accs = 0.0
        for s in range(4):
            sub = 0.0
            for i in range(s * d, (s + 1) * d):
                sub += qv[i] * xhat[i]
            accs += sub
        assert round(accs, 6) == r["sim"]


@pytest.mark.parametrize("sf_dir", SCALES)
def test_pq_recall_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import PQ_RECALL_ORACLE, q_pq_recall

    sdf = q_pq_recall(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "query_id": "bigint",
        "n_exact": "bigint",
        "n_approx": "bigint",
        "n_common": "bigint",
        "recall_ppm": "bigint",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["embeddings"], PQ_RECALL_ORACLE)
    # structural invariants: overlap bounded by both sides
    for _, ne, na, nc, rp in srows:
        assert 0 <= nc <= min(ne, na)
        assert rp == nc * 1_000_000 // ne
