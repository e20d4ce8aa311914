"""DSIR importance resampling (Xie et al. 2023): planted-recovery,
determinism, and a pure-Python weight cross-check."""

from __future__ import annotations

import hashlib
import math

import pytest

from chess_lakehouse_spark.operators.sampling import dsir_topk

CHESS = "king queen rook pawn bishop knight castle gambit endgame opening"
NOISE_WORDS = [
    "meteor", "basalt", "orchid", "lagoon", "quartz", "ember", "tundra",
    "sonata", "harbor", "velvet", "cipher", "mosaic", "zephyr", "canyon",
]


def _noise(i: int) -> str:
    return " ".join(NOISE_WORDS[(i + j) % len(NOISE_WORDS)] for j in range(10))


@pytest.fixture(scope="module")
def corpora(spark):
    target = spark.createDataFrame(
        [(i, CHESS) for i in range(5)], "id long, text string"
    )
    raw_rows = [(i, CHESS) for i in range(10)] + [
        (i, _noise(i)) for i in range(10, 40)
    ]
    raw = spark.createDataFrame(raw_rows, "id long, text string")
    return raw, target


def test_dsir_recovers_planted_target_docs(spark, corpora):
    raw, target = corpora
    got = dsir_topk(raw, target, "id", "text", k=10)
    ids = [r["id"] for r in got.collect()]
    assert len(ids) == 10
    # the 10 chess docs dominate the selection (Gumbel noise may admit a
    # couple of noise docs — that is resampling working as designed)
    assert sum(1 for i in ids if i < 10) >= 8


def test_dsir_deterministic_across_partitionings(spark, corpora):
    raw, target = corpora
    a = dsir_topk(raw, target, "id", "text", k=10).collect()
    b = dsir_topk(
        raw.repartition(7), target.repartition(3), "id", "text", k=10
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    c = dsir_topk(raw, target, "id", "text", k=10, seed=1).collect()
    assert {r["id"] for r in c} != set()  # different seed still returns k docs
    assert len(c) == 10


def test_dsir_logw_matches_python_reference(spark):
    """Unigram-only weights on a tiny corpus, replicated exactly in Python
    (same md5 bucket hash, same add-1 smoothing, same rounding chain)."""
    n_buckets, seed = 64, 0
    target = spark.createDataFrame([(0, "a b a")], "id long, text string")
    raw = spark.createDataFrame(
        [(1, "a b"), (2, "c c d")], "id long, text string"
    )
    got = {
        r["id"]: r["logw"]
        for r in dsir_topk(
            raw, target, "id", "text", k=2, n_buckets=n_buckets,
            use_bigrams=False, seed=seed,
        ).collect()
    }

    def bucket(tok: str) -> int:
        h = hashlib.md5(f"{seed}|f|{tok}".encode()).hexdigest()[:15]
        return int(h, 16) % n_buckets

    t_counts: dict[int, int] = {}
    for tok in "a b a".split():
        t_counts[bucket(tok)] = t_counts.get(bucket(tok), 0) + 1
    q_counts: dict[int, int] = {}
    raw_docs = {1: "a b", 2: "c c d"}
    for text in raw_docs.values():
        for tok in text.split():
            q_counts[bucket(tok)] = q_counts.get(bucket(tok), 0) + 1
    t_total, q_total = 3, 5

    for i, text in raw_docs.items():
        want = 0.0
        for tok in text.split():
            b = bucket(tok)
            num = (t_counts.get(b, 0) * n_buckets + 1) * (q_total + 1)
            den = (q_counts.get(b, 0) * n_buckets + 1) * (t_total + 1)
            want += round(math.log(num / den), 6)
        assert got[i] == pytest.approx(round(want, 6), abs=2e-6)


def test_dsir_arbitrary_id_column_name(spark, corpora):
    """Regression: the feature extractor must not re-apply the id alias on
    an already-renamed frame (broke for any id_col other than 'id')."""
    raw, target = corpora
    raw2 = raw.withColumnRenamed("id", "doc_id")
    got = dsir_topk(raw2, target, "doc_id", "text", k=10)
    assert got.columns[0] == "doc_id"
    assert len(got.collect()) == 10


#: The canonical oracle body now lives in suite/llm.py (gated as the
#: dsir_topk driver query since r6); build the standalone template from
#: it so this parity pin and the suite cannot diverge.
from chess_lakehouse_spark.suite.llm import _DSIR_ORACLE_BODY  # noqa: E402

_DSIR_ORACLE_TPL = "WITH " + _DSIR_ORACLE_BODY


def test_dsir_duckdb_oracle_parity(spark, corpora):
    """Full oracle parity for dsir_topk on the planted corpus — the
    evidence behind the r6 window note that DSIR is suite-oracle-ready."""
    import duckdb

    from chess_lakehouse_spark.operators.sampling import _HASH_SPACE

    raw, target = corpora
    raw2 = raw.withColumnRenamed("id", "doc_id")
    tgt2 = target.withColumnRenamed("id", "doc_id")
    got = [
        (r["doc_id"], r["logw"], r["score"])
        for r in dsir_topk(raw2, tgt2, "doc_id", "text", k=15, n_buckets=256).collect()
    ]

    con = duckdb.connect()
    con.register("raw_pd", raw2.toPandas())
    con.register("tgt_pd", tgt2.toPandas())
    con.execute("CREATE VIEW raw_docs AS SELECT * FROM raw_pd")
    con.execute("CREATE VIEW target_docs AS SELECT * FROM tgt_pd")
    sql = _DSIR_ORACLE_TPL.format(
        seed=0, B=256, prec=6, hash_space=_HASH_SPACE, k=15
    )
    duck = con.execute(sql).fetchall()
    assert [(i, round(lw, 6), round(s, 6)) for i, lw, s in duck] == [
        (i, round(lw, 6), round(s, 6)) for i, lw, s in got
    ]


def test_dsir_skips_empty_docs_and_validates(spark, corpora):
    raw, target = corpora
    raw2 = raw.union(
        raw.sparkSession.createDataFrame([(99, "")], "id long, text string")
    )
    got = dsir_topk(raw2, target, "id", "text", k=40)
    ids = {r["id"] for r in got.collect()}
    assert 99 not in ids
    # no raw documents: no rows; no target documents: every raw document
    # still gets a finite weight from the smoothed empty target model
    assert dsir_topk(raw.where("id < 0"), target, "id", "text", k=5).collect() == []
    no_target = dsir_topk(raw, target.where("id < 0"), "id", "text", k=40).collect()
    assert len(no_target) == 40
    assert all(r["logw"] is not None for r in no_target)
    with pytest.raises(ValueError, match="k must"):
        dsir_topk(raw, target, "id", "text", k=0)
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_topk(raw, target, "id", "text", k=1, n_buckets=1)
