"""The four queries registered at r8 (dedup_span / quality_gopher /
bm25_batch / corpus_sketch_counts), exercised exactly as the driver will
run them: suite QUERIES entries against the REGISTERED suite ORACLES
strings — self-contained SQL over the registered views, no Python-side
value splicing, driver-safe types, exact value parity."""

from __future__ import annotations

import duckdb
import pytest

from chess_lakehouse_spark import suite

SF_DIR = "/root/testdata/sf0.001"

R8_REGISTERED = ["dedup_span", "quality_gopher", "bm25_batch", "corpus_sketch_counts"]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    yield c
    c.close()


def test_r8_queries_are_registered():
    """Each query is registered with its oracle."""
    for name in R8_REGISTERED:
        assert name in suite.QUERIES and name in suite.ORACLES


@pytest.mark.parametrize("name", R8_REGISTERED)
def test_r8_registered_query_matches_suite_oracle(spark, con, name):
    sdf = suite.QUERIES[name](spark, SF_DIR)
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = sorted(tuple(r) for r in con.execute(suite.ORACLES[name]).fetchall())
    assert len(srows) > 0
    assert srows == drows


def test_quality_gopher_splits_fixture_corpus(spark):
    """The gate must actually discriminate at the registered thresholds —
    a gate that passes or rejects everything verifies nothing."""
    out = suite.QUERIES["quality_gopher"](spark, SF_DIR)
    n_pass = out.where("passes_gopher").count()
    assert 0 < n_pass < out.count()


def test_dedup_span_removes_spans_on_fixtures(spark):
    out = suite.QUERIES["dedup_span"](spark, SF_DIR)
    assert out.where("n_removed_tokens > 0").count() > 0


def test_corpus_sketch_counts_booleans_all_true(spark):
    """est_within_10pct / has_sketch are TRUE by construction at fixture
    scale (the sketch is exact below its sparse-mode threshold) — the
    oracle emits literal TRUE, so any sketch-path breakage flips these."""
    rows = suite.QUERIES["corpus_sketch_counts"](spark, SF_DIR).collect()
    assert rows and all(r["est_within_10pct"] and r["has_sketch"] for r in rows)
