"""The four queries registered at r9 (lm_staged / pii_scan / html_strip /
classifier_serve), exercised exactly as the driver will run them: suite
QUERIES entries against the REGISTERED suite ORACLES strings —
self-contained SQL over the registered views, no Python-side value
splicing, driver-safe types, exact value parity.

lm_staged / pii_scan / html_strip additionally carry their own staging
test files (test_lm_staged.py / test_pii_scan.py / test_strip_html.py —
two-scale parity, cold-JVM ANSI, grammar fuzz); classifier_serve's
margin/sigmoid split is pinned here."""

from __future__ import annotations

import duckdb
import pytest

from chess_lakehouse_spark import suite

SF_DIR = "/root/testdata/sf0.001"

R9_REGISTERED = ["lm_staged", "pii_scan", "html_strip", "classifier_serve"]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    yield c
    c.close()


@pytest.mark.parametrize("name", R9_REGISTERED)
def test_r9_registered_query_matches_suite_oracle(spark, con, name):
    sdf = suite.QUERIES[name](spark, SF_DIR)
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = sorted(tuple(r) for r in con.execute(suite.ORACLES[name]).fetchall())
    assert len(srows) > 0
    assert srows == drows


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_classifier_serve_two_scale_parity(spark, sf_dir):
    """Exact value parity at both local scales (the driver runs sf0.01)."""
    sdf = suite.QUERIES["classifier_serve"](spark, sf_dir)
    srows = sorted(tuple(r) for r in sdf.collect())
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    drows = sorted(
        tuple(r) for r in c.execute(suite.ORACLES["classifier_serve"]).fetchall()
    )
    c.close()
    assert len(srows) > 0
    assert srows == drows


def test_classifier_serve_gate_discriminates(spark):
    """The fixed-weight gate must split the fixture corpus on BOTH sides
    (a gate that keeps or drops everything verifies nothing), and the
    keep boolean must agree with thresholding the sigmoid at 0.5 — the
    margin z >= 0 is the same decision, computed without the
    transcendental."""
    rows = suite.QUERIES["classifier_serve"](spark, SF_DIR).collect()
    kept = [r for r in rows if r["keep"]]
    assert 0 < len(kept) < len(rows)
    for r in rows:
        assert r["keep"] == (r["keep_prob"] >= 0.5)


def test_classifier_serve_plan_is_pure_column(spark):
    """The serving path must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython / MLlib stages in the physical plan — the gate rides
    the scan at 100 TB."""
    plan = suite.QUERIES["classifier_serve"](
        spark, SF_DIR
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Scan" in plan
