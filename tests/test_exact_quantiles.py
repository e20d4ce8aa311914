"""Tests for the rank family of operators/relational.py — the operators
built on the private exact-rank kernel ``_exact_rank``: global sort rank,
prefix sum, exact and weighted quantiles, score buckets and percent rank,
plus the 2-D Pareto frontier, which keeps its own range prefix-max.

Two-scale exact parity of the `exact_quantiles` and `group_quantiles`
queries against their suite-defined DuckDB oracles, the distributed-rank
plan shape, and known-answer operator pins (references, NULL rules,
guards, partition invariance). More semantics pins live in
tests/test_llm_ops.py and tests/test_property_fuzz.py."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from chess_lakehouse_spark.suite.llm import (
    EXACT_QUANTILE_PPMS,
    EXACT_QUANTILES_ORACLE,
    q_exact_quantiles,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_exact_quantiles_candidate_matches_oracle_two_scales(spark, sf_dir):
    sdf = q_exact_quantiles(spark, sf_dir)
    assert dict(sdf.dtypes) == {"q_ppm": "bigint", "value": "double"}
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    res = con.execute(EXACT_QUANTILES_ORACLE)
    dtypes = [d[1] for d in res.description]
    drows = sorted(tuple(r) for r in res.fetchall())
    con.close()
    assert dtypes == ["NUMBER", "NUMBER"]
    assert len(srows) == len(EXACT_QUANTILE_PPMS)
    assert srows == drows


def test_exact_quantiles_candidate_plan_is_distributed(spark):
    plan = (
        q_exact_quantiles(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the range exchange runs inside the eager localCheckpoint job; the
    # derived plan reads the checkpointed snapshot
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_group_quantiles_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        GROUP_QUANTILE_PPMS,
        GROUP_QUANTILES_ORACLE,
        q_group_quantiles,
    )

    sdf = q_group_quantiles(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "l_returnflag": "string",
        "l_linestatus": "string",
        "q_ppm": "bigint",
        "value": "double",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    drows = sorted(
        tuple(r) for r in con.execute(GROUP_QUANTILES_ORACLE).fetchall()
    )
    con.close()
    n_groups = len({(r[0], r[1]) for r in srows})
    assert len(srows) == n_groups * len(GROUP_QUANTILE_PPMS)
    assert srows == drows


def test_global_percent_rank_reference_and_guards(spark):
    """Pure-Python reference on a known order, the N=1 convention, the
    partition-invariance of the unique-key contract, and the reserved
    out_col guard."""
    from chess_lakehouse_spark.operators.relational import global_percent_rank

    df = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(11)], "id long, s double"
    ).repartition(5)
    got = {
        r.id: r.pct_ppm
        for r in global_percent_rank(df, ["s", "id"]).collect()
    }
    # id=10 has the LOWEST score -> rank 1 -> 0 ppm; id=0 the highest
    assert got == {10 - i: i * 100_000 for i in range(11)}

    one = spark.createDataFrame([(1, 5.0)], "id long, s double")
    assert global_percent_rank(one, ["s", "id"]).first()["pct_ppm"] == 0

    with pytest.raises(ValueError, match="out_col"):
        global_percent_rank(df.withColumn("pct_ppm", F.lit(1)), ["s", "id"])


def test_global_prefix_sum_matches_single_partition_reference(spark):
    """The distributed prefix sum (range partitions + offsets) equals
    the trivially-correct single-partition running sum, at several
    partition layouts, and its plan carries no CartesianProduct."""
    from chess_lakehouse_spark.operators.relational import global_prefix_sum

    rows = [(i, (i * 37) % 100, (i * 13) % 7 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k long, v long")
    # reference: driver-side over the sorted rows
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    want, tot = {}, 0
    for pos0, (i, k, v) in enumerate(ordered, start=1):
        tot += v
        want[i] = (pos0, tot)
    for parts in (1, 5, 32):
        out = global_prefix_sum(
            df.repartition(parts), ["k", "id"], "v",
            out_col="cum", rank_col="pos",
        )
        got = {r["id"]: (r["pos"], r["cum"]) for r in out.collect()}
        assert got == want, parts
    plan = _plan(global_prefix_sum(df, ["k", "id"], "v"))
    assert "CartesianProduct" not in plan


def test_score_buckets_by_matches_native_ntile_and_null_rule(spark):
    """The by-form's integer formula equals native per-group ntile on a
    unique order, and NULL scores bucket NULL without shifting a group's
    boundaries."""
    from pyspark.sql.window import Window

    from chess_lakehouse_spark.operators.relational import score_buckets

    rows = [(i, f"s{i % 3}", float(i * 7 % 23)) for i in range(40)]
    rows += [(100, "s0", None), (101, "s9", None)]  # NULL score, own group too
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = {
        r.id: r.bucket
        for r in score_buckets(
            df, "id", "v", n_buckets=3, exact=True, by=["g"]
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = {
        r.id: r.bucket
        for r in df.where(F.col("v").isNotNull())
        .withColumn("bucket", F.ntile(3).over(w))
        .collect()
    }
    assert got[100] is None and got[101] is None
    assert {k: v for k, v in got.items() if v is not None} == want

    # approx by-form: same grouping keys, buckets within range, NULL->NULL
    approx = {
        r.id: r.bucket
        for r in score_buckets(
            df, "id", "v", n_buckets=3, exact=False, by=["g"]
        ).collect()
    }
    assert approx[100] is None
    assert all(v in (1, 2, 3) for k, v in approx.items() if v is not None)


def test_score_buckets_approx_by_buckets_null_groups(spark):
    """exact=False with by=: NULL group keys form their own group — the
    approx cuts row for the NULL group must join back (NULL-safe), so a
    NULL-group row with a non-NULL score gets a real bucket, matching
    the exact path."""
    from chess_lakehouse_spark.operators.relational import score_buckets

    rows = [(i, None if i < 4 else "g", float(i % 4) + 1.0) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, grp string, score double")
    approx = score_buckets(
        df, "id", "score", n_buckets=2, exact=False, by=["grp"]
    ).collect()
    exact = score_buckets(
        df, "id", "score", n_buckets=2, exact=True, by=["grp"]
    ).collect()
    a = {r["id"]: r["bucket"] for r in approx}
    e = {r["id"]: r["bucket"] for r in exact}
    assert None not in a.values()  # the r11 ADVICE bug: NULL buckets
    # 4-point groups with accuracy 10000 are sketch-exact: paths agree
    assert a == e
    # NULL group stratifies on its own: scores 1,2 -> bucket 1; 3,4 -> 2
    assert [a[i] for i in range(4)] == [1, 1, 2, 2]


def test_weighted_quantiles_semantics(spark):
    """Known-answer checks: weighted lower-quantile picks, by-group form,
    exclusion of NULL/zero/negative weights and NULL values, empty
    input, validation, and the reserved-column guard."""
    from chess_lakehouse_spark.operators.relational import weighted_quantiles

    df = spark.createDataFrame(
        [(float(v), v) for v in (1, 2, 3, 4)], "v double, w long"
    ).repartition(3)
    got = sorted(
        tuple(r)
        for r in weighted_quantiles(df, "v", "w", [0.05, 0.5, 0.9, 1.0]).collect()
    )
    # W=10; targets 1,5,9,10 over cumulative 1,3,6,10
    assert got == [
        (50_000, 1.0), (500_000, 3.0), (900_000, 4.0), (1_000_000, 4.0)
    ]

    g = spark.createDataFrame(
        [("a", float(v), 1) for v in range(1, 6)]
        + [("b", 7.0, 5), ("b", 9.0, 1)],
        "g string, v double, w long",
    )
    assert sorted(
        tuple(r) for r in weighted_quantiles(g, "v", "w", [0.5], by=["g"]).collect()
    ) == [("a", 500_000, 3.0), ("b", 500_000, 7.0)]

    n = spark.createDataFrame(
        [(1.0, 0), (2.0, None), (None, 3), (5.0, 2), (6.0, -4)],
        "v double, w long",
    )
    # only the (5.0, w=2) row is rankable: zero/NULL/negative weights and
    # NULL values are all excluded
    assert [tuple(r) for r in weighted_quantiles(n, "v", "w", [0.5]).collect()] \
        == [(500_000, 5.0)]

    empty = spark.createDataFrame([], "v double, w long")
    assert weighted_quantiles(empty, "v", "w", [0.5]).count() == 0

    with pytest.raises(ValueError, match="qs must"):
        weighted_quantiles(df, "v", "w", [])
    with pytest.raises(ValueError, match="q must"):
        weighted_quantiles(df, "v", "w", [1.5])
    with pytest.raises(ValueError, match="reserved"):
        weighted_quantiles(df.withColumn("__cw", F.lit(1)), "v", "w", [0.5])


def _brute_skyline(points):
    """Reference weak-dominance skyline: p dominates q iff p.x >= q.x and
    p.y >= q.y with strict inequality in at least one coordinate."""
    out = []
    for q in points:
        dominated = any(
            p[0] >= q[0] and p[1] >= q[1] and (p[0] > q[0] or p[1] > q[1])
            for p in points
        )
        if not dominated:
            out.append(q)
    return sorted(out)


def test_pareto_frontier_matches_brute_force_definition(spark):
    """The operator's output equals the NOT-EXISTS weak-dominance
    definition on crafted data covering duplicates on the frontier,
    same-x/same-y ties, NULL coordinates, and an anti-correlated chain
    (everything on the frontier)."""
    from chess_lakehouse_spark.operators.relational import pareto_frontier_2d

    rows = [
        (1, 10.0, 1.0), (2, 9.0, 2.0), (3, 8.0, 3.0),   # anti-corr chain
        (4, 9.0, 2.0),                                   # exact dup of 2
        (5, 9.0, 1.5),                                   # same x, lower y
        (6, 7.0, 3.0),                                   # same y as 3, lower x
        (7, 1.0, 1.0),                                   # interior
        (8, None, 5.0), (9, 5.0, None),                  # incomparable
        (10, 10.0, 0.5),                                 # same x as 1, lower y
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double").repartition(7)
    got = sorted(
        (r.x, r.y) for r in pareto_frontier_2d(df, "x", "y").collect()
    )
    pts = [(x, y) for _, x, y in rows if x is not None and y is not None]
    assert got == _brute_skyline(pts)
    ids = {r.id for r in pareto_frontier_2d(df, "x", "y").collect()}
    assert ids == {1, 2, 3, 4}  # both duplicates of the frontier point kept

    with pytest.raises(ValueError, match="reserved"):
        pareto_frontier_2d(df.withColumn("__pid", F.lit(1)), "x", "y")

    # all-on-frontier and empty inputs
    chain = spark.createDataFrame(
        [(i, float(100 - i), float(i)) for i in range(50)],
        "id long, x double, y double",
    ).repartition(6)
    assert pareto_frontier_2d(chain, "x", "y").count() == 50
    empty = spark.createDataFrame([], "id long, x double, y double")
    assert pareto_frontier_2d(empty, "x", "y").count() == 0
