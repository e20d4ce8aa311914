"""Tests for eight registered suite queries (suite/llm.py): two-scale
exact parity against their suite-defined DuckDB oracles, allowlisted
output types, plan-shape guards, and operator-level semantics pins
(robust-z NULL/mask behavior and others; the rank family's operator pins
live in tests/test_exact_quantiles.py).

- bloom_gate_table  — word-TABLE Bloom layout, oracle shared verbatim
  with bloom_gate (the layout may never change a verdict)
- score_percentile  — global percent-rank in exact integer millionths
  (operators/relational.py:global_percent_rank)
- robust_zscore     — median/MAD Hampel outlier flags
  (operators/relational.py:robust_zscore_flags)
- group_buckets     — per-group exact ntile (score_buckets `by` form)
- pareto_frontier   — 2-D skyline via groupBy-collapse + distributed
  exclusive prefix-max (operators/relational.py:pareto_frontier_2d)
- weighted_quantiles — exact integer-weight quantiles, the prefix-SUM
  form of the sort-rank skeleton
  (operators/relational.py:weighted_quantiles)
- scd2_versions     — Kimball Type-2 slowly-changing-dimension fold
  (operators/publish.py:scd2_apply)
- asof_nearest      — merge_asof nearest-direction + tolerance surface
  (operators/relational.py:asof_join(direction=, tolerance=))
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


@pytest.mark.parametrize("sf_dir", SCALES)
def test_bloom_gate_table_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        BLOOM_GATE_ORACLE,
        BLOOM_GATE_TABLE_ORACLE,
        q_bloom_gate,
        q_bloom_gate_table,
    )

    assert BLOOM_GATE_TABLE_ORACLE is BLOOM_GATE_ORACLE
    sdf = q_bloom_gate_table(spark, sf_dir)
    assert dict(sdf.dtypes) == {"doc_id": "bigint", "might_contain": "boolean"}
    srows = sorted(tuple(r) for r in sdf.collect())
    assert srows == _oracle_rows(sf_dir, ["documents"], BLOOM_GATE_TABLE_ORACLE)
    # and bit-identical to the array-layout candidate on the same corpus
    arows = sorted(tuple(r) for r in q_bloom_gate(spark, sf_dir).collect())
    assert srows == arows
    assert {r[1] for r in srows} == {True, False}


def test_bloom_gate_table_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_bloom_gate_table

    plan = _plan(q_bloom_gate_table(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("sf_dir", SCALES)
def test_score_percentile_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        SCORE_PERCENTILE_ORACLE,
        q_score_percentile,
    )

    sdf = q_score_percentile(spark, sf_dir)
    assert dict(sdf.dtypes) == {"o_orderkey": "bigint", "pct_ppm": "bigint"}
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = _oracle_rows(sf_dir, ["orders"], SCORE_PERCENTILE_ORACLE)
    assert len(srows) > 0
    assert srows == drows
    # endpoint contract: exactly one 0 and one 1_000_000 (unique order)
    ppms = [r[1] for r in srows]
    assert min(ppms) == 0 and max(ppms) == 1_000_000


def test_score_percentile_candidate_plan_is_distributed(spark):
    from chess_lakehouse_spark.suite.llm import q_score_percentile

    plan = _plan(q_score_percentile(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # rides global_sort_rank's eager localCheckpoint snapshot
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


@pytest.mark.parametrize("sf_dir", SCALES)
def test_robust_zscore_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        ROBUST_ZSCORE_ORACLE,
        q_robust_zscore,
    )

    sdf = q_robust_zscore(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "event_id": "bigint",
        "event_type": "string",
        "is_outlier": "boolean",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = _oracle_rows(sf_dir, ["events"], ROBUST_ZSCORE_ORACLE)
    assert len(srows) > 0
    assert srows == drows


def test_robust_zscore_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_robust_zscore

    plan = _plan(q_robust_zscore(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_robust_zscore_flags_semantics(spark):
    """Masking resistance (one extreme row cannot hide), NULL flags,
    all-NULL group, zero-MAD group, and the reserved-column guard."""
    from chess_lakehouse_spark.operators.relational import robust_zscore_flags

    rows = (
        [(i, "a", float(i)) for i in range(1, 10)]
        + [(99, "a", 1000.0)]          # the outlier a stddev-z would dilute
        + [(100, "b", None), (101, "b", None)]  # all-NULL group
        + [(200, "c", 7.0), (201, "c", 7.0), (202, "c", 7.0), (203, "c", 42.0)]
    )
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = {
        r.id: (r.med, r.mad, r.is_outlier)
        for r in robust_zscore_flags(df, "v", by=["g"], k=3).collect()
    }
    # group a: med=5 (rank 5 of 10), MAD=2 -> only 1000.0 flags
    assert got[99] == (5.0, 2.0, True)
    assert got[5] == (5.0, 2.0, False)
    # NULL value -> NULL flag, group all-NULL -> NULL med/mad
    assert got[100] == (None, None, None)
    # zero-MAD group: med=7, deviations (0,0,0,35) -> MAD=0, any
    # deviation > 0 flags (the degenerate-spread convention)
    assert got[200] == (7.0, 0.0, False)
    assert got[203] == (7.0, 0.0, True)

    with pytest.raises(ValueError, match="reserved"):
        robust_zscore_flags(df.withColumn("mad", F.lit(1.0)), "v", by=["g"])

    # global form keeps every row even when ALL values are NULL
    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "id long, v double"
    )
    out = robust_zscore_flags(allnull, "v").collect()
    assert len(out) == 2 and all(r.is_outlier is None for r in out)


@pytest.mark.parametrize("sf_dir", SCALES)
def test_group_buckets_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        GROUP_BUCKETS_ORACLE,
        q_group_buckets,
    )

    sdf = q_group_buckets(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "doc_id": "bigint",
        "source": "string",
        "bucket": "int",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = _oracle_rows(sf_dir, ["documents"], GROUP_BUCKETS_ORACLE)
    assert len(srows) > 0
    assert srows == drows
    # every (source) stratum uses all buckets at these scales
    from chess_lakehouse_spark.suite.llm import GROUP_BUCKETS_N

    per_src = {}
    for _, src, b in srows:
        per_src.setdefault(src, set()).add(b)
    assert all(v == set(range(1, GROUP_BUCKETS_N + 1)) for v in per_src.values())


def test_group_buckets_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_group_buckets

    plan = _plan(q_group_buckets(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the per-group form must NOT pay the global range exchange
    assert "rangepartitioning" not in plan.lower()


@pytest.mark.parametrize("sf_dir", SCALES)
def test_pareto_frontier_candidate_matches_oracle_two_scales(spark, sf_dir):
    from test_exact_quantiles import _brute_skyline

    from chess_lakehouse_spark.suite.llm import (
        PARETO_FRONTIER_ORACLE,
        q_pareto_frontier,
    )

    sdf = q_pareto_frontier(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "l_orderkey": "bigint",
        "l_linenumber": "int",
        "price": "double",
        "qty": "double",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = _oracle_rows(sf_dir, ["lineitem"], PARETO_FRONTIER_ORACLE)
    assert 0 < len(srows) < 100  # a selection, not the corpus
    assert srows == drows
    # frontier property spot-check against the raw table: no survivor is
    # weakly dominated by any other survivor
    assert _brute_skyline([(r[2], r[3]) for r in srows]) == sorted(
        {(r[2], r[3]) for r in srows}
    )


def test_pareto_frontier_candidate_plan_is_distributed(spark):
    from chess_lakehouse_spark.suite.llm import q_pareto_frontier

    plan = _plan(q_pareto_frontier(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the prefix-max rides the checkpointed range snapshot
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


@pytest.mark.parametrize("sf_dir", SCALES)
def test_weighted_quantiles_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        WEIGHTED_QUANTILES_ORACLE,
        WEIGHTED_Q_PPMS,
        q_weighted_quantiles,
    )

    sdf = q_weighted_quantiles(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "l_returnflag": "string",
        "q_ppm": "bigint",
        "value": "double",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = _oracle_rows(sf_dir, ["lineitem"], WEIGHTED_QUANTILES_ORACLE)
    assert len(srows) == 3 * len(WEIGHTED_Q_PPMS)  # 3 return flags
    assert srows == drows


def test_weighted_quantiles_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_weighted_quantiles

    plan = _plan(q_weighted_quantiles(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_scd2_apply_semantics(spark):
    """Kimball SCD2 fold: closed history untouched, no-op updates
    collapse, same-instant update supersedes the open snapshot,
    first-load keys version from their first event, multi-attr NULL-safe
    change detection, and validation."""
    from chess_lakehouse_spark.operators.publish import scd2_apply

    dim = spark.createDataFrame(
        [
            (1, "gold", None, 0, 100),       # closed history
            (1, "silver", None, 100, None),  # open
            (2, "bronze", "x", 50, None),
            (4, "iron", None, 5, None),
        ],
        "k long, seg string, tier string, valid_from long, valid_to long",
    )
    upd = spark.createDataFrame(
        [
            (1, "silver", None, 150),  # no-op -> collapses
            (1, "gold", None, 200),    # real change
            (2, "bronze", None, 60),   # NULL-safe attr change (x -> NULL)
            (3, "new", "y", 10),       # first load
            (4, "steel", None, 5),     # same-instant supersede
        ],
        "k long, seg string, tier string, ts long",
    )
    def _key(t):
        return tuple((x is None, x) for x in t)

    out = sorted(
        (tuple(r) for r in scd2_apply(dim, upd, ["k"], ["seg", "tier"], "ts").collect()),
        key=_key,
    )
    assert out == sorted([
        (1, "gold", None, 0, 100),
        (1, "silver", None, 100, 200),
        (1, "gold", None, 200, None),
        (2, "bronze", "x", 50, 60),
        (2, "bronze", None, 60, None),
        (3, "new", "y", 10, None),
        (4, "iron", None, 5, 5),     # superseded at the same instant
        (4, "steel", None, 5, None),
    ], key=_key)

    with pytest.raises(ValueError, match="missing columns"):
        scd2_apply(dim.drop("valid_to"), upd, ["k"], ["seg"], "ts")
    with pytest.raises(ValueError, match="non-empty"):
        scd2_apply(dim, upd, ["k"], [], "ts")
    with pytest.raises(ValueError, match="reserved"):
        scd2_apply(dim, upd.withColumn("__src", F.lit(1)), ["k"], ["seg"], "ts")

    # empty dim = pure first load; empty updates = dim unchanged
    empty_dim = spark.createDataFrame(
        [], "k long, seg string, tier string, valid_from long, valid_to long"
    )
    first = scd2_apply(empty_dim, upd, ["k"], ["seg", "tier"], "ts")
    assert first.where("valid_to IS NULL").count() == 4  # one open row per key
    empty_upd = spark.createDataFrame([], "k long, seg string, tier string, ts long")
    same = sorted(
        (tuple(r)
         for r in scd2_apply(dim, empty_upd, ["k"], ["seg", "tier"], "ts").collect()),
        key=_key,
    )
    assert same == sorted((tuple(r) for r in dim.collect()), key=_key)


@pytest.mark.parametrize("sf_dir", SCALES)
def test_scd2_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import SCD2_ORACLE, q_scd2

    sdf = q_scd2(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "c_custkey": "bigint",
        "seg": "string",
        "valid_from": "bigint",
        "valid_to": "bigint",
    }
    srows = sorted(
        tuple(-2 if x is None else x for x in r) for r in sdf.collect()
    )
    drows = sorted(
        tuple(-2 if x is None else x for x in r)
        for r in __import__("duckdb").connect().execute(
            SCD2_ORACLE.replace("customer", f"'{sf_dir}/customer.parquet'", 1)
            .replace("orders", f"'{sf_dir}/orders.parquet'", 1)
        ).fetchall()
    )
    assert len(srows) > 0
    assert srows == drows
    # exactly one open version per customer with >= 1 event
    opens = sdf.where("valid_to IS NULL").groupBy("c_custkey").count()
    assert opens.where("count != 1").count() == 0


def test_scd2_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_scd2

    plan = _plan(q_scd2(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_asof_join_direction_and_tolerance_semantics(spark):
    """merge_asof surface: backward/forward/nearest picks on a known
    timeline, tolerance cut, NULL left/right ts matching nothing, the
    backward-preference distance tie, and validation."""
    from chess_lakehouse_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "u", 300),
         (4, "v", 50), (5, "u", None), (6, "u", 150)],
        "lid long, k string, t long",
    )
    right = spark.createDataFrame(
        [("u", 90, "a"), ("u", 210, "b"), ("u", 400, "c"),
         ("w", 1, "z"), ("u", None, "n")],
        "k string, rt long, p string",
    )

    def run(**kw):
        return {
            r.lid: r.asof_p
            for r in asof_join(
                left, right, ["k"], "t", "rt", ["p"], **kw
            ).collect()
        }

    assert run() == {1: "a", 2: "a", 3: "b", 4: None, 5: None, 6: "a"}
    assert run(direction="forward") == {
        1: "b", 2: "b", 3: "c", 4: None, 5: None, 6: "b"
    }
    # lid=6 t=150: |150-90|=60 == |210-150|=60 -> backward wins the tie
    assert run(direction="nearest") == {
        1: "a", 2: "b", 3: "b", 4: None, 5: None, 6: "a"
    }
    assert run(direction="nearest", tolerance=10) == {
        1: "a", 2: "b", 3: None, 4: None, 5: None, 6: None
    }
    assert run(direction="forward", tolerance=5) == {
        1: None, 2: "b", 3: None, 4: None, 5: None, 6: None
    }

    with pytest.raises(ValueError, match="direction"):
        run(direction="sideways")
    with pytest.raises(ValueError, match="NUMERIC"):
        asof_join(
            left.withColumn("t", F.timestamp_micros("t")),
            right.withColumn("rt", F.timestamp_micros("rt")),
            ["k"], "t", "rt", ["p"], direction="nearest",
        )
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left.withColumn("__asofb", F.lit(1)),
                  right, ["k"], "t", "rt", ["p"])


@pytest.mark.parametrize("sf_dir", SCALES)
def test_asof_nearest_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        ASOF_NEAREST_ORACLE,
        q_asof_nearest,
    )

    sdf = q_asof_nearest(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "event_id": "bigint",
        "user_id": "bigint",
        "t_us": "bigint",
        "purchase_us": "bigint",
        "purchase_value": "double",
    }
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    srows = sorted((tuple(r) for r in sdf.collect()), key=key)
    drows = sorted(_oracle_rows(sf_dir, ["events"], ASOF_NEAREST_ORACLE), key=key)
    assert len(srows) > 0
    assert srows == drows
    # both matched and unmatched clicks exist under the 2-day window
    matched = [r for r in srows if r[3] is not None]
    assert 0 < len(matched) < len(srows)


def test_asof_nearest_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_asof_nearest

    plan = _plan(q_asof_nearest(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan  # windows, not a range join


# ---------------------------------------------------------------------------
# upsample_epochs — budgeted corpus repetition (second r11-built batch)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", SCALES)
def test_upsample_epochs_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        UPSAMPLE_EPOCHS_ORACLE,
        q_upsample_epochs,
    )

    sdf = q_upsample_epochs(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "doc_id": "bigint",
        "source": "string",
        "epoch": "int",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["documents"], UPSAMPLE_EPOCHS_ORACLE)
    # the fixture budget exercises BOTH allocation paths at these scales:
    # >= 1 full epoch for every doc of some source, plus a fractional pass
    per_doc = {}
    for doc_id, _src, _ep in srows:
        per_doc[doc_id] = per_doc.get(doc_id, 0) + 1
    assert max(per_doc.values()) > min(per_doc.values())


def test_upsample_epochs_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_upsample_epochs

    plan = _plan(q_upsample_epochs(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the |sources|-row plan broadcasts back; the corpus never sort-merges
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the epoch explode is a Generate (map-side), not a join fan-out
    assert "Generate" in plan


def test_upsample_epochs_semantics_and_guards(spark):
    """Pure-Python allocation reference on a planted corpus (incl. a
    zero-size group), budget monotonicity (smaller budget's manifest is a
    subset of the larger's), and the loud input guards."""
    import hashlib

    from chess_lakehouse_spark.operators.sampling import upsample_epochs

    rows = [(i, f"g{i % 3}", [40, 200, 0][i % 3]) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, grp string, sz long")

    def py_manifest(budget, max_epochs, seed):
        tot = {}
        for i, g, s in rows:
            tot[g] = tot.get(g, 0) + s
        ng = len(tot)
        bpg = budget // ng
        out = set()
        for i, g, _s in rows:
            t = tot[g]
            ep = min(max_epochs, bpg // t) if t > 0 else 0
            fppm = (
                ((bpg - ep * t) * 1_000_000) // t
                if t > 0 and ep < max_epochs
                else 0
            )
            h = (
                int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:15], 16)
                % 1_000_000
            )
            n = ep + (1 if h < fppm else 0)
            for e in range(1, n + 1):
                out.add((i, g, e))
        return out

    got = {
        (r["id"], r["grp"], r["epoch"])
        for r in upsample_epochs(df, "id", "sz", "grp", budget=9000, seed=5).collect()
    }
    assert got == py_manifest(9000, 4, 5)
    # zero-size group contributes nothing, others do
    assert not any(g == "g2" for _i, g, _e in got)
    assert any(g == "g0" for _i, g, _e in got)
    # budget monotonicity: the smaller manifest nests inside the larger
    small = {
        (r["id"], r["grp"], r["epoch"])
        for r in upsample_epochs(df, "id", "sz", "grp", budget=4000, seed=5).collect()
    }
    assert small <= got
    with pytest.raises(ValueError, match="budget"):
        upsample_epochs(df, "id", "sz", "grp", budget=-1)
    with pytest.raises(ValueError, match="max_epochs"):
        upsample_epochs(df, "id", "sz", "grp", budget=10, max_epochs=0)
    with pytest.raises(ValueError, match="reserved"):
        upsample_epochs(
            df.withColumn("epoch", F.lit(1)), "id", "sz", "grp", budget=10
        )


# ---------------------------------------------------------------------------
# user_growth — daily active / new / cumulative distinct users
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", SCALES)
def test_user_growth_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import USER_GROWTH_ORACLE, q_user_growth

    sdf = q_user_growth(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "day": "string",
        "n_active": "bigint",
        "n_new": "bigint",
        "cum_users": "bigint",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 1
    assert srows == _oracle_rows(sf_dir, ["events"], USER_GROWTH_ORACLE)
    # curve invariants: cum is the running sum of n_new and never drops;
    # every activity day has at least one active user
    cum = 0
    for _day, n_active, n_new, cum_users in srows:  # sorted = day order
        cum += n_new
        assert cum_users == cum
        assert n_active >= 1


def test_user_growth_semantics(spark):
    """Planted events: a second-day-only user, a returning user (active
    but not new), and a NULL timestamp that must drop."""
    from chess_lakehouse_spark.operators.relational import daily_user_growth

    rows = [
        ("u1", "2024-01-01 10:00:00"),
        ("u1", "2024-01-02 09:00:00"),  # returning: active, not new
        ("u2", "2024-01-02 12:00:00"),  # new on day 2
        ("u1", None),  # no day — drops
    ]
    ev = spark.createDataFrame(rows, "user_id string, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = sorted(
        tuple(r) for r in daily_user_growth(ev, "user_id", "ts").collect()
    )
    assert got == [
        ("2024-01-01", 1, 1, 1),
        ("2024-01-02", 2, 1, 2),
    ]


def test_user_growth_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_user_growth

    plan = _plan(q_user_growth(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the cumsum window runs over the |days|-row AGGREGATE (calendar-
    # bounded), downstream of hash aggregation — never over raw events
    assert "HashAggregate" in plan


# ---------------------------------------------------------------------------
# interleave_sources — deterministic round-robin training order
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", SCALES)
def test_interleave_sources_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        INTERLEAVE_ORACLE,
        q_interleave_sources,
    )

    sdf = q_interleave_sources(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "doc_id": "bigint",
        "source": "string",
        "seq": "bigint",
        "pos": "bigint",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["documents"], INTERLEAVE_ORACLE)
    # pos is a permutation of 1..N; seq restarts per source
    assert sorted(r[3] for r in srows) == list(range(1, len(srows) + 1))


def test_interleave_groups_round_robin_and_determinism(spark):
    """On balanced groups the interleave is strict round-robin (block k
    of |groups| positions holds exactly the k-th element of every
    group); the order is a pure function of (seed, ids) — invariant
    under repartitioning — and reserved names raise loudly."""
    from chess_lakehouse_spark.operators.sampling import interleave_groups

    rows = [(i, f"g{i % 4}") for i in range(40)]  # 4 groups x 10
    df = spark.createDataFrame(rows, "id long, grp string")
    out = interleave_groups(df, "id", "grp", seed=11).collect()
    by_pos = sorted((r["pos"], r["seq"], r["grp"]) for r in out)
    for k in range(10):  # block k: positions 4k+1 .. 4k+4
        block = by_pos[4 * k : 4 * k + 4]
        assert [b[1] for b in block] == [k + 1] * 4
        assert sorted(b[2] for b in block) == ["g0", "g1", "g2", "g3"]
    again = interleave_groups(df.repartition(7), "id", "grp", seed=11).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    with pytest.raises(ValueError, match="reserved"):
        interleave_groups(df.withColumn("pos", F.lit(1)), "id", "grp")


def test_interleave_sources_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_interleave_sources

    plan = _plan(q_interleave_sources(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # both ranks ride global_sort_rank's checkpointed range snapshot;
    # the offset rebase is a broadcast |groups|-row join
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_upsample_manifest_feeds_sequence_packing(spark):
    """Pipeline-grain composition: the epoch-upsampling manifest is the
    input contract of pack_sequences — each (doc, epoch) repetition packs
    as its own document (the unit a budgeted training run consumes), so
    the packed stream's total token mass equals sum(n_chars * n_epochs)
    and every repetition of a doc carries the doc's full length."""
    from chess_lakehouse_spark.operators.sampling import (
        pack_sequences,
        upsample_epochs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    manifest = upsample_epochs(
        docs.select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", "source", budget=400_000, max_epochs=4, seed=7,
    )
    # repetition identity = (doc_id, epoch): pack each as its own unit
    units = manifest.select(
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("epoch").cast("string")).alias("rep_id"),
        "source",
        F.col("n_chars").cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(units, "rep_id", "source", "n_tokens", budget=4096)
    prows = packed.collect()
    assert len(prows) == manifest.count()
    mass = sum(r["n_tokens"] for r in prows)
    want_mass = manifest.agg(F.sum("n_chars")).first()[0]
    assert mass == want_mass
    # offsets stay inside the budget; seq ids are dense non-negative
    assert all(0 <= r["seq_offset"] < 4096 for r in prows)
    assert min(r["seq_id"] for r in prows) == 0


# ---------------------------------------------------------------------------
# length_histogram / shard_skew — r13-bound QC-report candidates
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", SCALES)
def test_length_histogram_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        LENGTH_HISTOGRAM_ORACLE,
        q_length_histogram,
    )

    sdf = q_length_histogram(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "source": "string",
        "log2_bucket": "int",
        "n_docs": "bigint",
        "min_size": "bigint",
        "max_size": "bigint",
        "sum_size": "bigint",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["documents"], LENGTH_HISTOGRAM_ORACLE)
    # bucket invariant: 2^(b-1) <= min <= max < 2^b for every bucket > 0
    for _src, b, _n, lo, hi, _s in srows:
        assert b > 0 and (1 << (b - 1)) <= lo <= hi < (1 << b)


def test_length_histogram_exact_power_boundaries_and_degenerates(spark):
    """Exact powers of two land in their own bucket (the float-log2
    drift case the integer digit-string method avoids), and <= 0 / NULL
    sizes land in bucket 0."""
    from chess_lakehouse_spark.report import log2_length_histogram

    rows = [(1, "g", 1), (2, "g", 2), (3, "g", 3), (4, "g", 4),
            (5, "g", 1024), (6, "g", 1023), (7, "g", 0), (8, "g", None)]
    df = spark.createDataFrame(rows, "id long, g string, sz long")
    got = {
        r["log2_bucket"]: (r["n_docs"], r["min_size"], r["max_size"])
        for r in log2_length_histogram(df, "g", "sz").collect()
    }
    assert got[1] == (1, 1, 1)
    assert got[2] == (2, 2, 3)
    assert got[3] == (1, 4, 4)
    assert got[10] == (1, 1023, 1023)  # 2^10 - 1
    assert got[11] == (1, 1024, 1024)  # 2^10 exactly -> next bucket
    assert got[0][0] == 2  # the 0 and the NULL


@pytest.mark.parametrize("sf_dir", SCALES)
def test_shard_skew_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import SHARD_SKEW_ORACLE, q_shard_skew

    sdf = q_shard_skew(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "shard": "int",
        "n_docs": "bigint",
        "size_mass": "bigint",
        "skew_ppm": "bigint",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["documents"], SHARD_SKEW_ORACLE)
    # the ppm ratios average to ~1_000_000 (floor rounding only drops)
    ppms = [r[3] for r in srows]
    assert 1_000_000 - len(ppms) <= sum(ppms) // len(ppms) <= 1_000_000


def test_shard_skew_matches_shard_assignments_layout(spark):
    """The audit's masses equal groupBy(shard) over shard_assignments'
    actual layout (same hash, same constants) — the audit can never
    drift from the layout it audits; zero-mass corpora CASE-guard to
    skew_ppm 0; n_shards < 1 raises."""
    from chess_lakehouse_spark.operators.sampling import (
        shard_assignments,
        shard_balance_audit,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    audit = {
        r["shard"]: (r["n_docs"], r["size_mass"])
        for r in shard_balance_audit(docs, "doc_id", "n_chars", 8, seed=4).collect()
    }
    layout = {
        r["shard"]: (r["n"], r["mass"])
        for r in shard_assignments(docs, "doc_id", 8, seed=4)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("n_chars").cast("long")).alias("mass"),
        )
        .collect()
    }
    assert audit == layout
    zero = docs.select("doc_id", F.lit(0).cast("long").alias("z"))
    zrows = shard_balance_audit(zero, "doc_id", "z", 4).collect()
    assert zrows and all(r["skew_ppm"] == 0 for r in zrows)
    with pytest.raises(ValueError, match="n_shards"):
        shard_balance_audit(docs, "doc_id", "n_chars", 0)


# ---------------------------------------------------------------------------
# quantile_normalize — r13-bound dual percent-rank
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", SCALES)
def test_quantile_normalize_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import (
        QUANTILE_NORMALIZE_ORACLE,
        q_quantile_normalize,
    )

    sdf = q_quantile_normalize(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "doc_id": "bigint",
        "source": "string",
        "value": "bigint",
        "global_pct_ppm": "bigint",
        "group_pct_ppm": "bigint",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["documents"], QUANTILE_NORMALIZE_ORACLE)
    # endpoint contract per population: exactly one global 0 and one
    # global 1_000_000; every group hits both endpoints too
    gl = [r[3] for r in srows]
    assert gl.count(0) == 1 and gl.count(1_000_000) == 1
    by_src = {}
    for r in srows:
        by_src.setdefault(r[1], []).append(r[4])
    for ppms in by_src.values():
        assert min(ppms) == 0 and max(ppms) == 1_000_000


def test_quantile_normalize_semantics_and_guards(spark):
    """Known-answer dual ranks (incl. a single-row group defined as 0),
    partition-invariance, and the reserved-name guard."""
    from chess_lakehouse_spark.operators.relational import quantile_normalize

    rows = [(1, "a", 10), (2, "a", 20), (3, "a", 30),
            (4, "b", 15), (5, "b", 25), (6, "c", 5)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    got = {r["id"]: (r["global_pct_ppm"], r["group_pct_ppm"])
           for r in quantile_normalize(df, "id", "v", "g").collect()}
    # global order by v: 6(5) 1(10) 4(15) 2(20) 5(25) 3(30) -> ppm i/5
    assert got[6] == (0, 0)                       # single-row group -> 0
    assert got[1] == (200_000, 0)
    assert got[4] == (400_000, 0)
    assert got[2] == (600_000, 500_000)
    assert got[5] == (800_000, 1_000_000)
    assert got[3] == (1_000_000, 1_000_000)
    again = {r["id"]: (r["global_pct_ppm"], r["group_pct_ppm"])
             for r in quantile_normalize(df.repartition(5), "id", "v", "g").collect()}
    assert again == got
    with pytest.raises(ValueError, match="reserved"):
        quantile_normalize(df.withColumn("group_pct_ppm", F.lit(1)), "id", "v", "g")


def test_quantile_normalize_candidate_plan(spark):
    from chess_lakehouse_spark.suite.llm import q_quantile_normalize

    plan = _plan(q_quantile_normalize(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # global rank rides the checkpointed range snapshot; group rank is a
    # partitioned (never empty-partitionBy) window
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    import re

    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start():m.start() + 400]
        assert "windowspecdefinition(" in seg


# ---------------------------------------------------------------------------
# ann_recall — r13-bound recall@k audit (IVF vs brute)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", SCALES)
def test_ann_recall_candidate_matches_oracle_two_scales(spark, sf_dir):
    from chess_lakehouse_spark.suite.llm import ANN_RECALL_ORACLE, q_ann_recall

    sdf = q_ann_recall(spark, sf_dir)
    assert dict(sdf.dtypes) == {
        "query_id": "bigint",
        "n_exact": "bigint",
        "n_approx": "bigint",
        "n_common": "bigint",
        "recall_ppm": "bigint",
    }
    srows = sorted(tuple(r) for r in sdf.collect())
    assert len(srows) > 0
    assert srows == _oracle_rows(sf_dir, ["embeddings"], ANN_RECALL_ORACLE)
    # audit invariants: one row per probe, overlap bounded by both sides,
    # and recall_ppm consistent with the counts
    for _q, ne, na, nc, ppm in srows:
        assert 0 <= nc <= min(ne, na)
        assert ppm == (nc * 1_000_000) // ne


def test_ann_recall_report_semantics(spark):
    """Planted exact/approx sets: full recall, partial recall, a probe
    the approx path missed entirely (left-join row with recall 0), and
    approx-only candidates never inflating the overlap."""
    from chess_lakehouse_spark.operators.similarity import ann_recall_report

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, cand_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 21), (2, 99)],  # q3 missed; 99 is noise
        "query_id long, cand_id long",
    )
    got = {r["query_id"]: (r["n_exact"], r["n_approx"], r["n_common"], r["recall_ppm"])
           for r in ann_recall_report(approx, exact).collect()}
    assert got == {
        1: (2, 2, 2, 1_000_000),
        2: (2, 2, 1, 500_000),
        3: (1, 0, 0, 0),
    }


def test_length_histogram_reserved_name_guard(spark):
    from chess_lakehouse_spark.report import log2_length_histogram

    df = spark.createDataFrame([(1, "g", 5)], "id long, n_docs string, sz long")
    with pytest.raises(ValueError, match="collide"):
        log2_length_histogram(df, "n_docs", "sz")
