"""Regression pins for the r11 ADVICE findings.

Three NULL-unsafe equi-joins silently dropped (or mis-bucketed) rows
whose group key is NULL — contradicting each operator's documented
"NULL group keys form their own group" contract — and two integer-ppm
expressions overflowed BIGINT (an ANSI job abort) at exactly the
100 TB size-mass scale they exist to audit:

- operators/sampling.py interleave_groups: NULL-group rows vanished
  from the interleave (broken one-row-per-input-row contract).
- operators/sampling.py upsample_epochs: NULL-group docs got budget
  allocated but emitted zero (doc, epoch) rows.
- operators/relational.py score_buckets(exact=False, by=...): NULL
  groups got cuts=NULL -> bucket NULL while the exact path buckets
  them normally (pinned in tests/test_exact_quantiles.py).
- operators/sampling.py shard_balance_audit skew_ppm and
  upsample_epochs fppm: mass*1e6 past ~9.2e12 units overflowed BIGINT;
  both now ride DECIMAL(38,0) (oracles mirror via DuckDB HUGEINT).
"""

from __future__ import annotations

import pytest


def test_interleave_groups_null_group_forms_its_own_group(spark):
    """NULL group keys keep their rows (one out-row per in-row), get a
    dense per-group seq, and interleave NULLS-FIRST within a seq block
    (Spark ascending sort), exactly as the docstring promises."""
    from chess_lakehouse_spark.operators.sampling import interleave_groups

    rows = [(i, "g0" if i % 3 == 0 else ("g1" if i % 3 == 1 else None))
            for i in range(12)]  # 4 rows per group incl. 4 NULL-group rows
    df = spark.createDataFrame(rows, "id long, grp string")
    out = interleave_groups(df, "id", "grp", seed=5).collect()
    assert len(out) == 12  # the r11 ADVICE bug dropped the NULL-group 4
    null_rows = [r for r in out if r["grp"] is None]
    assert sorted(r["seq"] for r in null_rows) == [1, 2, 3, 4]
    # pos is a permutation of 1..12
    assert sorted(r["pos"] for r in out) == list(range(1, 13))
    # within every seq block the NULL group sorts FIRST (NULLS-FIRST asc)
    by_seq: dict[int, list] = {}
    for r in out:
        by_seq.setdefault(r["seq"], []).append(r)
    for _seq, block in by_seq.items():
        first = min(block, key=lambda r: r["pos"])
        assert first["grp"] is None
    # repartition-invariant with NULL groups present
    again = interleave_groups(df.repartition(5), "id", "grp", seed=5).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_upsample_epochs_null_group_gets_its_allocation(spark):
    """A NULL source is a group like any other: its docs draw their own
    equal share of the budget and emit (doc, epoch) rows — previously
    the NULL-unsafe plan join silently emitted zero rows for them."""
    from chess_lakehouse_spark.operators.sampling import upsample_epochs

    rows = [(1, "a", 100), (2, "a", 100), (3, None, 100), (4, None, 100)]
    df = spark.createDataFrame(rows, "doc_id long, src string, sz int")
    # budget 800 over 2 groups -> 400/group, tot=200 -> ep=2 full epochs
    out = upsample_epochs(
        df, "doc_id", "sz", "src", budget=800, max_epochs=4, seed=1
    ).collect()
    per_doc: dict[int, list[int]] = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert set(per_doc) == {1, 2, 3, 4}
    for doc_id, eps in per_doc.items():
        assert sorted(eps) == [1, 2], (doc_id, eps)
    # NULL-group rows carry the NULL key through to the manifest
    assert {r["src"] for r in out if r["doc_id"] in (3, 4)} == {None}


def test_shard_balance_audit_survives_100tb_mass(spark):
    """skew_ppm at ~1e13 size-mass: BIGINT mass*ns*1e6 overflows (ANSI
    abort); the DECIMAL(38,0) ride returns the exact ratio."""
    from chess_lakehouse_spark.operators.sampling import shard_balance_audit

    df = spark.createDataFrame(
        [(1, 5_000_000_000_000), (2, 5_000_000_000_000)],
        "doc_id long, sz long",
    )
    rows = shard_balance_audit(df, "doc_id", "sz", n_shards=1).collect()
    assert len(rows) == 1
    assert rows[0]["size_mass"] == 10_000_000_000_000
    assert rows[0]["skew_ppm"] == 1_000_000  # one shard == the mean shard


def test_upsample_epochs_survives_100tb_group(spark):
    """fppm at a ~1e13-char group: remainder*1e6 overflows BIGINT; the
    DECIMAL(38,0) ride keeps the integer allocation exact (here
    remainder/tot = 1/2 -> fppm 500000, so epochs are ep=1 plus an
    ~50% hash-selected extra)."""
    from chess_lakehouse_spark.operators.sampling import upsample_epochs

    df = spark.createDataFrame(
        [(1, "a", 5_000_000_000_000), (2, "a", 5_000_000_000_000)],
        "doc_id long, src string, sz long",
    )
    # tot=1e13, budget=1.5e13 -> ep=1, remainder=5e12 -> fppm=500000
    out = upsample_epochs(
        df, "doc_id", "sz", "src",
        budget=15_000_000_000_000, max_epochs=4, seed=3,
    ).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert set(per_doc) == {1, 2}
    for eps in per_doc.values():
        assert sorted(eps) in ([1], [1, 2])  # >=1 full epoch, <=1 extra


def test_upsample_epochs_reserved_name_guard_covers_join_key(spark):
    """The NULL-safe join introduces __g as an internal name; an input
    already carrying it must raise loudly, not silently collide."""
    from chess_lakehouse_spark.operators.sampling import upsample_epochs

    df = spark.createDataFrame([(1, "a", 10, 0)], "doc_id long, src string, sz int, __g int")
    with pytest.raises(ValueError, match="reserved"):
        upsample_epochs(df, "doc_id", "sz", "src", budget=100)


def test_interleave_groups_reserved_name_guard_covers_join_key(spark):
    from chess_lakehouse_spark.operators.sampling import interleave_groups

    df = spark.createDataFrame([(1, "a", 0)], "id long, grp string, __g int")
    with pytest.raises(ValueError, match="reserved"):
        interleave_groups(df, "id", "grp")
