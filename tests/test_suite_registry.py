"""The query registry: ``suite.QUERIES`` / ``suite.ORACLES`` are the union
of the four family modules, every query has its oracle, and the perfbench
suite workload still selects the queries its reference was recorded for.

``scripts/verify_local.py`` runs every registered query against its oracle;
these checks need no Spark session."""

from __future__ import annotations

import json
import sys
from pathlib import Path

from chess_lakehouse_spark import suite
from chess_lakehouse_spark.suite import chess, core, llm, mm

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"
FAMILIES = (core, chess, mm, llm)


def test_family_registries_do_not_collide() -> None:
    """``{**a, **b}`` keeps the last of two equal names, so a collision
    between families would silently drop a query and its oracle."""
    assert sum(len(m.QUERIES) for m in FAMILIES) == len(suite.QUERIES)
    assert sum(len(m.ORACLES) for m in FAMILIES) == len(suite.ORACLES)


def test_all_oracle_queries_have_matching_columns_contract() -> None:
    """Every registered query has an oracle and every oracle a query."""
    assert [n for n in suite.QUERIES if n not in suite.ORACLES] == []
    assert [n for n in suite.ORACLES if n not in suite.QUERIES] == []


def test_registry_iterates_in_name_order() -> None:
    assert list(suite.QUERIES) == sorted(suite.QUERIES)
    assert list(suite.ORACLES) == list(suite.QUERIES)


def test_benchmark_suite_selection_matches_its_reference() -> None:
    """The suite workload takes every Nth name of ``sorted(suite.QUERIES)``,
    so registering or deleting a query shifts the benchmarked set away from
    the recorded reference: that is a benchmark change, not a suite one."""
    sys.path.insert(0, str(PERFBENCH))
    try:
        import workloads
    finally:
        sys.path.remove(str(PERFBENCH))
    reference = json.loads((PERFBENCH / "suite_reference.json").read_text())
    assert workloads.suite_selection() == sorted(reference)
