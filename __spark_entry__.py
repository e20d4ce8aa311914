"""Entry points for an external verification harness (PySpark target).

A harness runs ``entry(spark)`` as a smoke check, then runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` run by DuckDB (row count + schema +
order-insensitive value hash). ``scripts/verify_local.py`` makes the
same comparison locally over every registered query; that full run is
the correctness gate.

All implementations live in the ``chess_lakehouse_spark`` package
(suite/ holds the query pairs; operators/, functions/, sources/,
plans/, streaming/ hold the engine).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the package importable no matter where the driver launches from.
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from chess_lakehouse_spark import suite  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the argmax contains-join
    enrichment — the reference's centerpiece LATERAL top-1
    (src/find-openings.ts:73-79) — run map-side with zero fact shuffle."""
    return suite.QUERIES["enrich_argmax"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(suite.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each query (omitted entries get the
    weaker rows-only check)."""
    return dict(suite.ORACLES)
