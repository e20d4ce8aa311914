"""The three-stage chess lakehouse pipeline, Spark-first.

Reference DAG (dvc.yaml:25-63): per-source
  read_pgn  (PGN files → raw `games` tables;       src/read-pgn.ts)
  find_openings (enrich eco/Opening via argmax join; src/find-openings.ts)
  export_parquet (union → filter → 20-col projection → Hive-partitioned lake;
                  src/export-to-parquet.ts)

Differences by design (SURVEY.md §3.4, §4.2):
- One Spark job per stage over ALL files — parallelism lives in the engine's
  input splits, not in a per-file subprocess loop (src/read-pgn.ts:70-72).
- No in-place UPDATE (src/find-openings.ts:70-80): enrichment is a functional
  recompute — immutable staging zones, each write atomic-overwrite. At 100 TB
  this is also what makes retries/stragglers safe.
- The openings dimension is bounded (~3.5k rows) → map-side argmax, zero
  shuffle of the games table (operators/enrich.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chess_lakehouse_spark.functions.chess import (
    moves_normalize,
    opening_ply,
    timecontrol_normalize,
)
from chess_lakehouse_spark.operators.enrich import enrich_top1_mapside
from chess_lakehouse_spark.operators.publish import write_partitioned
from chess_lakehouse_spark.operators.relational import align_and_union
from chess_lakehouse_spark.sources.pgn import GAMES_SCHEMA, read_pgn

# Zone schemas: the stage contracts. Each zone's schema is declared next to
# the stage that writes it, and the next stage reads the zone with it
# (``spark.read.schema(...)``), as the reference's stages read DuckDB
# tables whose schema the catalog holds: a read without a schema first runs
# a Spark job over the Parquet footers to infer it. A column a zone's files
# lack reads as NULL, the same fill ``align_and_union`` gives a source that
# lacks it; a column the schema does not name is not read.
# tests/test_pipeline.py checks each schema against what Spark infers from a
# zone its stage wrote, so a writer cannot change without its contract.

#: The raw zone, written by :func:`ingest` (the ``read-pgn`` stage).
RAW_ZONE_SCHEMA = T.StructType(
    [
        *GAMES_SCHEMA.fields,
        T.StructField("game_id", T.LongType()),
        T.StructField("clean_movetext", T.StringType()),
        T.StructField("clean_timecontrol", T.StringType()),
    ]
)

#: The enriched zone, written by :func:`enrich` (the ``find-openings``
#: stage): the raw zone plus the constant ``DataSource``.
ENRICHED_ZONE_SCHEMA = T.StructType(
    [*RAW_ZONE_SCHEMA.fields, T.StructField("DataSource", T.StringType())]
)

#: The canonical 20-column export schema (SURVEY.md §1.2;
#: src/export-to-parquet.ts:70-93).
EXPORT_COLUMNS: tuple[str, ...] = (
    "Event",
    "Site",
    "White",
    "Black",
    "Result",
    "WhiteTitle",
    "BlackTitle",
    "WhiteElo",
    "BlackElo",
    "UTCDate",
    "UTCTime",
    "ECO",
    "Opening",
    "Termination",
    "TimeControl",
    "Source",
    "movetext",
    "DataSource",
    "year",
    "month",
)


def ingest(spark: SparkSession, pgn_path: str | list[str], **read_kwargs) -> DataFrame:
    """Stage 1 — PGN scan + derived columns (src/read-pgn.ts:45-50):
    clean_movetext / clean_timecontrol computed at ingest so enrichment and
    export never re-normalize. The output is the raw zone,
    :data:`RAW_ZONE_SCHEMA`."""
    games = read_pgn(spark, pgn_path, **read_kwargs)
    return games.withColumn("clean_movetext", moves_normalize("movetext")).withColumn(
        "clean_timecontrol", timecontrol_normalize("TimeControl")
    )


def enrich(games: DataFrame, openings: DataFrame, data_source: str) -> DataFrame:
    """Stage 2 — opening enrichment (src/find-openings.ts:58-82).

    Sets DataSource (constant UPDATE, :61), then fills eco/Opening for rows
    where Opening IS NULL (:68) with the longest opening whose pgn is
    contained in clean_movetext (:73-79), deterministic tie-break
    (ply DESC, eco ASC, name ASC — SURVEY.md §2.3 ⚠). Unmatched rows keep
    their NULLs (inner-lateral `ON TRUE` semantics, :79). Given the raw
    zone, the output is the enriched zone, :data:`ENRICHED_ZONE_SCHEMA`.
    """
    dim = openings.select(
        "eco",
        "name",
        "pgn",
        opening_ply("uci").alias("ply"),
    )
    out = enrich_top1_mapside(
        fact=games.withColumn("DataSource", F.lit(data_source)),
        dim=dim,
        predicate=lambda probe, c: probe.contains(c["pgn"]),
        fact_probe_col="clean_movetext",
        rank_col="ply",
        payload_cols=["eco", "name"],
        tiebreak_cols=["eco", "name"],
        out_prefix="__m_",
    )
    # UPDATE-only-NULL semantics: existing non-NULL Opening/ECO rows untouched.
    return (
        out.withColumn(
            "ECO",
            F.when(F.col("Opening").isNull(), F.coalesce(F.col("__m_eco"), F.col("ECO"))).otherwise(
                F.col("ECO")
            ),
        )
        .withColumn(
            "Opening",
            F.when(F.col("Opening").isNull(), F.col("__m_name")).otherwise(F.col("Opening")),
        )
        .drop("__m_eco", "__m_name")
    )


def export_combined(sources: Sequence[DataFrame]) -> DataFrame:
    """Stage 3 projection+filter (src/export-to-parquet.ts:58-100): union all
    enriched sources, apply the fixed 20-column projection (:70-90) and the
    hygiene filter `UTCDate IS NOT NULL AND year(UTCDate) >= 1500` (:92-93)."""
    combined = align_and_union(list(sources))
    utc_date = F.to_date(F.regexp_replace(F.col("UTCDate"), r"\.", "-"), "yyyy-M-d")
    return (
        combined.withColumn("__d", utc_date)
        .where(F.col("__d").isNotNull() & (F.year("__d") >= 1500))
        .select(
            "Event",
            "Site",
            "White",
            "Black",
            "Result",
            "WhiteTitle",
            "BlackTitle",
            # try_cast: PGN Elo tags carry '?' for unknown — NULL, not an
            # ANSI cast error (the reference's DuckDB CAST is equally lax).
            F.expr("try_cast(WhiteElo AS int)").alias("WhiteElo"),
            F.expr("try_cast(BlackElo AS int)").alias("BlackElo"),
            F.col("__d").alias("UTCDate"),
            "UTCTime",
            "ECO",
            "Opening",
            "Termination",
            # COALESCE(clean_timecontrol, TimeControl) — src/export-to-parquet.ts:85
            F.coalesce(F.col("clean_timecontrol"), F.col("TimeControl")).alias("TimeControl"),
            "Source",
            "movetext",
            "DataSource",
            F.year("__d").alias("year"),
            F.date_format("__d", "MM").alias("month"),
        )
    )


def run_pipeline(
    spark: SparkSession,
    pgn_sources: dict[str, str],
    openings: DataFrame,
    out_dir: str,
    **read_kwargs,
) -> dict[str, int]:
    """End-to-end: {data_source_name: pgn_path} → partitioned Parquet lake.
    Returns QC counts (the reference's report probes, src/read-pgn.ts:54-56,
    src/export-to-parquet.ts:102-104)."""
    enriched = [
        enrich(ingest(spark, path, **read_kwargs), openings, name)
        for name, path in sorted(pgn_sources.items())
    ]
    combined = export_combined(enriched)
    return write_partitioned(combined, out_dir, ("DataSource", "year", "month"))
