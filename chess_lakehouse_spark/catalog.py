"""Table catalog over the Parquet lake.

The reference's "catalog" is a directory of single-table DuckDB files
attached read-only per query (reference: src/find-openings.ts:62,
src/export-to-parquet.ts:67). Spark needs no attach concept: a table is a
Parquet path; this module centralizes path -> DataFrame resolution so
every operator/query reads through one place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: The driver-generated synthetic tables (TESTDATA.md).
TESTDATA_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Inferred Parquet SCHEMA per (session id, path) — metadata only, never
#: rows. ``spark.read.parquet`` runs footer schema inference on EVERY call
#: (~100 ms driver-side here vs ~14 ms with an explicit schema — measured
#: r15); at ~500 load_table calls per full bench that is tens of seconds
#: of pure repeated metadata work. The fixture tables are immutable per
#: sf_dir, and at 100 TB this is exactly the catalog's job (a metastore /
#: Iceberg manifest serves the schema; per-query footer inference is the
#: anti-pattern). Keyed by applicationId so a restarted session (whose
#: legacy conf — nanosAsLong affects the inferred type — may differ)
#: never reuses a stale entry.
_SCHEMA_CACHE: dict[tuple[str, str], "object"] = {}

#: Constructed DataFrame per (applicationId, path) — the un-executed scan
#: frame itself, never rows. Even with the schema memo, rebuilding
#: ``spark.read.schema(s).parquet(path)`` costs ~30-75 ms of py4j
#: round-trips per call (the StructType ships to the JVM every time —
#: measured r16), and DataFrames are IMMUTABLE: every downstream
#: operation derives a new frame, so serving one shared instance per
#: table path is behavior-identical. Same immutability precondition and
#: applicationId keying as the schema memo; the entry is a logical plan
#: only, so it pins no executor memory and is invisible to
#: ``spark.catalog.clearCache()`` semantics (nothing is persisted).
_DF_CACHE: dict[tuple[str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one lake table. Plain `spark.read.parquet` keeps the scan inside
    the vectorized Parquet reader with predicate pushdown + column pruning.

    PRECONDITION (r15 ADVICE): a table path is IMMUTABLE for the lifetime
    of a Spark application — schema AND file set. The memoized schema is
    served for every subsequent read, and an explicit schema disables
    Spark's inference/mismatch detection, so a same-path rewrite with a
    different schema would read silent NULLs for renamed columns. The
    memoized frame also pins the path's file listing at its first load:
    files appended, removed or replaced afterwards, even with the same
    schema, stay invisible to every later call. The fixture lake honors
    this by construction (TESTDATA.md: read-only per sf_dir); code that
    changes a table path's files must call :func:`clear_schema_cache`
    before reading it again.

    events.ts is TIMESTAMP(NANOS) in the fixture Parquet; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a nanosecond long
    and is converted here to a micro-precision timestamp — the same
    truncation DuckDB applies, so oracle values agree.
    """
    path = table_path(sf_dir, name)
    key = (spark.sparkContext.applicationId, path)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        # derive the ts type from the cached StructType — dict(df.dtypes)
        # was one more JVM round-trip per events load (r16, guide §5)
        ts_type = next(
            (f.dataType.simpleString() for f in schema.fields if f.name == "ts"),
            None,
        )
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)")))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) fixtures arrive as
            # TIMESTAMP_NTZ; reinterpret the wall-clock as a UTC instant
            # (session tz is UTC) so unix_micros/windows/watermarks — all
            # LTZ-only — keep working, with values identical to DuckDB's
            # naive-epoch reading.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _DF_CACHE[key] = df
    return df


def clear_schema_cache() -> None:
    """Drop every memoized schema AND constructed frame (all sessions, all
    paths) — for tests or tooling that rewrite or append to a table path,
    which violates load_table's immutability precondition."""
    _SCHEMA_CACHE.clear()
    _DF_CACHE.clear()
