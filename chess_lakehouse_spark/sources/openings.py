"""Openings dimension source — the reference's remote Parquet glob scan.

Reference (dvc.yaml:3):
    CREATE TABLE IF NOT EXISTS openings AS
    SELECT * FROM 'hf://datasets/Lichess/chess-openings/**/*.parquet'

Hadoop has no ``hf://`` filesystem, so the Spark mapping (SURVEY.md §1.3)
is a driver-side snapshot download followed by a recursive local/remote-FS
glob read. The download is soft-imported (same pattern as the PIL codec in
operators/multimodal.py): with ``huggingface_hub`` present the snapshot is
downloaded and globbed; without it a clear NotImplementedError points at
the local/remote-FS path. Tests cover BOTH branches (the hub path via a
stubbed module — this container has no network) plus the recursive glob +
schema + ply-derivation on local fixture files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chess_lakehouse_spark.operators.publish import write_counted

#: Columns the pipeline consumes (reference: src/find-openings.ts:65,71,74,76).
OPENINGS_COLUMNS = ("eco", "name", "pgn", "uci")

#: The openings table's contract: the consumed columns, all strings.
#: :func:`load_openings` reads with it rather than inferring a schema from
#: the Parquet footers (one Spark job per read); a column the files lack
#: reads as NULL and any other column (the Lichess dataset's ``epd``, a
#: snapshot's ``opening_ply``) is not read.
OPENINGS_SCHEMA = T.StructType([T.StructField(c, T.StringType()) for c in OPENINGS_COLUMNS])

#: What :func:`load_openings` returns and a snapshot holds: the contract
#: plus the derived ``opening_ply``.
OPENINGS_SNAPSHOT_SCHEMA = T.StructType(
    OPENINGS_SCHEMA.fields + [T.StructField("opening_ply", T.IntegerType())]
)


def resolve_openings_path(location: str) -> str:
    """Return a Spark-readable path for the openings dataset.

    ``hf://datasets/<repo>/...`` → local snapshot dir (driver-side download,
    bounded: the dataset is one small dimension table). Anything else is
    returned unchanged (local dir, s3://, hdfs:// — real filesystems Spark
    can glob natively).
    """
    if not location.startswith("hf://"):
        return location
    try:
        from huggingface_hub import snapshot_download  # noqa: PLC0415
    except ImportError as exc:
        raise NotImplementedError(
            "hf:// locations need the huggingface_hub package for the "
            "driver-side snapshot download (not available in this "
            "environment); pass a local/remote-FS path instead"
        ) from exc
    repo_id = "/".join(location.removeprefix("hf://datasets/").split("/")[:2])
    return snapshot_download(repo_id=repo_id, repo_type="dataset")


def materialize_openings(spark: SparkSession, location: str, target: str) -> DataFrame:
    """``CREATE TABLE IF NOT EXISTS`` semantics for the openings dimension
    (reference dvc.yaml:3): the snapshot :func:`publish_openings_snapshot`
    keeps at ``target``, read back with its declared schema, so callers
    always consume the snapshot, never the remote."""
    publish_openings_snapshot(spark, location, target)
    return spark.read.schema(OPENINGS_SNAPSHOT_SCHEMA).parquet(target)


def publish_openings_snapshot(spark: SparkSession, location: str, target: str) -> int | None:
    """Publish the openings snapshot to ``target`` unless it already holds a
    committed one (Spark's ``_SUCCESS`` marker), in which case the remote
    source is NOT touched — the idempotency that makes re-running the
    ingest stage free. Returns the rows written, counted by the write
    itself, or None when the committed snapshot is reused.

    Existence is probed through the Hadoop FileSystem API so the snapshot
    can live on any supported scheme (file://, hdfs://, s3a://)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    marker = jvm.org.apache.hadoop.fs.Path(target + "/_SUCCESS")
    if marker.getFileSystem(hconf).exists(marker):
        return None
    return write_counted(
        load_openings(spark, location), lambda df: df.write.mode("overwrite").parquet(target)
    )["rows"]


def load_openings(spark: SparkSession, location: str) -> DataFrame:
    """Read the openings dimension (recursive glob over parquet files) and
    derive ``opening_ply`` = UCI move count — precomputed once per opening
    row, exactly like the reference's CTE (src/find-openings.ts:64-66),
    never per (game, opening) pair."""
    df = (
        spark.read.schema(OPENINGS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(resolve_openings_path(location))
    )
    return df.withColumn("opening_ply", F.size(F.split("uci", " ")))
