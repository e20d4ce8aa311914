"""chess_lakehouse_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark implementation of the query and
data-processing capabilities of the reference lakehouse pipeline
(dotneB/chess_lakehouse): PGN ingest -> ECO-opening enrichment
(argmax contains-join) -> partitioned Parquet publish, plus the
large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) and a Structured
Streaming path.

Design stance (SURVEY.md §7): DataFrame-first, Catalyst-visible
column expressions wherever possible, Pandas UDFs only where
built-ins genuinely can't express the semantics (PGN parsing,
nested-variation stripping), zero driver-side row loops, every
operator designed for a 1000-executor / 100 TB deployment even
though tests run on local mode.
"""

__version__ = "0.5.0"


def __getattr__(name: str):
    # ``get_spark`` loads on first use (PEP 562), so importing the package,
    # as the Python worker daemon does first, imports no pyspark.
    if name == "get_spark":
        from chess_lakehouse_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
