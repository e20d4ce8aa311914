"""Top-1 (argmax) enrichment against a bounded dimension.

This is the Spark-first re-expression of the reference's centerpiece — the
correlated LATERAL top-1 join that tags each game with the longest matching
ECO opening (reference: src/find-openings.ts:73-79):

    JOIN LATERAL (SELECT o.eco, o.name FROM openings_with_ply o
                  WHERE CONTAINS(t.clean_movetext, o.pgn)
                  ORDER BY o.opening_ply DESC LIMIT 1) o ON TRUE

A literal translation (cross join + per-key window) shuffles the ENTIRE fact
table by key just to rank a handful of matches — at 100 TB that shuffle is
the whole job. ``enrich_top1_mapside`` (used by the chess pipeline and the
``chess_enrich`` query) instead collects the dimension on the driver in one
job and embeds it in the plan as ONE constant array<struct>, and the argmax
is computed per fact row with higher-order functions (FILTER + REDUCE over
the array), with the deterministic tie-break the reference lacks
(SURVEY.md §2.3 ⚠). The constant is sent to the JVM as a single JSON string
that Catalyst folds into the array, so building the plan costs as many Py4J
calls for 3,400 openings as for 10. Zero shuffle, zero window, stays inside
whole-stage codegen; scales as O(|fact| * |dim|) comparisons map-side, which
is exactly what the reference's nested-loop lateral does — minus its
single-process limit. Requires the dimension to fit in every task binary
(~3.5k openings: trivially).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: to_json/from_json options for the dim literal: the default timestamp
#: formats stop at milliseconds, which would truncate microsecond values.
_JSON_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _equal_without_equal_json(t: T.DataType) -> bool:
    """True iff ``t`` holds values that ``distinct()`` takes as equal
    although their JSON differs: floating point (-0.0 and 0.0) and strings
    under a collation other than byte equality."""
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return True
    if isinstance(t, T.StringType):
        return t.collation != "UTF8_BINARY"
    if isinstance(t, T.StructType):
        return any(_equal_without_equal_json(f.dataType) for f in t.fields)
    if isinstance(t, T.ArrayType):
        return _equal_without_equal_json(t.elementType)
    if isinstance(t, T.MapType):
        return _equal_without_equal_json(t.keyType) or _equal_without_equal_json(t.valueType)
    return False


def _better(a: Column, b: Column, rank_field: str, tiebreak_fields: Sequence[str]) -> Column:
    """True iff candidate ``b`` beats incumbent ``a``: higher rank wins, then
    ascending lexicographic tie-break (deterministic where the reference's
    bare ``ORDER BY ply DESC LIMIT 1`` is engine-arbitrary)."""
    cond = a.isNull() | (b[rank_field] > a[rank_field])
    eq = b[rank_field] == a[rank_field]
    for f in tiebreak_fields:
        cond = cond | (eq & (b[f] < a[f]))
        eq = eq & (b[f] == a[f])
    return cond


def enrich_top1_mapside(
    fact: DataFrame,
    dim: DataFrame,
    predicate: Callable[[Column, Column], Column],
    fact_probe_col: str,
    rank_col: str,
    payload_cols: Sequence[str],
    tiebreak_cols: Sequence[str] | None = None,
    out_prefix: str = "",
    only_if_null: str | None = None,
    max_dim_rows: int = 10_000,
) -> DataFrame:
    """Map-side argmax enrichment: no shuffle of the fact table at all.

    For each fact row, scans the (broadcast) dimension array, keeps candidates
    where ``predicate(fact[fact_probe_col], candidate)`` holds, and reduces to
    the single best by (rank_col DESC, *tiebreak_cols ASC). Payload columns are
    appended as ``{out_prefix}{col}`` (NULL when nothing matches — the
    reference's inner-lateral leaves unmatched rows untouched,
    src/find-openings.ts:79).

    only_if_null: name of an existing fact column; rows where it is already
    non-NULL are not enriched (reference enriches only ``Opening IS NULL``
    rows, src/find-openings.ts:68): each output column keeps its existing
    fact value on those rows (NULL if the output column is new).

    max_dim_rows bounds the task binary: the dim is embedded as a literal
    array<struct> that is serialized into every task, so task size grows
    linearly with the dim (building the plan does not: the literal is one
    string whatever the row count). Beyond the cap this raises.
    """
    tiebreak_cols = list(tiebreak_cols or [])
    if only_if_null is not None and only_if_null not in fact.columns:
        raise ValueError(
            f"enrich_top1_mapside: only_if_null column {only_if_null!r} "
            f"not found on the fact side (columns: {fact.columns})"
        )
    # All dim columns ride along in the struct — the predicate may probe any
    # of them (e.g. the `pgn` prefix string), not just rank/payload.
    struct_cols = [rank_col, *[c for c in dim.columns if c != rank_col]]

    # Materialize the bounded dim on the driver and embed it as a typed
    # literal array — semantically a broadcast variable, but expressed as a
    # constant in the plan so the enrichment is a pure map-side projection.
    # (A crossJoin against a collect_list-aggregated 1-row frame plans the
    # same thing, but Spark 4.1 miscompiles outer column references inside
    # HOF lambdas over that shape on a cold JVM — ATTRIBUTE_NOT_FOUND.)
    elem_type = dim.select(F.struct(*[F.col(c) for c in struct_cols]).alias("s")).schema[
        "s"
    ].dataType
    # One job both guards and collects: fetch max_dim_rows+1 rows — if the
    # limit row materializes, the dim is too big. Each row also carries its
    # JSON encoding, made by the JVM so that it parses back to exactly the
    # collected values. The rows are deduped on the driver by that string
    # rather than by a distinct(), whose shuffle would add jobs to dedupe a
    # dim of a few thousand rows. Only a raw fetch that overflows the cap is
    # repeated with distinct(), so the guard counts distinct rows. The JSON
    # is a faithful key except where distinct() equates values whose JSON
    # differs (see _equal_without_equal_json); such a dim takes distinct().
    rows = dim.select(*struct_cols)
    n = len(struct_cols)

    def fetch(frame: DataFrame) -> list:
        as_json = F.to_json(F.struct(*struct_cols), _JSON_OPTIONS).alias("__json")
        return frame.select("*", as_json).limit(max_dim_rows + 1).collect()

    fetched = None if _equal_without_equal_json(elem_type) else fetch(rows)
    if fetched is None or len(fetched) > max_dim_rows:
        fetched = fetch(rows.distinct())
    if len(fetched) > max_dim_rows:
        raise ValueError(
            f"enrich_top1_mapside: dimension exceeds max_dim_rows={max_dim_rows}; "
            "the literal array, serialized into every task, grows linearly with the dim"
        )
    distinct_rows = {r[n]: r for r in fetched}.values()
    dim_rows = sorted(distinct_rows, key=lambda r: tuple((v is None, v) for v in r[:n]))
    # ONE literal for the whole dim, whatever its size: Catalyst folds
    # from_json over a constant string into a constant array, so no row
    # parses JSON, and building it is one Py4J call rather than one per cell.
    payload = "[" + ",".join(r[n] for r in dim_rows) + "]"
    arr = F.from_json(F.lit(payload), T.ArrayType(elem_type), {**_JSON_OPTIONS, "mode": "FAILFAST"})
    joined = fact.withColumn("__dim_arr", arr)

    probe = F.col(fact_probe_col)
    matches = F.filter(F.col("__dim_arr"), lambda c: predicate(probe, c))
    best = F.aggregate(
        matches,
        F.lit(None).cast(elem_type),
        lambda acc, c: F.when(_better(acc, c, rank_col, tiebreak_cols), c).otherwise(acc),
    )
    out = joined.withColumn("__best", best).drop("__dim_arr")
    for c in payload_cols:
        new = f"{out_prefix}{c}"
        val = F.col("__best")[c]
        if only_if_null is not None:
            keep = F.col(new) if new in fact.columns else F.lit(None)
            val = F.when(F.col(only_if_null).isNull(), val).otherwise(keep)
        out = out.withColumn(new, val)
    return out.drop("__best")

