"""Incremental materialized rollup on the lake — the continuous-aggregate
(a.k.a. hypertable-rollup) pattern from the public TimescaleDB /
Druid-rollup designs: aggregate the corpus ONCE into mergeable partials,
fold each append-only ingest delta in O(delta) with zero corpus access,
and serve group aggregates from the |groups|-sized state — never a full
rescan per refresh.

Reference parity: the reference rebuilds its aggregate exports with a
full CTAS per run (`export-to-parquet.ts:98,112` — DuckDB re-reads the
whole table every time). At 100 TB the rescan-per-refresh IS the cost;
this operator replaces it with the staged-index lifecycle already used by
the BM25/LM lakes (`functions/text.py:build_bm25_index,build_lm`).

Layout under ``rollup_dir``::

    spec/                 the rollup definition (keys + measures), so
                          append/serve are self-describing
    agg/batch_id=<id>/    per-ingest-batch partial aggregates

Append writes ONLY its own ``batch_id`` partition (mode-overwrite of that
path), so a retried crash-replay reproduces the partition byte-identically
— the same idempotency contract as the streaming dedup loops
(`streaming/jobs.py`), and STRONGER than a read-merge-rewrite append: the
delta fold never touches staged bytes at all. Serve merges across batch
partitions (|groups|·|batches| rows — kilobytes); :func:`compact_rollup`
folds all partitions back into one with the crash-safe rename-aside swap
(`operators/publish.py:swap_publish`).

Measures are restricted to ALGEBRAIC partials so the merge is exact and
order-independent (the 100 TB contract — no holistic aggregate ever hides
in the staged state):

    ``count``    row count                               (merge: SUM)
    ``countnn``  non-NULL count of a column              (merge: SUM)
    ``sum``      exact integer sum (cast long)           (merge: SUM)
    ``sum6``     decimal(18,6)-scaled exact integer sum of a double column
                 (DECIMAL(38,0) partials since r12 — a LONG partial
                 aborts under ANSI past ~9.2e12 summed units)
                 (functions/exact.py:sum_scaled_long — exact integer
                 state, so append == rebuild is bit-identical and the
                 served double matches the DuckDB
                 ``CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)``
                 oracle form)                            (merge: SUM)
    ``min``/``max``  column-typed extremes               (merge: MIN/MAX)
    ``hll``      HyperLogLog distinct-count SKETCH of a column (Spark's
                 native datasketches ``hll_sketch_agg`` — kilobytes per
                 group; merge: ``hll_union_agg``, served as the
                 ``hll_sketch_estimate`` cast to BIGINT). The ONE
                 continuous-aggregate measure exact algebra can't give:
                 "distinct users per hour" stays correct under coarser
                 re-grouping because sketches UNION (a user active in two
                 sub-groups counts once), where summing per-group distinct
                 counts double-counts. Estimate class — implementation-
                 specific values, so gated oracle queries use exact
                 measures only (the corpus_sketch_counts precedent).

AVG is a SERVE-time derivation (``avg6`` = exact half-away-from-zero
6-decimal mean of a ``sum6`` over a ``countnn`` — functions/exact.py:mean6),
never staged state.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chess_lakehouse_spark.operators.publish import swap_publish
from chess_lakehouse_spark.session import FrameScope, local_df

_AGGS = ("count", "countnn", "sum", "sum6", "min", "max", "hll")
_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9._-]+$")


def time_bucket(ts: Column, seconds: int) -> Column:
    """Fixed-width time bucket as epoch seconds (the hypertable grouping
    key). The bucket floor is pure LONG arithmetic (``t - t % width``) and
    the label division divides an exact multiple by its width, so the
    result is the exact integer ``seconds * (t DIV width)`` for every
    |unix_micros| < 2^53 — engine-identical with the DuckDB
    ``seconds * (epoch_us(ts) // width)`` oracle form. Truncate-vs-floor
    only diverges on pre-1970 timestamps (documented boundary; the suite
    fixtures are all post-epoch)."""
    if seconds <= 0:
        raise ValueError("time_bucket: seconds must be positive")
    us = seconds * 1_000_000
    t = F.unix_micros(ts)
    return (((t - (t % F.lit(us))) / F.lit(us)).cast("long") * F.lit(seconds)).alias(
        "time_bucket"
    )


def _check_spec(keys, measures) -> None:
    if not keys:
        raise ValueError("rollup: need at least one group key")
    names = list(keys) + [m[0] for m in measures]
    if len(set(names)) != len(names):
        raise ValueError(f"rollup: duplicate output column names in {names}")
    for name, agg, col in measures:
        if agg not in _AGGS:
            raise ValueError(f"rollup measure {name}: unknown agg {agg!r}")
        if agg != "count" and not col:
            raise ValueError(f"rollup measure {name}: agg {agg!r} needs a column")


def _check_batch_id(batch_id: str) -> None:
    if not _BATCH_ID_RE.match(str(batch_id)):
        raise ValueError(
            f"rollup batch_id {batch_id!r} must match {_BATCH_ID_RE.pattern} "
            "(it becomes a partition directory name)"
        )


def _partial_aggs(measures) -> list[Column]:
    from chess_lakehouse_spark.functions.exact import sum_scaled_long

    out = []
    for name, agg, col in measures:
        if agg == "count":
            out.append(F.count(F.lit(1)).alias(name))
        elif agg == "countnn":
            out.append(F.count(F.col(col)).alias(name))
        elif agg == "sum":
            out.append(F.sum(F.col(col).cast("long")).alias(name))
        elif agg == "sum6":
            out.append(sum_scaled_long(F.col(col), 6).alias(name))
        elif agg == "min":
            out.append(F.min(F.col(col)).alias(name))
        elif agg == "max":
            out.append(F.max(F.col(col)).alias(name))
        else:
            out.append(F.hll_sketch_agg(F.col(col)).alias(name))
    return out


def _merge_aggs(measures) -> list[Column]:
    m = {"min": F.min, "max": F.max, "hll": F.hll_union_agg}
    out = []
    for name, agg, _ in measures:
        if agg == "sum6":
            # widen BEFORE the merge sum: (a) the fold itself must not
            # abort past ~9.2e12 summed units, (b) casting at read makes
            # the merge type-stable across states whose partials were
            # written as LONG (pre-r12) or DECIMAL(38,0), so compaction
            # MIGRATES an old state instead of perpetuating it
            out.append(
                F.sum(F.col(name).cast("decimal(38,0)")).alias(name)
            )
        else:
            out.append(m.get(agg, F.sum)(F.col(name)).alias(name))
    return out


def _write_spec(spark: SparkSession, keys, measures, rollup_dir: str) -> None:
    rows = [(i, "key", k, "", "") for i, k in enumerate(keys)] + [
        (i, "measure", name, agg, col or "")
        for i, (name, agg, col) in enumerate(measures)
    ]
    local_df(
        spark, rows, "pos int, kind string, name string, agg string, col string"
    ).write.mode("overwrite").parquet(f"{rollup_dir}/spec")


def read_spec(spark: SparkSession, rollup_dir: str):
    """(keys, measures) of a staged rollup, in definition order."""
    rows = sorted(
        spark.read.parquet(f"{rollup_dir}/spec").collect(),
        key=lambda r: (r.kind != "key", r.pos),
    )
    keys = [r.name for r in rows if r.kind == "key"]
    measures = [(r.name, r.agg, r.col or None) for r in rows if r.kind == "measure"]
    return keys, measures


def build_rollup(
    df: DataFrame,
    keys: list[str],
    measures,
    rollup_dir: str,
    batch_id: str = "base",
) -> None:
    """Stage the rollup: ONE map-combined groupBy over the corpus (the
    only corpus-sized pass this lake ever takes) plus a |spec|-row spec
    table. ``measures`` is a list of ``(out_name, agg, col)`` with agg in
    ``count/countnn/sum/sum6/min/max/hll`` (``count`` ignores col)."""
    measures = [tuple(m) for m in measures]
    _check_spec(keys, measures)
    _check_batch_id(batch_id)
    spark = df.sparkSession
    # stage spec + partials TOGETHER in one staging dir and swap the
    # whole rollup root in: writing spec/ into the live dir first would
    # open a crash window where a NEW spec is paired with STALE old-spec
    # partials (or none) and serve_rollup silently merges wrong values —
    # the exact hazard the rename-aside pattern exists for
    def write(tmp: str) -> None:
        _write_spec(spark, keys, measures, tmp)
        df.groupBy(*keys).agg(*_partial_aggs(measures)).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/agg/batch_id={batch_id}")

    swap_publish(spark, rollup_dir, write, "build_rollup")


def append_rollup(delta_df: DataFrame, rollup_dir: str, batch_id: str) -> None:
    """Fold an ingest delta: aggregate the DELTA ONLY and overwrite its own
    ``agg/batch_id=<id>`` partition. O(delta) work, zero staged-byte
    access, and retry-IDEMPOTENT at every crash point — a replay rewrites
    the same partition byte-identically (the streaming-loop contract,
    pinned by the double-invoke test). Distinct ingests MUST use distinct
    batch_ids (the daily-ingest date is the natural key); reusing an id
    REPLACES that batch's contribution, which is exactly the semantics a
    corrected re-delivery wants."""
    spark = delta_df.sparkSession
    _check_batch_id(batch_id)
    keys, measures = read_spec(spark, rollup_dir)
    delta_df.groupBy(*keys).agg(*_partial_aggs(measures)).write.mode(
        "overwrite"
    ).parquet(f"{rollup_dir}/agg/batch_id={batch_id}")


def compact_rollup(spark: SparkSession, rollup_dir: str) -> None:
    """Fold every batch partition into one ``batch_id=base`` partition —
    |groups|-sized work, crash-safe via the rename-aside swap (a crash
    leaves either the old multi-batch layout or the compacted one, plus at
    worst an ``agg.old`` rollback copy for ``vacuum_lake(<rollup>/agg)``)."""
    keys, measures = read_spec(spark, rollup_dir)
    merged = (
        spark.read.parquet(f"{rollup_dir}/agg")
        .groupBy(*keys)
        .agg(*_merge_aggs(measures))
    )
    swap_publish(
        spark, f"{rollup_dir}/agg",
        lambda tmp: merged.write.mode("overwrite").parquet(f"{tmp}/batch_id=base"),
        "compact_rollup",
    )


def serve_rollup(
    spark: SparkSession,
    rollup_dir: str,
    keys: list[str] | None = None,
    avg6=(),
) -> DataFrame:
    """Serve aggregates from the staged state only — the plan reads
    ``spec/`` + ``agg/`` and NEVER the raw corpus (inputFiles-pinned in
    tests). ``keys=None`` serves the staged grain; a SUBSET re-merges to
    the coarser grain (the partials are algebraic, so any grouping-set of
    the staged keys is exact — the serve-side ROLLUP/CUBE enabler).
    ``avg6`` adds derived exact-6-decimal means as
    ``(out_name, sum6_name, countnn_name)`` triples. ``sum6`` measures
    are finalized to DOUBLE through one exact decimal division — the
    ``CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)`` oracle form."""
    from chess_lakehouse_spark.functions.exact import mean6

    staged_keys, measures = read_spec(spark, rollup_dir)
    if keys is None:
        keys = staged_keys
    unknown = set(keys) - set(staged_keys)
    if unknown:
        raise ValueError(
            f"serve_rollup: {sorted(unknown)} not in staged keys {staged_keys}"
        )
    merged = (
        spark.read.parquet(f"{rollup_dir}/agg")
        .groupBy(*keys)
        .agg(*_merge_aggs(measures))
    )
    by_name = {name: agg for name, agg, _ in measures}
    final = [F.col(k) for k in keys]
    for name, agg, _ in measures:
        if agg == "sum6":
            final.append(
                F.expr(
                    f"CAST(CAST({name} AS DECIMAL(38,0)) / 1000000 "
                    f"AS DECIMAL(38,6))"
                )
                .cast("double")
                .alias(name)
            )
        elif agg == "hll":
            final.append(
                F.hll_sketch_estimate(F.col(name)).cast("long").alias(name)
            )
        else:
            final.append(F.col(name))
    for out_name, s6, nn in avg6:
        if by_name.get(s6) != "sum6" or by_name.get(nn) not in ("count", "countnn"):
            raise ValueError(
                f"avg6 {out_name}: need (sum6 measure, count/countnn measure), "
                f"got ({s6}={by_name.get(s6)}, {nn}={by_name.get(nn)})"
            )
        # CASE-guard the all-NULL group (countnn = 0): ANSI division
        # would error, SQL AVG semantics want NULL
        final.append(
            F.when(F.col(nn) > 0, mean6(s6, nn)).alias(out_name)
        )
    return merged.select(*final)


def bucket_key(col: Column, lo, width, nbins: int) -> Column:
    """Fixed-width bucket index in ``[0, nbins-1]`` (under/overflow
    clamped to the edge buckets) — the grouping key that turns a rollup
    into a mergeable histogram: key the rollup on
    ``bucket_key(value, ...)`` with a ``count`` measure and per-group
    distributions stay algebraic partials, ready for
    :func:`percentile_from_counts` at serve time."""
    if width <= 0 or nbins < 1:
        raise ValueError("bucket_key: need width > 0 and nbins >= 1")
    idx = F.floor((col - F.lit(lo)) / F.lit(width)).cast("long")
    return F.least(F.greatest(idx, F.lit(0)), F.lit(nbins - 1))


def percentile_from_counts(
    df: DataFrame,
    group_keys: list[str],
    bucket_col: str,
    n_col: str,
    ps,
) -> DataFrame:
    """Per-group percentile BUCKETS from bucketed counts — the serve-side
    companion of a rollup keyed on :func:`bucket_key`: for each ``p`` the
    smallest bucket whose cumulative count reaches ``ceil(p * total)``,
    i.e. exactly the bucket containing the rank-``ceil(p*n)`` element —
    the error is the bucket width, never a sampling artifact. The only
    work is one window over the |groups|·|buckets|-sized SERVED frame
    (kilobytes at any corpus size) — percentile dashboards at 100 TB
    without a corpus pass or an approx-quantile sketch. Returns one row
    per group: ``(*group_keys, p<pp> ...)``."""
    from pyspark.sql.window import Window

    if not ps or not all(0 < p <= 1 for p in ps):
        raise ValueError(f"percentile_from_counts: ps must be in (0, 1], got {ps}")
    # exact-integer rank threshold: cum >= ceil(p*n) <=> cum * 1e6 >= p6 * n
    # with p6 = round(p * 1e6). Floating ceil(p * n) is WRONG here:
    # 0.55 * 100 is 55.000000000000007 in IEEE double and ceils to 56,
    # off-by-one-rank on exact boundaries. ps therefore resolve at
    # 6-decimal precision.
    p6s = [round(float(p) * 1_000_000) for p in ps]
    names = [f"p{round(p * 100)}" for p in ps]
    if len(set(names)) != len(names):
        raise ValueError(
            f"percentile_from_counts: ps {list(ps)} collide on the integer "
            f"percent labels {names} — they would produce duplicate columns"
        )
    w = Window.partitionBy(*group_keys).orderBy(bucket_col)
    tot = Window.partitionBy(*group_keys)
    with FrameScope() as scope:
        c = scope.cache(
            df.withColumn("_cum", F.sum(n_col).over(w)).withColumn("_tot", F.sum(n_col).over(tot))
        )
        out = None
        for p6, name in zip(p6s, names):
            hit = (
                # DECIMAL(38,0) ride: cum·1e6 over BIGINT aborts under
                # ANSI past ~9.2e12 counts per group (r11-ADVICE class)
                c.where(
                    F.col("_cum").cast("decimal(38,0)") * 1_000_000
                    >= F.lit(p6).cast("decimal(38,0)") * F.col("_tot")
                )
                .groupBy(*group_keys)
                .agg(F.min(bucket_col).alias(name))
            )
            out = hit if out is None else out.join(hit, group_keys)
        return out.localCheckpoint()
