"""Projection / filter / union / sort-limit building blocks (SURVEY.md §2.2, §2.7, §2.8).

The reference's versions of these are SQL fragments assembled in TypeScript
(fixed 20-column export projection at src/export-to-parquet.ts:70-93; UNION ALL
via repeated INSERT at src/export-to-parquet.ts:58-100; no generic sort/limit).
Here they are thin, Catalyst-visible DataFrame compositions — the value added
is schema alignment and determinism, not execution logic.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chess_lakehouse_spark.session import local_df


def align_and_union(dfs: Sequence[DataFrame]) -> DataFrame:
    """UNION ALL over per-source frames with schema alignment.

    Replicates the reference's CTAS-then-INSERT loop
    (src/export-to-parquet.ts:58-100) as one ``unionByName`` chain; columns
    missing from a source are NULL-filled (allowMissingColumns), mirroring the
    additive `ALTER TABLE ... ADD COLUMN IF NOT EXISTS` schema evolution at
    src/find-openings.ts:60. A union is a zero-shuffle operator in Spark —
    partitions of the inputs are simply concatenated.
    """
    if not dfs:
        raise ValueError("align_and_union: need at least one DataFrame")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k. `orderBy().limit()` lets Spark plan a TakeOrderedAndProject:
    each partition keeps only its local top-k, the driver merges k*partitions
    rows — no global sort shuffle. Callers must pass a total order (include a
    unique key) for deterministic results."""
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_name: str = "rank",
) -> DataFrame:
    """Per-group top-k via row_number window (SURVEY.md §2.6/§2.7).

    One hash shuffle on the group keys; with AQE skew handling on, a hot group
    is split at runtime. Pass a total order for determinism.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn(rank_name, F.row_number().over(w)).where(F.col(rank_name) <= k)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: identical results to ``left.join(right,
    key, how)``, but a hot key's rows spread over ``n_salts`` reducers.

    The left (large/skewed) side gets a deterministic per-row salt
    (``xxhash64`` of the whole row, mod n_salts — salt only affects
    placement, never the result); the right side is replicated once per
    salt value. The join key becomes (key, salt), so one pathological key
    no longer lands on a single reducer.

    Use when AQE's skew-join splitting can't help: AQE splits oversized
    *partitions* of sort-merge joins, but a build-side that must be
    replicated anyway (medium-sized dim, too big to broadcast whole but
    fine to broadcast n_salts times) or an engine without AQE needs the
    explicit form. Supported how: inner / left (semantics preserved because
    every left row carries exactly one salt and every right row exists for
    every salt).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    lsalt = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    )
    rsalt = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    )
    return lsalt.join(rsalt, on=[key, "__salt"], how=how).drop("__salt")


def _asof_pass(
    left: DataFrame,
    right: DataFrame,
    key_cols: list,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    tiebreak_cols: list,
    direction: str,
    out_col: str,
) -> DataFrame:
    """One directional as-of sweep (backward or forward): the union +
    ordered-window ``last(ignorenulls)`` pass shared by every
    :func:`asof_join` direction. Adds ``out_col`` — a struct of the
    matched right row's ts (``__mts``) plus the payload columns, NULL
    when no right row qualifies. Extra left columns (including a prior
    pass's struct) ride through the union as NULL on right rows."""
    from pyspark.sql.window import Window

    need = {*key_cols, right_ts, *payload_cols, *tiebreak_cols}
    r = (
        # a NULL right_ts matches NO left row in either direction —
        # unfiltered it would sort NULLS FIRST (asc pass) and become the
        # visible payload for every left row of its key
        right.where(F.col(right_ts).isNotNull())
        .select(*[c for c in right.columns if c in need])
        .withColumnRenamed(right_ts, "__ts")
        .withColumn("__side", F.lit(0))
    )
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    # right rows sort before left rows at equal __ts (side 0 < 1) in BOTH
    # directions, so a payload stamped exactly at left_ts is visible to
    # that left row. Backward: ascending ts, greatest tiebreak wins among
    # equal-ts right rows. Forward: descending ts, SMALLEST tiebreak wins
    # (the mirrored order) — each documented on asof_join.
    if direction == "backward":
        order = [
            F.col("__ts").asc(),
            F.col("__side").asc(),
            *[F.col(c).asc() for c in tiebreak_cols],
        ]
    else:
        order = [
            F.col("__ts").desc(),
            F.col("__side").asc(),
            *[F.col(c).desc() for c in tiebreak_cols],
        ]
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = F.when(
        F.col("__side") == 0,
        F.struct(
            F.col("__ts").alias("__mts"), *[F.col(c) for c in payload_cols]
        ),
    )
    matched = F.last(marked, ignorenulls=True).over(w)
    # a NULL left_ts matches nothing: in the desc (forward) pass it sorts
    # NULLS LAST and would otherwise see every right row as preceding
    out = u.withColumn(
        out_col, F.when(F.col(left_ts).isNotNull(), matched)
    )
    return out.where(F.col("__side") == 1).drop("__ts", "__side")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    tiebreak_cols: Sequence[str] = (),
    direction: str = "backward",
    tolerance=None,
) -> DataFrame:
    """Left as-of join (the pandas ``merge_asof`` surface, distributed):
    for each left row, the payload of the matched right row with the
    same key (NULL if none) — an operator the reference lists as absent
    (SURVEY.md §2.3) and Spark has no native form for.

    ``direction``:

    - ``"backward"`` (default): the LATEST right row with
      ``right_ts <= left_ts``; ties on right_ts resolve to the greatest
      ``tiebreak_cols``.
    - ``"forward"``: the EARLIEST right row with ``right_ts >=
      left_ts``; ties resolve to the smallest tiebreak (the mirrored
      order).
    - ``"nearest"``: whichever of the two is closer by ``|right_ts −
      left_ts|``; an exact-distance tie prefers the backward match (the
      pandas convention). Requires a NUMERIC ts column (distance
      arithmetic) — convert timestamps to epoch micros first.

    ``tolerance`` (same units as the ts columns, numeric ts required):
    a match farther than ``tolerance`` from ``left_ts`` is discarded —
    the "only join telemetry within 5 minutes" contract. ``None`` = any
    distance.

    Implemented as union + window ``last_value(ignorenulls)`` per
    direction rather than a per-row correlated subquery or a range join:
    ONE shuffle by key then a single ordered pass per key per direction
    (nearest = two), the shape that survives 100 TB (a range join
    explodes on wide time spans; a lateral subquery is a nested loop).
    Right columns other than key/ts/payload/tiebreak are dropped; NULL
    left or right ts rows match nothing.

    NULL payloads are faithful: the window carries a struct of the match
    ts plus ALL payload columns that is non-NULL exactly on right rows,
    so the nearest right row wins even when its payload values are NULL
    — ``last(col, ignorenulls)`` directly would skip it and silently
    fall back to an older right row, diverging from the LATERAL ...
    ORDER BY ... LIMIT 1 semantics this operator promises.
    """
    key_cols = list(key_cols)
    tiebreak_cols = list(tiebreak_cols)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"asof_join: direction must be backward/forward/nearest, "
            f"got {direction!r}"
        )
    clash = set(payload_cols) & set(left.columns)
    if clash:
        # the window's last(ignorenulls) would read the LEFT row's own value
        # as a payload candidate — silently wrong results, so refuse
        raise ValueError(
            f"asof_join: payload columns already exist on left: {sorted(clash)}"
        )
    reserved = {"__ts", "__side", "__asof", "__asofb", "__asoff"} & (
        set(left.columns) | set(right.columns)
    )
    if reserved:
        raise ValueError(
            f"asof_join: reserved column(s) {sorted(reserved)} in input"
        )
    if tolerance is not None or direction == "nearest":
        numeric = {"tinyint", "smallint", "int", "bigint", "float", "double",
                   "decimal"}
        lt = dict(left.dtypes).get(left_ts, "")
        rt = dict(right.dtypes).get(right_ts, "")
        bad = [
            (n, t)
            for n, t in ((left_ts, lt), (right_ts, rt))
            if t.split("(")[0] not in numeric
        ]
        if bad:
            raise ValueError(
                "asof_join: tolerance/nearest need NUMERIC ts columns "
                f"(distance arithmetic); got {bad} — convert timestamps "
                "to epoch micros first"
            )

    def _gap(struct_col: str) -> Column:
        return F.abs(F.col(left_ts) - F.col(struct_col).getField("__mts"))

    def _ok(struct_col: str) -> Column:
        cond = F.col(struct_col).isNotNull()
        if tolerance is not None:
            cond = cond & (_gap(struct_col) <= F.lit(tolerance))
        return cond

    if direction in ("backward", "forward"):
        out = _asof_pass(
            left, right, key_cols, left_ts, right_ts, payload_cols,
            tiebreak_cols, direction, "__asof",
        )
        if tolerance is None:
            picked = F.col("__asof")
        else:
            picked = F.when(_ok("__asof"), F.col("__asof"))
        return out.select(
            *left.columns,
            *[
                picked.getField(c).alias(f"asof_{c}")
                for c in payload_cols
            ],
        )
    b = _asof_pass(
        left, right, key_cols, left_ts, right_ts, payload_cols,
        tiebreak_cols, "backward", "__asofb",
    )
    bf = _asof_pass(
        b, right, key_cols, left_ts, right_ts, payload_cols,
        tiebreak_cols, "forward", "__asoff",
    )
    use_b = _ok("__asofb") & (
        ~_ok("__asoff") | (_gap("__asofb") <= _gap("__asoff"))
    )
    picked = F.when(use_b, F.col("__asofb")).otherwise(
        F.when(_ok("__asoff"), F.col("__asoff"))
    )
    return bf.select(
        *left.columns,
        *[picked.getField(c).alias(f"asof_{c}") for c in payload_cols],
    )


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_us: int,
    upper_us: int,
    how: str = "inner",
) -> DataFrame:
    """Range (interval) join — right rows with
    ``left_ts + lower_us <= right_ts <= left_ts + upper_us`` — executed as an
    equi-join on time *bands* (absent from the reference, SURVEY.md §2.3;
    Spark plans a raw inequality join as BroadcastNestedLoop/cartesian).

    Band width = the interval span, so every qualifying pair shares one of
    two adjacent bands: each left row probes band(b) and band(b+1) via a
    2-element explode, the join is hash-partitioned on the band id, and the
    exact predicate filters band-mates. Cost is O(pairs-in-band), never
    O(|left|·|right|) — the property that survives 100 TB of events.
    Output: all left columns + right columns (right ts renamed __rts).
    """
    if upper_us <= lower_us:
        raise ValueError("banded_range_join: need upper_us > lower_us")
    if how != "inner":
        raise ValueError("banded_range_join supports inner only (left rows would "
                         "duplicate across band probes); outer-style semantics via "
                         "joining the result back onto left")
    width = upper_us - lower_us
    l = left.withColumn("__lus", F.unix_micros(F.col(left_ts)))
    r = right.withColumn("__rus", F.unix_micros(F.col(right_ts))).withColumn(
        "__band", F.expr(f"__rus div {width}")
    )
    probe0 = F.expr(f"(__lus + {lower_us}) div {width}")
    l = l.withColumn("__band", F.explode(F.array(probe0, probe0 + 1)))
    joined = l.join(r, on="__band", how="inner").where(
        (F.col("__rus") >= F.col("__lus") + lower_us)
        & (F.col("__rus") <= F.col("__lus") + upper_us)
    )
    return joined.drop("__band", "__lus", "__rus")


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    content_col: str,
) -> DataFrame:
    """Snapshot diff between two versions of a table: per id, classify
    ``added`` (only in new), ``removed`` (only in old), or ``changed``
    (both, different content digest) — the audit step between corpus
    releases (what moved since the last training run?).

    One full-outer equi-join on the id with md5 content digests computed
    map-side on each branch; unchanged rows are filtered out inside the
    join's codegen stage, so the result is |delta|-sized, not corpus-sized.
    NULL content digests as a sentinel distinct from every real hash
    (``md5(NULL)`` is NULL, which would be indistinguishable from the row
    being ABSENT — a NULL-content row would misreport as added/removed,
    and NULL-vs-value changes would vanish through NULL-propagating
    ``!=``). Returns (id, change).
    """
    from pyspark.sql import functions as F

    def digest(c):
        # 'v:'-prefixed hash for values, a bare '0' for NULL content —
        # never equal to a real digest, never NULL for a present row
        return F.when(
            F.col(c).isNull(), F.lit("0")
        ).otherwise(F.concat(F.lit("v:"), F.md5(F.col(c))))

    o = old.select(F.col(id_col).alias("id"), digest(content_col).alias("oh"))
    n = new.select(F.col(id_col).alias("id"), digest(content_col).alias("nh"))
    return (
        o.join(n, "id", "full_outer")
        .select(
            "id",
            F.when(F.col("oh").isNull(), F.lit("added"))
            .when(F.col("nh").isNull(), F.lit("removed"))
            .when(F.col("oh") != F.col("nh"), F.lit("changed"))
            .alias("change"),
        )
        .where(F.col("change").isNotNull())
    )


def zscore_outliers(
    df: DataFrame,
    id_col: str,
    group_col: str,
    value_col: str,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Per-group z-score outlier flagging: |value - mean| >= z·stddev within
    each group — the metric-anomaly sweep over an event stream.

    Two-pass shape: one map-combined groupBy computes the group moments
    (Σv, Σv² through exact DECIMAL casts, so the moments — and therefore
    mean/std — are identical under any partitioning; population variance),
    then the moment table (|groups| rows — bounded) broadcasts back onto
    the stream for a narrow per-row flag. At petabyte scale with extreme
    value ranges, swap the decimal moments for Welford/built-in stddev_pop
    and accept float associativity — the structure (tiny stats table
    broadcast onto an un-shuffled stream) is unchanged.
    Returns (id, group, value, z) for flagged rows only. A NULL group
    key is its own group: the join back to the moment table is
    NULL-safe, so NULL-group outliers flag like any other group's
    (the unsafe form silently exempted them — r13 NULL-group sweep,
    tests/test_null_group_contracts.py).
    """
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.functions.exact import mean6, sum6_long

    if "__g" in df.columns:
        raise ValueError("zscore_outliers: input carries reserved column __g")
    vdec = F.col(value_col).cast("decimal(18,6)")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        sum6_long(F.col(value_col)).alias("_s6"),
        F.sum(vdec).alias("s1"),
        F.sum(vdec * vdec).alias("s2"),
    ).select(
        F.col(group_col).alias("__g"),
        # integer half-away mean (functions/exact.py — double-quotient
        # ROUND ties are engine-divergent); std keeps the double domain:
        # a sqrt output landing within an ulp of a 6-decimal half is the
        # residual (measure-near-zero) risk documented in suite/__init__
        mean6("_s6", "n").alias("mean"),
        F.round(
            F.sqrt(
                (F.col("s2").cast("double") - F.col("s1").cast("double")
                 * F.col("s1").cast("double") / F.col("n"))
                / F.col("n")
            ),
            6,
        ).alias("std"),
    )
    return (
        df.join(F.broadcast(stats), F.col(group_col).eqNullSafe(F.col("__g")))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(value_col),
            # a constant group (std = 0) has no outliers BY DEFINITION —
            # the unguarded quotient is a DIVIDE_BY_ZERO job abort under
            # Spark 4's default ANSI mode (and a NaN>=threshold
            # every-row-flagged disaster without it)
            F.when(
                F.col("std") != 0,
                F.round(
                    (F.col(value_col) - F.col("mean")) / F.col("std"), 6
                ),
            ).alias("z"),
        )
        .where(F.abs(F.col("z")) >= z_threshold)
    )


def dq_violations(
    df: DataFrame,
    rules: dict[str, "Column"],
) -> DataFrame:
    """Declarative data-quality audit: ``rules`` maps rule name → a boolean
    Column that is true when the row VIOLATES the rule. Returns one row per
    rule with its violation count and the scanned total — computed in ONE
    pass (every rule is a conditional sum in the same aggregate, so a
    50-rule audit costs exactly one corpus scan at 100 TB).

    Uniqueness-style rules need a distinct count, which cannot ride a
    row-conditional sum — compose them separately (e.g. compare
    ``count vs approx_count_distinct`` from the same aggregate).
    Returns (rule, n_violations, n_rows) sorted by rule for determinism.

    Rule names are interpolated into generated SQL (aliases + ``stack``
    literals), so they must be plain identifiers.
    """
    import re

    from pyspark.sql import functions as F

    if not rules:
        raise ValueError("dq_violations: at least one rule required")
    for name in rules:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"rule name {name!r} must match [A-Za-z_][A-Za-z0-9_]* "
                "(it is interpolated into generated SQL)"
            )
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"v_{name}")
        for name, cond in sorted(rules.items())
    ]
    wide = df.agg(*aggs)
    stacked = ", ".join(f"'{name}', v_{name}" for name in sorted(rules))
    return wide.selectExpr(
        f"stack({len(rules)}, {stacked}) AS (rule, n_violations)", "n_rows"
    ).select("rule", "n_violations", "n_rows")


def winsorize(
    df: DataFrame,
    id_col: str,
    group_col: str,
    value_col: str,
    lower_pct: float = 0.01,
    upper_pct: float = 0.99,
    exact: bool = True,
) -> DataFrame:
    """Rank-based per-group winsorization: clip ``value_col`` to the exact
    [lower_pct, upper_pct] quantile values of its group — the robust-stats
    companion to :func:`z_outliers` (clip instead of flag, so downstream
    aggregates see a bounded domain).

    Exact-by-rank: the threshold is the value AT rank ``ceil(pct * n)``
    (floored at 1) under the total order (value, id), with ``pct`` carried
    as integer millionths (:func:`_ppm_target`) — integer rank arithmetic,
    no interpolation, so any engine picks the identical threshold row.
    Plan: the ``by`` form of :func:`_exact_rank` (one window shuffle
    keyed by the group), the two threshold rows per group collapse to a
    |groups|-row frame, broadcast back onto the unclipped rows.

    ``exact=False`` is the 100 TB path (mirroring the quality_buckets
    exact-for-oracle / approx-at-scale contract): group thresholds come
    from ``approx_percentile`` in one map-combined aggregate — no rank
    window, no per-group sort — and the identical broadcast clip join
    follows. The exact form exists for oracle checkability and small
    groups; at scale the sketch error (~1e-4 relative rank) is far below
    the clip percentiles' own arbitrariness.

    Returns (id, group, value, clipped).
    """
    if not 0.0 <= lower_pct < upper_pct <= 1.0:
        raise ValueError(
            f"winsorize: need 0 <= lower_pct < upper_pct <= 1, got {lower_pct}, {upper_pct}"
        )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("value"),
    )
    if exact:
        # NULL values are EXCLUDED from ranking and from n (the SQL
        # percentile convention approx_percentile already follows — Spark
        # would otherwise rank NULLs FIRST and shift both thresholds onto
        # wrong rows); NULL-value rows pass through with clipped = NULL
        ranked = _exact_rank(
            base.where(F.col("value").isNotNull()), ["value", "id"], by=["grp"]
        )
        lo_rn = _ppm_target(str(int(round(lower_pct * 1_000_000))), "__N")
        hi_rn = _ppm_target(str(int(round(upper_pct * 1_000_000))), "__N")
        bounds = (
            ranked.where((F.col("__rank") == lo_rn) | (F.col("__rank") == hi_rn))
            .groupBy("grp")
            .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        )
    else:
        bounds = base.groupBy("grp").agg(
            F.expr(f"approx_percentile(value, {lower_pct}, 10000)").alias("lo"),
            F.expr(f"approx_percentile(value, {upper_pct}, 10000)").alias("hi"),
        )
    return (
        # left join: an all-NULL group has no bounds row but its rows
        # still pass through (value NULL -> clipped NULL)
        base.join(F.broadcast(bounds), "grp", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("grp").alias(group_col),
            "value",
            # guarded: Spark's greatest/least IGNORE NULL operands, so the
            # bare clip would turn a NULL value into the lower bound
            F.when(
                F.col("value").isNotNull(),
                F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")),
            ).alias("clipped"),
        )
    )


def rolling_time_mean(
    df: DataFrame,
    id_col: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_s: int,
    precision: int = 6,
) -> DataFrame:
    """Trailing time-RANGE moving mean per key: for every row, the mean of
    ``value_col`` over the key's rows in the last ``window_s`` seconds
    (inclusive of the current row) — the time-series smoothing window
    (7-day user averages, hourly sensor rollups) that a ROWS frame cannot
    express when event spacing is irregular.

    The frame is a RANGE window over integer epoch MICROSECONDS, so frame
    membership is exact integer arithmetic (no timestamp-precision or
    timezone drift between engines), and tied timestamps are peers in any
    engine. The mean rounds via exact integer half-away arithmetic on the
    scale-``precision`` frame sum (functions/exact.py — the
    double-quotient ROUND diverges between engines on ties one decimal
    past the precision), so it is identical under any partitioning and
    engine. One shuffle, keyed by ``key_col``; at 100 TB the same frame
    rides the shuffle that any per-key window already pays, and a skewed
    key is bounded by its time span, not corpus size.

    Returns (id, key, ts_us, value, mean) with ts as epoch micros.
    """
    from pyspark.sql.window import Window

    from chess_lakehouse_spark.functions.exact import mean_scaled

    ts_us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_us.asc())
        .rangeBetween(-window_s * 1_000_000, 0)
    )
    # split-sum frame accumulation (the functions/exact.py pattern): the
    # scaled-long element splits as hi·2²⁰ + lo in two's complement, each
    # half frame-sums as a PRIMITIVE long (the r12 first cut summed
    # DECIMAL(38,0) frames directly — exact but BigDecimal-per-row,
    # measured ~3× on the gated rolling_avg), and the halves recombine in
    # DECIMAL(38,0) once per row. A plain BIGINT frame sum aborts under
    # ANSI past ~9.2e12 value units of window mass (the r11-ADVICE
    # class); the split ceilings are ~10⁶× higher (2⁴³ frame rows /
    # ~10¹⁹ value units per frame), still loud if ever crossed.
    v = (
        F.col(value_col).cast(f"decimal(18,{precision})") * (10**precision)
    ).cast("long")
    staged = df.select(
        F.col(id_col),
        F.col(key_col),
        ts_us.alias("ts_us"),
        F.col(value_col).alias("value"),
        (
            F.sum(F.shiftright(v, 20)).over(w).cast("decimal(38,0)")
            * F.lit(1 << 20).cast("decimal(38,0)")
            + F.sum(v.bitwiseAND(F.lit((1 << 20) - 1)))
            .over(w)
            .cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("_s"),
        # count the VALUE column, not lit(1): the frame sum skips NULL
        # values, so counting NULL-value rows would understate the mean —
        # this is SQL AVG's null convention
        F.count(F.col(value_col)).over(w).alias("_n"),
    )
    return staged.select(
        id_col,
        key_col,
        "ts_us",
        "value",
        # all-NULL frame: n = 0 -> mean NULL (guarded — integer DIV by a
        # zero count is an ANSI-mode job abort, not a NULL)
        F.when(
            F.col("_n") > 0, mean_scaled("_s", "_n", precision)
        ).alias("mean"),
    )


#: Integer epoch-day divisor (micros per day) shared with the oracle SQL.
_US_PER_DAY = 86_400_000_000


def activity_streaks(
    df: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Gaps-and-islands: per key, maximal runs of CONSECUTIVE active days
    (a day with >= 1 event) — retention streaks, sensor-uptime runs.

    Classic islands construction kept engine-exact: activity days are
    integer epoch days (``unix_micros div us_per_day`` — integer division,
    never a cast of a float quotient), and the island id is
    ``day - row_number()`` per key, constant exactly within a consecutive
    run. Plan: one distinct on (key, day) — map-combined, collapses the
    raw event volume first — then one window + one aggregate on the same
    key partitioning (a single shuffle reused by all three steps).

    Returns (key, start_day, streak_days) with start_day as epoch day.
    """
    from pyspark.sql.window import Window

    days = (
        df.where(F.col(ts_col).isNotNull())  # a NULL ts is not activity on
        # any day — it would otherwise emit a bogus (key, NULL, 1) streak
        .select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros({ts_col}) div {_US_PER_DAY}").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("key").orderBy(F.col("day").asc())
    islands = days.withColumn("island", F.col("day") - F.row_number().over(w))
    return (
        islands.groupBy("key", "island")
        .agg(F.min("day").alias("start_day"), F.count(F.lit(1)).alias("streak_days"))
        .select(F.col("key").alias(key_col), "start_day", "streak_days")
    )


#: Working columns of :func:`_exact_rank`; the ``weight`` form adds the
#: second set. Every operator built on the kernel reserves them.
_RANK_COLS = ("__pid", "__r", "__n", "__off", "__rank", "__N")
_WEIGHT_COLS = ("__lw", "__pw", "__ow", "__cw", "__tw")


def _check_reserved(fn: str, df: DataFrame, *names: str) -> None:
    """The one reserved-name guard: the working columns an operator adds,
    and its named outputs, must be free in its input."""
    clash = set(names) & set(df.columns)
    if clash:
        raise ValueError(
            f"{fn}: input carries reserved column(s) {sorted(clash)}"
            " (working columns, or an out_col the call adds)"
        )


def _exact_rank(
    df: DataFrame,
    order: Sequence[str],
    by: Sequence[str] | None = None,
    weight: str | None = None,
) -> DataFrame:
    """The exact-rank kernel under every order-statistics operator here.

    Attaches ``__rank`` (long, 1-based, over the ``order`` columns
    ascending) and ``__N`` (long, rows in the population). Given a long
    ``weight`` column it also attaches ``__cw``, the running weight with
    this row included, and ``__tw``, the total weight. When ``order`` is
    a unique key, rank and running weight do not depend on the
    partitioning; with ties, tied rows take the distinct ranks of their
    positions in SOME order (any value-at-rank or bucket-of-rank
    derivation is still deterministic).

    ``by`` form: one group-keyed window. Groups parallelize across the
    cluster, so the per-group sort IS the distributed plan.

    Global form: the distributed sort-rank plan, never Spark's
    single-partition global-sort window. Range-repartition on the order
    (every partition sorts independently), per-partition ``row_number``
    and running weight, plus one broadcast |partitions|-row frame of each
    partition's offsets (rows and weight in all earlier partitions) and
    the totals. Two full-data shuffles: the range exchange and the
    pid-hash for the window; everything else is constant-size.

    The ranged frame is materialized through an EAGER ``localCheckpoint``
    (the pagerank discipline): the offsets and the rank branch read ONE
    fixed snapshot, so correctness never depends on Catalyst's
    exchange-reuse rule deduplicating two instances of a sampled range
    exchange; independent evaluations could draw different partitioner
    boundaries and desynchronize the offsets from ``__pid``. A
    ``FrameScope.own`` cache would not do: cache substitution happens at
    action time, so a scope collected with an intermediate frame reopens
    the hole, while the checkpointed RDD is referenced structurally by
    every derived plan."""
    from pyspark.sql.window import Window

    ordered = [F.col(c).asc() for c in order]
    running = (Window.unboundedPreceding, Window.currentRow)
    if by:
        w = Window.partitionBy(*by).orderBy(*ordered)
        group = Window.partitionBy(*by)
        cols = {"__rank": F.row_number().over(w), "__N": F.count(F.lit(1)).over(group)}
        if weight:
            cols["__cw"] = F.sum(weight).over(w.rowsBetween(*running))
            cols["__tw"] = F.sum(weight).over(group)
        return df.select("*", *[c.cast("long").alias(n) for n, c in cols.items()])
    ranged = (
        df.repartitionByRange(*ordered)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w = Window.partitionBy("__pid").orderBy(*ordered)
    local = [F.row_number().over(w).cast("long").alias("__r")]
    per_pid = [F.count(F.lit(1)).alias("__n")]
    if weight:
        local.append(F.sum(weight).over(w.rowsBetween(*running)).cast("long").alias("__lw"))
        per_pid.append(F.sum(weight).alias("__pw"))
    # |partitions| rows, so the unpartitioned windows are a constant-size
    # driver-free cumsum, not a data-volume sort
    before = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    every = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    def offset_and_total(part: str, off: str, total: str) -> list[Column]:
        return [
            F.coalesce(F.sum(part).over(before), F.lit(0)).cast("long").alias(off),
            F.sum(part).over(every).cast("long").alias(total),
        ]

    offs = ranged.groupBy("__pid").agg(*per_pid).select(
        "__pid",
        *offset_and_total("__n", "__off", "__N"),
        *(offset_and_total("__pw", "__ow", "__tw") if weight else []),
    )
    out = (
        ranged.select("*", *local)
        .join(F.broadcast(offs), "__pid")
        .withColumn("__rank", F.col("__off") + F.col("__r"))
    )
    if weight:
        out = out.withColumn("__cw", F.col("__ow") + F.col("__lw"))
    return out.drop("__pid", "__r", "__off", "__lw", "__ow")


def _ppm_of_rank(rank: str, n: str) -> Column:
    """``((rank - 1) * 1_000_000) div (n - 1)``: SQL percent_rank's
    (rank-1)/(N-1) in exact integer millionths, so no float-division
    boundary exists between engines; a single-row population is 0
    (percent_rank's own convention, and the ANSI-safe guard for the N-1
    divisor). Guarded fast path: rank ≤ N, so the ×10⁶ product fits
    BIGINT whenever N ≤ 9e12, and every realistic frame takes the
    pure-long branch (CASE branches evaluate lazily in codegen); past it
    the DECIMAL(38,0) branch keeps the overflow class safe with identical
    values (div is floor in both forms)."""
    return (
        F.when(F.col(n) <= 1, F.lit(0).cast("long"))
        .when(
            F.col(n) <= 9_000_000_000_000,
            F.expr(f"(({rank} - 1) * 1000000) div ({n} - 1)"),
        )
        .otherwise(
            F.expr(
                f"CAST((CAST({rank} - 1 AS DECIMAL(38,0)) * 1000000)"
                f" div ({n} - 1) AS BIGINT)"
            )
        )
    )


def global_sort_rank(df: DataFrame, order_cols: Sequence[str]) -> DataFrame:
    """Exact 1-based global rank over the ``order_cols`` ascending total
    order: the global form of :func:`_exact_rank` (range partition +
    per-partition ``row_number`` + broadcast offsets, never a
    single-partition sort). Returns the input columns plus ``__N`` (long,
    total rows) and ``__rank`` (long, 1-based). Reserved working names
    must be free."""
    _check_reserved("global_sort_rank", df, *_RANK_COLS)
    return _exact_rank(df, order_cols)


def global_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "cum",
    rank_col: str = "pos",
) -> DataFrame:
    """Exact global running integer sum of ``value_col`` over the
    ``order_cols`` ascending total order, plus the 1-based global rank —
    for 'cumulative tokens in training order' style cuts: the weighted
    global form of :func:`_exact_rank`, never a single-partition
    global-sort window. ``order_cols`` must be a total order (unique-key
    tie-break) or the running sum at tied keys is partitioner-dependent.
    Values are cast to long (exact integer masses — tokens, chars,
    bytes); NULL values count as 0. Returns the input columns plus
    ``rank_col`` and ``out_col`` (long)."""
    _check_reserved(
        "global_prefix_sum", df, *_RANK_COLS, *_WEIGHT_COLS, "__v", rank_col, out_col
    )
    ranked = _exact_rank(
        df.withColumn("__v", F.coalesce(F.col(value_col).cast("long"), F.lit(0))),
        order_cols,
        weight="__v",
    )
    return ranked.select(
        *df.columns, F.col("__rank").alias(rank_col), F.col("__cw").alias(out_col)
    )


def _ppm_target(ppm: str, total: str) -> Column:
    """``max(1, ceil(ppm · total / 10⁶))`` for SQL expressions ``ppm`` (a
    fraction in integer millionths) and ``total`` (a LONG count or
    weight): the 1-based rank, or running weight, a fraction of a
    population reaches. Exact integer arithmetic, so both engines cut at
    identical positions with no float boundary (``ceil(100 * 0.55)`` is
    56 in IEEE doubles).

    Overflow-free LONG arithmetic via the exact split identity
    (W = a·10⁶ + b): (p·W + 999999) div 10⁶ = p·a + (p·b + 999999) div
    10⁶ — the first term is a multiple of 10⁶ inside the div, so the
    identity is exact; both products stay below 2⁶³ for EVERY W < 2⁶³
    (p·a ≤ W; p·b < 10¹²). A total weight is often a token/char mass
    that passes the BIGINT ×10⁶ abort point (~9.2e12) at ~9 TB; a
    DECIMAL ride would be exact too, but evaluated per (row × quantile)
    it measured 2.7-3.4× slower on the gated quantile queries. The
    oracles keep their HUGEINT form: values are identical."""
    return F.greatest(
        F.lit(1).cast("long"),
        F.expr(
            f"{ppm} * ({total} div 1000000)"
            f" + ({ppm} * ({total} % 1000000) + 999999) div 1000000"
        ),
    )


def _quantile_pick(
    fn: str,
    df: DataFrame,
    value_col: str,
    qs: Sequence[float],
    by: Sequence[str] | None,
    weight_col: str | None = None,
) -> DataFrame:
    """Value at the first row, in value-ascending order, whose running
    weight reaches ``t = ceil(q * W)`` (W = total weight), floored at 1:
    the pick under both :func:`exact_quantiles` (unit weight: the running
    weight is the rank and W is N) and :func:`weighted_quantiles`.

    q is carried as integer millionths and the target is exact integer
    arithmetic, so both engines cut at identical positions with no float
    boundary. Rows with a NULL value are excluded (the SQL percentile
    convention: counting them would shift every rank, and Spark's
    ascending sort ranks them FIRST where DuckDB ranks them last); with a
    weight, so are NULL, zero and negative weights. Ties in the value
    column cannot change the selected VALUE: the target either falls
    inside a tie group's running range or outside it entirely. Returns
    ``(*by, q_ppm bigint, value)``, one row per (group × quantile); an
    empty input (or group) yields no rows."""
    if not qs:
        raise ValueError(f"{fn}: qs must be non-empty")
    ppms = []
    for q in qs:
        p = int(round(float(q) * 1_000_000))
        if not 0 < p <= 1_000_000:
            raise ValueError(f"{fn}: q must be in (0, 1], got {q}")
        ppms.append(p)
    if len(set(ppms)) != len(ppms):
        raise ValueError(f"{fn}: duplicate quantiles in {list(qs)}")
    _check_reserved(fn, df, *_RANK_COLS, *_WEIGHT_COLS, "__w", "q_ppm")
    gcols = list(by) if by else []
    pts = df.where(F.col(value_col).isNotNull())
    if weight_col:
        w = F.col(weight_col).cast("long")
        pts = pts.where(w.isNotNull() & (w > 0)).select(*gcols, value_col, w.alias("__w"))
        pos, total, step = F.col("__cw"), "__tw", F.col("__w")
    else:
        pts = pts.select(*gcols, value_col)
        pos, total, step = F.col("__rank"), "__N", F.lit(1)
    ranked = _exact_rank(pts, [value_col], gcols, "__w" if weight_col else None)
    tgt = _ppm_target("q_ppm", total)
    # the target falls in exactly ONE row's interval (pos - step, pos]
    # per group × q: broadcast the |qs|-row frame in and filter — |qs|
    # rows per group out, no aggregation. (crossJoin-then-filter rather
    # than a conditioned join: Spark 4's join-condition resolver flags
    # the reused per-partition lineage as ambiguous when the condition's
    # F.expr references both sides; the filter plans to the same
    # BroadcastNestedLoopJoin.)
    qdf = local_df(df.sparkSession, [(p,) for p in ppms], "q_ppm long")
    return (
        ranked.crossJoin(F.broadcast(qdf))
        .where((pos >= tgt) & (pos - step < tgt))
        .select(*gcols, "q_ppm", F.col(value_col).alias("value"))
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: Sequence[float],
    by: Sequence[str] | None = None,
) -> DataFrame:
    """EXACT quantile values (discrete / lower-rank definition: the value
    at rank ``ceil(q * N)``, rank 1-based ascending, floored at 1) — the
    scale-safe twin of a sort-and-pick, by :func:`_quantile_pick` with
    unit weight over :func:`_exact_rank` (global: range partition +
    offset ranks, no single-partition sort; ``by``: one group window).
    NULL values are excluded from N and from ranking; a group that is
    all-NULL yields no rows.

    Returns ``(*by, q_ppm bigint, value)`` — one row per (group ×
    quantile); empty input (or empty group) yields no rows."""
    return _quantile_pick("exact_quantiles", df, value_col, qs, by)


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: Sequence[float],
    by: Sequence[str] | None = None,
) -> DataFrame:
    """EXACT weighted quantiles (lower / discrete definition): the value
    at the first row, in value-ascending order, whose CUMULATIVE weight
    reaches ``ceil(q * W)`` (W = total weight) — the weighted twin of
    :func:`exact_quantiles`, for "median document by TOKEN mass" /
    compute-budget percentile questions where a row's importance is its
    weight, not its existence.

    Exactness contract: weights must be POSITIVE INTEGERS (cast to
    long), so running sums and the target are exact integer arithmetic
    (see :func:`_quantile_pick`). Rows with NULL value, NULL weight, or
    weight <= 0 are EXCLUDED (a zero-weight row cannot carry a quantile;
    negative weights have no quantile semantics). Plan: the weighted form
    of :func:`_exact_rank`; the running weight is strictly increasing
    (weights >= 1), so exactly one row per target is picked. Returns
    ``(*by, q_ppm bigint, value)``; empty input (or group) yields no
    rows."""
    return _quantile_pick("weighted_quantiles", df, value_col, qs, by, weight_col)


def _ntile_bucket_expr(nb: int) -> Column:
    """Bucket label from the exact 1-based ``__rank`` over ``__N`` rows —
    the integer ntile formula (q = N div n, r0 = N mod n: the first r0
    buckets hold q+1 rows)."""
    q, r0 = f"(__N div {nb})", f"(__N % {nb})"
    return F.expr(
        f"CASE WHEN __rank <= {r0} * ({q} + 1) THEN (__rank + {q}) div ({q} + 1)"
        f" ELSE {r0} + (__rank - {r0} * ({q} + 1) + greatest({q}, 1) - 1)"
        f" div greatest({q}, 1) END"
    ).cast("int")


def score_buckets(
    df: DataFrame,
    id_col: str,
    score_col: str,
    n_buckets: int = 10,
    exact: bool = True,
    by: Sequence[str] | None = None,
) -> DataFrame:
    """Global score stratification: every row tagged with its quantile
    bucket (1..n_buckets) — the 'quality deciles' step of corpus curation.

    ``exact=True`` (the default, and the oracle form): engine-exact
    ``ntile`` semantics over the (score, id) total order — but computed
    DISTRIBUTED, never as Spark's native single-partition global-sort
    window: the exact rank comes from :func:`_exact_rank` (range
    partition + offset ranks), and the bucket falls out of the integer
    ntile formula (q = N div n, r0 = N mod n: the first r0 buckets hold
    q+1 rows). The (score, id) key is unique, so the rank — and
    therefore every bucket label — is independent of where the range
    partitioner draws its boundaries. All arithmetic is integer
    (div/%), so the result is bit-identical to a single-partition ntile
    and to the DuckDB oracle, at two full-data shuffles instead of one
    un-scalable one.
    ``exact=False`` is the cheaper one-pass path: the n-1 cut points
    come from ONE ``approx_percentile`` aggregate (no shuffle of the
    data at all), ship as a 1-row broadcast, and the bucket is a
    map-side count of cut points below the score. Bucket populations
    then deviate only by the sketch's ~1e-4 relative rank error; ties
    at a cut point go to the upper bucket deterministically.

    ``by`` stratifies WITHIN each group (per-source quality quartiles):
    the exact form ranks with the kernel's group window (no range
    exchange needed) and applies the same integer ntile
    formula against the group's own N; the approx form computes one
    ``approx_percentile`` cut array per group and joins it back. Group
    columns must not contain NULL-sensitive surprises: NULL group keys
    form their own group (standard groupBy semantics).

    Returns the input columns plus ``bucket`` (int).
    """
    if n_buckets < 1:
        raise ValueError(f"score_buckets: n_buckets must be >= 1, got {n_buckets}")
    if exact:
        nb = int(n_buckets)
        # a pre-existing 'bucket' column is REPLACED (the old native-ntile
        # form's withColumn semantics); it re-lands as the LAST column
        keep = [c for c in df.columns if c != "bucket"]
        df = df.drop("bucket") if "bucket" in df.columns else df
        # NULL scores cannot be ranked: they bucket as NULL and are
        # EXCLUDED from N (Spark would otherwise rank them FIRST into
        # bucket 1 and shift every boundary — and DuckDB, sorting NULLS
        # LAST, would put the same rows in bucket n)
        nulls = df.where(F.col(score_col).isNull()).select(
            *keep, F.lit(None).cast("int").alias("bucket")
        )
        _check_reserved("score_buckets", df, *_RANK_COLS)
        ranked = _exact_rank(
            df.where(F.col(score_col).isNotNull()), [score_col, id_col], by
        )
        return nulls.unionByName(
            ranked.select(*keep, _ntile_bucket_expr(nb).alias("bucket"))
        )
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bucket_of = F.when(
        # NULL score -> NULL bucket (matching the exact path; the bare
        # filter-count would silently assign NULL scores to bucket 1)
        F.col(score_col).isNotNull(),
        F.lit(1) + F.size(F.filter(F.col("cuts"), lambda c: c < F.col(score_col))),
    ).cast("int")
    if by:
        gcols = list(by)
        cuts = df.groupBy(*gcols).agg(
            F.expr(f"approx_percentile({score_col}, array({qs}), 10000)").alias(
                "cuts"
            )
        ).select(
            *[F.col(g).alias(f"__g{i}") for i, g in enumerate(gcols)], "cuts"
        )
        # NULL-safe equi-join: the groupBy emits a NULL-group cuts row, so
        # a plain equi-join would hand NULL-group rows cuts=NULL → bucket
        # NULL while the exact path buckets them normally (r11 ADVICE).
        # |groups| rows; un-hinted join so AQE broadcasts when small and
        # shuffles when the group-key cardinality is itself at scale
        cond = reduce(
            lambda a, b: a & b,
            [
                df[g].eqNullSafe(F.col(f"__g{i}"))
                for i, g in enumerate(gcols)
            ],
        )
        return (
            df.join(cuts, cond, "left")
            .withColumn("bucket", bucket_of)
            .drop("cuts", *[f"__g{i}" for i in range(len(gcols))])
        )
    cuts = df.agg(
        F.expr(f"approx_percentile({score_col}, array({qs}), 10000)").alias("cuts")
    )
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumn("bucket", bucket_of)
        .drop("cuts")
    )


def global_percent_rank(
    df: DataFrame, order_cols: Sequence[str], out_col: str = "pct_ppm"
) -> DataFrame:
    """Deterministic global percent-rank in EXACT integer millionths —
    the score-calibration / quantile-normalization pass (map every score
    to its corpus position in [0, 1_000_000]): ``ppm = ((rank - 1) *
    1_000_000) div (N - 1)`` (:func:`_ppm_of_rank`), N = 1 defined as 0.

    The caller makes ``order_cols`` a UNIQUE total order (append an id
    column): classic percent_rank SHARES ranks across ties, while this
    form ranks tied rows consecutively — with a unique key the two
    definitions coincide and the output is partition-invariant. NULL
    ordering keys are the caller's concern: they rank FIRST (Spark ASC
    NULLS FIRST) — filter them out beforehand if the SQL-percentile
    convention is wanted.

    Rides the global form of :func:`_exact_rank` (never a
    single-partition global sort), so the plan survives 100 TB. Returns
    the input columns plus ``out_col`` (long)."""
    _check_reserved("global_percent_rank", df, *_RANK_COLS, out_col)
    ranked = _exact_rank(df, order_cols)
    return ranked.select(*df.columns, _ppm_of_rank("__rank", "__N").alias(out_col))


def robust_zscore_flags(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] | None = None,
    k: float = 3.0,
    out_col: str = "is_outlier",
) -> DataFrame:
    """Median/MAD robust outlier flags — the Hampel-identifier form of
    the robust z-score (Iglewicz & Hoaglin 1993 class, threshold applied
    to the raw deviation): a row flags when ``|x − med| > k · MAD`` with
    ``med`` the group median and ``MAD = median(|x − med|)``. Unlike the
    classic z-score (q_event_outliers), a single extreme row cannot mask
    itself by inflating the stddev — median and MAD have a 50% breakdown
    point.

    Cross-engine determinism: both medians are EXACT DISCRETE quantiles
    (value at rank ceil(N/2) via :func:`exact_quantiles` — actual data
    values / single-subtraction deviations, never interpolated), and
    ``|x − med|`` / ``k·MAD`` are single correctly-rounded IEEE ops on
    identical doubles, so the flag is bit-deterministic in Spark and the
    SQL oracle. NULL values flag NULL and are excluded from med/MAD
    (the exact_quantiles convention); an all-NULL group has no med row,
    so its rows flag NULL too.

    Scale shape: two exact_quantiles passes (per-group windows — groups
    parallelize; the global form rides the distributed sort-rank) plus
    two UN-hinted equi-joins on the group key (AQE broadcasts the
    |groups|-row med/MAD frames when small, shuffles when the key
    cardinality is itself at scale). Nothing is all-pairs or
    driver-materialized. Returns the input columns plus ``med``,
    ``mad`` (double) and ``out_col`` (boolean)."""
    gcols = list(by) if by else []
    clash = (
        {"med", "mad", out_col, "__dev", "__j"} | {f"__j_{c}" for c in gcols}
    ) & set(df.columns)
    if clash:
        raise ValueError(
            f"robust_zscore_flags: input carries reserved column(s) "
            f"{sorted(clash)}"
        )
    val = F.col(value_col)

    def _median(frame: DataFrame, col: str, alias: str) -> DataFrame:
        m = exact_quantiles(frame, col, [0.5], by=gcols or None)
        return m.select(*gcols, F.col("value").alias(alias))

    def _attach(frame: DataFrame, small: DataFrame) -> DataFrame:
        if gcols:
            # NULL-safe key equality: a NULL group has a med/MAD row
            # like any other (exact_quantiles groups NULLs together);
            # the NULL-unsafe form silently left its rows with NULL
            # flags (r13 NULL-group sweep,
            # tests/test_null_group_contracts.py)
            sm = small
            for c in gcols:
                sm = sm.withColumnRenamed(c, f"__j_{c}")
            cond = None
            for c in gcols:
                e = frame[c].eqNullSafe(sm[f"__j_{c}"])
                cond = e if cond is None else (cond & e)
            return frame.join(sm, cond, "left").drop(
                *[f"__j_{c}" for c in gcols]
            )
        # global form: constant-key LEFT join (not a crossJoin — an
        # empty med frame from an all-NULL input must keep every row
        # with a NULL median, not drop the corpus)
        return (
            frame.withColumn("__j", F.lit(1))
            .join(F.broadcast(small.withColumn("__j", F.lit(1))), "__j", "left")
            .drop("__j")
        )

    med = _median(df.select(*gcols, value_col), value_col, "med")
    with_med = _attach(df, med)
    dev = with_med.withColumn("__dev", F.abs(val - F.col("med")))
    mad = _median(dev.select(*gcols, "__dev"), "__dev", "mad")
    with_mad = _attach(dev, mad)
    flag = F.when(
        val.isNull() | F.col("med").isNull() | F.col("mad").isNull(),
        F.lit(None).cast("boolean"),
    ).otherwise(F.col("__dev") > F.lit(float(k)) * F.col("mad"))
    return with_mad.select(*df.columns, "med", "mad", flag.alias(out_col))


def pareto_frontier_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Rows on the 2-D Pareto frontier (skyline, Börzsönyi et al. ICDE
    2001): every row NOT weakly dominated — ``p`` dominates ``q`` iff
    ``p.x >= q.x`` AND ``p.y >= q.y`` with strict inequality in at least
    one coordinate. The multi-objective selection pass of corpus
    curation ("keep the documents no other document beats on BOTH
    quality axes"); exact duplicates of a frontier point all survive
    (equal points do not dominate each other). Rows with a NULL in
    either coordinate are EXCLUDED (incomparable).

    Plan — never the naive all-pairs dominance test:

    1. ``groupBy(x).max(y)`` (one map-combined shuffle): every same-x
       row below its x's max y is dominated by that max (x equal, y
       strictly greater), so only the |distinct x|-row ``best`` frame
       continues.
    2. Distributed EXCLUSIVE prefix-max of y over x DESCENDING on the
       best frame — the :func:`_exact_rank` range skeleton generalized
       from prefix-count to prefix-max: range repartition on x desc
       (+ eager localCheckpoint so offsets and rows read ONE fixed
       partitioning), per-partition exclusive running max, plus a
       broadcast |partitions|-row exclusive cummax of per-partition
       maxima. A surviving x is one whose best y exceeds every y at
       strictly greater x: ``y > prefix_max`` (prefix NULL = no
       greater-x row = survives). No single-partition sort anywhere.
    3. One semi-join of the input on the surviving (x, y) pairs —
       frontier-sized build side.

    Returns the input columns, frontier rows only."""
    _check_reserved(
        "pareto_frontier_2d", df, "__pid", "__lm", "__pm", "__om", "__gm", "__x", "__y"
    )
    from pyspark.sql.window import Window

    pts = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    best = pts.groupBy(F.col(x_col).alias("__x")).agg(
        F.max(y_col).alias("__y")
    )
    ranged = (
        best.repartitionByRange(F.col("__x").desc())
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_loc = (
        Window.partitionBy("__pid")
        .orderBy(F.col("__x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = ranged.withColumn("__lm", F.max("__y").over(w_loc))
    pmax = ranged.groupBy("__pid").agg(F.max("__y").alias("__pm"))
    # exclusive cummax over the |partitions|-row maxima frame — the
    # constant-size unpartitioned window of the sort-rank skeleton
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = pmax.select("__pid", F.max("__pm").over(w_off).alias("__om"))
    sky = (
        loc.join(F.broadcast(offs), "__pid")
        # greatest() skips NULLs: NULL prefix on both sides = first row
        .withColumn("__gm", F.greatest("__lm", "__om"))
        .where(F.col("__gm").isNull() | (F.col("__y") > F.col("__gm")))
        .select("__x", "__y")
    )
    # un-hinted equi-semi-join: the frontier is usually tiny (AQE
    # broadcasts it), but an adversarial anti-correlated input makes it
    # |distinct x|-sized — the shuffle path must stay available
    return pts.join(
        sky,
        (F.col(x_col) == F.col("__x")) & (F.col(y_col) == F.col("__y")),
        "left_semi",
    )


def funnel(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: Sequence[str],
    within_seconds: int | None = None,
) -> DataFrame:
    """Ordered-step funnel (the standard product-analytics progression
    count, first-occurrence / strict-order semantics): a user reaches
    step k at the EARLIEST event of type ``steps[k]`` STRICTLY after
    their step-(k-1) time (same-instant events do not advance the
    funnel — the documented tie contract), with the optional
    ``within_seconds`` window anchored at the user's FIRST-step time
    (the "complete the funnel within T of entry" definition, compared in
    exact integer microseconds). Returns one row per step:
    ``(step_idx, step, n_users)`` with ``n_users`` monotonically
    non-increasing.

    Scale shape: K-1 user-keyed joins + K-1 map-combined groupBys (K =
    |steps|, a small constant), each bounded by the per-step event slice
    — the type filter pushes to the scan, nothing is all-pairs, and the
    final count is ONE union of |users|-sized frames through one
    map-combined aggregation. Skewed power users are absorbed by the
    per-user min() combiner. SQL-expressible — oracle-gated as
    `q_funnel` (suite/llm.py)."""
    if len(steps) < 2:
        raise ValueError(f"funnel: need at least 2 steps, got {list(steps)}")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel: steps must be distinct, got {list(steps)}")
    u, t = F.col(user_col), F.col(ts_col)
    cur = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_step"))
        .withColumn("t_first", F.col("t_step"))
    )
    frames = [cur]
    for s in steps[1:]:
        nxt = events.where(F.col(type_col) == s).select(
            u.alias("__u"), t.alias("__t")
        )
        cond = F.col("__t") > F.col("t_step")
        if within_seconds is not None:
            cond = cond & (
                F.unix_micros(F.col("__t"))
                <= F.unix_micros(F.col("t_first"))
                + F.lit(int(within_seconds) * 1_000_000)
            )
        cur = (
            nxt.join(cur, nxt["__u"] == cur[user_col])
            .where(cond)
            .groupBy(user_col, "t_first")
            .agg(F.min("__t").alias("t_step"))
            .select(user_col, "t_step", "t_first")
        )
        frames.append(cur)
    tagged = reduce(
        lambda a, b: a.unionByName(b),
        [
            f.select(
                F.lit(i + 1).alias("step_idx"),
                F.lit(s).alias("step"),
                F.col(user_col),
            )
            for i, (s, f) in enumerate(zip(steps, frames))
        ],
    )
    # each frame holds one row per user, so count(*) is the user count;
    # right-join the K-row step table so a step NO user reaches still
    # emits its n_users = 0 row (the one-row-per-step contract — and the
    # oracle's aggregate-without-GROUP-BY shape, which always emits)
    step_rows = local_df(
        events.sparkSession,
        [(i + 1, s) for i, s in enumerate(steps)], "step_idx int, step string"
    )
    counts = tagged.groupBy("step_idx", "step").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return counts.join(step_rows, ["step_idx", "step"], "right").select(
        "step_idx", "step", F.coalesce("n_users", F.lit(0).cast("long")).alias("n_users")
    )


def gapfill_series(
    df: DataFrame,
    series_col: str,
    bucket_col: str,
    value_cols: Sequence[str],
    step: int,
) -> DataFrame:
    """Time-series gap fill (the hypertable ``time_bucket_gapfill`` /
    LOCF shape): complete each series' integer bucket grid from its own
    min to max in ``step`` increments, mark the generated rows
    (``is_filled``), and forward-fill every value column with the last
    observed value (a series' leading gaps stay NULL — there is nothing
    to carry). Buckets must be exact multiples of a shared grid (e.g.
    :func:`~chess_lakehouse_spark.operators.rollup.time_bucket` output) —
    off-grid buckets raise, because silently absorbing them would
    double-count observations into neighbors.

    Scale shape: the grid explode is |series| × range/step rows — the
    OUTPUT size, irreducible; the join back is keyed on (series, bucket);
    the fill is one window per series, shuffling once on the series key.
    A single monster series concentrates its grid in one task — chunk
    the bucket range into sub-partitions upstream if one series spans
    years at second granularity (the same skew note as the hot-URL
    groupBy, SCALE.md)."""
    from pyspark.sql.window import Window

    if step <= 0:
        raise ValueError(f"gapfill_series: step must be positive, got {step}")
    # one aggregated pass validates AND computes bounds (a separate
    # limit(1) probe would add a full input scan); NULL buckets count as
    # off-grid too — `NULL % step != 0` is NULL, and letting them through
    # would silently DROP the observation at the grid join instead of
    # raising
    bad = (F.col(bucket_col).isNull()) | (
        (F.col(bucket_col) % F.lit(step)) != 0
    )
    bounds = df.groupBy(series_col).agg(
        F.min(bucket_col).alias("__lo"),
        F.max(bucket_col).alias("__hi"),
        F.count(F.when(bad, 1)).alias("__bad"),
    )
    n_bad = bounds.agg(F.sum("__bad")).first()[0] or 0
    if n_bad:
        raise ValueError(
            f"gapfill_series: {n_bad} row(s) have {bucket_col} NULL or not "
            f"a multiple of step={step} — bucket upstream first"
        )
    grid = bounds.select(
        series_col,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step))).alias(
            bucket_col
        ),
    )
    joined = grid.join(
        df.withColumn("__obs", F.lit(True)), [series_col, bucket_col], "left"
    )
    w = (
        Window.partitionBy(series_col)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = joined.withColumn("is_filled", F.col("__obs").isNull()).drop("__obs")
    for v in value_cols:
        out = out.withColumn(v, F.last(F.col(v), ignorenulls=True).over(w))
    return out


def integer_zscore_flags(
    df: DataFrame,
    series_col: str,
    bucket_col: str,
    n_col: str,
    window: int = 24,
    k2: int = 9,
) -> DataFrame:
    """EXACT anomaly flags over integer count series — the trailing
    z-score test with the float entirely algebra'd away: with window sums
    ``s = Σx``, ``ss = Σx²`` over the ``window`` buckets STRICTLY BEFORE
    the current one (the point never contaminates its own baseline),

        |x - s/w| > k·σ   ⇔   (w·x - s)² > k²·(w·ss - s²)

    so the flag is ONE integer comparison — no mean, no sqrt, no
    division: bit-identical on every engine and partitioning, where a
    float z-score rides the documented ROUND-of-transcendental risk.
    ``k2`` is k² (9 ⇔ the classic 3σ). Points whose trailing window is
    not yet FULL score NULL (insufficient baseline ≠ normal). Inputs must
    be integer counts (``n_col`` is cast to long; pre-scale fixed-point
    values upstream if needed — the identity needs exact integers).
    Overflow headroom: |w·x| must stay under ~3·10⁹ for the square to
    fit a long.

    Scale shape: one window per series (one shuffle on the series key),
    everything else rides the scan. Returns
    ``(series, bucket, n, is_anomaly)``."""
    from pyspark.sql.window import Window

    if window < 2:
        raise ValueError(f"integer_zscore_flags: window must be >= 2, got {window}")
    if k2 < 1:
        raise ValueError(f"integer_zscore_flags: k2 must be >= 1, got {k2}")
    x = F.col(n_col).cast("long")
    win = (
        Window.partitionBy(series_col)
        .orderBy(bucket_col)
        .rowsBetween(-window, -1)
    )
    staged = df.select(
        series_col,
        bucket_col,
        x.alias(n_col),
        F.sum(x).over(win).alias("__s"),
        F.sum(x * x).over(win).alias("__ss"),
        F.count(x).over(win).alias("__cnt"),
    )
    w_, s, ss, cnt = F.lit(window), F.col("__s"), F.col("__ss"), F.col("__cnt")
    lhs = (cnt * F.col(n_col) - s) * (cnt * F.col(n_col) - s)
    rhs = F.lit(k2) * (cnt * ss - s * s)
    return staged.select(
        series_col,
        bucket_col,
        n_col,
        F.when(cnt == w_, lhs > rhs).alias("is_anomaly"),
    )


def assign_sessions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    order_col: str,
    gap_s: int = 1800,
    out_col: str = "sess",
) -> DataFrame:
    """Inactivity-gap session ids, single-sourced for every session-grain
    operator (q_sessionize's lag/running-sum shape): appends ``out_col``
    numbering each user's sessions 1..k in time order. BOTH windows use
    the same (ts, order_col) total order, so same-instant ties land in a
    deterministic session — the cross-engine parity requirement. Rows
    with NULL ``ts_col`` are dropped (unorderable, and Spark's NULLS
    FIRST vs DuckDB's NULLS LAST default would diverge the numbering);
    pre-existing ``out_col``/internal-name columns raise. One user-keyed
    shuffle; AQE splits hot users."""
    from pyspark.sql.window import Window

    if gap_s < 1:
        raise ValueError(f"assign_sessions: gap_s must be >= 1, got {gap_s}")
    clash = ({out_col, "__ts_us", "__prev_us", "__is_new"}) & set(df.columns)
    if clash:
        raise ValueError(
            f"assign_sessions: input already has columns {sorted(clash)} — "
            "silent overwrite/drop would lose caller data; rename them first"
        )
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    gap_us = gap_s * 1_000_000
    return (
        # NULL timestamps are DROPPED, loudly documented: they cannot be
        # ordered into a session (and Spark's NULLS FIRST vs the oracles'
        # NULLS LAST would silently diverge the numbering cross-engine)
        df.where(F.col(ts_col).isNotNull())
        .withColumn("__ts_us", F.unix_micros(F.col(ts_col)))
        .withColumn("__prev_us", F.unix_micros(F.lag(ts_col).over(w)))
        .withColumn(
            "__is_new",
            F.when(
                F.col("__prev_us").isNull()
                | ((F.col("__ts_us") - F.col("__prev_us")) > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn(
            out_col,
            F.sum("__is_new").over(
                Window.partitionBy(user_col)
                .orderBy("__ts_us", order_col)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .drop("__ts_us", "__prev_us", "__is_new")
    )


def session_cooccurrence(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    order_col: str,
    type_col: str,
    gap_s: int = 1800,
    min_support: int = 1,
    max_types_per_session: int | None = 10_000,
) -> DataFrame:
    """Market-basket co-occurrence at SESSION grain — the association-rule
    staple over an event stream: which event types appear together within
    a user session (30-min inactivity gap by default), with everything a
    lift/confidence computation needs carried as EXACT integers. Returns
    (type_a, type_b, n_ab, n_a, n_b, n_sessions, lift_ppm, lift_gt_1)
    for pairs with ``n_ab >= min_support``, ``type_a < type_b``:

    - n_ab       sessions containing BOTH types (set, not multiset —
                 a session firing a type 50 times counts once);
    - n_a / n_b  sessions containing each type;
    - n_sessions total sessions;
    - lift_ppm   the association lift in exact MILLIONTHS —
                 ``(10^6 · n_ab · n_sessions) DIV (n_a · n_b)`` computed
                 in DECIMAL(38,0) so the product cannot overflow at any
                 session count; floor division on non-negative operands
                 is bit-identical across engines (the documented DuckDB
                 ``//`` == Spark ``DIV`` boundary);
    - lift_gt_1  the positive-association flag with the float algebra'd
                 away (the integer_zscore_flags trick): lift > 1 ⟺
                 ``n_ab * n_sessions > n_a * n_b``.

    Plan shape: ONE user-keyed window pass assigns session ids (lag gap
    flag + running sum, the q_sessionize shape; AQE splits hot users),
    one distinct collapses to session-type SETS, and pairs expand in the
    ARRAY domain via :func:`~chess_lakehouse_spark.operators.dedup.
    cooccur_pairs` — per-session cost is bounded by the TYPE VOCABULARY
    per session, never the session's event count, so a million-event
    session costs the same as a ten-event one with the same distinct
    types. The three count aggregations are map-combined; the per-type
    and total-session frames are vocabulary-/scalar-sized joins.
    """
    from chess_lakehouse_spark.operators.dedup import cooccur_pairs

    if gap_s < 1:
        raise ValueError(f"session_cooccurrence: gap_s must be >= 1, got {gap_s}")
    if min_support < 1:
        raise ValueError(
            f"session_cooccurrence: min_support must be >= 1, got {min_support}"
        )
    sess = assign_sessions(
        df.select(
            F.col(user_col).alias("u"),
            F.col(type_col).alias("t"),
            F.col(order_col).alias("o"),
            F.col(ts_col).alias("ts"),
        ),
        "u", "ts", "o", gap_s=gap_s,
    )
    st = sess.select("u", "sess", "t").distinct()
    n_a = st.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    n_sessions = st.select("u", "sess").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    pairs = (
        cooccur_pairs(st, ["u", "sess"], "t", max_bucket_size=max_types_per_session)
        .groupBy(F.col("id_a").alias("type_a"), F.col("id_b").alias("type_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_support)
    )
    return (
        pairs.join(n_a.select(F.col("t").alias("type_a"), F.col("n").alias("n_a")), "type_a")
        .join(n_a.select(F.col("t").alias("type_b"), F.col("n").alias("n_b")), "type_b")
        .crossJoin(n_sessions)
        .select(
            "type_a", "type_b", "n_ab", "n_a", "n_b", "n_sessions",
            F.expr(
                "CAST((CAST(n_ab AS DECIMAL(38,0)) * 1000000 * n_sessions)"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
            F.expr(
                "CAST(n_ab AS DECIMAL(38,0)) * n_sessions"
                " > CAST(n_a AS DECIMAL(38,0)) * n_b"
            ).alias("lift_gt_1"),
        )
    )


def event_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    order_col: str,
    type_col: str,
    gap_s: int = 1800,
    min_count: int = 1,
) -> DataFrame:
    """First-order Markov transition counts between event types WITHIN
    sessions — the ordered complement to :func:`session_cooccurrence`
    (co-occurrence asks "together?", transitions ask "what follows
    what?"): consecutive event pairs inside each inactivity-gap session,
    with the row-normalized transition probability carried as EXACT
    integers. Returns (type_from, type_to, n_trans, n_from, p_ppm) for
    transitions with ``n_trans >= min_count``:

    - n_trans  occurrences of the (from → to) adjacency;
    - n_from   all transitions OUT of type_from (the row denominator —
               Σ_to p = 1 up to flooring);
    - p_ppm    the transition probability in exact MILLIONTHS via
               DECIMAL(38,0) floor division (the session_cooccurrence
               lift_ppm discipline — bit-identical across engines on
               non-negative operands, overflow-proof).

    Self-transitions (a → a) are real rows — repeated types are the
    common case in clickstreams. Plan: :func:`assign_sessions` (one
    user-keyed window pass, deterministic tie order) + one lag over the
    SAME total order + two map-combined counts + a vocabulary-sized
    denominator join. Session boundaries never produce a transition (the
    lag restarts per (user, session))."""
    from pyspark.sql.window import Window

    if min_count < 1:
        raise ValueError(
            f"event_transitions: min_count must be >= 1, got {min_count}"
        )
    sess = assign_sessions(
        df.select(
            F.col(user_col).alias("u"),
            F.col(type_col).alias("t"),
            F.col(order_col).alias("o"),
            F.col(ts_col).alias("ts"),
        ),
        "u", "ts", "o", gap_s=gap_s,
    )
    w = Window.partitionBy("u", "sess").orderBy(F.unix_micros("ts"), "o")
    trans = (
        sess.withColumn("type_from", F.lag("t").over(w))
        .where(F.col("type_from").isNotNull())
        .select("type_from", F.col("t").alias("type_to"))
    )
    counts = trans.groupBy("type_from", "type_to").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    # n_from re-aggregates the vocabulary-sized counts frame (computed
    # BEFORE the min_count filter, so row sums stay exact) instead of
    # re-running the sessionize+lag subtree a second time
    n_from = counts.groupBy("type_from").agg(F.sum("n_trans").alias("n_from"))
    return (
        counts.where(F.col("n_trans") >= min_count)
        .join(n_from, "type_from")
        .select(
            "type_from", "type_to", "n_trans", "n_from",
            F.expr(
                "CAST((CAST(n_trans AS DECIMAL(38,0)) * 1000000)"
                " DIV n_from AS BIGINT)"
            ).alias("p_ppm"),
        )
    )


def daily_user_growth(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    day_fmt: str = "yyyy-MM-dd",
) -> DataFrame:
    """User growth accounting: per activity day, the DISTINCT active
    users, the NEW users (first ever appearance), and the cumulative
    distinct-user count — the audience-growth curve, computed WITHOUT
    any running-distinct state: a day's cumulative distinct count equals
    the count of users whose FIRST day is <= that day, so keyed
    aggregations plus a cumsum over the |days| frame replace a per-day
    COUNT(DISTINCT) over ever-growing prefixes (which would rescan the
    whole history per day).

    Scale shape: one (user, day)-keyed distinct shuffle over the events,
    one user-keyed min (first day), two |days|-row aggregations, then
    the cumulative sum over the |days|-row frame — CALENDAR-bounded
    cardinality (the offsets-cumsum class: a century of days is ~36.5k
    rows), never data-volume, so the unpartitioned window is safe by
    construction. NULL timestamps drop (they have no day); NULL user ids
    group as one pseudo-user, matching SQL GROUP BY semantics on both
    engines. Every output day has n_active >= 1 by construction (days
    exist only through activity), and n_new is 0 on days with no
    first-timers.

    Output: ``day`` (formatted string — driver-safe VARCHAR, not DATE),
    ``n_active``, ``n_new``, ``cum_users`` (all long).
    """
    act = (
        events.where(F.col(ts_col).isNotNull())
        .select(F.col(user_col).alias("__u"), F.to_date(ts_col).alias("__day"))
        .distinct()
    )
    return growth_from_activity(act, day_fmt=day_fmt)


def growth_from_activity(act: DataFrame, day_fmt: str = "yyyy-MM-dd") -> DataFrame:
    """The growth-curve tail of :func:`daily_user_growth`, over an
    already-DISTINCT activity frame with columns ``__u`` (user) and
    ``__day`` (date) — shared verbatim by the batch operator and the
    streaming serve path (``streaming/jobs.py: serve_user_growth``), so
    the two cannot drift. Input must be distinct at (user, day) grain;
    callers own that contract (both here distinct right before the
    call)."""
    from pyspark.sql.window import Window

    n_active = act.groupBy("__day").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    n_new = (
        act.groupBy("__u")
        .agg(F.min("__day").alias("__day"))
        .groupBy("__day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    daily = n_active.join(n_new, "__day", "left").select(
        "__day",
        "n_active",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    w = Window.orderBy("__day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("__day", day_fmt).alias("day"),
        "n_active",
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cum_users"),
    )


def quantile_normalize(
    df: DataFrame,
    id_col: str,
    value_col: str,
    group_col: str,
    group_out: str = "group_pct_ppm",
    global_out: str = "global_pct_ppm",
) -> DataFrame:
    """Cross-group score comparability — per row, BOTH the within-group
    and the whole-corpus percent-rank in exact integer millionths: the
    quantile-normalization step before mixing heterogeneous quality
    signals ("src3's 90th-percentile doc is only the corpus's 40th"),
    and the calibration-drift report grouped any way downstream wants.
    Both ranks use the consecutive-tie (row_number with id tie-break)
    convention of :func:`global_percent_rank`, so the output is
    partition-invariant and engine-exact; single-row populations define
    their ppm as 0 (percent_rank's convention, ANSI-safe N-1 guard).
    NULL ordering keys rank first (Spark ASC NULLS FIRST) — filter
    beforehand for the SQL-percentile convention.

    Plan: both ranks are :func:`_exact_rank`, global form (two keyed
    shuffles, never a single-partition window) then ``by`` form (one
    group-keyed window). Returns the input columns plus the two ppm
    longs."""
    _check_reserved("quantile_normalize", df, *_RANK_COLS, group_out, global_out)
    order = [value_col, id_col]
    g = _exact_rank(df, order).select(
        *df.columns, _ppm_of_rank("__rank", "__N").alias(global_out)
    )
    return _exact_rank(g, order, by=[group_col]).select(
        *df.columns, global_out, _ppm_of_rank("__rank", "__N").alias(group_out)
    )
