"""Mergeable distinct-count sketches for corpus accounting.

At 100 TB the questions "how many distinct documents do we have", "how
much do source A and source B overlap", and "how many of today's docs are
genuinely new" cannot be answered with COUNT(DISTINCT) per question —
each is a full shuffle of the corpus. The sketch answer: ONE pass builds
a per-partition-key Apache DataSketches HLL sketch (Spark's native
``hll_sketch_agg`` — map-side combined, kilobytes per key), the sketches
persist to the lake as binary columns, and every later question is
algebra over stored sketches (``hll_union_agg`` + inclusion-exclusion)
touching zero corpus rows. A daily-ingest pipeline keeps one sketch row
per (source, day) and answers month-level dedup-rate questions from
sketch unions alone.

Accuracy class: HLL estimates carry ~1-2% relative error at the default
lgConfigK=12 — the same rows-only verification class as ``approx_stats``
(no cross-engine SQL oracle: DuckDB's approx_count_distinct is a
different HLL implementation with different estimates); accuracy and the
merge algebra are pinned against exact counts in tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chess_lakehouse_spark.operators.publish import swap_publish


def content_sketches(
    df: DataFrame,
    key_cols: list[str],
    text_col: str,
    lg_config_k: int = 12,
) -> DataFrame:
    """One HLL sketch of distinct content (md5 of ``text_col``) per
    ``key_cols`` group: (key_cols..., sketch binary, est_distinct long,
    n_rows long). One map-side-combined shuffle; each group's state is a
    ~2^lgConfigK-bucket sketch regardless of corpus size. Store the
    sketch column — it is the mergeable artifact every later estimate
    derives from."""
    return (
        df.groupBy(*key_cols)
        .agg(
            F.hll_sketch_agg(F.md5(F.col(text_col)), F.lit(lg_config_k)).alias(
                "sketch"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn(
            "est_distinct", F.hll_sketch_estimate(F.col("sketch")).cast("long")
        )
    )


def union_estimate(sketches: DataFrame, sketch_col: str = "sketch") -> int:
    """Distinct estimate of the UNION of all sketch rows — corpus-wide
    distinct count from stored per-source/per-day sketches, zero corpus
    rows touched. Driver receives one number."""
    row = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias("est")
    ).first()
    return int(row["est"])


def overlap_estimates(
    sketches: DataFrame,
    key_col: str,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Pairwise overlap between sketch rows by inclusion-exclusion:
    ``|A ∩ B| ≈ est(A) + est(B) - est(A ∪ B)`` for every unordered key
    pair — the source-contamination / cross-dump-overlap matrix, computed
    entirely in sketch space. The join is |keys|² over kilobyte rows
    (sketch count, not corpus), and the union runs per pair via
    ``hll_union``. Returns (key_a, key_b, est_a, est_b, est_union,
    est_overlap); estimates are clamped at 0 (inclusion-exclusion on
    independent estimates can go slightly negative on disjoint sets)."""
    a = sketches.select(
        F.col(key_col).alias("key_a"),
        F.col(sketch_col).alias("sk_a"),
    )
    b = sketches.select(
        F.col(key_col).alias("key_b"),
        F.col(sketch_col).alias("sk_b"),
    )
    pairs = a.join(b, F.col("key_a") < F.col("key_b"))
    est = pairs.select(
        "key_a",
        "key_b",
        F.hll_sketch_estimate("sk_a").cast("long").alias("est_a"),
        F.hll_sketch_estimate("sk_b").cast("long").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
        .cast("long")
        .alias("est_union"),
    )
    return est.withColumn(
        "est_overlap",
        F.greatest(
            F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0)
        ).cast("long"),
    )


def novelty_estimate(
    new_sketch_rows: DataFrame,
    corpus_sketch_rows: DataFrame,
    sketch_col: str = "sketch",
) -> dict[str, int]:
    """Daily-ingest novelty from sketches alone: how many of the new
    batch's distinct contents are NOT already in the corpus —
    ``est(new) - overlap(new, corpus)`` via inclusion-exclusion over the
    stored sketches. Returns {'est_new', 'est_corpus', 'est_union',
    'est_novel'}; cost is O(stored sketch rows), zero corpus rows."""
    new_est = union_estimate(new_sketch_rows, sketch_col)
    corpus_est = union_estimate(corpus_sketch_rows, sketch_col)
    both = new_sketch_rows.select(F.col(sketch_col).alias("s")).unionByName(
        corpus_sketch_rows.select(F.col(sketch_col).alias("s"))
    )
    union_est = union_estimate(both, "s")
    overlap = max(0, new_est + corpus_est - union_est)
    return {
        "est_new": new_est,
        "est_corpus": corpus_est,
        "est_union": union_est,
        "est_novel": max(0, new_est - overlap),
    }


# --------------------------------------------------------------------------
# Count-min sketch: the FREQUENCY complement to the HLL distinct-count
# family above — and, unlike HLL, fully oracle-able: the counters are plain
# sums over md5-derived buckets (the module-wide portability contract), so
# every estimate is a deterministic integer any engine reproduces exactly.
# --------------------------------------------------------------------------

from typing import NamedTuple


class CmsSpec(NamedTuple):
    """Count-min sketch shape: ``depth`` independent hash rows × ``width``
    counters. One spec value must flow through build/merge/estimate — the
    bucket hash is ``md5('<seed>|<row>|<term>') % width``, so two frames
    built under different specs silently disagree; keep the spec next to
    the stored sketch (the rollup spec/ pattern) when staging.

    Error contract (Cormode & Muthukrishnan '05, public): with N total
    occurrences, ``true <= est`` always, and
    ``P[est > true + (e/width)·N] <= e^-depth`` — width buys precision,
    depth buys confidence, state stays depth×width counters at ANY corpus
    size."""

    depth: int = 4
    width: int = 1024
    seed: str = "cms"


def _cms_bucket(term: Column, row_i: Column, spec: CmsSpec) -> Column:
    from chess_lakehouse_spark.operators.dedup import md5_hash64

    return md5_hash64(
        F.concat(F.lit(f"{spec.seed}|"), row_i.cast("string"), F.lit("|"), term)
    ) % spec.width


def cms_cells(df: DataFrame, term_col: str, spec: CmsSpec) -> DataFrame:
    """Pre-aggregation cell stream: one (row_i, bucket) row per term
    OCCURRENCE × depth. This is the form the incremental-rollup machinery
    consumes directly — ``build_rollup(cells, keys=['row_i','bucket'],
    measures=[('cnt','count',None)])`` stages a CMS on the lake whose
    ingest folds are O(delta) and whose serve never touches the corpus
    (counters are sums, so batch-partition folding is exact; pinned in
    tests/test_cms.py). NULL terms are dropped."""
    return (
        df.select(F.col(term_col).alias("term"))
        .where(F.col("term").isNotNull())
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(spec.depth - 1))).alias("row_i"),
            "term",
        )
        .select("row_i", _cms_bucket(F.col("term"), F.col("row_i"), spec).alias("bucket"))
    )


def cms_build(df: DataFrame, term_col: str, spec: CmsSpec) -> DataFrame:
    """Build the sketch in ONE map-combined groupBy over the occurrence
    stream (the explode costs ×depth narrow rows map-side; the shuffle
    carries at most depth×width aggregated cells). Returns the SPARSE form
    (row_i, bucket, cnt) — absent cells are zero."""
    return (
        cms_cells(df, term_col, spec)
        .groupBy("row_i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union sketches built under the SAME spec: counters add, so merge is
    union + one map-combined sum — the mergeability that makes per-shard /
    per-day CMS rows foldable exactly like the rollup partials
    (``cms_merge(cms(A), cms(B)) == cms(A ∪ B)`` exactly, pytest-pinned)."""
    if not sketches:
        raise ValueError("cms_merge: need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row_i", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, term_col: str, spec: CmsSpec
) -> DataFrame:
    """Point-frequency estimates for a probe term set: each probe hashes
    to one cell per row, the estimate is the MIN over rows of the cell
    counters (absent cell = 0; an unseen term can only over-count, never
    under). Cost: |probes|×depth rows against the depth×width sketch — a
    broadcast-sized join at any corpus size; the corpus itself is never
    touched, which is the point of staging the sketch. Returns
    (term, est)."""
    pe = (
        probes.select(F.col(term_col).alias("term"))
        .where(F.col("term").isNotNull())
        .distinct()
        .select(
            "term",
            F.explode(F.sequence(F.lit(0), F.lit(spec.depth - 1))).alias("row_i"),
        )
        .select("term", "row_i", _cms_bucket(F.col("term"), F.col("row_i"), spec).alias("bucket"))
    )
    return (
        pe.join(sketch, ["row_i", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def mg_sketch(df: DataFrame, term_col: str, k: int) -> DataFrame:
    """Misra-Gries heavy-hitters summary over ``term_col``: at most ``k``
    (term, est) rows with the deterministic guarantees

    - ``est <= true_count(term)`` (never over-counts), and
    - ``true_count(term) - est <= N / (k + 1)`` where N is the total
      non-NULL term count — so every term with ``true_count > N/(k+1)``
      is GUARANTEED present in the summary.

    Distributed as a mergeable summary (Agarwal, Cormode, Huang,
    Phillips, Wei, Yi — "Mergeable Summaries", PODS 2012, public): one
    Arrow-batched ``mapInPandas`` pass keeps a <= k-counter dict per
    partition (per input batch: add the batch's value counts, then if
    more than k counters survive subtract the (k+1)-th largest counter
    value from all and drop the non-positive — each such step removes at
    least (k+1)x the largest per-item decrement, which is the whole
    guarantee), then the <= k*|partitions| partial rows merge with ONE
    tiny groupBy-sum plus the same prune applied in-plan: t = the
    (k+1)-th largest combined counter (0 if fewer than k+1 survive),
    keep ``est - t > 0``. Counter VALUES depend on partitioning and
    arrival order — only the two bounds above are order-invariant, which
    is why the gated projection (:func:`heavy_hitters_audit`) exposes
    exact counts plus guarantee BOOLEANS, the ``approx_stats`` pattern.

    100 TB shape: the corpus is touched once, map-side; per-task state
    is k counters plus, transiently, one Arrow batch's distinct terms
    (the batch's value_counts join the dict before the once-per-batch
    prune, so the bound is k + the batch vocabulary — capped by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``, not by k); the
    only shuffle moves k rows per partition; the final prune is algebra
    over a k*|partitions|-row frame. Compare the exact answer: a
    corpus-wide groupBy shuffle on a token-cardinality key.
    NULL terms are ignored (they are not countable items; the oracle
    twin filters them identically).

    Contract: ``k >= 1``; term column is cast to string in the summary.
    """
    if k < 1:
        raise ValueError(f"mg_sketch: k must be >= 1, got {k}")
    import pandas as pd

    def _partial(batches):
        d: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["__term"].dropna().value_counts()
            for t, c in vc.items():
                d[t] = d.get(t, 0) + int(c)
            if len(d) > k:
                m = sorted(d.values(), reverse=True)[k]
                d = {t: c - m for t, c in d.items() if c - m > 0}
        yield pd.DataFrame(
            {"term": list(d.keys()), "est": [int(v) for v in d.values()]}
        )

    partials = (
        df.where(F.col(term_col).isNotNull())
        .select(F.col(term_col).cast("string").alias("__term"))
        .mapInPandas(_partial, "term string, est long")
    )
    combined = partials.groupBy("term").agg(F.sum("est").alias("est"))
    top = combined.orderBy(F.desc("est"), F.asc("term")).limit(k + 1)
    th = top.agg(
        F.count(F.lit(1)).alias("__n"), F.min("est").alias("__m")
    ).select(
        F.when(F.col("__n") == k + 1, F.col("__m"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__t")
    )
    return (
        combined.crossJoin(F.broadcast(th))
        .select("term", (F.col("est") - F.col("__t")).cast("long").alias("est"))
        .where(F.col("est") > 0)
    )


def heavy_hitters_audit(df: DataFrame, term_col: str, k: int) -> DataFrame:
    """Driver-checkable heavy-hitters projection (the ``approx_stats``
    pattern): for every term whose EXACT count exceeds N/(k+1) — the
    population :func:`mg_sketch` guarantees it retains — emit the exact
    count plus two booleans that are deterministically TRUE unless the
    sketch path actually breaks:

    - ``in_sketch``: the term is present in the merged summary
      (guaranteed: its count clears the retention bound);
    - ``within_bound``: ``est <= true_cnt`` and
      ``(true_cnt - est) * (k+1) <= N`` in exact integer arithmetic
      (DECIMAL(38,0)-ridden so a 100 TB term mass cannot overflow the
      multiply under ANSI).

    The exact-count side is a corpus groupBy — the AUDIT cost, paid to
    certify the sketch; production serves from the sketch alone and
    runs this audit on a sample. Output: (term, true_cnt, in_sketch,
    within_bound), at most k rows (fewer than k+1 terms can each hold
    more than an exact (k+1)-th of the mass)."""
    nn = df.where(F.col(term_col).isNotNull()).select(
        F.col(term_col).cast("string").alias("term")
    )
    exact = nn.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    tot = nn.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    sk = mg_sketch(df, term_col, k).withColumnRenamed("est", "__est")
    kp1 = F.lit(k + 1).cast("decimal(38,0)")
    hh = exact.crossJoin(F.broadcast(tot)).where(
        F.col("true_cnt").cast("decimal(38,0)") * kp1 > F.col("__n").cast("decimal(38,0)")
    )
    return hh.join(sk, "term", "left").select(
        "term",
        "true_cnt",
        F.col("__est").isNotNull().alias("in_sketch"),
        (
            F.col("__est").isNotNull()
            & (F.col("__est") <= F.col("true_cnt"))
            & (
                (F.col("true_cnt") - F.col("__est")).cast("decimal(38,0)") * kp1
                <= F.col("__n").cast("decimal(38,0)")
            )
        ).alias("within_bound"),
    )


def mg_batch_partial(
    df: DataFrame, term_col: str, k: int, exact: bool = True
) -> DataFrame:
    """One ingest batch's Misra-Gries PARTIAL for the staged
    heavy-hitters lifecycle: (term, est, n_batch, k) with at most k term
    rows; ``n_batch`` (the batch's total non-NULL term count, repeated
    per row) is what lets the serve side compute the merged error bound
    N/(k+1) without ever re-reading corpora, and ``k`` (the ingest-time
    summary size, repeated per row) is what lets it REFUSE a serve
    claiming a tighter bound than the partials support (see
    :func:`mg_from_batches`).

    Two builders, same summary contract (est <= true_in_batch;
    true_in_batch - est <= n_batch/(k+1); every term above
    n_batch/(k+1) retained):

    - ``exact=True`` (default): prune-of-exact-counts — groupBy the
      BATCH (batch-sized shuffle, not corpus-sized), subtract the
      (k+1)-th largest count, keep positive. DETERMINISTIC, so a
      crash-replayed batch republishes its partition value-identically
      — the property the batch_id state layout wants.
    - ``exact=False``: the O(k)-state :func:`mg_sketch` pass — for a
      batch too large to groupBy; values then depend on partitioning,
      and replay safety degrades to bounds-level (any valid summary of
      the same batch keeps every served guarantee).

    Every partial carries ONE extra mass-carrier row (term NULL,
    est 0): a batch whose counters all prune away (> k equal-count
    terms) still contributes its n_batch to the served error bound —
    dropping it would UNDERSTATE N and make the claimed guarantee
    anti-conservatively tight. Serve-side reads filter the carrier out
    of the counters and read the mass off any row.
    """
    nn = df.where(F.col(term_col).isNotNull()).select(
        F.col(term_col).cast("string").alias("term")
    )
    tot = nn.agg(F.count(F.lit(1)).cast("long").alias("n_batch"))
    if exact:
        counts = nn.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("est"))
        top = counts.orderBy(F.desc("est"), F.asc("term")).limit(k + 1)
        th = top.agg(
            F.count(F.lit(1)).alias("__n"), F.min("est").alias("__m")
        ).select(
            F.when(F.col("__n") == k + 1, F.col("__m"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("__t")
        )
        sk = (
            counts.crossJoin(F.broadcast(th))
            .select("term", (F.col("est") - F.col("__t")).cast("long").alias("est"))
            .where(F.col("est") > 0)
        )
    else:
        sk = mg_sketch(df, term_col, k)
    carrier = tot.select(
        F.lit(None).cast("string").alias("term"),
        F.lit(0).cast("long").alias("est"),
        "n_batch",
    )
    return (
        sk.crossJoin(F.broadcast(tot))
        .unionByName(carrier)
        .withColumn("k", F.lit(int(k)).cast("long"))
    )


def write_mg_batch(partial: DataFrame, state_dir: str, batch_id) -> None:
    """Stage one batch's heavy-hitters partial as its own
    ``batch_id=<id>`` partition — the module-wide replay-safe state
    layout (see ``write_bloom_batch``): a crash-replayed batch
    republishes its OWN partition (value-identically for the default
    exact partial), readers can exclude an in-flight batch, and publish
    rides the rename-aside swap (``publish.swap_publish``) through a
    hidden dot-prefixed sibling, never an in-place overwrite."""
    swap_publish(
        partial.sparkSession, f"{state_dir.rstrip('/')}/batch_id={batch_id}",
        partial.coalesce(1).write.mode("overwrite").parquet, "write_mg_batch",
    )


def mg_from_batches(spark, state_dir: str, k: int) -> DataFrame:
    """Serve the merged heavy-hitters summary from STAGED batch
    partials, touching zero corpus rows: groupBy-sum the <= k rows per
    batch, prune with the same in-plan (k+1)-th-largest subtraction —
    the Mergeable Summaries merge, so the served sketch carries the
    GLOBAL guarantee (est <= true; true - est <= N/(k+1) with
    N = :func:`mg_state_total`; every term with true > N/(k+1)
    present), identical in form to a single-pass sketch of the union
    corpus. Cost: |batches| * k rows in, <= k out. Returns (term, est).

    The served bound N/(k+1) is only as tight as the LOOSEST ingest: a
    partial built with k_ingest counters supports no claim tighter than
    N/(k_ingest+1). Every partial records its ingest k
    (:func:`mg_batch_partial`), and this serve raises ``ValueError``
    when ``k`` exceeds the minimum recorded ingest k — silently
    over-claiming the error bound was the failure mode (serving k=50
    over k=5 partials would print max_err = N/51 while the partials
    only guarantee N/6). Serving with a SMALLER k is always legal: the
    merge prunes further and the claimed bound is looser than what the
    state supports.
    """
    state = spark.read.parquet(state_dir.rstrip("/"))
    if "k" not in state.columns:
        raise ValueError(
            "mg_from_batches: staged state at "
            f"{state_dir!r} predates the k-stamped partial layout "
            "(no 'k' column) — re-ingest the batches with "
            "mg_batch_partial to serve with a validated error bound"
        )
    k_min_row = state.agg(F.min("k").alias("k_min")).collect()[0]
    k_min = k_min_row["k_min"]
    if k_min is not None and int(k) > int(k_min):
        raise ValueError(
            f"mg_from_batches: serve k={k} exceeds the smallest ingest "
            f"k={int(k_min)} in the staged state — the partials only "
            f"support an error bound of N/{int(k_min) + 1}; serve with "
            f"k <= {int(k_min)} or re-ingest with a larger k"
        )
    combined = (
        state.where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sum("est").alias("est"))
    )
    top = combined.orderBy(F.desc("est"), F.asc("term")).limit(k + 1)
    th = top.agg(
        F.count(F.lit(1)).alias("__n"), F.min("est").alias("__m")
    ).select(
        F.when(F.col("__n") == k + 1, F.col("__m"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__t")
    )
    return (
        combined.crossJoin(F.broadcast(th))
        .select("term", (F.col("est") - F.col("__t")).cast("long").alias("est"))
        .where(F.col("est") > 0)
    )


def mg_state_total(spark, state_dir: str) -> int:
    """Total term mass N summarized by the staged state — the
    denominator of every served guarantee (error <= N/(k+1)). N is the
    sum of ``n_batch`` over the MASS-CARRIER rows only (term IS NULL):
    every :func:`mg_batch_partial` emits exactly one carrier, so the sum
    is one value per ORIGINAL batch — robust both to a batch whose
    counters all pruned away (the carrier still exists) and to
    row-preserving state compaction (``compact_stream_state`` merges
    several batches under one ``batch_id`` label; a per-label
    aggregation would then silently undercount N, the carrier sum does
    not)."""
    state = spark.read.parquet(state_dir.rstrip("/"))
    row = (
        state.where(F.col("term").isNull())
        .agg(F.sum("n_batch").alias("n"))
        .collect()[0]
    )
    return int(row["n"] or 0)


# ---------------------------------------------------------------------------
# Mergeable rank/quantile sketch (the quantile complement of the MG/CMS/HLL
# family): the random-sampling quantile summary of Agarwal, Cormode, Huang,
# Phillips, Wei, Yi — "Mergeable Summaries" (PODS 2012, public; the
# compactor-hierarchy refinement is Karnin-Lang-Liberty, FOCS 2016) — with
# DETERMINISTIC md5 coins, the CMS discipline: every retained row is a pure
# function of (seed, ids, values), so the state is engine-reproducible and a
# DuckDB oracle gates the served quantiles exactly. The KLL compactor
# hierarchy achieves a smaller constant for the same error; the sampled
# member of the family is the one whose retained set SQL can recompute —
# the trade this module makes everywhere (exact-integer auditability over
# the last constant factor).
#
# Sketch: item x survives to level l iff the low l bits of its md5 hash are
# zero (a geometric deterministic coin); the state keeps items with
# level >= L where L is the smallest level putting the expected retained
# count at or under k, and every retained item represents 2^L originals.
# Samples are NESTED across levels (level >= L+1 implies >= L), which is
# what makes the merge exact: re-filtering the union of partials to the
# union's own L yields BIT-IDENTICAL state to a direct build — merge ==
# rebuild is an equality, not an approximation (pinned in tests).
# ---------------------------------------------------------------------------

#: Levels are computed on the low 40 bits of the 60-bit md5 hash — 2^40
#: originals per retained row at the cap, far past any realistic n/k.
_RS_LEVEL_BITS = 40


def _rs_level(id_col: Column, seed: int) -> Column:
    """Deterministic geometric level: trailing-zero count of the low 40
    bits of the md5-60bit hash of the row id (the portable-hash pillar:
    Spark conv(substr(md5,1,15),16,10) == DuckDB CAST('0x'||... AS
    BIGINT)). ``t & -t`` isolates the lowest set bit; its binary digit
    length minus one is the trailing-zero count; an all-zero low word
    takes the 40 cap."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|rsk|"), id_col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    t = h % F.lit(2**_RS_LEVEL_BITS).cast("long")
    low = t.bitwiseAND(-t)
    return (
        F.when(t == 0, F.lit(_RS_LEVEL_BITS))
        .otherwise(F.length(F.conv(low, 10, 2)) - 1)
        .cast("int")
    )


def _rs_lvl_for_n(n_name: str, k: int) -> Column:
    """Smallest sampling level L with ceil(n/k) <= 2^L, in pure integer
    arithmetic over the named count column: c = ceil(n/k) via integer
    div; L = 0 if c <= 1 else bit_length(c - 1) (binary digit string
    length — the log2_length_histogram pillar, exact at powers of
    two)."""
    c = F.expr(f"(({n_name}) + {k - 1}) div {k}")
    return (
        F.when(c <= 1, F.lit(0))
        .otherwise(F.length(F.conv(c - 1, 10, 2)))
        .cast("int")
    )


def rank_sketch_build(
    df: DataFrame,
    id_col: str,
    value_col: str,
    k: int,
    by: list[str] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Build the per-group rank sketch: one row per RETAINED item —
    (by..., id, value, level, lvl, n_total) where ``lvl`` is the group's
    sampling level and ``n_total`` its full row count — PLUS exactly one
    META row per group (``level = -1``, NULL id/value) carrying the same
    (lvl, n_total). The meta row is the group's count-of-record: a
    (group, batch) whose retained set comes up empty (probability
    ~e^(-k/2) per group-batch — rare but real across many streaming
    micro-batches x groups) still contributes its count to every later
    :func:`rank_sketch_merge`, which sums counts from meta rows ONLY.
    Retained size is ~k..2k per group regardless of group size; each
    retained row stands for 2^lvl originals. Rows with a NULL value are
    excluded by stated contract (a rank over NULL is undefined); a NULL
    GROUP key is its own group — the group-meta join is NULL-safe (the
    test_null_group_contracts.py discipline). Cost: one map-side level
    computation + one |groups|-row aggregate broadcast back; no
    data-volume shuffle, no global sort."""
    if k < 1:
        raise ValueError(f"rank_sketch_build: k must be >= 1, got {k}")
    by = list(by or [])
    reserved = {"level", "lvl", "n_total"} & {id_col, value_col, *by}
    if reserved:
        raise ValueError(
            f"rank_sketch_build: column names {sorted(reserved)} are "
            "reserved for the sketch state — rename the input columns"
        )
    base = df.where(F.col(value_col).isNotNull()).select(
        *by,
        F.col(id_col),
        F.col(value_col),
        _rs_level(F.col(id_col), seed).alias("level"),
    )
    meta = base.groupBy(*by).agg(F.count(F.lit(1)).alias("n_total"))
    meta = meta.select(
        *[F.col(g).alias(f"__g{i}") for i, g in enumerate(by)],
        F.col("n_total"),
        _rs_lvl_for_n("n_total", k).alias("lvl"),
    )
    cond = F.lit(True)
    for i, g in enumerate(by):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__g{i}"))
    joined = base.join(F.broadcast(meta), cond) if by else base.crossJoin(
        F.broadcast(meta)
    )
    retained = joined.where(F.col("level") >= F.col("lvl")).select(
        *by, id_col, value_col, "level", "lvl", "n_total"
    )
    id_t = dict(base.dtypes)[id_col]
    val_t = dict(base.dtypes)[value_col]
    meta_rows = meta.select(
        *[F.col(f"__g{i}").alias(g) for i, g in enumerate(by)],
        F.lit(None).cast(id_t).alias(id_col),
        F.lit(None).cast(val_t).alias(value_col),
        F.lit(-1).cast("int").alias("level"),
        F.col("lvl"),
        F.col("n_total"),
    )
    return retained.unionByName(meta_rows)


def rank_sketch_merge(
    states: list[DataFrame],
    k: int,
    by: list[str] | None = None,
) -> DataFrame:
    """Merge partial rank sketches (distributed builds over disjoint
    batches) into the sketch a direct build over the union would
    produce — EXACTLY: levels nest (level >= L' implies >= L for
    L' >= L), so re-filtering the unioned retained rows to the union's
    own sampling level yields bit-identical state (pinned merge==rebuild
    in tests). Per group: n* = Σ partial n_total recovered from each
    batch's META rows (``level = -1`` — present even for a batch whose
    retained set is empty, so no batch's count can ever be silently
    dropped), L* = the level formula at n* (>= every partial's lvl
    because n* >= each n_batch and the formula is monotone). The output
    carries its own fresh meta row per group, making it a valid batch
    for every future merge. Input states must be disjoint batches of
    one logical table (the mg/CMS batch contract)."""
    if not states:
        raise ValueError("rank_sketch_merge: need at least one state")
    by = list(by or [])
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    nb = u.where(F.col("level") == -1).select(
        *by, F.col("n_total").alias("n_b")
    )
    meta = nb.groupBy(*by).agg(F.sum("n_b").alias("n_star"))
    meta = meta.select(
        *[F.col(g).alias(f"__g{i}") for i, g in enumerate(by)],
        F.col("n_star"),
        _rs_lvl_for_n("n_star", k).alias("lvl_star"),
    )
    cond = F.lit(True)
    for i, g in enumerate(by):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__g{i}"))
    ret = u.where(F.col("level") >= 0).drop("lvl", "n_total")
    joined = (
        ret.join(F.broadcast(meta), cond)
        if by
        else ret.crossJoin(F.broadcast(meta))
    )
    data_cols = [
        c for c in u.columns if c not in by and c not in ("lvl", "n_total")
    ]
    merged_ret = joined.where(F.col("level") >= F.col("lvl_star")).select(
        *by,
        *data_cols,
        F.col("lvl_star").alias("lvl"),
        F.col("n_star").alias("n_total"),
    )
    types = dict(u.dtypes)
    meta_rows = meta.select(
        *[F.col(f"__g{i}").alias(g) for i, g in enumerate(by)],
        *[
            F.lit(-1).cast("int").alias(c)
            if c == "level"
            else F.lit(None).cast(types[c]).alias(c)
            for c in data_cols
        ],
        F.col("lvl_star").alias("lvl"),
        F.col("n_star").alias("n_total"),
    )
    return merged_ret.unionByName(meta_rows)


def rank_sketch_quantiles(
    state: DataFrame,
    id_col: str,
    value_col: str,
    qs_ppm: list[int],
    by: list[str] | None = None,
) -> DataFrame:
    """Serve quantile estimates from a rank sketch: for each group and
    probe q (ppm), the retained value at weighted rank ceil(q·W)/2^lvl
    = the retained row at index ceil(q·R) in (value, id) order, R =
    retained count — every retained row carries equal weight 2^lvl, so
    the weighted cut collapses to an index into the SAMPLE, never the
    data. One window over the ~2k-row-per-group state; rank error vs
    the true quantile is the sketch's ~1/sqrt(k) sampling error (the
    audit columns in the gated query measure it exactly). Returns
    (by..., q_ppm, est_value, n_total, n_retained, lvl). Meta rows
    (``level = -1``) never rank; a group whose retained set is EMPTY
    (~e^(-k/2) per group-batch) has no sample to cut and is ABSENT from
    the served frame — callers needing "group exists but empty" consult
    the state's meta rows, which always carry that group's n_total.
    Duplicate probes are rejected (each would silently duplicate its
    output row)."""
    if not qs_ppm:
        raise ValueError("rank_sketch_quantiles: need at least one probe")
    if len(set(qs_ppm)) != len(qs_ppm):
        raise ValueError(
            f"rank_sketch_quantiles: duplicate probes in {qs_ppm} — each "
            "q_ppm cuts the sample once; dedupe the probe list"
        )
    for q in qs_ppm:
        if not 0 < q <= 1_000_000:
            raise ValueError(f"rank_sketch_quantiles: bad probe {q} ppm")
    reserved = {"q_ppm", "est_value", "n_retained"} & {id_col, value_col, *(by or [])}
    if reserved:
        raise ValueError(
            f"rank_sketch_quantiles: column names {sorted(reserved)} are "
            "reserved for the served frame — rename the input columns"
        )
    from pyspark.sql.window import Window

    by = list(by or [])
    state = state.where(F.col("level") >= 0)
    w = Window.partitionBy(*by).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    ranked = state.select(
        *by,
        F.col(value_col),
        F.col(id_col),
        F.col("lvl"),
        F.col("n_total"),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy(*by)).alias("n_retained"),
    )
    probes = F.explode(
        F.array(*[F.lit(int(q)).cast("long") for q in qs_ppm])
    ).alias("q_ppm")
    return (
        ranked.select(*ranked.columns, probes)
        .where(
            F.col("__rn")
            == F.greatest(
                F.lit(1).cast("long"),
                F.expr("(q_ppm * n_retained + 999999) div 1000000"),
            )
        )
        .select(
            *by,
            "q_ppm",
            F.col(value_col).alias("est_value"),
            "n_total",
            "n_retained",
            "lvl",
        )
    )


def write_rank_sketch_batch(partial: DataFrame, state_dir: str, batch_id) -> None:
    """Stage one batch's rank-sketch partial (a :func:`rank_sketch_build`
    over that batch's rows) as its own ``batch_id=<id>`` partition — the
    module-wide replay-safe state layout (see ``write_mg_batch``): the
    partial is a pure function of the batch, so a crash-replayed batch
    republishes its OWN partition value-identically; publish rides the
    rename-aside swap. Distinct ingests MUST use distinct batch_ids and
    disjoint row sets (the mg/CMS batch contract — levels make the
    MERGE exact only over disjoint builds)."""
    swap_publish(
        partial.sparkSession, f"{state_dir.rstrip('/')}/batch_id={batch_id}",
        partial.coalesce(1).write.mode("overwrite").parquet, "write_rank_sketch_batch",
    )


def rank_sketch_from_batches(
    spark,
    state_dir: str,
    k: int,
    by: list[str] | None = None,
) -> DataFrame:
    """Serve the merged rank sketch from staged batch partials with ZERO
    raw-table access: read the ``batch_id=`` partitions, re-merge via
    :func:`rank_sketch_merge` (per-group n* = Σ batch n, one re-filter
    to the union's level — bit-identical to a direct build over the
    union, the nesting property). The batch list is |batches|-bounded
    (one distinct over the partition column, never data-volume)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        state = spark.read.parquet(state_dir.rstrip("/"))
        batch_ids = sorted(
            r["batch_id"] for r in state.select("batch_id").distinct().collect()
        )  # |batches| rows
    except AnalysisException as exc:
        raise ValueError(
            f"rank_sketch_from_batches: empty state at {state_dir}"
        ) from exc
    if not batch_ids:
        raise ValueError(f"rank_sketch_from_batches: empty state at {state_dir}")
    parts = [
        state.where(F.col("batch_id") == b).drop("batch_id") for b in batch_ids
    ]
    return rank_sketch_merge(parts, k=k, by=by)


def compact_rank_sketch_state(
    spark,
    state_dir: str,
    k: int,
    by: list[str] | None = None,
) -> None:
    """Refold the accumulated rank-sketch batch partitions into ONE
    ``batch_id=compacted`` partial — the ``compact_rollup`` REFOLD
    semantics, NOT the row-preserving ``compact_stream_state`` merge:
    a rank-sketch partial's rows carry their batch's per-group count
    (``n_total``), so merging two batches' ROWS under one label would
    leave two different counts per group and a later serve would pick
    one arbitrarily (undercounting n*). The refold instead serves the
    merge once (:func:`rank_sketch_merge` — exact by nesting) and
    publishes the MERGED partial, whose uniform per-group n* makes it a
    valid batch for every future merge. Rename-aside swap via a
    staging sibling root so a crash mid-compaction leaves the old
    partitions readable."""
    merged = rank_sketch_from_batches(spark, state_dir, k=k, by=by)
    swap_publish(
        spark, state_dir,
        lambda tmp: merged.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/batch_id=compacted"),
        "compact_rank_sketch_state",
    )
