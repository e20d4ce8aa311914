"""Deterministic sampling and domain-mixing operators.

Training-data pipelines need REPRODUCIBLE sampling: the same document must
be kept or dropped on every run, on any cluster, at any partitioning —
otherwise incremental runs churn the corpus and downstream dedup/mixing
decisions flap. Spark's ``df.sample``/``sampleBy`` are RNG-per-partition
(order-dependent) and engine-specific, so everything here derives the keep
decision from ``md5(seed|id)`` instead — the portable-hash contract shared
with operators/dedup.py (bit-identical in any engine, DuckDB-oracle-gated).

All operators are narrow (filter / project only): zero shuffle, perfect
linear scaling (the hash predicate evaluates per-row after the pruned
column scan; only the id/strata columns are read). The hash is uniform on
[0, 2^60) via the first 15 md5 hex chars, so ``keep iff hash < rate·2^60``
samples at ``rate`` with deterministic membership.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = 1 << 60


def sample_hash(col: Column, seed: int = 0) -> Column:
    """Uniform 60-bit sampling hash for a key column (md5-derived, portable:
    ``conv(hex,16,10)`` in Spark == ``CAST('0x'||hex AS BIGINT)`` DuckDB)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), col.cast("string"))), 1, 15), 16, 10
    ).cast("long")


def hash_sample(df: DataFrame, id_col: str, rate: float, seed: int = 0) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows by id hash.

    Membership is a pure function of (seed, id): re-runs, re-partitions and
    engine swaps keep exactly the same rows, and samples at different rates
    are NESTED (rate 0.1 ⊂ rate 0.2 for the same seed) — the property that
    makes staged scale-up experiments comparable.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"hash_sample: rate must be in [0, 1], got {rate}")
    threshold = int(rate * _HASH_SPACE)
    return df.where(sample_hash(F.col(id_col), seed) < F.lit(threshold))


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Domain mixing: keep a per-stratum deterministic fraction of rows —
    the 'sample web at 30%, books at 100%' step of a pretraining data
    recipe, as one zero-shuffle filter.

    ``rates`` maps stratum value → keep rate; strata absent from the map
    use ``default_rate``. The keep decision hashes only (seed, id), so a
    document keeps/drops consistently even if its stratum label is later
    corrected, and per-stratum samples stay nested across rate changes.
    """
    for stratum, rate in rates.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(
                f"stratified_hash_sample: rate for {stratum!r} must be in [0, 1], got {rate}"
            )
    threshold: Column = F.lit(int(default_rate * _HASH_SPACE))
    for stratum, rate in sorted(rates.items()):
        threshold = (
            F.when(F.col(strata_col) == stratum, F.lit(int(rate * _HASH_SPACE)))
            .otherwise(threshold)
        )
    return df.where(sample_hash(F.col(id_col), seed) < threshold)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    part_col: str,
    n_tokens_col: str,
    budget: int,
) -> DataFrame:
    """Concat-and-cut sequence packing: assign every document a position in
    a fixed-``budget`` token stream — the GPT-style packing step that turns
    a document corpus into dense training sequences (documents are
    concatenated in (part, id) order and the stream is cut every ``budget``
    tokens; a document crossing a cut spans two sequences, recorded by its
    offset).

    seq_id = exclusive-prefix-sum(n_tokens) div budget, seq_offset = the
    remainder — pure integer window arithmetic over (part_col ORDER BY id),
    so the packing is deterministic under any partitioning or engine. ONE
    shuffle (the window by part_col). At 100 TB the hazard is a mega-part
    dominating a single window partition: pre-split such parts with a
    hash-derived sub-part key (the packing stays deterministic because the
    order key never changes).

    Returns (id, part, n_tokens, seq_id, seq_offset).
    """
    if budget < 1:
        raise ValueError(f"pack_sequences: budget must be >= 1, got {budget}")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix = (F.sum(n_tokens_col).over(w) - F.col(n_tokens_col)).cast("long")
    return (
        df.select(
            F.col(id_col),
            F.col(part_col),
            F.col(n_tokens_col).cast("long").alias("n_tokens"),
            prefix.alias("__prefix"),
        )
        # integer div/mod (never double division: exact for any BIGINT prefix)
        .select(
            id_col,
            part_col,
            "n_tokens",
            F.expr(f"__prefix div {budget}").alias("seq_id"),
            (F.col("__prefix") % budget).alias("seq_offset"),
        )
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    eval_frac: float = 0.01,
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/eval split column: ``eval`` for the hash-lowest
    ``eval_frac`` of ids, ``train`` otherwise. Assignment is stable across
    runs and engines, so eval contamination checks (exact/near-dup overlap
    between splits) are reproducible; a narrow projection, zero shuffle.
    """
    if not 0.0 <= eval_frac <= 1.0:
        raise ValueError(f"split_assign: eval_frac must be in [0, 1], got {eval_frac}")
    threshold = int(eval_frac * _HASH_SPACE)
    return df.withColumn(
        out_col,
        F.when(sample_hash(F.col(id_col), seed) < F.lit(threshold), F.lit("eval")).otherwise(
            F.lit("train")
        ),
    )


def top_n_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    n: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-group cap: keep at most ``n`` rows per group,
    chosen by the portable sampling hash (id tie-break) — 'at most N docs
    per domain' balancing without an RNG.

    Like every operator here, membership is a pure function of
    (seed, group, id): re-runs and engine swaps keep identical rows, and
    the kept set for n=100 is a superset of n=50 (nested caps — rank by
    hash is stable as n grows). One window shuffle keyed by the group; the
    per-group state is a rank counter, so group skew costs sort time, not
    memory. Hot mega-groups can be pre-capped with a coarse hash filter
    (keep hash < ~(10n/|group|)·2^60) before the exact rank when a group's
    row count dwarfs n.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        sample_hash(F.col(id_col), seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("smp_rk", F.row_number().over(w))
        .where(F.col("smp_rk") <= n)
        .drop("smp_rk")
    )


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    n_tokens_col: Column,
    budget: int,
    seed: int = 0,
) -> DataFrame:
    """Token-budget mixture sampling: per group, admit documents in the
    deterministic hash order until the group's cumulative token count
    reaches ``budget`` — 'take ~1B tokens per domain' as one windowed pass.

    The running sum is an integer prefix sum over the (hash, id)-ordered
    window, so admission is exact and reproducible: the kept set is a pure
    function of (seed, budget, group contents), independent of partitioning
    — and budgets are NESTED (budget B's picks are a prefix of B' > B's).
    The first document of a group is always admitted (a budget smaller
    than any single doc still yields data, and truncation-at-doc-boundary
    semantics stay simple). One window shuffle keyed by the group.
    Returns (id, group, n_tokens, cum_tokens).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(sample_hash(F.col(id_col), seed).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            F.col(id_col),
            F.col(group_col),
            n_tokens_col.cast("long").alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(
            (F.col("cum_tokens") <= budget)
            | (F.col("cum_tokens") == F.col("n_tokens"))  # first doc always
        )
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    rate_col: Column,
    seed: int = 0,
) -> DataFrame:
    """Per-row weighted sampling: keep each row with probability
    ``rate_col`` (clamped to [0, 1]) — quality-weighted corpus resampling
    ('keep high-quality docs with p=1.0, boilerplate with p=0.1') as one
    zero-shuffle filter.

    Membership stays a pure function of (seed, id, rate): the uniform
    draw is hash/2^60 compared AS A DOUBLE against the rate (2^60 is a
    power of two, so the division is exact and the comparison is
    engine-identical — never cast a rate·2^60 product to integer, where
    truncate-vs-round semantics differ between engines). Rows with higher
    rate are supersets of the same rows at lower rate (same draw).
    """
    u = sample_hash(F.col(id_col), seed).cast("double") / F.lit(float(_HASH_SPACE))
    r = F.least(F.lit(1.0), F.greatest(F.lit(0.0), rate_col.cast("double")))
    return df.where(u < r)


def leakage_safe_split(
    docs: DataFrame,
    id_col: str,
    text_col: str | None = None,
    eval_frac: float = 0.01,
    seed: int = 0,
    components: DataFrame | None = None,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Leakage-safe train/eval split: the split key is the near-dup CLUSTER
    canonical (connected component over the similarity graph), not the doc
    id — so near-duplicates can never straddle the split and leak eval
    content into train. Docs outside any cluster key on themselves.

    ``components`` is the staged-reuse path (mirroring
    :func:`~chess_lakehouse_spark.operators.similarity.semantic_dedup`'s
    ``centroids=``): pass a precomputed ``(id, component)`` cluster table —
    the output of :func:`~chess_lakehouse_spark.operators.graph.connected_components`,
    typically materialized once per corpus snapshot — and the expensive
    MinHash-LSH + connected-components subtree is not rebuilt. A 100 TB
    pipeline stages that table once and feeds the SAME frame to this split,
    to :func:`~chess_lakehouse_spark.operators.graph.priority_canonical`,
    and to any other cluster consumer. When ``components`` is None,
    ``text_col`` is required and the cluster table is computed inline with
    the given MinHash-LSH parameters.

    Returns ``(id_col, split_key, split)`` with split in {'train', 'eval'};
    assignment is the portable hash of the split key, so it is stable
    across runs, engines, and partitionings.
    """
    if not 0.0 <= eval_frac <= 1.0:
        raise ValueError(f"leakage_safe_split: eval_frac must be in [0, 1], got {eval_frac}")
    if components is None:
        if text_col is None:
            raise ValueError("leakage_safe_split: pass text_col or a staged components frame")
        from chess_lakehouse_spark.operators.dedup import minhash_lsh_dedup
        from chess_lakehouse_spark.operators.graph import connected_components

        pairs = minhash_lsh_dedup(
            docs,
            id_col,
            text_col,
            k=k,
            num_hashes=num_hashes,
            band_size=band_size,
            threshold=threshold,
        )
        components = connected_components(pairs.select("id_a", "id_b"))
    keyed = docs.join(components, docs[id_col] == components["id"], "left").select(
        id_col, F.coalesce(F.col("component"), F.col(id_col)).alias("split_key")
    )
    thr = int(eval_frac * _HASH_SPACE)
    return keyed.select(
        id_col,
        "split_key",
        F.when(sample_hash(F.col("split_key"), seed) < F.lit(thr), F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def temperature_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    alpha: float = 0.5,
    seed: int = 0,
    precision: int = 6,
) -> DataFrame:
    """Temperature-based domain mixing: flatten the group-size distribution
    by keeping each group at rate ``(n_min / n_group) ** (1 - alpha)`` —
    the deterministic sampling-without-replacement form of the multilingual
    temperature-sampling recipe (rates ∝ p^alpha renormalized so the rarest
    group keeps everything). ``alpha = 1`` keeps the natural distribution,
    ``alpha = 0`` equalizes expected group sizes.

    One map-combined count aggregate (|groups| rows), a broadcast join of
    the per-group rate, and the zero-shuffle hash filter — the corpus scan
    itself never shuffles, so the operator is a constant-factor pass at
    100 TB. Rates are ROUNDed to ``precision`` before the compare so the
    pow() low bits can't flip membership between engines; membership is
    then a pure function of (seed, id, group sizes). A NULL group key is
    its own group (it already counted as one in the rate table; the join
    back is NULL-safe so its rows sample at that rate instead of
    silently vanishing — the r13 NULL-group sweep caught the unsafe
    form, tests/test_null_group_contracts.py).
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"temperature_sample: alpha must be in [0, 1], got {alpha}")
    if "__g" in df.columns or "_rate" in df.columns:
        raise ValueError(
            "temperature_sample: input carries reserved column __g/_rate"
        )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n_g"))
    n_min = counts.agg(F.min("_n_g").alias("_n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        F.col(group_col).alias("__g"),
        F.round(
            F.pow(
                F.col("_n_min").cast("double") / F.col("_n_g").cast("double"),
                F.lit(1.0 - alpha),
            ),
            precision,
        ).alias("_rate"),
    )
    joined = df.join(
        F.broadcast(rates), F.col(group_col).eqNullSafe(F.col("__g"))
    )
    kept = weighted_sample(joined, id_col, F.col("_rate"), seed=seed)
    return kept.drop("_rate", "__g")


def dsir_topk(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_buckets: int = 4096,
    use_bigrams: bool = True,
    seed: int = 0,
    precision: int = 6,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): pick the ``k`` raw documents whose hashed n-gram
    distribution looks most like the TARGET corpus, via importance weights
    under two bag-of-hashed-features models plus Gumbel top-k resampling.

    Model: features are whitespace unigrams (plus adjacent bigrams when
    ``use_bigrams``) hashed into ``n_buckets`` buckets with the portable
    md5 hash; target and raw bucket counts give smoothed categorical
    distributions, and a document's log importance weight is
    ``sum_f log(p_target(bucket(f)) / p_raw(bucket(f)))`` over its feature
    instances.

    Smoothing is TOTAL-pseudo-mass 1 spread over the buckets
    (``p(b) = (c_b + 1/B) / (total + 1)``), not add-1 per bucket:
    with ``B >> |target features|`` a per-bucket pseudo-count swamps the
    target model into near-uniform and the "importance" weight degenerates
    to a document-length penalty (measured: target-matched docs ranked
    LAST under add-1). The ratio stays a quotient of exact integer-derived
    products: ``((c_t·B + 1)(Q + 1)) / ((c_q·B + 1)(T + 1))``.

    Selection adds deterministic Gumbel noise derived from
    ``md5(seed|id)`` — resampling, not arg-top-k, so selected docs vary
    around the weight distribution exactly as the paper prescribes, yet
    every run/partitioning/engine picks the identical set.

    Exactness contract (house rules): each per-bucket log ratio is
    ``ROUND(ln(integer-product ratio), precision)`` (both engines compute
    the identical double), per-doc sums go through DECIMAL(18,6), the
    Gumbel draw is an exact power-of-two uniform, and the final order has
    the (score DESC, id ASC) total order.

    Scale shape: one pass per corpus to build the bucket tables (bounded:
    ``n_buckets`` rows, broadcast), one explode+join+aggregate over raw
    (the same two-shuffle shape as any unigram statistic), and a
    TakeOrdered(k) — nothing global beyond the k-row result. Documents
    with no tokens produce no weight row and are never selected.

    Returns (id, logw, score) for the k selected documents.
    """
    if k < 1:
        raise ValueError(f"dsir_topk: k must be >= 1, got {k}")
    if n_buckets < 2:
        raise ValueError(f"dsir_topk: n_buckets must be >= 2, got {n_buckets}")

    from chess_lakehouse_spark.functions.text import ws_tokens

    def features(df: DataFrame, with_id: bool = False) -> DataFrame:
        first = [F.col(id_col).alias("id")] if with_id else []
        keep = ["id"] if with_id else []
        toks = F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")
        feats = toks
        if use_bigrams:
            # greatest(0, ...) guards the empty-token doc: slice rejects
            # negative lengths
            bigrams = F.expr(
                "zip_with(slice(_toks, 1, greatest(0, size(_toks) - 1)),"
                " slice(_toks, 2, greatest(0, size(_toks) - 1)),"
                " (a, b) -> a || ' ' || b)"
            )
            feats = F.concat(F.col("_toks"), bigrams)
        out = df.select(*first, toks.alias("_toks"))
        return out.select(
            *keep, F.explode(feats if use_bigrams else F.col("_toks")).alias("f")
        ).select(
            *keep,
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{seed}|f|"), F.col("f"))), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.lit(n_buckets),
            ).alias("b"),
        )

    from pyspark.sql.window import Window as _W

    from chess_lakehouse_spark.session import FrameScope

    t_counts = features(target).groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    # The raw feature frame feeds TWO consumers (the raw bucket model and
    # the per-doc scoring join); without a persist the tokenize + bigram
    # explode + md5 hashing chain ran once per consumer (r16, guide §2.4).
    # Invocation-scoped cache, owned by the returned frame.
    with FrameScope() as scope:
        raw_feats = scope.cache(features(raw, with_id=True))
        q_counts = raw_feats.groupBy("b").agg(F.count(F.lit(1)).alias("cq"))
        # Corpus totals as unpartitioned-window columns over the joined
        # bucket frame (≤ 2·n_buckets rows) — the .scalar() subqueries each
        # re-executed a full corpus feature chain (r16, the bm25 trick).
        # Σ coalesce(ct, 0) over the full-outer join = Σ ct over t_counts
        # exactly (bucket keys are unique per side), so the same integers
        # enter the same expressions.
        _wall = _W.partitionBy()
        ratios = (
            t_counts.join(q_counts, "b", "full_outer")
            .withColumn("__tt", F.sum(F.coalesce(F.col("ct"), F.lit(0))).over(_wall))
            .withColumn("__qt", F.sum(F.coalesce(F.col("cq"), F.lit(0))).over(_wall))
            .select(
                "b",
                F.round(
                    F.log(
                        # factors cast to double BEFORE the product: the
                        # count*B terms fit a long, but their product with the
                        # corpus total can exceed it at scale
                        (
                            (F.coalesce(F.col("ct"), F.lit(0)) * n_buckets + 1).cast("double")
                            * (F.col("__qt") + F.lit(1)).cast("double")
                        )
                        / (
                            (F.coalesce(F.col("cq"), F.lit(0)) * n_buckets + 1).cast("double")
                            * (F.col("__tt") + F.lit(1)).cast("double")
                        )
                    ),
                    precision,
                ).alias("lr"),
            )
        )
        logw = (
            raw_feats.join(F.broadcast(ratios), "b")
            .groupBy("id")
            .agg(
                F.round(
                    F.sum(F.col("lr").cast("decimal(18,6)")).cast("double"), precision
                ).alias("logw")
            )
        )
        u = (sample_hash(F.col("id"), seed).cast("double") + F.lit(1.0)) / F.lit(
            float(_HASH_SPACE + 1)
        )
        gumbel = F.round(-F.log(-F.log(u)), precision)
        out = (
            logw.select(
                F.col("id").alias(id_col),
                "logw",
                F.round(F.col("logw") + gumbel, precision).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k)
        )
        return scope.own(out)


def shard_assignments(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic global shuffle for training-data serving: assign every
    row a shard and a position within it, both pure functions of
    (seed, id) — the curation-to-training handoff step. A trainer reading
    shard files in position order sees a uniform random permutation of the
    corpus (the md5 hash order), yet any run / partitioning / engine
    reproduces the identical layout, and a re-shuffle is just a new seed.

    ``shard = pmod(h, n_shards)`` and ``pos = rank of h within the
    shard`` (ties broken by id, so the order is total even on 60-bit hash
    collisions). Plan: one zero-shuffle hash projection + one hash
    repartition by shard with an in-shard sort (the rank window is
    partitioned by shard — exactly the exchange the shard layout needs
    anyway, no extra pass). At 100 TB pick n_shards so a shard fits a
    trainer worker's read granularity; the shuffle is one exchange of the
    corpus, the unavoidable minimum for a global permutation.

    Returns the input columns plus (shard int, pos long), pos = 1-based
    rank within the shard.
    """
    from pyspark.sql.window import Window

    if n_shards < 1:
        raise ValueError(f"shard_assignments: n_shards must be >= 1, got {n_shards}")
    h = sample_hash(
        F.concat(F.lit("shuffle|"), F.col(id_col).cast("string")), seed
    )
    staged = df.withColumn("_h", h).withColumn(
        "shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return staged.withColumn("pos", F.row_number().over(w).cast("long")).drop("_h")


def write_shuffled_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    n_shards: int,
    seed: int = 0,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """Materialize :func:`shard_assignments` as a ``shard=K``-partitioned
    Parquet lake with rows stored in position order inside every shard —
    the on-disk layout a data loader streams sequentially. One exchange
    (hash repartition by shard) + in-task sort by (shard, pos); each Hive
    partition is written by the task that owns its shard, so file count
    stays at O(n_shards), never tasks × shards."""
    assigned = shard_assignments(df, id_col, n_shards, seed=seed)
    (
        assigned.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode(mode)
        .option("compression", compression)
        .partitionBy("shard")
        .parquet(out_dir)
    )


def mixture_keep_rates(
    weights: dict[str, float], sizes: dict[str, int]
) -> dict[str, float]:
    """Convert target mixture PROPORTIONS (:func:`mixture_fit` output)
    into per-source stratified keep RATES for
    :func:`stratified_hash_sample`. Keeping source ``s`` at rate ``r_s``
    yields kept-corpus proportions ∝ ``r_s * n_s``, so matching target
    proportions ``w_s`` requires ``r_s ∝ w_s / n_s`` — weights are NOT
    rates unless every source is the same size. The scale is chosen so
    the largest rate is exactly 1 (the largest kept corpus achievable
    without upsampling); zero-weight sources get rate 0.

    ``sizes`` is per-source row (or token) counts — |sources| numbers, a
    bounded groupBy/collect at any corpus scale.
    """
    missing = [s for s in weights if s not in sizes]
    if missing:
        raise ValueError(f"mixture_keep_rates: no size for sources {missing}")
    bad = [s for s, n in sizes.items() if s in weights and n <= 0]
    if bad:
        raise ValueError(f"mixture_keep_rates: non-positive size for {bad}")
    density = {s: w / sizes[s] for s, w in weights.items()}
    peak = max(density.values(), default=0.0)
    if peak <= 0:
        raise ValueError("mixture_keep_rates: all weights are zero")
    return {s: min(1.0, d / peak) for s, d in density.items()}


def mixture_fit(
    raw: DataFrame,
    target: DataFrame,
    source_col: str,
    text_col: str,
    n_buckets: int = 256,
    seed: int = 0,
    iters: int = 300,
) -> list[tuple[str, float]]:
    """Static domain-mixture reweighting (the DoReMi-shaped question,
    Xie et al. 2023, answered with a convex fit instead of a proxy-model
    loop): nonnegative per-source weights summing to 1 whose weighted
    combination of hashed-unigram bucket distributions best matches the
    TARGET corpus distribution — least squares on the probability simplex.
    Feed the result to ``mix_sources``/``sample_weighted`` as the sampling
    rates that steer the pretraining mix toward the target domain.

    Distributions use the SAME portable md5 bucket features as
    :func:`dsir_topk` (``md5(seed|f|token) % n_buckets``) — DSIR picks
    individual documents, this picks per-SOURCE rates; together they are
    the document-level and corpus-level halves of target matching.

    Scale shape: ONE map-combined groupBy per corpus builds the
    (source, bucket) count tables — the same two-shuffle cost as any
    unigram statistic; the driver receives |sources| x n_buckets integers
    and solves a |sources|-dim projected-gradient least squares
    (reproducible: exact integer counts in, fixed uniform-simplex start,
    fixed iteration count, arithmetic-only step bound, closed-form simplex
    projection — no lstsq/SVD whose low bits vary by LAPACK build).
    Nothing corpus-sized is collected.

    Returns [(source, weight)] sorted by source name, weights >= 0
    summing to ~1 (each rounded to 6 decimals).
    """
    import numpy as np

    from chess_lakehouse_spark.functions.text import ws_tokens

    if n_buckets < 2:
        raise ValueError(f"mixture_fit: n_buckets must be >= 2, got {n_buckets}")

    def bucket_counts(df: DataFrame, keys: list[str]) -> DataFrame:
        toks = F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")
        feats = df.select(*keys, F.explode(toks).alias("f"))
        b = F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{seed}|f|"), F.col("f"))), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(n_buckets),
        )
        return feats.groupBy(*keys, b.alias("b")).agg(F.count(F.lit(1)).alias("c"))

    src_rows = bucket_counts(raw, [source_col]).collect()
    tgt_rows = bucket_counts(target, []).collect()
    sources = sorted({r[source_col] for r in src_rows})
    if not sources:
        raise ValueError("mixture_fit: raw corpus has no sources/tokens")
    s_idx = {s: j for j, s in enumerate(sources)}
    A = np.zeros((n_buckets, len(sources)))
    for r in src_rows:
        A[r["b"], s_idx[r[source_col]]] = r["c"]
    col_tot = A.sum(axis=0)
    if (col_tot == 0).any():
        empty = [s for s in sources if col_tot[s_idx[s]] == 0]
        raise ValueError(f"mixture_fit: sources with no tokens: {empty}")
    A = A / col_tot
    t = np.zeros(n_buckets)
    for r in tgt_rows:
        t[r["b"]] = r["c"]
    if t.sum() == 0:
        raise ValueError("mixture_fit: target corpus has no tokens")
    t = t / t.sum()

    def project_simplex(v: np.ndarray) -> np.ndarray:
        u = np.sort(v)[::-1]
        css = np.cumsum(u)
        rho = np.nonzero(u * np.arange(1, len(v) + 1) > (css - 1))[0][-1]
        theta = (css[rho] - 1) / (rho + 1.0)
        return np.maximum(v - theta, 0)

    # projected gradient on ||A w - t||^2 from the uniform simplex point —
    # NOT an lstsq warm start, whose low bits are LAPACK-implementation-
    # dependent and would make the result BLAS-build-specific (r7 verdict
    # note); the objective is convex so the start only affects iteration
    # count. The step bound likewise avoids np.linalg.norm(·, 2) (an SVD):
    # for symmetric ata the inf-norm row-sum bounds the spectral radius
    # and is plain arithmetic. What remains implementation-dependent is
    # ~1-ulp matmul variation, which cannot move the converged, 6-decimal-
    # rounded fixpoint except in the measure-near-zero tie class the suite
    # already documents for transcendental rounding.
    w = np.full(len(sources), 1.0 / len(sources))
    ata = A.T @ A
    att = A.T @ t
    lip = float(np.abs(ata).sum(axis=1).max()) or 1.0
    for _ in range(iters):
        w = project_simplex(w - (ata @ w - att) / lip)
    return [(s, round(float(w[s_idx[s]]), 6)) for s in sources]


def pack_bins_bfd(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    n_shards: int = 256,
    seed: int = 0,
) -> DataFrame:
    """No-split sequence packing by best-fit-decreasing: place each
    document WHOLE into a bin of capacity ``budget`` — the
    fewer-truncations packing regime (Ding et al. 2024; standard for SFT),
    complementary to :func:`pack_sequences`, whose concat-and-cut stream
    splits documents at sequence boundaries.

    Distribution strategy: documents are hash-assigned to ``n_shards``
    independent packing shards (pure function of (seed, id) — the
    sampling-hash determinism contract), and BFD runs per shard inside one
    Arrow-batched ``applyInPandas`` (sorted-remaining-capacity bisection,
    O(n log n) per shard; deterministic: lengths descending, id ascending,
    capacity ties broken by bin id). Packing quality degrades only
    marginally vs a global pack — each shard sees an i.i.d. sample of the
    length distribution — while the shuffle is ONE exchange on the shard
    key and per-task memory is O(shard). Size ``n_shards`` so a shard's
    (id, n_tokens) pairs fit a task comfortably (pairs are ~16 bytes/doc;
    the TEXT never moves — join the assignment back by id).

    A document with ``n_tokens > budget`` gets its own bin, flagged
    ``oversize`` (chunk upstream via ``chunk_tokens`` if splitting is
    acceptable). Returns (id, n_tokens, shard, bin_id, bin_fill,
    oversize): ``bin_id`` is unique across shards, ``bin_fill`` the
    bin's total token count.
    """
    if budget < 1:
        raise ValueError(f"pack_bins_bfd: budget must be >= 1, got {budget}")
    if n_shards < 1:
        raise ValueError(f"pack_bins_bfd: n_shards must be >= 1, got {n_shards}")
    import pandas as pd

    slim = df.select(
        F.col(id_col).alias("id"),
        F.col(n_tokens_col).cast("long").alias("n_tokens"),
        F.pmod(sample_hash(F.col(id_col), seed), F.lit(n_shards)).alias("shard"),
    )

    def _bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        pdf = pdf.sort_values(
            ["n_tokens", "id"], ascending=[False, True], kind="mergesort"
        )
        shard = int(pdf["shard"].iloc[0])
        # sorted list of (remaining_capacity, bin_idx): bisect finds the
        # TIGHTEST bin that still fits (best fit); bin_idx breaks ties
        open_bins: list[tuple[int, int]] = []
        fills: list[int] = []
        oversize_flags: list[bool] = []
        bin_idx_out: list[int] = []
        for tok in pdf["n_tokens"].to_list():
            tok = int(tok)
            if tok > budget:
                bin_idx_out.append(len(fills))
                fills.append(tok)
                oversize_flags.append(True)
                continue
            i = bisect.bisect_left(open_bins, (tok, -1))
            if i < len(open_bins):
                cap, b = open_bins.pop(i)
                new_cap = cap - tok
            else:
                b = len(fills)
                fills.append(0)
                new_cap = budget - tok
            fills[b] += tok
            oversize_flags.append(False)
            if new_cap > 0:
                bisect.insort(open_bins, (new_cap, b))
            bin_idx_out.append(b)
        out = pdf[["id", "n_tokens", "shard"]].copy()
        # globally unique bin id: shard-local index striped by shard
        out["bin_id"] = [int(b) * n_shards + shard for b in bin_idx_out]
        out["bin_fill"] = [fills[b] for b in bin_idx_out]
        out["oversize"] = oversize_flags
        return out

    # The id field keeps the INPUT column's type (string ids are as
    # common as longs across this repo's operators; a hardcoded 'id long'
    # failed at Arrow conversion for them — r8 ADVICE)
    id_type = df.schema[id_col].dataType.simpleString()
    return slim.groupBy("shard").applyInPandas(
        _bfd,
        schema=f"id {id_type}, n_tokens long, shard int, bin_id long, "
               "bin_fill long, oversize boolean",
    ).withColumnsRenamed({"id": id_col})


def upsample_epochs(
    df: DataFrame,
    id_col: str,
    size_col: str,
    group_col: str,
    budget: int,
    max_epochs: int = 4,
    seed: int = 0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Data-constrained corpus repetition — the 'repeat good data for
    multiple epochs' step of a budgeted pretraining recipe (Muennighoff
    et al. 2023, "Scaling Data-Constrained Language Models",
    arXiv:2305.16264, public): split a global size ``budget`` EQUALLY
    across groups (uniform domain weighting — small high-quality domains
    upweight), give every document of a group ``ep = min(max_epochs,
    budget_per_group div group_size)`` full epochs, and fill the
    remainder with ONE extra epoch for a deterministic hash-selected
    fraction of the group's docs (``frac_ppm = remainder·10⁶ div
    group_size``; membership = :func:`sample_hash` ppm < frac_ppm — the
    hash_sample convention, so the fractional epoch is reproducible,
    engine-portable, and nested across budget changes). A group larger
    than its share gets ep=0 full epochs and the fractional pass
    degrades to a plain hash SUBsample — the budget semantics stay
    monotone through the boundary. All arithmetic is non-negative
    integer ``div`` (ANSI-safe, no float epoch boundaries); zero-size
    groups contribute nothing (CASE-guarded, no division). NULL group
    keys form their own group (standard groupBy semantics; the plan
    joins back NULL-safe, so NULL-group docs draw their share like any
    other group).

    Output: one row per (document, epoch) with ``epoch_col`` counting
    from 1 — the materialized training-mixture manifest (compose with
    pack_sequences / write_shuffled_shards downstream).

    Scale shape: one |groups|-row aggregate broadcast back, then a
    map-side sequence-explode — the corpus itself never shuffles, so the
    op costs one scan plus output write at any corpus size. Output
    volume is ~budget by construction (<= corpus·max_epochs).
    """
    if budget < 0:
        raise ValueError(f"upsample_epochs: budget must be >= 0, got {budget}")
    if max_epochs < 1:
        raise ValueError(
            f"upsample_epochs: max_epochs must be >= 1, got {max_epochs}"
        )
    reserved = {
        "__tot", "__ng", "__bpg", "__ep", "__fppm", "__hppm", "__nep",
        "__g", epoch_col,
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"upsample_epochs: input carries reserved column(s) {sorted(clash)}"
        )
    stats = df.groupBy(group_col).agg(
        F.sum(F.col(size_col).cast("long")).alias("__tot")
    )
    ngroups = stats.agg(F.count(F.lit(1)).alias("__ng"))
    plan = (
        stats.crossJoin(F.broadcast(ngroups))
        .withColumn("__bpg", F.expr(f"{budget} div __ng"))
        .withColumn(
            "__ep",
            F.when(
                F.col("__tot") > 0,
                F.least(F.lit(max_epochs), F.expr("__bpg div __tot")),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__fppm",
            # the remainder is < __tot by construction, so the ×10⁶ blow-up
            # rides DECIMAL(38,0): a BIGINT multiply aborts (ANSI) once a
            # group holds > ~9.2e12 size units — ~9 TB of chars, reachable
            # at the 100 TB contract scale (r11 ADVICE)
            F.when(
                (F.col("__tot") > 0) & (F.col("__ep") < max_epochs),
                F.expr(
                    "CAST((CAST(__bpg - __ep * __tot AS DECIMAL(38,0))"
                    " * 1000000) div __tot AS BIGINT)"
                ),
            ).otherwise(F.lit(0)),
        )
        .select(F.col(group_col).alias("__g"), "__ep", "__fppm")
    )
    # NULL-safe equi-join: the groupBy above DOES emit a NULL-group plan
    # row, so a plain equi-join would silently drop every NULL-group doc
    # from the manifest while its budget stays allocated (r11 ADVICE)
    joined = (
        df.join(
            F.broadcast(plan), F.col(group_col).eqNullSafe(F.col("__g"))
        )
        .drop("__g")
        .withColumn(
            "__hppm", sample_hash(F.col(id_col), seed) % F.lit(1_000_000)
        )
    )
    n_ep = (
        F.col("__ep")
        + F.when(F.col("__hppm") < F.col("__fppm"), 1).otherwise(0)
    ).cast("int")
    # sequence(1, 0) counts DOWN in Spark — CASE-guard the empty case
    epochs = F.when(n_ep >= 1, F.sequence(F.lit(1), n_ep)).otherwise(
        F.array().cast("array<int>")
    )
    return joined.withColumn(epoch_col, F.explode(epochs)).drop(
        "__ep", "__fppm", "__hppm"
    )


def interleave_groups(
    df: DataFrame, id_col: str, group_col: str, seed: int = 0
) -> DataFrame:
    """Deterministic round-robin training ORDER over a grouped corpus —
    the fixed data-mixing order a multi-source pretraining run consumes
    (each step draws from sources in rotation, each source internally
    hash-shuffled): rows sort by ``(seq, group)`` where ``seq`` is the
    row's position within its group under the portable md5 order. The
    result is a pure function of (seed, ids) — re-runs, re-partitions
    and engine swaps produce the identical order, the reproducibility
    contract a training manifest needs.

    Both ranks come from :func:`~chess_lakehouse_spark.operators.\
relational.global_sort_rank` (range repartition + per-partition
    row_number + broadcast offsets — Spark's scalable sort machinery,
    never a single-partition global window): the first over
    ``(group, hash, id)`` gives contiguous-by-group positions that a
    broadcast |groups|-row min-rank frame rebases to per-group ``seq``;
    the second over ``(seq, group)`` yields the interleaved global
    ``pos``. Both keys are unique (ids are), so every rank is exact and
    tie-free. Four keyed shuffles total at any scale; everything else
    is |groups|-sized.

    Output: input id/group columns plus ``seq`` (1-based within group)
    and ``pos`` (1-based global interleave position), one row per input
    row.

    NULL group keys form their own group (SQL PARTITION BY semantics on
    both engines) but their POSITION in the interleave follows Spark's
    NULLS-FIRST ascending sort — DuckDB defaults to NULLS LAST, so a
    cross-engine oracle comparison needs non-NULL groups (the suite's
    gated query reads the non-NULL ``source`` column) or an explicit
    NULLS FIRST in the SQL.
    """
    from chess_lakehouse_spark.operators.relational import global_sort_rank

    reserved = {"__h", "__minr", "__g", "seq", "pos", "__rank", "__N"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"interleave_groups: input carries reserved column(s) {sorted(clash)}"
        )
    hashed = df.select(id_col, group_col).withColumn(
        "__h", sample_hash(F.col(id_col), seed)
    )
    ranked = global_sort_rank(hashed, [group_col, "__h", id_col])
    # NULL-safe equi-join back to the broadcast min-rank frame: NULL
    # groups rank (NULLS FIRST) and aggregate into an offsets row, so a
    # plain equi-join would silently drop their rows and break the
    # one-row-per-input-row contract (r11 ADVICE)
    offsets = ranked.groupBy(group_col).agg(
        F.min("__rank").alias("__minr")
    ).select(F.col(group_col).alias("__g"), "__minr")
    seqd = (
        ranked.join(
            F.broadcast(offsets), F.col(group_col).eqNullSafe(F.col("__g"))
        )
        .withColumn("seq", (F.col("__rank") - F.col("__minr") + 1))
        .select(id_col, group_col, "seq")
    )
    out = global_sort_rank(seqd, ["seq", group_col])
    return out.select(
        id_col, group_col, "seq", F.col("__rank").alias("pos")
    )


def shard_balance_audit(
    df: DataFrame,
    id_col: str,
    size_col: str,
    n_shards: int,
    seed: int = 0,
) -> DataFrame:
    """Training-shard balance audit — the hot-shard detector for the
    :func:`shard_assignments` layout: per shard, the document count, the
    total size mass, and ``skew_ppm`` = this shard's mass relative to
    the mean shard in exact integer millionths (1_000_000 = perfectly
    balanced; a straggling trainer worker reads as a shard well above
    it). The ratio is computed as ``(mass · |shards| · 10⁶) div total``
    — all-integer, ANSI-safe (CASE-guarded when the corpus has zero
    total mass), no float boundary.

    Plan: the same single corpus exchange as shard_assignments collapsed
    to its map-combined aggregate (the window/pos is NOT computed — an
    audit needs masses, not positions), then a broadcast 1-row total.
    |shards| output rows at any corpus size."""
    if n_shards < 1:
        raise ValueError(
            f"shard_balance_audit: n_shards must be >= 1, got {n_shards}"
        )
    h = sample_hash(
        F.concat(F.lit("shuffle|"), F.col(id_col).cast("string")), seed
    )
    per = (
        df.select(
            F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
            F.col(size_col).cast("long").alias("__sz"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__sz").alias("size_mass"),
        )
    )
    tot = per.agg(
        F.sum("size_mass").alias("__tot"),
        F.count(F.lit(1)).alias("__ns"),
    )
    # the ratio rides DECIMAL(38,0): size_mass·|shards|·10⁶ overflows
    # BIGINT once total size mass passes ~9.2e12 units — an ANSI abort at
    # exactly the 100 TB char-mass scale this audit exists for (r11
    # ADVICE); DuckDB's HUGEINT widening makes the oracle agree verbatim
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "size_mass",
        F.when(
            F.col("__tot") > 0,
            F.expr(
                "(CAST(size_mass AS DECIMAL(38,0)) * __ns * 1000000)"
                " div __tot"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("skew_ppm"),
    )


def weighted_reservoir_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
    precision: int = 6,
) -> DataFrame:
    """Deterministic weighted reservoir sample of ``k`` items per group —
    algorithm A-ES (Efraimidis & Spirakis, "Weighted random sampling
    with a reservoir", IPL 2006, public): each item draws a uniform
    ``u`` and the sample is the k items with the LARGEST key
    ``u^(1/w)``, which realizes weighted sampling WITHOUT replacement
    (inclusion probabilities follow successive weighted draws). Here
    ``u`` is the deterministic md5 sampling hash mapped to millionths
    ``(h mod 10^6 + 1)/10^6`` ∈ (0, 1], so the sample is a pure function
    of (seed, ids, weights) — reproducible across re-runs, partitionings
    and engines, the property a training-mixture manifest needs.

    The rank key is the monotone transform ``ln(u)/w`` (descending —
    same order as u^(1/w); avoids underflowing tiny powers), ROUNDed to
    ``precision`` with the id as total-order tie-break: the suite's
    documented ROUND-of-a-transcendental accepted-risk class (the same
    class lm_score rides; sweep-tested ln parity). Rows whose weight is
    NULL or <= 0 have an UNDEFINED A-ES key and are excluded from the
    reservoir — stated contract, not silent loss; audit the excluded
    mass with dq_violations if it matters. NULL group keys form their
    own group (window PARTITION BY semantics on both engines).

    Scale shape: one keyed window shuffle on the group column — no
    global sort, no driver state; at 100 TB this is one shuffle over
    the corpus keyed by group, exactly what 'k docs per domain,
    weighted by length' costs. Returns (id, group, weight, rk) with
    rk ∈ [1, k]."""
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"weighted_reservoir_per_group: k must be >= 1, got {k}")
    if {"__key", "rk"} & set(df.columns):
        raise ValueError(
            "weighted_reservoir_per_group: input carries reserved column __key/rk"
        )
    u_ppm = (sample_hash(F.col(id_col), seed) % F.lit(1_000_000)) + F.lit(1)
    key = F.when(
        F.col("weight") > 0,
        F.round(
            F.log(u_ppm.cast("double") / F.lit(1_000_000.0))
            / F.col("weight"),
            precision,
        ),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("__key"), F.asc(id_col)
    )
    return (
        df.select(
            F.col(id_col),
            F.col(group_col),
            F.col(weight_col).cast("long").alias("weight"),
        )
        .withColumn("__key", key)
        .where(F.col("__key").isNotNull())
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .drop("__key")
    )


def curriculum_order(
    df: DataFrame,
    id_col: str,
    group_col: str,
    quality_col: str,
    tokens_col: str,
    n_phases: int,
    seed: int = 0,
) -> DataFrame:
    """Token-budget curriculum ordering — the quality-descending
    training order a curriculum-learning run consumes (easy/clean data
    first, long tail later), with an EXACT cumulative token count so a
    trainer cuts at any budget ('first N tokens' == 'the best-first
    curriculum prefix'):

    1. ``phase`` 1..n_phases: exact descending-quality quantile bucket
       (:func:`~chess_lakehouse_spark.operators.relational.score_buckets`
       exact ntile over (quality, id) — phase 1 = top bucket);
    2. within (phase, group): documents order by the deterministic md5
       hash (``seq`` — each source internally shuffled, the
       interleave_groups discipline);
    3. the global order is (phase, seq, group): within each phase the
       sources INTERLEAVE round-robin — one doc per source per rotation
       — so no contiguous run of a single source appears at any scale;
    4. ``pos``/``cum_tokens``: exact global rank + running token sum
       over that order via the distributed
       :func:`~chess_lakehouse_spark.operators.relational.global_prefix_sum`
       (range partition + offsets — never a single-partition window).

    Rows with a NULL quality cannot be placed (score_buckets buckets
    them NULL) and are EXCLUDED — stated contract, not silent loss.
    NULL group keys form their own interleave lane, with the same
    cross-engine caveat as interleave_groups (Spark sorts NULL groups
    first, DuckDB last — use non-NULL groups for oracle comparison).

    Scale shape: two full-data shuffles from score_buckets' sort-rank,
    one (phase, group)-keyed window, two from global_prefix_sum — all
    keyed or ranged, nothing single-partition, no driver state. Returns
    (id, group, phase, seq, n_tokens, pos, cum_tokens)."""
    from pyspark.sql.window import Window

    from chess_lakehouse_spark.operators.relational import (
        global_prefix_sum,
        score_buckets,
    )

    if n_phases < 1:
        raise ValueError(f"curriculum_order: n_phases must be >= 1, got {n_phases}")
    reserved = {"phase", "seq", "pos", "cum_tokens", "n_tokens", "bucket", "__h"}
    clash = reserved & set(df.columns) - {tokens_col}
    if clash:
        raise ValueError(
            f"curriculum_order: input carries reserved column(s) {sorted(clash)}"
        )
    slim = df.select(
        id_col,
        group_col,
        F.col(quality_col).alias("__q"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )
    b = score_buckets(slim, id_col, "__q", n_phases, exact=True)
    phased = b.where(F.col("bucket").isNotNull()).select(
        id_col,
        group_col,
        "n_tokens",
        (F.lit(n_phases + 1) - F.col("bucket")).cast("int").alias("phase"),
    )
    w = Window.partitionBy("phase", group_col).orderBy(
        sample_hash(F.col(id_col), seed).asc(), F.col(id_col).asc()
    )
    seqd = phased.withColumn("seq", F.row_number().over(w).cast("long"))
    return global_prefix_sum(
        seqd, ["phase", "seq", group_col], "n_tokens",
        out_col="cum_tokens", rank_col="pos",
    ).select(id_col, group_col, "phase", "seq", "n_tokens", "pos", "cum_tokens")
