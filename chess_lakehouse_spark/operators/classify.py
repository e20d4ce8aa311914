"""Learned quality classification for training-data curation.

The hand-thresholded Gopher gate (functions/text.py:gopher_passes) has a
learned counterpart in every modern corpus pipeline: GPT-3 trained a
logistic-regression quality filter over Common Crawl (Brown et al. 2020,
Appendix A), and DataComp-LM (Li et al. 2024) showed learned linear
filters dominating hand rules. This module is that component, designed
Spark-first in two asymmetric halves:

- **Training runs on the cluster**: features are the SAME pure-column
  Gopher metric expressions the rule gate uses (one shared builder —
  functions/text.py:_gopher_metric_cols — so the learned and hand gates
  see identical inputs), assembled and fit with MLlib's distributed
  LBFGS. Driver-side state is |features| + 1 doubles.
- **Serving runs as a PURE COLUMN EXPRESSION**: the fitted weights fold
  into ``sigmoid(w·x + b)`` over the metric columns, so the inference
  path carries no MLlib, no model object, no UDF — it rides the scan
  exactly like ``gopher_passes``, and the model itself is a plain JSON
  dict you stage to the lake next to the corpus it filters.

Float caveat (why this is rows-only, not oracle-gated): LBFGS iterates
over float partial aggregates, so fitted coefficients are reproducible
for a fixed (data, partitioning, params) but not bit-pinned across BLAS
builds — the class shared with embedding_pca. The serving expression IS
deterministic given a model dict.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chess_lakehouse_spark.session import FrameScope, local_df

#: Feature order — FIXED: the model dict records it, and serving folds
#: coefficients positionally against these metric columns.
QUALITY_FEATURES: tuple[str, ...] = (
    "n_words",
    "mean_word_len",
    "symbol_ratio",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "alpha_word_frac",
    "stop_hits",
)


def quality_feature_cols(text: Column) -> dict[str, Column]:
    """The classifier's feature columns: the shared Gopher metric builder
    with NULLs (degenerate zero-word docs) coalesced to 0.0 and every
    feature cast to double — narrow, rides the scan."""
    from chess_lakehouse_spark.functions.text import _gopher_metric_cols

    metrics = _gopher_metric_cols(text)
    return {
        name: F.coalesce(metrics[name].cast("double"), F.lit(0.0))
        for name in QUALITY_FEATURES
    }


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, <QUALITY_FEATURES...>) projection."""
    cols = quality_feature_cols(F.col(text_col))
    return df.select(F.col(id_col), *[cols[n].alias(n) for n in QUALITY_FEATURES])


def train_quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    max_iter: int = 100,
    reg_param: float = 0.01,
) -> dict:
    """Fit the LR quality filter on labeled documents (label 1 = keep).

    Returns a PLAIN DICT — ``{"features": [...], "coef": {name: w},
    "intercept": b}`` — not an MLlib model: JSON-serializable for the
    lake, and exactly what :func:`classifier_score` folds into a column
    expression. MLlib fits on standardized features but reports
    coefficients on the original scale, so the raw dot product serves
    correctly."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = quality_features(df, id_col, text_col).join(
        df.select(id_col, F.col(label_col).cast("double").alias("_label")), id_col
    )
    assembled = VectorAssembler(
        inputCols=list(QUALITY_FEATURES), outputCol="_fv"
    ).transform(feats)
    model = LogisticRegression(
        featuresCol="_fv", labelCol="_label", maxIter=max_iter, regParam=reg_param
    ).fit(assembled)
    coef = dict(zip(QUALITY_FEATURES, (float(c) for c in model.coefficients)))
    return {
        "features": list(QUALITY_FEATURES),
        "coef": coef,
        "intercept": float(model.intercept),
    }


def classifier_margin(text: Column, model: dict) -> Column:
    """The linear margin ``z = w·x + b`` over the metric columns —
    pure double arithmetic folded left-to-right in ``model["features"]``
    order, so a SQL mirror with the same literals and association is
    bit-identical cross-engine (the sigmoid is monotone in z, so gate
    decisions derived from ``z >= logit(threshold)`` avoid the
    transcendental entirely)."""
    cols = quality_feature_cols(text)
    z = F.lit(float(model["intercept"]))
    for name in model["features"]:
        z = z + F.lit(float(model["coef"][name])) * cols[name]
    return z


def classifier_score(text: Column, model: dict) -> Column:
    """``sigmoid(w·x + b)`` over the metric columns as one pure column
    expression — the learned gate's serving path, zero MLlib/UDF."""
    z = classifier_margin(text, model)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def score_quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: dict,
    threshold: float | None = None,
) -> DataFrame:
    """(id, keep_prob) for every document — or, with ``threshold``, the
    filtered documents themselves (the gate form, same shape as the
    Gopher/score gates in the clean-corpus pipeline)."""
    prob = classifier_score(F.col(text_col), model)
    if threshold is None:
        return df.select(F.col(id_col), prob.alias("keep_prob"))
    return df.where(prob >= F.lit(float(threshold)))


# ---------------------------------------------------------------------------
# Hashed n-gram linear classifier (fastText-class quality filter)
# ---------------------------------------------------------------------------
#
# The Gopher-metric LR above sees seven hand-designed features; the other
# learned filter every modern pipeline runs is LEXICAL — fastText-style
# bag-of-hashed-ngrams linear models (Joulin et al. 2016, arXiv:1607.01759;
# CCNet's language/quality filters, Wenzek et al. 2020; DataComp-LM's
# fastText filter, Li et al. 2024). This is that component, Spark-first:
#
# - **Features** are hashed token buckets via the portable md5 contract
#   (operators/dedup.py:md5_hash64 pmod n_buckets), NOT MLlib's
#   HashingTF murmur3 — so the SERVING score is reproducible by any
#   engine that has md5, and the gated oracle recomputes the same
#   buckets from the same literal tokens.
# - **Training is batch gradient descent expressed as DataFrame ops**:
#   the weight vector lives in a (bucket, w) DataFrame, never on the
#   driver — at 2^24+ buckets an MLlib dense coefficient vector stops
#   fitting comfortably in driver/executor heap, while this path scales
#   with the cluster (the per-iteration joins are bucket- and doc-keyed
#   shuffles, both map-combined; the weight side is small enough that
#   AQE broadcasts it when it fits). Driver-side state is ONE double
#   (the intercept) plus one 1-row collect per iteration.
# - **Serving is join + sum**: explode tokens, bucket, join the weight
#   table (AQE broadcasts a small model), one map-combined groupBy(doc).
#   Per-term contributions go through the repo's ROUND->DECIMAL(18,6)
#   chain so the doc sum is order-independent and oracle-exact.
#
# Float caveat (training only, same class as LBFGS/PCA): gradient
# aggregates are float sums over partitions, so fitted weights are
# reproducible for a fixed layout but not bit-pinned across partitioning
# changes. Serving with a FIXED weight table is exact.

#: Default hash width. 2^18 buckets ≈ 4 MB of (bucket, w) doubles — far
#: below any broadcast threshold; raise to 2^22+ for 100 TB corpora (the
#: weight DataFrame and every join still scale; nothing is driver-bound).
HASHED_N_BUCKETS_DEFAULT: int = 1 << 18


def hashed_bucket(tok: Column, n_buckets: int) -> Column:
    """Portable hashing-trick bucket id: ``md5_hash64(token) mod n_buckets``.
    md5_hash64 is < 2^60 and non-negative, so pmod == ``%`` in every
    engine with the same md5 — the cross-engine contract the suite
    oracles rely on."""
    from chess_lakehouse_spark.operators.dedup import md5_hash64

    return F.pmod(md5_hash64(tok), F.lit(int(n_buckets))).cast("long")


def hashed_features(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """``(id, n_d, bucket, tf)`` sparse mean-poolable features in ONE
    map-combined shuffle: doc length is computed from the token array
    BEFORE the explode (so no second doc-keyed pass), and ``n_d`` rides
    the groupBy key (functionally dependent on the id). Zero-token docs
    produce no rows — serving restores them at the margin join."""
    from chess_lakehouse_spark.functions.text import ws_tokens

    toks = df.select(
        F.col(id_col),
        F.filter(
            ws_tokens(F.coalesce(F.col(text_col), F.lit(""))),
            lambda t: t != F.lit(""),
        ).alias("_ts"),
    ).select(
        F.col(id_col),
        F.size("_ts").alias("n_d"),
        F.explode("_ts").alias("_tok"),
    )
    return toks.groupBy(
        F.col(id_col), F.col("n_d"), hashed_bucket(F.col("_tok"), n_buckets).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("tf"))


def hashed_weights_from_tokens(
    spark, token_weights: dict[str, float], n_buckets: int
) -> DataFrame:
    """A (bucket, w) weight table from literal token weights, bucketed
    IN-ENGINE through the same md5 chain serving uses (the gated oracle
    rebuilds it from the same literals). Colliding tokens sum exactly:
    weights pass through DECIMAL(9,4) so the fold is order-independent."""
    rows = [(tok, float(w)) for tok, w in sorted(token_weights.items())]
    wdf = local_df(spark, rows, "tok string, w double")
    return (
        wdf.groupBy(hashed_bucket(F.col("tok"), n_buckets).alias("bucket"))
        .agg(F.sum(F.col("w").cast("decimal(9,4)")).cast("double").alias("w"))
    )


def hashed_classifier_margins(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    intercept: float,
    n_buckets: int,
) -> DataFrame:
    """``(id, margin, keep)`` for EVERY input document — the serving path.

    margin = intercept + sum_b w[b] * tf_b / n_d (mean pooling, so the
    score is length-invariant and the GD step size is well-conditioned).
    Exactness contract: each term is ROUND(·,6) -> DECIMAL(18,6); the doc
    sum and the intercept addition stay in DECIMAL, so ``margin`` (cast
    to double at the end) and ``keep`` are bit-identical cross-engine —
    no float-sum-order risk, no transcendental.

    Plan shape at 100 TB: explode+groupBy is one map-combined doc-keyed
    shuffle; the weight join is bucket-keyed and AQE-broadcast when the
    model is small (no forced hint — the repo convention); the final
    left join restores zero-token / no-hit docs at margin = intercept.
    """
    feats = hashed_features(df, id_col, text_col, n_buckets)
    contrib = (
        feats.join(weights, "bucket")
        .select(
            F.col(id_col),
            F.round(
                F.col("w") * F.col("tf").cast("double") / F.col("n_d").cast("double"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("_c"),
        )
        .groupBy(id_col)
        .agg(F.sum("_c").alias("_sc"))
    )
    b_dec = F.lit(float(intercept)).cast("decimal(18,6)")
    z_dec = b_dec + F.coalesce(F.col("_sc"), F.lit(0).cast("decimal(18,6)"))
    return (
        df.select(id_col)
        .join(contrib, id_col, "left")
        .select(
            F.col(id_col),
            z_dec.cast("double").alias("margin"),
            (z_dec >= F.lit(0)).alias("keep"),
        )
    )


def train_hashed_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = HASHED_N_BUCKETS_DEFAULT,
    lr: float = 4.0,
    iters: int = 60,
    reg: float = 0.0,
) -> tuple[DataFrame, dict]:
    """Fit the hashed-ngram LR by full-batch gradient descent, entirely
    as DataFrame algebra — returns ``(weights_df, meta)`` where
    ``weights_df`` is the distributed (bucket, w) table and ``meta`` is
    ``{"n_buckets", "intercept", "lr", "iters"}``.

    Per iteration (all map-combined, weight joins AQE-broadcast while
    the model fits): margin join + doc groupBy -> residuals p - y ->
    bucket groupBy gradient -> weight update via full outer join. The
    weight frame is ``localCheckpoint``-ed each step so the lineage
    stays O(1) deep instead of O(iters); the only driver state is the
    intercept and its 1-row gradient collect.

    Mean pooling keeps every feature in [0, 1], so one global ``lr``
    conditions all buckets; ``reg`` is plain L2. Float class: gradient
    sums are partition-order floats — reproducible for a fixed layout,
    not bit-pinned (the LBFGS/PCA class; serving IS exact)."""
    spark = df.sparkSession
    with FrameScope() as scope:
        feats = scope.cache(hashed_features(df, id_col, text_col, n_buckets))
        labels = scope.cache(
            df.select(F.col(id_col), F.col(label_col).cast("double").alias("_y"))
        )
        n = labels.count()
        if n == 0:
            raise ValueError("train_hashed_classifier: empty training frame")

        x = scope.cache(
            feats.select(
                F.col(id_col),
                "bucket",
                (F.col("tf").cast("double") / F.col("n_d").cast("double")).alias("_x"),
            )
        )
        w = spark.createDataFrame([], "bucket long, w double")
        b = 0.0
        for _ in range(int(iters)):
            dotp = (
                x.join(w, "bucket")
                .groupBy(id_col)
                .agg(F.sum(F.col("_x") * F.col("w")).alias("_dp"))
            )
            resid = (
                labels.join(dotp, id_col, "left")
                .select(
                    F.col(id_col),
                    (
                        F.lit(1.0)
                        / (F.lit(1.0) + F.exp(-(F.lit(b) + F.coalesce(F.col("_dp"), F.lit(0.0)))))
                        - F.col("_y")
                    ).alias("_r"),
                )
            )
            grad = (
                x.join(resid, id_col)
                .groupBy("bucket")
                .agg((F.sum(F.col("_x") * F.col("_r")) / F.lit(float(n))).alias("_g"))
            )
            new_w = scope.checkpoint(
                w.join(grad, "bucket", "full_outer").select(
                    "bucket",
                    (
                        F.coalesce(F.col("w"), F.lit(0.0)) * F.lit(1.0 - lr * reg)
                        - F.lit(lr) * F.coalesce(F.col("_g"), F.lit(0.0))
                    ).alias("w"),
                )
            )
            b -= lr * float(resid.agg(F.avg("_r")).collect()[0][0])
            # released only now: the resid collect above read it
            scope.release(w)
            w = new_w
        scope.keep(w)
    meta = {
        "algo": "hashed_lr",
        "n_buckets": int(n_buckets),
        "intercept": float(b),
        "lr": float(lr),
        "iters": int(iters),
    }
    return w, meta


#: Sentinel bucket id storing the intercept inside the staged weight
#: parquet — md5_hash64 pmod is non-negative, so -1 can never collide
#: with a real bucket.
_INTERCEPT_BUCKET = -1


def save_hashed_classifier(weights: DataFrame, meta: dict, path: str) -> None:
    """Stage the model to the lake as ONE parquet: the (bucket, w) table
    plus an (``_INTERCEPT_BUCKET``, intercept) sentinel row — no side
    JSON to drift from the weights."""
    spark = weights.sparkSession
    sentinel = local_df(
        spark,
        [(_INTERCEPT_BUCKET, float(meta["intercept"]), int(meta["n_buckets"]))],
        "bucket long, w double, n_buckets long",
    )
    (
        weights.withColumn("n_buckets", F.lit(int(meta["n_buckets"])))
        .unionByName(sentinel)
        .write.mode("overwrite")
        .parquet(path)
    )


def load_hashed_classifier(spark, path: str) -> tuple[DataFrame, dict]:
    """Inverse of :func:`save_hashed_classifier`."""
    staged = spark.read.parquet(path)
    row = staged.where(F.col("bucket") == _INTERCEPT_BUCKET).collect()
    if len(row) != 1:
        raise ValueError(f"staged hashed classifier at {path} has no intercept row")
    meta = {
        "algo": "hashed_lr",
        "n_buckets": int(row[0]["n_buckets"]),
        "intercept": float(row[0]["w"]),
    }
    weights = staged.where(F.col("bucket") != _INTERCEPT_BUCKET).select("bucket", "w")
    return weights, meta


def score_hashed_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    meta: dict,
    threshold_margin: float = 0.0,
    gate: bool = False,
) -> DataFrame:
    """Serve the hashed model: ``(id, margin, keep)`` per document, or —
    with ``gate=True`` — the surviving input rows themselves (the
    clean-corpus gate form). ``keep`` is ``margin >= threshold_margin``
    computed in exact DECIMAL (threshold folds into the intercept, so
    the comparison never touches a float sum)."""
    margins = hashed_classifier_margins(
        df,
        id_col,
        text_col,
        weights,
        float(meta["intercept"]) - float(threshold_margin),
        int(meta["n_buckets"]),
    )
    if threshold_margin:
        # margins above used a shifted intercept for the exact keep test;
        # restore the true margin for reporting.
        margins = margins.select(
            id_col,
            (F.col("margin") + F.lit(float(threshold_margin))).alias("margin"),
            "keep",
        )
    if not gate:
        return margins
    return df.join(margins.where("keep").select(id_col), id_col, "semi")
