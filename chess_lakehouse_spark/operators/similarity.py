"""Similarity search over embedding columns (array<float>).

North-star extension (SURVEY.md §7 step 8): brute-force cosine top-k as the
exact baseline, and random-hyperplane LSH bucketing as the scale path.

Numeric determinism contract (parity-tested against DuckDB in
tests/test_llm_ops.py): dot products are computed as a *sequential*
left-fold of doubles in array order (``F.aggregate``), which bit-matches
DuckDB's ``list_dot_product`` over ``DOUBLE[]``; cosines are rounded to 6
decimals before ranking, and every ranking carries a unique-id tie-break,
so ordering is engine-independent.

Scale notes: the probe set is broadcast (bounded by construction), so the
corpus is scanned exactly once with no shuffle for brute-force scoring; the
LSH variant turns scoring into an equi-join on the bucket id — the shape
that survives a 1000-executor 100 TB corpus. Per-query top-k is a window
over query_id: the shuffle carries only candidate rows, already pruned.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chess_lakehouse_spark.session import FrameScope, local_df, spread


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — bit-matches DuckDB list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column, precision: int = 6) -> Column:
    """Rounded cosine similarity. sqrt/division are IEEE-correctly-rounded,
    so identical double inputs give identical doubles in any engine."""
    return F.round(dot(a, b) / F.sqrt(dot(a, a) * dot(b, b)), precision)


def _paired_cosine(precision: int = 6) -> Column:
    """Cosine from a pre-computed squared norm on each side: the per-pair work
    is ONE fold (the cross dot product); ||a||²/||b||² are computed once per
    vector, not once per pair. Same expression tree as the oracle
    (``dot / sqrt(n2a * n2b)``) so doubles stay bit-identical."""
    return F.round(
        dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("qn2") * F.col("cn2")), precision
    )


def knn_brute_force(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: every probe against every corpus vector (self
    excluded). Probes are broadcast; corpus partitions never move, and each
    side's squared norm is computed once before the join.
    Returns (query_id, cand_id, sim, rk)."""
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
        )
    )
    # spread: the per-pair cosine folds run map-side on the corpus scan's
    # partitioning — ONE task on the single-file fixtures (guide §2.5).
    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), id_col).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("cn2"),
    )
    scored = (
        c.crossJoin(p)
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", _paired_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "sim", "rk")
    )


def hyperplane_signs(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes, derived from md5 parity of
    "plane|dim" so the oracle SQL can embed the *same* literals. Driver-side
    only (num_planes × dim scalars — bounded), shipped as literals into the
    plan, never a shuffle."""
    planes: list[list[float]] = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 1 else -1.0)
        planes.append(row)
    return planes


def rhp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit p = sign(plane_p · vec) > 0.
    Pure column expressions — codegen, no Python in the executor path.
    Each plane is ONE array literal (num_planes nodes total, not
    num_planes × dim)."""
    bits = []
    for p, row in enumerate(planes):
        plane = F.lit([float(s) for s in row])
        bits.append(F.when(dot(vec, plane) > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def knn_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates limited to the probe's LSH bucket, then
    exact cosine re-rank. Bucketing turns the cross join into an equi-join on
    the bucket id — per-bucket co-location at scale, AQE splits hot buckets.
    Returns (query_id, cand_id, sim, rk); probes with an empty bucket simply
    produce no rows (inner-join semantics)."""
    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), id_col).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("cn2"),
        rhp_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
            rhp_bucket(F.col(vec_col), planes).alias("bucket"),
        )
    )
    scored = (
        c.join(p, on="bucket")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", _paired_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "sim", "rk")
    )


def _py_dot(a: list[float], b: list[float]) -> float:
    """Driver-side sequential left-fold dot product — IEEE doubles added in
    array order, bit-identical to ``dot`` (F.aggregate) and DuckDB
    ``list_dot_product``."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _centroid_literal_array(cent_rows: list[tuple[int, list[float], float]]) -> Column:
    """Literal array of (cid, ccv, ccn2) structs, sorted by cid. Bounded by
    construction (n_centroids × dim scalars), shipped into the plan — the
    map-side argmax pattern, zero shuffle for assignment. Each centroid
    vector is ONE array literal (``F.lit(list)``), not dim separate nodes —
    keeps the plan k·3 expression nodes instead of k·(dim+2), which is what
    dominates compile time for wide embeddings."""
    return F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.lit([float(x) for x in cv]).alias("ccv"),
                F.lit(float(cn2)).alias("ccn2"),
            )
            for cid, cv, cn2 in sorted(cent_rows, key=lambda r: r[0])
        ]
    )


def _ranked_lists(cent_arr: Column, vec: Column, n2: Column) -> Column:
    """Centroid ids sorted by (cosine DESC, cid ASC) — struct sort on
    (negated rounded sim, cid). ``n2`` is bound ONCE per row through a
    1-element-array transform (poor man's LET): when callers pass a
    same-projection column, CollapseProject would otherwise inline its
    dot(vec, vec) subtree into the per-centroid lambda — k re-evaluations
    per row (same pathology measured in quantize_int8)."""
    return F.element_at(
        F.transform(
            F.array(n2),
            lambda nn: F.array_sort(
                F.transform(
                    cent_arr,
                    lambda c: F.struct(
                        (-F.round(dot(vec, c["ccv"]) / F.sqrt(nn * c["ccn2"]), 6)).alias(
                            "negsim"
                        ),
                        c["cid"].alias("cid"),
                    ),
                )
            ),
        ),
        1,
    )


def kmeans_fit(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    seed: int = 0,
) -> list[tuple[int, list[float]]]:
    """Seeded distributed k-means training over a DataFrame — the offline
    trainer that feeds ``knn_ivf(..., centroids=...)``.

    Spherical variant: assignment is argmax cosine (rounded to 6 decimals,
    cid tie-break — identical to the IVF probe ranking), update is the
    per-dimension arithmetic mean. Every step is engine-portable so a fixed
    (k, iters, seed) run is oracle-checkable in SQL with the loop unrolled:

    - init: the ``k`` vectors with the smallest ``md5(seed || '|' || id)``
      (id tie-break) — a deterministic pseudo-random draw both engines
      compute identically; cid = 0..k-1 in that order.
    - assignment: map-side HOF argmax over the literal centroid array —
      zero shuffle, same pattern as ``knn_ivf``.
    - update: mean per (cid, dim) via exact DECIMAL(18,6) per-row casts and
      an exact decimal SUM (summation-order-independent), then ONE double
      division + ROUND(·, 6) — so distributed execution cannot perturb bits.
      One map-combined groupBy shuffle per iteration, carrying k × dim cells.
    - empty clusters keep their previous centroid.

    Per-iteration driver collect is k × dim scalars (bounded by
    construction, like the centroid literals themselves). Returns
    ``[(cid, centroid_vector), ...]`` sorted by cid.
    """
    # Lazily persisted (not eagerly localCheckpoint'ed): the materialization
    # folds into the init-collect job below instead of paying its own job,
    # and every iteration job reads the cached blocks — one fewer driver
    # round trip per fit with the same recompute-avoidance (r16, guide §5;
    # fenced min-of-5: 3.3 s vs 3.6 s on knn_ivf_kmeans end-to-end). The
    # fully-unrolled one-job form (oracle-style nested CTEs in one plan)
    # fenced SLOWER (4.2 s) — the nested window/agg tree costs more than
    # the saved job round trips — so iteration stays driver-sequenced.
    with FrameScope() as scope:
        vecs = scope.cache(
            spread(
                corpus.select(
                    F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("dv")
                ),
                "vid",
            )
        )
        init_rows = (
            vecs.select(
                "vid", "dv", F.md5(F.concat(F.lit(f"{seed}|"), F.col("vid").cast("string"))).alias("mk")
            )
            .orderBy("mk", "vid")
            .limit(k)
            .collect()
        )
        cents: list[tuple[int, list[float]]] = [
            (i, [float(x) for x in r.dv])
            for i, r in enumerate(sorted(init_rows, key=lambda r: (r.mk, r.vid)))
        ]
        for _ in range(iters):
            cent_arr = _centroid_literal_array(
                [(cid, cv, _py_dot(cv, cv)) for cid, cv in cents]
            )
            assigned = vecs.withColumn("n2", dot(F.col("dv"), F.col("dv"))).withColumn(
                "list_id", _ranked_lists(cent_arr, F.col("dv"), F.col("n2"))[0]["cid"]
            )
            mean_rows = (
                assigned.select("list_id", F.posexplode("dv").alias("pos", "val"))
                .groupBy("list_id", "pos")
                .agg(
                    F.round(
                        F.sum(F.col("val").cast("decimal(18,6)")).cast("double")
                        / F.count(F.lit(1)),
                        6,
                    ).alias("mval")
                )
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in mean_rows:
                by_cid.setdefault(int(r.list_id), {})[int(r.pos)] = float(r.mval)
            cents = [
                (
                    cid,
                    [d[p] for p in sorted(d)] if (d := by_cid.get(cid)) else old,
                )
                for cid, old in cents
            ]
    return cents


def knn_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    nprobe: int = 2,
    k: int = 5,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate kNN: partition the corpus into
    centroid-owned lists, search only the probe's ``nprobe`` nearest lists.

    ``centroids`` (as returned by ``kmeans_fit``) selects the trained-list
    layout; when omitted, the ``n_centroids`` lowest-id vectors serve as a
    deterministic surrogate (the list/probe mechanics are identical —
    training is a separate seeded batch job). Assignment is an argmax over
    a literal centroid array (HOF, map-side, zero shuffle — same pattern as
    the openings enrichment); candidate scoring is an equi-join on list_id,
    so at 100 TB each list is a co-located partition and only
    ``nprobe/n_centroids`` of the corpus is touched per query.
    Returns (query_id, cand_id, sim, rk).
    """
    if centroids is not None:
        cent_rows = [(cid, list(cv), _py_dot(cv, cv)) for cid, cv in centroids]
    else:
        collected = (
            corpus.where(F.col(id_col) < n_centroids)
            .select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("cv"),
                dot(F.col(vec_col), F.col(vec_col)).alias("cn2"),
            )
            .collect()
        )
        # cn2 computed by the engine's own fold so downstream arithmetic
        # matches the oracle bit-for-bit (the driver fold matches too, but
        # keep the engine as the source of truth for corpus-derived values)
        cent_rows = [(int(r.cid), list(r.cv), float(r.cn2)) for r in collected]
    cent_arr = _centroid_literal_array(cent_rows)

    def ranked_lists(vec: Column, n2: Column) -> Column:
        return _ranked_lists(cent_arr, vec, n2)

    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), id_col).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("cn2"),
    ).withColumn("list_id", ranked_lists(F.col("cv"), F.col("cn2"))[0]["cid"])
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
        )
        .withColumn(
            "list_id",
            F.explode(
                F.transform(
                    F.slice(ranked_lists(F.col("qv"), F.col("qn2")), 1, nprobe),
                    lambda s: s["cid"],
                )
            ),
        )
    )
    scored = (
        c.join(p, on="list_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", _paired_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "sim", "rk")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Integer dot product — exact BIGINT arithmetic, order-independent
    (unlike float folds), so no DECIMAL detour is needed for portability."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("long") * y.cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric int8 quantization: q_i = round(v_i * 127 / max|v|) — the
    standard 4×-compression trick for large ANN corpora (the corpus is
    stored/scanned as int8; scales are irrelevant to COSINE ranking because
    they cancel in dp/sqrt(n2a·n2b)). An all-zero vector quantizes to all
    zeros. Pure column expression; portable because both engines round
    doubles half-away-from-zero and the inputs are identical doubles."""
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    # Bind scale ONCE per row via a 1-element-array transform (a poor man's
    # LET): referencing `scale` directly inside the per-element lambda
    # inlines the array_max subtree into every element — O(dim²) per row,
    # measured 2.8 s -> 0.9 s at sf0.1 for the quantize+norm projection.
    return F.element_at(
        F.transform(
            F.array(scale),
            lambda s: F.transform(vec, lambda x: F.round(x.cast("double") * s).cast("int")),
        ),
        1,
    )


def knn_quantized(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Approximate cosine top-k over int8-QUANTIZED vectors: same
    probe-broadcast / corpus-never-moves shape as ``knn_brute_force``, but
    every per-pair operation is integer arithmetic on the 8-bit codes —
    4× less memory traffic per scan, and the dominant cost at 100 TB is
    exactly the corpus scan. Quantized cosine = int_dp / sqrt(int_n2·int_n2)
    (per-vector scales cancel), so results are EXACT integer-derived doubles
    — fully portable with no decimal detour. Returns
    (query_id, cand_id, sim, rk); sim is the quantized cosine, which tracks
    the float cosine to ~1e-2 (rank agreement is property-tested against
    ``knn_brute_force``)."""
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"),
            quantize_int8(F.col(vec_col)).alias("qq"),
        ).select(
            "query_id", "qq", int_dot(F.col("qq"), F.col("qq")).alias("qn2")
        )
    )
    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), id_col).select(
        F.col(id_col).alias("cand_id"),
        quantize_int8(F.col(vec_col)).alias("cq"),
    ).select("cand_id", "cq", int_dot(F.col("cq"), F.col("cq")).alias("cn2"))
    scored = (
        c.crossJoin(p)
        .where((F.col("cand_id") != F.col("query_id")) & (F.col("qn2") > 0) & (F.col("cn2") > 0))
        .select(
            "query_id",
            "cand_id",
            F.round(
                int_dot(F.col("qq"), F.col("cq")).cast("double")
                / F.sqrt((F.col("qn2") * F.col("cn2")).cast("double")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "sim", "rk")
    )


def sparse_cosine_pairs(
    weights: DataFrame,
    id_col: str,
    term_col: str,
    weight_col: str,
    threshold: float,
    max_df: int | None = None,
    block_col: str | None = None,
    precision: int = 6,
) -> DataFrame:
    """Sparse-vector cosine similarity via an inverted-index join — the
    sparse (TF-IDF) counterpart of the dense ``cosine_near_pairs``: pairs
    are generated ONLY for documents sharing a term, never all-pairs.

    ``weights`` is a (id, term, weight) frame (e.g. the ``tfidf`` output).
    Pair-generation cost is Σ_t df(t)², so high-df terms (stopwords) are
    the scale hazard. Two orthogonal fan-out controls:

    - ``max_df`` prunes high-df terms before pair generation — right for a
      Zipfian corpus where stopwords carry join cost but near-zero tf-idf
      signal. (On a shared-vocabulary corpus where EVERY term is high-df it
      would prune everything; there, block instead.)
    - ``block_col`` (a column of ``weights``, one value per id) scopes
      pair generation to documents in the same block — CDC/blocking-style.
      The join key becomes (block, term), so Σ_t df(t)² is bounded per
      block regardless of the global df distribution. Norms are computed
      over ALL kept terms of a doc, so the cosine itself is unblocked —
      blocking only constrains which pairs are *generated*.

    Determinism: per-term products and squares are cast to DECIMAL(18,6)
    before the exact decimal SUM, so distributed summation order cannot
    perturb bits (the suite-wide pattern); the final cosine is ONE double
    division + sqrt, rounded. Returns (id_a, id_b, sim >= threshold).
    """
    cols = [F.col(id_col).alias("id"), F.col(term_col).alias("term"), F.col(weight_col).alias("w")]
    if block_col is not None:
        cols.append(F.col(block_col).alias("blk"))
    w = weights.select(*cols)
    if max_df is not None:
        keep = F.broadcast(
            w.groupBy("term")
            .agg(F.count(F.lit(1)).alias("pdf"))
            .where(F.col("pdf") <= max_df)
            .select("term")
        )
        w = w.join(keep, "term")
    # Norms ride a count-window over the SAME weight frame instead of a
    # separate groupBy("id") subtree + two keyed joins at the tail: the
    # ``weights`` lineage (for tfidf: corpus scan → explode → tf/df
    # aggregations → idf join) would otherwise execute a THIRD time for
    # the norm table (r15 plan audit: the tfidf_cosine plan carried 16
    # corpus scans; ReuseExchange dedupes the a/b self-join sides but
    # not the differently-pruned norm subtree). The window's exact
    # DECIMAL sum over each id partition is bit-identical to the
    # groupBy sum, and blocking still only constrains which pairs are
    # *generated* — the norm spans ALL kept terms of the doc.
    from pyspark.sql.window import Window

    w = w.withColumn(
        "n2",
        F.sum((F.col("w") * F.col("w")).cast("decimal(18,6)"))
        .over(Window.partitionBy("id"))
        .cast("double"),
    )
    join_keys = ["term"] if block_col is None else ["blk", "term"]
    pair_cols = ["term"] if block_col is None else ["term", "blk"]
    a = w.select(
        F.col("id").alias("id_a"), *pair_cols, F.col("w").alias("wa"),
        F.col("n2").alias("n2a"),
    )
    b = w.select(
        F.col("id").alias("id_b"), *pair_cols, F.col("w").alias("wb"),
        F.col("n2").alias("n2b"),
    )
    dots = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(18,6)")).cast("double").alias("dp"),
            # constant per (id_a, id_b) — min() picks that constant
            F.min("n2a").alias("n2a"),
            F.min("n2b").alias("n2b"),
        )
    )
    return (
        dots.select(
            "id_a",
            "id_b",
            F.round(F.col("dp") / F.sqrt(F.col("n2a") * F.col("n2b")), precision).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def cosine_near_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key (id_a < id_b,
    sim >= threshold). The block equi-join bounds pair generation; the
    unblocked 100 TB path composes rhp_bucket as the block instead.
    Returns (id_a, id_b, sim)."""
    # spread the probe side: under the (AQE-chosen) broadcast of b this is
    # the stream side carrying every per-pair fold — single-task on the
    # one-file fixtures without it (guide §2.5).
    a = spread(
        vectors.select(F.col(id_col), F.col(vec_col), F.col(block_col)), id_col
    ).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("qv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
        F.col(block_col).alias("blk"),
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("cv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("cn2"),
        F.col(block_col).alias("blk"),
    )
    return (
        a.join(b, on="blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _paired_cosine().alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    threshold: float = 0.45,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public method): cluster the embedding space, find
    cosine near-duplicates WITHIN each cluster only, and keep one canonical
    representative per duplicate group.

    Plan shape: assignment is the map-side argmax over a literal centroid
    array (zero shuffle — identical machinery to :func:`knn_ivf`; pass
    ``centroids`` from :func:`kmeans_fit` for trained clusters, else the
    ``n_centroids`` lowest-id vectors serve as the deterministic surrogate
    layout). Near-pairs come from the ``list_id`` equi-join — never an
    all-pairs comparison — and a vector is dropped iff it has a LOWER-id
    neighbor with cosine >= ``threshold``, which keeps exactly the minimal
    id of every within-cluster duplicate group (the SemDeDup "keep one per
    ε-ball" rule with a deterministic representative).

    100 TB: cluster populations are bounded by choosing ``n_centroids`` ∝
    corpus_size / target_cluster_size (the paper runs ~50k clusters at
    LAION scale), so the per-cluster join is a bounded equi-join; a skewed
    cluster can be sub-blocked with :func:`rhp_bucket` exactly as
    :func:`cosine_near_pairs` composes it. Returns surviving
    ``(id_col, list_id)`` rows.
    """
    if centroids is not None:
        cent_rows = [(cid, list(cv), _py_dot(cv, cv)) for cid, cv in centroids]
    else:
        collected = (
            corpus.where(F.col(id_col) < n_centroids)
            .select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("cv"),
                dot(F.col(vec_col), F.col(vec_col)).alias("cn2"),
            )
            .collect()
        )
        cent_rows = [(int(r.cid), list(r.cv), float(r.cn2)) for r in collected]
    cent_arr = _centroid_literal_array(cent_rows)

    # The assigned frame feeds THREE consumers (both pair-join sides and
    # the survivor anti-join); without a persist the k-centroid argmax fold
    # re-runs once per consumer — measured 3x assignment cost. The cache
    # is owned by the returned frame (FrameScope.own, as in ngram_jaccard).
    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), id_col).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        dot(F.col(vec_col), F.col(vec_col)).alias("n2"),
    ).withColumn("list_id", _ranked_lists(cent_arr, F.col("v"), F.col("n2"))[0]["cid"])
    with FrameScope() as scope:
        c = scope.cache(c)
        a = c.select(
            F.col("vid").alias("id_a"), F.col("v").alias("qv"), F.col("n2").alias("qn2"),
            "list_id",
        )
        b = c.select(
            F.col("vid").alias("id_b"), F.col("v").alias("cv"), F.col("n2").alias("cn2"),
            "list_id",
        )
        dropped = (
            a.join(b, on="list_id")
            .where(F.col("id_a") < F.col("id_b"))
            .where(_paired_cosine() >= threshold)
            .select(F.col("id_b").alias("vid"))
            .distinct()
        )
        return scope.own(
            c.join(dropped, on="vid", how="left_anti").select(
                F.col("vid").alias(id_col), "list_id"
            )
        )


def semantic_contamination(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str | None = None,
    planes: list[list[float]] | None = None,
    plane_sets: list[list[list[float]]] | None = None,
    precision: int = 6,
) -> DataFrame:
    """Cross-set SEMANTIC decontamination candidates: corpus documents
    whose embedding is cosine-near some held-out eval/benchmark document
    (the embedding-space counterpart of the n-gram
    ``contamination_ngram`` check — eval-set leakage survives paraphrase,
    which n-gram overlap misses; cf. the decontamination discussion in
    Brown et al. 2020 App. C and SemDeDup, Abbas et al. 2023).

    Returns ``(corpus_id, eval_id, sim)`` with ``sim >= threshold``.
    Blocking (exactly one of):

    - ``block_col``: a shared key (label, language, shard) — plain
      equi-join.
    - ``planes``: ONE random-hyperplane signature (:func:`rhp_bucket`);
      pairs compare iff both sides land in the same bucket.
    - ``plane_sets``: MULTIPLE independent signatures OR-ed — the LSH
      banding recall amplifier: a pair is a candidate if ANY band
      agrees, so near-threshold pairs straddling one cut survive.
      Candidates are deduped on ids BEFORE the cosine fold.

    Scale shape: never all-pairs — the (band,) bucket equi-join bounds
    candidates; the eval side is tiny next to the corpus, so AQE
    broadcasts it (no forced hint, repo convention) and the corpus side
    never shuffles on the pair axis. 100 TB corpus × 100k eval rows is
    a broadcast-join scan.
    """
    chosen = [block_col is not None, planes is not None, plane_sets is not None]
    if sum(chosen) != 1:
        raise ValueError(
            "semantic_contamination: pass exactly one of block_col / planes / plane_sets"
        )
    if planes is not None:
        plane_sets = [planes]

    def side(df: DataFrame, id_alias: str, v: str, n2: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(v),
            dot(F.col(vec_col), F.col(vec_col)).alias(n2),
            *( [F.col(block_col).alias("blk")] if block_col is not None else [] ),
        )
        if block_col is not None:
            return base
        bands = F.array(
            *[rhp_bucket(F.col(v), ps) for ps in plane_sets]
        )
        return base.select(
            id_alias, v, n2, F.posexplode(bands).alias("band", "blk")
        )

    # spread only the corpus side (the eval side is the broadcast side)
    c = side(spread(corpus, id_col), "corpus_id", "qv", "qn2")
    e = side(evalset, "eval_id", "cv", "cn2")
    keys = ["blk"] if block_col is not None else ["band", "blk"]
    cand = c.join(e, on=keys)
    if block_col is None and len(plane_sets) > 1:
        cand = cand.dropDuplicates(["corpus_id", "eval_id"])
    return (
        cand.select(
            "corpus_id", "eval_id", _paired_cosine(precision).alias("sim")
        )
        .where(F.col("sim") >= F.lit(float(threshold)))
    )


def decontaminate_semantic(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    **blocking,
) -> DataFrame:
    """The gate form: corpus rows minus everything
    :func:`semantic_contamination` flags — one anti-join on the corpus
    id, preserving all input columns."""
    flagged = semantic_contamination(
        corpus, evalset, id_col, vec_col, threshold, **blocking
    ).select("corpus_id").distinct()
    return corpus.join(
        flagged, corpus[id_col] == flagged["corpus_id"], "left_anti"
    )


def label_centroids(
    corpus: DataFrame,
    label_col: str,
    vec_col: str,
    precision: int = 6,
) -> DataFrame:
    """Per-label embedding centroid (arithmetic mean per dimension) — class
    prototypes for few-shot heads, clustering init, or drift monitoring.

    One map-combined groupBy carrying |labels| × dim cells (posexplode →
    partial sums absorb row-count skew before the exchange). Emitted
    exploded as (label, pos, mval, n_vecs): scalar cells, no array-hash
    portability concerns, and the natural layout for a downstream
    centroid literal.

    The mean is rounded in EXACT INTEGER arithmetic, not via
    ``ROUND(double_sum / n, p)``: when the true quotient lands exactly on
    a half one decimal past the precision (found at sf0.1, p=6: sum
    0.616992 / 192 = 0.0032135 exactly), Spark's BigDecimal-HALF_UP of
    the nearest double and DuckDB's floating ``round()`` resolve the tie
    differently — a 10^-p divergence that no double-side rounding can
    make portable. With the scale-p sum held as an integer ``s = sum *
    10^p`` (functions/exact.py — the element cast is DECIMAL(18, p), so
    the scale matches the multiplier and the long cast is exact at ANY
    precision, never a truncation), half-away rounding is ``(2*|s| + n)
    div (2*n)`` — pure integer ops, identical in every engine; the final
    ``/ 10^p`` double division is exact-input and correctly rounded on
    both sides.
    """
    from chess_lakehouse_spark.functions.exact import mean_scaled, sum_scaled_long

    agged = (
        corpus.select(F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            sum_scaled_long(F.col("val"), precision).alias("s"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )
    return agged.select(
        "label",
        "pos",
        mean_scaled("s", "n_vecs", precision).alias("mval"),
        "n_vecs",
    )


def _check_ivf_batch_id(batch_id: str) -> None:
    if not batch_id or any(c in batch_id for c in "/=\\"):
        raise ValueError(f"ivf index: bad batch_id {batch_id!r}")


def _assign_lists(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Map-side centroid argmax shared by publish and append — ONE
    implementation so build and append can never place the same vector
    in different lists."""
    cent_rows = [(cid, list(cv), _py_dot(cv, cv)) for cid, cv in centroids]
    cent_arr = _centroid_literal_array(cent_rows)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        dot(F.col(vec_col), F.col(vec_col)).alias("n2"),
    ).withColumn(
        "list_id", _ranked_lists(cent_arr, F.col(vec_col), F.col("n2"))[0]["cid"]
    )


def publish_ivf_index(
    corpus: DataFrame,
    out_dir: str,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    batch_id: str = "base",
) -> None:
    """Materialize an IVF index AS LAKE LAYOUT: assign every vector to its
    centroid list (map-side argmax — zero shuffle for assignment) and write
    the corpus Hive-partitioned as ``batch_id=<id>/list_id=<n>``.

    This turns ANN search into PARTITION PRUNING: a probe that touches
    ``nprobe`` lists reads exactly those ``list_id=`` directories — the
    scan itself skips (n_centroids - nprobe)/n_centroids of a 100 TB
    corpus, before any executor sees a row. The write shuffles once on
    list_id (file-count control, same as ``write_partitioned``). The
    ``batch_id`` outer level is the append lifecycle's unit
    (:func:`append_ivf_index` — the rollup/bm25 discipline); pruning on
    the inner ``list_id`` column is unaffected. The centroids persist as
    a ``_centroids`` sidecar (underscore-prefixed: input listings skip
    it) so append and search can never assign with different centroids
    than the build.

    A RE-publish over an existing ``out_dir`` REPLACES the whole index
    atomically (staged aside + rename swap) — including every appended
    batch partition: those were assigned under the OLD centroids, and
    leaving them in place under new centroids would silently mis-list
    their vectors (probes rank lists with the new centroids and miss
    them). Re-fold deltas after a rebuild."""
    from chess_lakehouse_spark.operators.publish import (
        swap_publish,
        write_partitioned,
    )

    _check_ivf_batch_id(batch_id)
    spark = corpus.sparkSession

    def write(tmp: str) -> None:
        write_partitioned(
            _assign_lists(corpus, id_col, vec_col, centroids),
            f"{tmp}/batch_id={batch_id}",
            ("list_id",),
        )
        local_df(
            spark,
            [(int(cid), [float(x) for x in cv]) for cid, cv in centroids],
            "cid int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{tmp}/_centroids")

    swap_publish(spark, out_dir, write, "publish_ivf_index")


def _read_sidecar(spark, sidecar_dir: str) -> DataFrame:
    """Read an underscore-prefixed sidecar dir by its part files. Spark's
    reader ignores a root path whose name starts with ``_`` and warns
    ``All paths were ignored`` (it then reads the dir all the same); the
    part files themselves are plain names, so passing them reads
    silently. A glob would warn too: the sink-metadata probe runs on it."""
    path = spark._jvm.org.apache.hadoop.fs.Path(sidecar_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    parts = sorted(
        st.getPath().toString()
        for st in fs.listStatus(path)
        if st.getPath().getName().endswith(".parquet")
    )
    return spark.read.parquet(*parts)


def read_ivf_centroids(spark, index_dir: str) -> list[tuple[int, list[float]]]:
    """Load the ``_centroids`` sidecar a publish stored — the single
    source of truth for every later assignment against this index."""
    rows = _read_sidecar(spark, f"{index_dir}/_centroids").collect()  # k rows
    return sorted((int(r["cid"]), list(r["centroid"])) for r in rows)


def append_ivf_index(
    delta: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    batch_id: str,
) -> None:
    """Fold NEW vectors into a published IVF index in O(delta): assign
    with the index's OWN sidecar centroids (so append and build cannot
    disagree) and overwrite the delta's ``batch_id=<id>`` partition tree.
    Retry-IDEMPOTENT at every crash point — a replay rewrites the same
    partitions (the rollup/streaming contract); distinct ingests MUST use
    distinct batch_ids, and reusing one REPLACES that batch's vectors —
    the corrected-re-delivery semantics. The staged lists are never
    re-read or re-clustered; searches prune on ``list_id`` exactly as
    before, now across every batch level.

    Publish is the rename-aside swap (``publish.swap_publish``), not an
    in-place overwrite: the assigned delta writes to a dot-prefixed
    staging sibling — hidden from Spark's file listing, so a concurrent
    ``search_ivf_index`` scanning ``batch_id=*/list_id=*`` can never see
    a half-committed batch — and renames into place in one step. The
    remaining append↔serve window is therefore the module-wide
    two-rename contract (SCALE.md "Staged-index append ↔ serve
    coordination contract"), not a window proportional to the delta's
    file count."""
    from chess_lakehouse_spark.operators.publish import (
        swap_publish,
        write_partitioned,
    )

    _check_ivf_batch_id(batch_id)
    if batch_id == "base":
        raise ValueError("append_ivf_index: batch_id 'base' is the build's own")
    spark = delta.sparkSession
    assigned = _assign_lists(delta, id_col, vec_col, read_ivf_centroids(spark, index_dir))
    swap_publish(
        spark, f"{index_dir.rstrip('/')}/batch_id={batch_id}",
        lambda tmp: write_partitioned(assigned, tmp, ("list_id",)), "append_ivf_index",
    )


def search_ivf_index(
    spark,
    index_dir: str,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Probe a published IVF index: rank the probe's lists, scan ONLY those
    ``list_id=`` partitions (the IN-filter reaches the scan as a
    PartitionFilter — plan-tested), score with the shared paired-cosine,
    window top-k. Returns (query_id, cand_id, sim, rk)."""
    cent_rows = [(cid, list(cv), _py_dot(cv, cv)) for cid, cv in centroids]
    cent_arr = _centroid_literal_array(cent_rows)
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
        ).withColumn(
            "list_id",
            F.explode(
                F.transform(
                    F.slice(_ranked_lists(cent_arr, F.col("qv"), F.col("qn2")), 1, nprobe),
                    lambda s: s["cid"],
                )
            ),
        )
    )
    probe_lists = sorted(
        {r["list_id"] for r in p.select("list_id").distinct().collect()}
    )
    c = (
        spark.read.parquet(index_dir)
        .where(F.col("list_id").isin(probe_lists))
        .select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).alias("cv"),
            F.col("n2").alias("cn2"),
            "list_id",
        )
    )
    scored = (
        c.join(p, on="list_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", _paired_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "sim", "rk")
    )


def knn_two_stage(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    coarse_dims: int,
    pool: int = 20,
    k: int = 5,
) -> DataFrame:
    """Coarse-to-fine two-stage ANN: score with only the first
    ``coarse_dims`` dimensions to shortlist ``pool`` candidates per query,
    then exact-cosine re-rank the shortlist on full vectors — the
    retrieve-then-rerank shape (Matryoshka-style prefix scoring) that cuts
    the dominant full-corpus scan cost by dim/coarse_dims at 100 TB while
    the exact stage touches only |probes| x pool rows.

    Stage 1 reuses :func:`knn_brute_force` on sliced vectors (probes
    broadcast, corpus unshuffled); stage 2 joins the shortlist back to the
    full vectors (shortlist is the small side — broadcast), recomputes the
    exact rounded cosine, and takes top-k per query with the
    (sim DESC, cand_id ASC) total order. Recall is governed by
    pool/coarse_dims; pool >= k always returns k rows per query when the
    corpus has k eligible candidates.

    Returns (query_id, cand_id, sim, rk) with EXACT full-dim sims.
    """
    if coarse_dims < 1:
        raise ValueError(f"knn_two_stage: coarse_dims must be >= 1, got {coarse_dims}")
    if pool < k:
        raise ValueError(f"knn_two_stage: pool ({pool}) must be >= k ({k})")
    sliced_corpus = corpus.select(
        F.col(id_col), F.slice(as_double(F.col(vec_col)), 1, coarse_dims).alias(vec_col)
    )
    sliced_probes = probes.select(
        F.col(id_col), F.slice(as_double(F.col(vec_col)), 1, coarse_dims).alias(vec_col)
    )
    shortlist = knn_brute_force(sliced_corpus, sliced_probes, id_col, vec_col, k=pool).select(
        "query_id", "cand_id"
    )
    q = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
    )
    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), id_col).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        dot(F.col(vec_col), F.col(vec_col)).alias("cn2"),
    )
    rescored = (
        F.broadcast(shortlist)
        .join(c, "cand_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "cand_id", _paired_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "sim", "rk")
    )


def search_ivf_index_two_stage(
    spark,
    index_dir: str,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    coarse_dims: int = 16,
    pool: int = 20,
    k: int = 5,
) -> DataFrame:
    """The full production ANN read path, all three cost cuts composed:

    1. **Partition pruning** (:func:`search_ivf_index`): only the probed
       ``list_id=`` directories are read — the scan skips
       (n_lists - nprobe)/n_lists of the corpus before any executor sees
       a row.
    2. **Prefix-dim coarse scoring** (:func:`knn_two_stage`): within the
       pruned scan, candidates are scored on the first ``coarse_dims``
       dimensions only and shortlisted to ``pool`` per query — the
       dominant per-row CPU cost drops by dim/coarse_dims.
    3. **Exact rerank**: the |probes| x pool shortlist (broadcast) joins
       back to full vectors for the exact rounded cosine and final top-k.

    Returns (query_id, cand_id, sim, rk) with EXACT full-dim sims; recall
    is governed by (nprobe, pool) exactly as in the component operators.
    """
    if pool < k:
        raise ValueError(f"search_ivf_index_two_stage: pool ({pool}) must be >= k ({k})")
    cent_rows = [(cid, list(cv), _py_dot(cv, cv)) for cid, cv in centroids]
    cent_arr = _centroid_literal_array(cent_rows)
    qs = F.slice(as_double(F.col("qv")), 1, coarse_dims)
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
        )
        .withColumn("qvs", qs)
        .withColumn("qn2s", dot(F.col("qvs"), F.col("qvs")))
        .withColumn(
            "list_id",
            F.explode(
                F.transform(
                    F.slice(_ranked_lists(cent_arr, F.col("qv"), F.col("qn2")), 1, nprobe),
                    lambda s: s["cid"],
                )
            ),
        )
    )
    probe_lists = sorted({r["list_id"] for r in p.select("list_id").distinct().collect()})
    pruned = spark.read.parquet(index_dir).where(F.col("list_id").isin(probe_lists))
    cs = F.slice(as_double(F.col("cv")), 1, coarse_dims)
    c_coarse = pruned.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "list_id"
    ).withColumn("cvs", cs).withColumn("cn2s", dot(F.col("cvs"), F.col("cvs")))
    coarse_sim = F.round(
        dot(F.col("qvs"), F.col("cvs")) / F.sqrt(F.col("qn2s") * F.col("cn2s")), 6
    )
    wc = Window.partitionBy("query_id").orderBy(F.col("sim_c").desc(), F.col("cand_id").asc())
    shortlist = (
        c_coarse.join(p.select("query_id", "qvs", "qn2s", "list_id"), on="list_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", coarse_sim.alias("sim_c"))
        .withColumn("crk", F.row_number().over(wc))
        .where(F.col("crk") <= pool)
        .select("query_id", "cand_id")
    )
    cand_full = pruned.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        F.col("n2").alias("cn2"),
    )
    q_full = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
        )
    )
    rescored = (
        F.broadcast(shortlist)
        .join(cand_full, "cand_id")
        .join(q_full, "query_id")
        .select("query_id", "cand_id", _paired_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "sim", "rk")
    )


def embedding_pca(
    corpus: DataFrame,
    vec_col: str,
    n_components: int,
) -> tuple[list[list[float]], list[float]]:
    """Distributed PCA over an embedding column — the projection trainer
    for embedding compression ahead of ANN (pair with
    :func:`project_embeddings`; a 64→16 cut gives ~4x less index I/O and
    the two-stage rescore path recovers exactness).

    The 100 TB shape is a TREE AGGREGATE, not a shuffle: each Arrow batch
    reduces to ONE partial (count, dim-sum, dim x dim Gram) inside
    ``mapInPandas`` — numpy matmul per batch, no per-element explode (a
    posexplode outer product would be dim^2 rows PER VECTOR = 4096x the
    corpus at dim 64) — and the driver sums O(partitions) partials
    (dim^2 + dim + 1 doubles each) before one dense ``eigh`` on the
    dim x dim covariance. Nothing corpus-sized ever reaches the driver.

    Determinism: eigenvalues sort descending (index tie-break) and each
    eigenvector's sign is fixed by making its max-|component| entry
    positive. Like every float tree-reduction the Gram's low bits depend
    on partition boundaries, so this is a rows-only-class operator (no
    SQL oracle) pinned against numpy within tolerance in
    tests/test_pca.py.

    Returns (components, explained_variance): ``n_components`` rows of
    the projection matrix (each a dim-list) and the matching eigenvalue
    list.
    """
    import numpy as np

    if n_components < 1:
        raise ValueError(f"embedding_pca: n_components must be >= 1, got {n_components}")

    # NULL vectors are excluded from the fit up front (they would
    # otherwise crash opaquely inside the Arrow batches); an empty or
    # all-NULL corpus fails with a clear error instead of a TypeError on
    # first() (r7 ADVICE).
    vecs = corpus.select(F.col(vec_col).cast("array<double>").alias("v")).where(
        F.col("v").isNotNull()
    )
    head = vecs.first()
    if head is None:
        raise ValueError("embedding_pca: corpus has no non-NULL vectors")
    dim = len(head["v"])
    if n_components > dim:
        raise ValueError(
            f"embedding_pca: n_components {n_components} exceeds dim {dim}"
        )

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if len(x) == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).reshape(-1).tolist()],
                }
            )

    rows = vecs.mapInPandas(
        partials, schema="n long, s array<double>, g array<double>"
    ).collect()
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError(f"embedding_pca: need >= 2 vectors, got {n}")
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-evals, kind="stable")[:n_components]
    comps, var = [], []
    for idx in order:
        vec = evecs[:, idx]
        j = int(np.argmax(np.abs(vec)))
        if vec[j] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
        var.append(float(evals[idx]))
    return comps, var


def project_embeddings(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    components: list[list[float]],
    precision: int = 6,
) -> DataFrame:
    """Map-side projection onto PCA components: per output dim one
    JVM-side sequential dot product (``F.aggregate`` over ``zip_with`` —
    the same fold the cosine kernels use, bit-identical across engines
    for FIXED component literals). Zero shuffle, zero Python; the
    components ride the plan as literals (k x dim doubles — bounded).

    Returns (id, proj array<double>), each coordinate ROUND(·,precision).
    """
    vec = F.col(vec_col).cast("array<double>")
    coords = [
        F.round(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(c)) for c in comp]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            precision,
        )
        for comp in components
    ]
    return corpus.select(F.col(id_col), F.array(*coords).alias("proj"))


def ann_recall_report(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """Recall@k audit for an approximate-NN result against the exact
    top-k on the same probes — the measured side of every cost/recall
    knob this module documents (nprobe, plane sets, band_bits): per
    query, the exact-set size, the approx-set size, their overlap, and
    ``recall_ppm`` = overlap·10⁶ div |exact| in exact integer millionths
    (no float ever compared — similarity scores are NOT joined on, only
    (query, candidate) identity). Queries the approx path missed
    entirely still report (n_approx = 0, recall 0) via the left join
    from the exact side.

    Plan (r16 rewrite, guide §2.4): ONE full-outer equi-join on
    (query, cand) + ONE map-combined aggregate keyed by query. The former
    three-aggregate + common-join formulation pruned the exact and approx
    subtrees differently, so ReuseExchange could not dedupe them and BOTH
    input chains (a full brute-force scoring pass on the exact side)
    executed twice; counting presence markers over the single outer join
    gives the same integers in one pass of each side. Queries present only
    on the approx side are dropped (n_exact = 0) — exactly what the old
    exact-side left join did. Inputs are ranked top-k frames, so (query,
    cand) pairs are unique per side by construction — the counting
    precondition. |probes|-row output at any corpus size."""
    q, c = query_col, cand_col
    ex = exact.select(
        F.col(q).alias("__q"), F.col(c).alias("__c"), F.lit(1).alias("__e")
    )
    ap = approx.select(
        F.col(q).alias("__q"), F.col(c).alias("__c"), F.lit(1).alias("__a")
    )
    per_q = (
        ex.join(ap, ["__q", "__c"], "full_outer")
        .groupBy("__q")
        .agg(
            F.count("__e").cast("long").alias("n_exact"),
            F.count("__a").cast("long").alias("n_approx"),
            F.count(F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1))
            .cast("long")
            .alias("n_common"),
        )
        .where(F.col("n_exact") >= 1)
    )
    return per_q.select(
        F.col("__q").alias(q),
        "n_exact",
        "n_approx",
        "n_common",
        F.expr(
            "CAST((n_common * CAST(1000000 AS BIGINT)) div n_exact AS BIGINT)"
        ).alias("recall_ppm"),
    )


def pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 2,
    k: int = 8,
    iters: int = 1,
    seed: int = 0,
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks (Jégou, Douze, Schmid — "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011, public),
    spherical variant: split every vector into ``m`` equal contiguous
    subvectors and train ONE :func:`kmeans_fit` codebook per slice —
    same seeded md5-smallest init ids for every slice (the joint init:
    slice s of the same k seed vectors), same exact-DECIMAL /
    ROUND(·, 6) update arithmetic, so a fixed (m, k, iters, seed) run is
    oracle-checkable in SQL with each per-slice chain unrolled on the
    sliced vectors. Returns ``m`` codebooks, each
    ``[(cid, centroid), ...]`` sorted by cid.

    The PQ memory story this trains for: a dim-double corpus vector
    serves as ``m`` small integer codes (m bytes at k <= 256) — the
    100 TB ANN compression step between the IVF partition pruning and
    the exact re-rank.

    Plan shape (r15 optimization, arithmetic unchanged): the init draw
    is slice-independent (md5(seed|id), id tie-break picks the same k
    seed VECTORS for every slice), so one TakeOrdered job collects the
    seed vectors and slices them driver-side; each training iteration
    then updates ALL m codebooks in ONE corpus pass — per slice the
    same literal-argmax assignment, posexplode and exact-DECIMAL mean,
    but grouped by (slice, cid, pos) so the m per-slice jobs fuse into
    a single map-combined aggregation (m scans + m shuffles → 1 + 1 per
    iteration; the per-(slice,cid,pos) decimal sums are exact, so the
    fused grouping is bit-identical to the per-slice runs)."""
    if m < 1:
        raise ValueError(f"pq_train: m must be >= 1, got {m}")
    # Lazy persist, not eager localCheckpoint — see kmeans_fit (the
    # materialization rides the init-collect job; one fewer job per train).
    with FrameScope() as scope:
        vecs = scope.cache(
            spread(
                corpus.select(
                    F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("dv")
                ),
                "vid",
            )
        )
        init_rows = (
            vecs.select(
                "vid",
                "dv",
                F.md5(
                    F.concat(F.lit(f"{seed}|"), F.col("vid").cast("string"))
                ).alias("mk"),
            )
            .orderBy("mk", "vid")
            .limit(k)
            .collect()
        )
        if not init_rows:
            raise ValueError("pq_train: empty corpus")
        dim = len(init_rows[0].dv)
        if dim % m != 0:
            raise ValueError(
                f"pq_train: m={m} must divide the vector dim {dim}"
            )
        d = dim // m
        seeds = sorted(init_rows, key=lambda r: (r.mk, r.vid))
        books: list[list[tuple[int, list[float]]]] = [
            [
                (i, [float(x) for x in r.dv[s * d : (s + 1) * d]])
                for i, r in enumerate(seeds)
            ]
            for s in range(m)
        ]
        for _ in range(iters):
            per_slice = []
            for s in range(m):
                cent_arr = _centroid_literal_array(
                    [(cid, cv, _py_dot(cv, cv)) for cid, cv in books[s]]
                )
                sub = F.slice(F.col("dv"), s * d + 1, d)
                per_slice.append(
                    F.struct(
                        F.lit(s).alias("s"),
                        _ranked_lists(cent_arr, sub, dot(sub, sub))[0]["cid"].alias(
                            "list_id"
                        ),
                        sub.alias("sv"),
                    )
                )
            mean_rows = (
                vecs.select(F.explode(F.array(*per_slice)).alias("a"))
                .select("a.s", "a.list_id", F.posexplode("a.sv").alias("pos", "val"))
                .groupBy("s", "list_id", "pos")
                .agg(
                    F.round(
                        F.sum(F.col("val").cast("decimal(18,6)")).cast("double")
                        / F.count(F.lit(1)),
                        6,
                    ).alias("mval")
                )
                .collect()
            )
            by_key: dict[tuple[int, int], dict[int, float]] = {}
            for r in mean_rows:
                by_key.setdefault((int(r.s), int(r.list_id)), {})[int(r.pos)] = float(
                    r.mval
                )
            books = [
                [
                    (
                        cid,
                        [dd[p] for p in sorted(dd)]
                        if (dd := by_key.get((s, cid)))
                        else old,
                    )
                    for cid, old in books[s]
                ]
                for s in range(m)
            ]
    return books


def _pq_literals(codebooks) -> list[Column]:
    return [
        _centroid_literal_array(
            [(cid, cv, _py_dot(cv, cv)) for cid, cv in book]
        )
        for book in codebooks
    ]


def pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, codebooks
) -> DataFrame:
    """Encode every vector as ``m`` codebook codes: per slice, the
    argmax-cosine centroid (ROUND(·, 6), cid tie-break — the exact
    :func:`knn_ivf` assignment semantics). Map-side only: the codebooks
    ride the plan as literals (m·k·(dim/m) doubles — the same size class
    as one IVF centroid literal), the corpus is scanned once, zero
    shuffle. Returns (id, codes array<int>)."""
    cbs = _pq_literals(codebooks)
    m = len(cbs)
    dim = sum(len(book[0][1]) for book in codebooks)
    d = dim // m
    v = as_double(F.col(vec_col))
    codes = []
    for s in range(m):
        sub = F.slice(v, s * d + 1, d)
        codes.append(_ranked_lists(cbs[s], sub, dot(sub, sub))[0]["cid"])
    return corpus.select(F.col(id_col), F.array(*codes).alias("codes"))


def pq_adc_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks,
    n: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-n (the ADC serve of Jégou et al. 2011):
    the ENCODED corpus against RAW probe vectors — per pair, the
    approximate inner product ``ROUND(Σ_s dot(q_s, centroid_s,code_s),
    6)`` against the reconstruction x̂, never the raw corpus vector (the
    serve reads m codes per doc, the whole point of PQ). Probes
    broadcast; scoring is map-side expression work over the encoded
    scan (codebook literals + slice/element_at lookups); one per-query
    window ranks top-n with the cand-id tie-break. At production scale
    compose with the IVF partition-pruned index: prune lists first,
    ADC-score the survivors, exact-re-rank the top shortlist
    (:func:`search_ivf_index_two_stage` shape). Self-pairs (probe id ==
    corpus id) are excluded, matching the knn family. Returns
    (query_id, cand_id, sim, rk)."""
    from pyspark.sql.window import Window

    if n < 1:
        raise ValueError(f"pq_adc_topk: n must be >= 1, got {n}")
    cbs = _pq_literals(codebooks)
    m = len(cbs)
    dim = sum(len(book[0][1]) for book in codebooks)
    d = dim // m
    # spread before encoding: both the per-slice argmax encoding and the
    # ADC scoring run map-side on this frame's partitioning (guide §2.5).
    enc = pq_encode(
        spread(corpus.select(F.col(id_col), F.col(vec_col)), id_col),
        id_col, vec_col, codebooks,
    ).withColumnRenamed(id_col, "cand_id")
    q = probes.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("__qv")
    )
    terms = []
    for s in range(m):
        cent = F.element_at(
            cbs[s], F.element_at(F.col("codes"), s + 1) + F.lit(1)
        )["ccv"]
        terms.append(dot(F.slice(F.col("__qv"), s * d + 1, d), cent))
    sim = F.round(sum(terms[1:], terms[0]), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        F.broadcast(q)
        .crossJoin(enc)
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", sim.alias("sim"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= n)
    )


def publish_ivfpq_index(
    corpus: DataFrame,
    out_dir: str,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    codebooks,
    batch_id: str = "base",
) -> None:
    """Materialize the composed IVF+PQ lake index — the production ANN
    layout of Jégou et al. 2011 (IVFADC) on the :func:`publish_ivf_index`
    partition scheme: every vector is assigned to its IVF list (map-side
    argmax, the shared :func:`_assign_lists`) AND encoded as ``m`` PQ
    codes (:func:`pq_encode` — map-side literal argmax) in ONE scan, then
    written Hive-partitioned ``batch_id=<id>/list_id=<n>`` with columns
    (id, vec, n2, codes). A probe prunes to its lists (partition
    filter), ADC-scores the survivors reading ONLY the m-int ``codes``
    column (column pruning — the scan never materializes the raw
    vectors), and exact-re-ranks a small shortlist against ``vec``. Both
    models persist as sidecars (``_centroids``, ``_pq_codebooks``) so
    append and serve can never assign or decode with different models
    than the build; re-publish REPLACES the whole index atomically (the
    publish_ivf_index centroid-consistency contract)."""
    from chess_lakehouse_spark.operators.publish import (
        swap_publish,
        write_partitioned,
    )

    _check_ivf_batch_id(batch_id)
    spark = corpus.sparkSession
    assigned = _assign_lists(corpus, id_col, vec_col, centroids)
    codes = pq_encode(assigned, id_col, vec_col, codebooks)

    def write(tmp: str) -> None:
        write_partitioned(
            assigned.join(codes, id_col),
            f"{tmp}/batch_id={batch_id}",
            ("list_id",),
        )
        local_df(
            spark,
            [(int(cid), [float(x) for x in cv]) for cid, cv in centroids],
            "cid int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{tmp}/_centroids")
        local_df(
            spark,
            [
                (int(s), int(cid), [float(x) for x in cv])
                for s, book in enumerate(codebooks)
                for cid, cv in book
            ],
            "s int, cid int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{tmp}/_pq_codebooks")

    swap_publish(spark, out_dir, write, "publish_ivfpq_index")


def read_pq_codebooks(spark, index_dir: str):
    """Load the ``_pq_codebooks`` sidecar a publish stored — m codebooks,
    each [(cid, centroid), ...] sorted by cid, the single source of truth
    for every later encode/decode against this index."""
    rows = _read_sidecar(spark, f"{index_dir}/_pq_codebooks").collect()  # m*k rows
    by_s: dict[int, list[tuple[int, list[float]]]] = {}
    for r in rows:
        by_s.setdefault(int(r["s"]), []).append((int(r["cid"]), list(r["centroid"])))
    return [sorted(by_s[s]) for s in sorted(by_s)]


def append_ivfpq_index(
    delta: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    batch_id: str,
) -> None:
    """Fold NEW vectors into a published IVF+PQ index in O(delta):
    assign lists AND encode codes with the index's OWN sidecar models
    (build and append can never disagree — the append_ivf_index
    contract), then rename-aside-swap the delta's ``batch_id=<id>``
    tree. Retry-idempotent; reusing a batch_id REPLACES that batch
    (corrected-re-delivery semantics); serve prunes across every batch
    level unchanged."""
    from chess_lakehouse_spark.operators.publish import (
        swap_publish,
        write_partitioned,
    )

    _check_ivf_batch_id(batch_id)
    if batch_id == "base":
        raise ValueError("append_ivfpq_index: batch_id 'base' is the build's own")
    spark = delta.sparkSession
    centroids = read_ivf_centroids(spark, index_dir)
    codebooks = read_pq_codebooks(spark, index_dir)
    assigned = _assign_lists(delta, id_col, vec_col, centroids)
    coded = assigned.join(pq_encode(assigned, id_col, vec_col, codebooks), id_col)
    swap_publish(
        spark, f"{index_dir.rstrip('/')}/batch_id={batch_id}",
        lambda tmp: write_partitioned(coded, tmp, ("list_id",)), "append_ivfpq_index",
    )


def search_ivfpq_index(
    spark,
    index_dir: str,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks=None,
    nprobe: int = 2,
    pool: int = 20,
    k: int = 5,
) -> DataFrame:
    """The composed production ANN read path over a published IVF+PQ
    index — all three 100 TB cost cuts of the IVFADC system (Jégou et
    al. 2011) in one serve:

    1. **Partition pruning**: the probe's ``nprobe`` ranked lists reach
       the scan as a PartitionFilter — (n_lists - nprobe)/n_lists of the
       index directories are never listed, let alone read.
    2. **ADC over codes only**: candidates in the probed lists are
       scored with the asymmetric distance Σ_s dot(q_s, centroid of
       code_s) reading ONLY the m-int ``codes`` column (column pruning:
       the plan's ReadSchema carries codes, not the dim-double vector —
       the scan byte cost drops by ~dim·8/m), shortlisted to ``pool``
       per query (ROUND-6 ADC score, cand-id tie-break).
    3. **Exact re-rank**: the |probes|·pool shortlist (broadcast) joins
       back to the raw vectors of the SAME pruned partitions for the
       exact rounded cosine and final top-k.

    Models default to the index's own sidecars (the build's truth);
    passing them explicitly skips the two sidecar reads. Self-pairs
    excluded; returns (query_id, cand_id, sim, rk) with EXACT full-dim
    sims — recall is governed by (nprobe, pool), priced by the
    pq_recall/ann_recall audits."""
    if pool < k:
        raise ValueError(f"search_ivfpq_index: pool ({pool}) must be >= k ({k})")
    if nprobe < 1:
        raise ValueError(f"search_ivfpq_index: nprobe must be >= 1, got {nprobe}")
    if centroids is None:
        centroids = read_ivf_centroids(spark, index_dir)
    if codebooks is None:
        codebooks = read_pq_codebooks(spark, index_dir)
    cent_rows = [(cid, list(cv), _py_dot(cv, cv)) for cid, cv in centroids]
    cent_arr = _centroid_literal_array(cent_rows)
    cbs = _pq_literals(codebooks)
    m = len(cbs)
    dim = sum(len(book[0][1]) for book in codebooks)
    d = dim // m
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qv"),
            dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
        ).withColumn(
            "list_id",
            F.explode(
                F.transform(
                    F.slice(
                        _ranked_lists(cent_arr, F.col("qv"), F.col("qn2")),
                        1,
                        nprobe,
                    ),
                    lambda s: s["cid"],
                )
            ),
        )
    )
    probe_lists = sorted(
        {r["list_id"] for r in p.select("list_id").distinct().collect()}
    )
    pruned = spark.read.parquet(index_dir).where(F.col("list_id").isin(probe_lists))
    # ADC stage: codes column only — the raw vector never leaves the scan
    enc = pruned.select(F.col(id_col).alias("cand_id"), "codes", "list_id")
    terms = []
    for s in range(m):
        cent = F.element_at(
            cbs[s], F.element_at(F.col("codes"), s + 1) + F.lit(1)
        )["ccv"]
        terms.append(dot(F.slice(F.col("qv"), s * d + 1, d), cent))
    adc = F.round(sum(terms[1:], terms[0]), 6)
    wa = Window.partitionBy("query_id").orderBy(
        F.col("sim_adc").desc(), F.col("cand_id").asc()
    )
    shortlist = (
        enc.join(p, on="list_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", adc.alias("sim_adc"))
        .withColumn("crk", F.row_number().over(wa))
        .where(F.col("crk") <= pool)
        .select("query_id", "cand_id")
    )
    cand_full = pruned.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        F.col("n2").alias("cn2"),
    )
    q_full = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            dot(F.col(vec_col), F.col(vec_col)).alias("qn2"),
        )
    )
    rescored = (
        F.broadcast(shortlist)
        .join(cand_full, "cand_id")
        .join(q_full, "query_id")
        .select("query_id", "cand_id", _paired_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cand_id").asc()
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "cand_id", "sim", "rk")
    )
