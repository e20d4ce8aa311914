"""Iterative graph operators for dedup clustering.

Near-dup detection yields PAIRS; deduplication needs CLUSTERS (keep one
canonical doc per connected component of the similarity graph). This is the
one genuinely iterative algorithm in the engine — a driver loop over
DataFrame jobs, the idiomatic Spark shape for label propagation (GraphX is
RDD-era; DataFrame + AQE is the maintained path).

Scale notes: each iteration is one equi-join + one min-aggregation, both
hash-partitioned on node id; lineage is truncated per iteration with
``localCheckpoint`` (without it the plan doubles every round and the
optimizer chokes long before 100 TB). Convergence is detected with a
single scalar aggregate — labels only ever decrease, so an unchanged
label-sum means a fixed point. Iteration count is bounded by the cluster
diameter, which for near-dup graphs is tiny (dups of a doc are dups of
each other); ``max_iter`` is a safety rail, and hitting it raises rather
than silently returning half-merged clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chess_lakehouse_spark.session import FrameScope, local_df


#: Edge-count ceiling for the driver-side fast path. Near-dup graphs are
#: already LSH-pruned, so edge lists are usually far below this even when
#: the corpus is huge; the distributed loop only pays off beyond it.
DRIVER_UNION_FIND_MAX_EDGES = 1_000_000


def _driver_union_find(pairs: list[tuple]) -> list[tuple]:
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min keeps the canonical representative deterministic
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = DRIVER_UNION_FIND_MAX_EDGES,
) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns (id, component) for every node appearing in ``edges``, where
    ``component`` is the smallest node id in the connected component —
    a deterministic canonical representative.

    Hybrid execution, same spirit as a broadcast join: when the (already
    LSH-pruned) edge list is bounded (``<= driver_max_edges``), collect it
    and run union-find on the driver — O(E α(E)), no per-iteration job
    latency. Beyond the bound, fall back to the distributed iterative loop.
    Both paths produce identical output.

    Node ids must be INTEGRAL (both paths assume numeric labels: the
    driver path materializes a ``long`` schema, the distributed path
    tracks convergence through ``sum(label)``) — checked up front with a
    loud error instead of a deep Arrow/analysis failure; map string keys
    through a dense integer id first.
    """
    integral = {"byte", "short", "int", "bigint"}
    for c in (id_a, id_b):
        dt = dict(edges.dtypes).get(c)
        if dt not in integral:
            raise ValueError(
                f"connected_components: node id column {c!r} has type {dt!r} "
                "but both execution paths require an integral id — map "
                "string keys through a dense integer id first"
            )
    if driver_max_edges:
        # one job answers both "is it bounded?" and "give me the edges"
        head = edges.select(id_a, id_b).take(driver_max_edges + 1)
        if len(head) <= driver_max_edges:
            spark = edges.sparkSession
            if not head:
                return spark.createDataFrame([], schema="id long, component long")
            pairs = [(r[0], r[1]) for r in head]
            return local_df(
                spark, sorted(_driver_union_find(pairs)), "id long, component long"
            )

    sym = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).union(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    with FrameScope() as scope:
        labels = scope.checkpoint(
            sym.select(F.col("src").alias("id")).distinct().withColumn("lbl", F.col("id"))
        )
        prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]

        for _ in range(max_iter):
            neigh_min = (
                sym.join(labels.select(F.col("id").alias("src"), F.col("lbl").alias("nlbl")), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("nlbl").alias("minn"))
            )
            prev, labels = labels, scope.checkpoint(
                labels.join(neigh_min, "id", "left")
                .select("id", F.least("lbl", F.coalesce("minn", F.col("lbl"))).alias("lbl"))
            )
            scope.release(prev)
            cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
            if cur_sum == prev_sum:
                return scope.keep(labels).select("id", F.col("lbl").alias("component"))
            prev_sum = cur_sum

    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations — "
        "component diameter exceeds the safety rail; raise max_iter"
    )


def priority_canonical(
    components: DataFrame,
    attrs: DataFrame,
    id_col: str,
    priority_col: str,
) -> DataFrame:
    """Source-priority canonical selection over duplicate clusters: for each
    component, keep the member with the LOWEST priority rank (curated
    sources beat crawls), id ascending as the tie-break — the 'which copy
    do we train on' step after near-dup clustering.

    One equi-join (component ids × member attributes) + one map-combined
    groupBy; the selection aggregate is MIN over a (priority, id) struct —
    lexicographic struct ordering makes the canonical pick deterministic
    under any partitioning. Returns (component, canonical_id, n_members).
    """
    from pyspark.sql import functions as F

    joined = components.join(
        attrs.select(F.col(id_col).alias("id"), F.col(priority_col).alias("prio")), "id"
    )
    return (
        joined.groupBy("component")
        .agg(
            F.min(F.struct(F.col("prio"), F.col("id"))).alias("best"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "component",
            F.col("best.id").alias("canonical_id"),
            "n_members",
        )
    )


#: Absolute http(s) href values in an HTML blob — double/single/unquoted
#: attribute forms, case-insensitive, value ends at a quote, ``<``, ``>``
#: or whitespace. Java∩RE2-portable (explicit classes, no \s, no $).
HREF_RE = "(?i)href[ \\t]*=[ \\t]*[\"']?(https?://[^\"'<> \\t\\n\\r]+)"


def extract_links(
    df: DataFrame, url_col: str, html_col: str
) -> DataFrame:
    """(src_url, dst_url) for every ABSOLUTE http(s) ``href`` in the HTML
    — the link projection feeding :func:`host_edges`. One
    ``regexp_extract_all`` + ``explode``, pure codegen, rides the scan.
    Relative links are skipped by design: resolving them needs full RFC
    3986 merge semantics, and the host GRAPH barely misses them —
    intra-site relative links are same-host, which :func:`host_edges`
    drops as self-loops anyway. NULL html contributes nothing."""
    return df.select(
        F.col(url_col).alias("src_url"),
        F.explode(
            F.regexp_extract_all(
                F.coalesce(F.col(html_col), F.lit("")), F.lit(HREF_RE), F.lit(1)
            )
        ).alias("dst_url"),
    )


def host_edges(
    links: DataFrame, src_col: str = "src_url", dst_col: str = "dst_url"
) -> DataFrame:
    """URL-level links → weighted HOST-level edge list (src, dst, weight)
    — host identity is exactly ``functions/urls.py:url_host`` (lowercase,
    www-stripped), so the graph, the host cap, and the host blocklist
    cannot disagree on what a site is. Self-loops (intra-site links)
    drop; weight = raw link count (a 1000-link footer counts 1000 — cap
    upstream if that's not the desired prior). ONE map-combined groupBy;
    |edges| is bounded by distinct host pairs, not by links."""
    from chess_lakehouse_spark.functions.urls import url_host

    e = links.select(
        url_host(F.col(src_col)).alias("src"),
        url_host(F.col(dst_col)).alias("dst"),
    )
    return (
        e.where(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
            & (F.col("src") != "") & (F.col("dst") != "")
            & (F.col("src") != F.col("dst"))
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 12,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = "weight",
    tol: float | None = None,
) -> DataFrame:
    """Weighted PageRank (Page et al. 1999) by fixed-iteration power
    method in pure DataFrame algebra — the host-authority prior web-scale
    curation pipelines weight their source mix by (CommonCrawl publishes
    exactly this host ranking). Returns (node, rank), ranks summing to 1.

    Distribution contract: ranks and edges stay DISTRIBUTED frames
    throughout — the driver holds only |V| and one dangling-mass scalar
    per iteration. Each iteration is ONE keyed join (rank → out-edges,
    transition probabilities precomputed once) + ONE map-combined
    groupBy(dst); hub hosts with huge in-degree are absorbed by the
    partial aggregation. Dangling mass (nodes with no out-edges — every
    crawl frontier has them) is redistributed uniformly, the standard
    stochastic completion, so mass is conserved exactly. Each iteration
    materializes through an EAGER ``localCheckpoint`` — persist alone
    caches data but keeps the logical plan, and an iterated join lineage
    grows a plan tree that OOMs the driver within ~15 iterations (hit in
    testing); checkpointing truncates it, so plan size stays constant
    per step. No driver collect of ranks. Fixed ``n_iter`` power
    steps (geometric convergence at rate ``damping``; 12 iterations ≈
    0.85^12 < 0.15 residual contraction of the start error — callers
    needing tighter tolerance raise n_iter, each step costs the same one
    join). Iterative fixpoint — rows-only class, no SQL oracle; pinned
    against a NumPy power iteration in tests.

    ``tol`` (optional): L1 early stop. After each power step one extra
    scalar aggregate computes ``sum(|rank_new - rank_old|)`` (same
    localCheckpoint discipline — both sides are materialized
    checkpoints, so the delta join reads cached blocks, no recompute);
    iteration stops at the first step whose delta is <= tol. The output
    after k early-stopped steps is BIT-IDENTICAL to ``n_iter=k`` with no
    tol (the check runs after the update, never altering it), so at
    100 TB the cost becomes iterations-to-tolerance instead of a guessed
    constant — ``n_iter`` then acts as the hard cap."""
    if not 0 < damping < 1:
        raise ValueError(f"pagerank: damping must be in (0,1), got {damping}")
    if n_iter < 1:
        raise ValueError(f"pagerank: n_iter must be >= 1, got {n_iter}")
    if tol is not None and tol <= 0:
        raise ValueError(f"pagerank: tol must be > 0 when set, got {tol}")
    w = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        (F.col(weight_col) if weight_col else F.lit(1)).cast("double").alias("w"),
    )
    with FrameScope() as scope:
        nodes = scope.cache(
            w.select(F.col("src").alias("node"))
            .unionByName(w.select(F.col("dst").alias("node")))
            .distinct()
        )
        n = nodes.count()
        if n == 0:
            return nodes.withColumn("rank", F.lit(0.0))
        out_w = w.groupBy("src").agg(F.sum("w").alias("out_w"))
        trans = scope.cache(
            w.join(out_w, "src").select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        )
        dangling_nodes = scope.cache(
            nodes.join(out_w.select(F.col("src").alias("node")), "node", "left_anti")
        )
        ranks = scope.checkpoint(nodes.select("node", F.lit(1.0 / n).alias("rank")))
        for _ in range(n_iter):
            dangling_mass = (
                dangling_nodes.join(ranks, "node")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .first()[0]
            )
            contribs = (
                trans.join(ranks, trans["src"] == ranks["node"])
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("p")).alias("c"))
            )
            new_ranks = scope.checkpoint(
                nodes.join(contribs, nodes["node"] == contribs["dst"], "left").select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling_mass / n))
                    ).alias("rank"),
                )
            )
            delta = None
            if tol is not None:
                delta = (
                    new_ranks.select("node", F.col("rank").alias("r_new"))
                    .join(
                        ranks.select("node", F.col("rank").alias("r_old")), "node"
                    )
                    .agg(
                        F.coalesce(
                            F.sum(F.abs(F.col("r_new") - F.col("r_old"))), F.lit(0.0)
                        )
                    )
                    .first()[0]
                )
            # released only now: the delta join above read it
            scope.release(ranks)
            ranks = new_ranks
            if delta is not None and delta <= tol:
                break
        return scope.keep(ranks)
