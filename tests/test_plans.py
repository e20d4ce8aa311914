"""Physical-plan property tests — the scale contract, enforced.

Correctness is gated by the oracle harness; these tests instead pin the
*plan shapes* that make the operators viable at 100 TB: filters reaching
the Parquet scan, column pruning, broadcast (never cartesian) joins,
map-side partial aggregation, shuffle-free map-side enrichment, and
top-k without a global sort. A regression that silently flips one of these
(e.g. a broadcast falling back to cartesian) changes no rows at sf0.01 but
is fatal at scale — this is where it gets caught."""

from __future__ import annotations

import re

import pytest

from chess_lakehouse_spark.suite import core, llm

SF_DIR = "/root/testdata/sf0.001"


def explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_export_projection_pushdown_and_pruning(spark):
    plan = explain(spark, core.q_export_projection(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan
    # only the 5 referenced columns are read; anything else means pruning broke
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "o_orderkey" in read and "o_clerk" not in read and "o_comment" not in read


def test_join_star_broadcasts_and_partial_agg(spark):
    plan = explain(spark, core.q_join_star(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # nation/region at minimum
    # partial aggregation: HashAggregate on both sides of the exchange
    assert plan.count("HashAggregate") >= 2


def test_enrich_argmax_is_shuffle_free(spark):
    plan = explain(spark, core.q_enrich_argmax(spark, SF_DIR))
    # map-side argmax: literal-array dim + HOF reduce — no join, no exchange
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_sort_limit_avoids_global_sort(spark):
    plan = explain(spark, core.q_sort_limit(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_knn_broadcasts_probes(spark):
    plan = explain(spark, llm.q_knn_brute_force(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_knn_lsh_is_equi_join(spark):
    plan = explain(spark, llm.q_knn_lsh(spark, SF_DIR))
    # bucket prefilter must plan as a hash join on the bucket id,
    # not a nested-loop over the corpus
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_groupby_agg_partial_aggregation(spark):
    plan = explain(spark, core.q_groupby_agg(spark, SF_DIR))
    before, _, after = plan.partition("Exchange")
    assert "HashAggregate" in before and "HashAggregate" in after
    assert "PushedFilters" in plan


def test_doc_fingerprint_shuffle_free(spark):
    """Array-domain winnowing needs no groupBy: the ONLY exchange allowed
    is the scale-adaptive ``spread`` repartition after the scan (r16, guide
    §2.5 — the single-file fixture otherwise runs the whole gram-hash chain
    on one core; measured 2.0 s → 0.4 s). No aggregation/join shuffle may
    ever appear. Which exact plan is right depends on the fixture: the
    spread's Exchange appears only when the documents scan is narrower
    than the session's parallelism."""
    from chess_lakehouse_spark.catalog import load_table

    scan_parts = load_table(spark, SF_DIR, "documents").rdd.getNumPartitions()
    plan = explain(spark, llm.q_doc_fingerprint(spark, SF_DIR))
    if scan_parts < spark.sparkContext.defaultParallelism:
        # exactly one exchange, the spread's: tree node + detail section
        assert plan.count("Exchange") == 2
        assert "Arguments: hashpartitioning(doc_id" in plan
    else:
        assert "Exchange" not in plan
    assert "HashAggregate" not in plan and "SortMergeJoin" not in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-bucketed tables joined on the bucket key must plan without any
    Exchange — the write-time shuffle is amortized across every later join."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.publish import write_bucketed

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "li_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(o, "o_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    # disable auto-broadcast: at test scale the planner would broadcast and
    # skip bucketing; at 100 TB neither side broadcasts, which is the case
    # bucketing exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(
            spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = explain(spark, joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides pre-bucketed: no shuffle
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned publish + partition-pruned read: a DataSource/year
    filter must show up as PartitionFilters on the scan (pruning, not a
    full-lake read) — the reason the lake is partitioned at all."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.publish import write_partitioned

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey",
        "o_totalprice",
        F.lit("SrcA").alias("DataSource"),
        F.year("o_orderdate").alias("year"),
        F.date_format("o_orderdate", "MM").alias("month"),
    )
    out = str(tmp_path / "lake")
    write_partitioned(o, out, ("DataSource", "year", "month"))

    read = spark.read.parquet(out).where(
        (F.col("DataSource") == "SrcA") & (F.col("year") == 1995)
    )
    plan = explain(spark, read)
    assert "PartitionFilters" in plan and "year" in plan.split("PartitionFilters", 1)[1][:200]
    assert read.count() > 0
    # one directory per (DataSource, year, month); no small-file explosion
    import glob

    files = glob.glob(f"{out}/DataSource=SrcA/year=1995/month=*/*.parquet")
    months = glob.glob(f"{out}/DataSource=SrcA/year=1995/month=*")
    assert 0 < len(files) <= len(months) * 2


def test_sampling_queries_are_shuffle_free_and_pruned(spark):
    """Deterministic sampling / mixing / split must stay narrow: the md5
    keep-predicate and split projection add NO Exchange, and the scan reads
    only the referenced columns (not text/embedding payloads)."""
    for q in (llm.q_sample_hash, llm.q_sample_mix):
        plan = explain(spark, q(spark, SF_DIR))
        assert "Exchange" not in plan and "Join" not in plan
        read = next(line for line in plan.splitlines() if "ReadSchema" in line)
        assert "doc_id" in read and "text" not in read


def test_text_normalize_is_narrow(spark):
    plan = explain(spark, llm.q_text_normalize(spark, SF_DIR))
    assert "Exchange" not in plan and "Join" not in plan


def test_repetition_metrics_partial_agg_no_cartesian(spark):
    plan = explain(spark, llm.q_repetition_metrics(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # modal-bigram count must partial-aggregate before its exchanges
    assert "partial_count" in plan and "partial_max" in plan


def test_split_contamination_is_hash_equi_join(spark):
    plan = explain(spark, llm.q_split_contamination(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_knn_ivf_trained_scoring_is_equi_join(spark):
    plan = explain(spark, llm.q_knn_ivf_kmeans(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_doc_chunks_is_narrow(spark):
    """Chunking must stay in the array domain: no Exchange, no Join — the
    only row growth is the explode itself."""
    plan = explain(spark, llm.q_doc_chunks(spark, SF_DIR))
    assert "Exchange" not in plan and "Join" not in plan
    assert "Generate" in plan  # the posexplode


def test_pack_sequences_single_window_exchange(spark):
    """Concat-and-cut packing is ONE hash exchange (the window by source) on
    top of the token-count projection — no join-shaped shuffles."""
    plan = explain(spark, llm.q_pack_sequences(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # window + the source join
    assert "Window" in plan


def test_lm_score_partial_agg_and_broadcast(spark):
    """Unigram-LM scoring: term counts partial-aggregate map-side and the
    vocabulary-sized log-prob table is broadcast, never shuffled onto the
    token stream."""
    plan = explain(spark, llm.q_lm_score(spark, SF_DIR))
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_contamination_ngram_no_cartesian(spark):
    plan = explain(spark, llm.q_contamination_ngram(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_tfidf_cosine_is_blocked_equi_join(spark):
    """The inverted-index join must be equi-keyed on (block, term) — a
    cartesian/BNLJ here is the Σdf² blow-up the blocking exists to prevent."""
    plan = explain(spark, llm.q_tfidf_cosine(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_knn_quantized_broadcasts_probes(spark):
    plan = explain(spark, llm.q_knn_quantized(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_plan_construction_launches_no_jobs(spark):
    """tfidf's N (distinct doc count) must live INSIDE the plan (a scalar
    subquery via DataFrame.scalar()), not as a separate driver
    count() action — at 100 TB a pre-scan per invocation is a full extra
    corpus read. Building the frame may only launch the parquet footer
    schema-read that every ``spark.read.parquet`` performs (single-stage,
    one per table read) — never a multi-stage job (the old
    ``distinct().count()`` shuffle) nor more jobs than table reads;
    tfidf_cosine composes tfidf and inherits the property."""
    sc = spark.sparkContext
    sc.setJobGroup("tfidf_build_probe", "plan construction must be lazy")
    try:
        df1 = llm.q_tfidf(spark, SF_DIR)  # 1 load_table
        df2 = llm.q_tfidf_cosine(spark, SF_DIR)  # 2 load_table
        jobs = sc.statusTracker().getJobIdsForGroup("tfidf_build_probe")
        assert len(jobs) <= 3, f"more jobs than table reads: {jobs}"
        for j in jobs:
            info = sc.statusTracker().getJobInfo(j)
            assert info is not None and len(info.stageIds) == 1, (
                f"multi-stage job {j} during plan construction — an eager "
                f"aggregate action leaked into tfidf"
            )
    finally:
        sc.setJobGroup("", "")
    # and the plan still computes correctly in one action
    assert df1.limit(5).count() >= 0 and df2.limit(5).count() >= 0


def test_aqe_splits_skewed_join(spark):
    """The session's AQE skew-join config must actually engage: a 95%-hot
    key through a sort-merge join gets its partition split at runtime
    (SortMergeJoin(skew=true) in the executed plan). This is the safety net
    the 100 TB contains-join and band-joins rely on."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit("x").alias("v"))
        j = left.join(right, "k")
        rows = j.count()
        # execute THIS dataframe's plan so the AQE-final plan is observable
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        # 190,000 hot-key rows + 50 multiple-of-20 ids below 1000
        assert rows == 190_050
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_semantic_dedup_assignment_is_map_side(spark):
    """Centroid assignment must be a literal-array argmax (no join to a
    centroid table) and intra-cluster pairs an equi-join on list_id —
    never a cartesian."""
    plan = explain(spark, llm.q_dedup_semantic(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_boilerplate_strip_is_shuffle_free(spark):
    """The strip itself is a map-side array filter against the vocab
    literal: the returned plan has no Exchange and no Join — the vocab
    aggregation ran as a separate bounded action."""
    plan = explain(spark, llm.q_boilerplate_strip(spark, SF_DIR))
    assert "Exchange" not in plan and "Join" not in plan


def test_vocab_topk_partial_agg_take_ordered(spark):
    plan = explain(spark, llm.q_vocab_topk(spark, SF_DIR))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_quality_buckets_distributed_rank(spark):
    """Exact ntile is computed by the distributed sort-rank plan: the
    range-repartitioned snapshot materializes through an eager
    localCheckpoint (so the derived plan reads an ExistingRDD — the range
    exchange ran inside the checkpoint job), then per-partition
    row_number with broadcast offsets — never Spark's native
    single-partition ntile window, and never a shuffled join (offsets and
    the 1-row total ship as broadcasts)."""
    plan = explain(spark, llm.q_quality_buckets(spark, SF_DIR))
    assert "ntile" not in plan  # the single-partition global-sort form
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # the checkpoint
    assert "row_number" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_label_centroids_partial_agg(spark):
    plan = explain(spark, llm.q_label_centroids(spark, SF_DIR))
    assert "partial_" in plan and "Join" not in plan


def test_sample_per_group_partial_group_limit(spark):
    plan = explain(spark, llm.q_sample_per_group(spark, SF_DIR))
    assert "Join" not in plan and "CartesianProduct" not in plan
    # rank<=n is pushed map-side BEFORE the single group exchange
    # (WindowGroupLimit): only candidate survivors shuffle
    assert "WindowGroupLimit" in plan
    assert len([ln for ln in plan.splitlines() if "Exchange" in ln and "(" in ln and "Reused" not in ln]) <= 2


def test_dedup_priority_no_cartesian(spark):
    plan = explain(spark, llm.q_dedup_priority(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_chunk_dedup_window_plus_rollup(spark):
    plan = explain(spark, llm.q_chunk_dedup(spark, SF_DIR))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan and "partial_count" in plan


def test_shipping_priority_pushdown_broadcast_takeordered(spark):
    plan = explain(spark, core.q_shipping_priority(spark, SF_DIR))
    assert "PushedFilters" in plan and "IsNotNull" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_dq_check_single_aggregate(spark):
    plan = explain(spark, llm.q_dq_check(spark, SF_DIR))
    assert "Join" not in plan and "Exchange" in plan  # one final agg exchange
    # formatted explain names each node twice (tree + details): one Generate
    assert plan.count("Generate") <= 2  # the stack()


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime bloom-filter join pruning: with a selective filter on the
    build side, Spark injects a might_contain() probe-side predicate so the
    big fact scan drops non-joining rows BEFORE the shuffle — at 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling the ~matching fraction. Local fixture sizes sit under the
    default thresholds, so the test lowers them to prove the rule fires;
    production keeps the defaults."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            F.col("o_totalprice") > 400000
        )
        plan = explain(spark, li.join(o, li.l_orderkey == o.o_orderkey))
        assert "might_contain" in plan.lower()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_canary_scan_single_scan_no_join(spark):
    plan = explain(spark, llm.q_canary_scan(spark, SF_DIR))
    assert "Join" not in plan and "CartesianProduct" not in plan
    import re

    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.MULTILINE)) == 1
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "text" in read and "doc_id" not in read  # pruned to text+source


def test_sample_temperature_broadcast_rate_no_corpus_shuffle(spark):
    plan = explain(spark, llm.q_sample_temperature(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the per-group rate table joins back via broadcast, never a sort-merge
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_winsorize_broadcast_bounds(spark):
    plan = explain(spark, llm.q_winsorize(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # |groups|-row bounds frame
    assert plan.count("Window") >= 1


def test_source_kl_partial_agg_no_cartesian(spark):
    plan = explain(spark, llm.q_source_kl(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or "BuildRight, Inner" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for counts


def test_knn_two_stage_no_cartesian_broadcast_shortlist(spark):
    plan = explain(spark, llm.q_knn_two_stage(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # rerank joins are hash joins keyed on ids (shortlist/probes broadcast)
    assert "BroadcastHashJoin" in plan


def _exchange_count(plan: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE))


def test_rolling_avg_single_window_shuffle(spark):
    plan = explain(spark, llm.q_rolling_avg(spark, SF_DIR))
    assert "Join" not in plan
    # one exchange for the per-user window, nothing else
    assert _exchange_count(plan) == 1
    assert "Window" in plan


def test_activity_islands_one_shared_partitioning(spark):
    plan = explain(spark, llm.q_activity_islands(spark, SF_DIR))
    assert "Join" not in plan
    # distinct + window + final agg all key on user: the distinct needs its
    # own pre-shuffle; the window and aggregate must reuse, not re-shuffle
    assert _exchange_count(plan) <= 2


def test_token_entropy_partial_aggs(spark):
    plan = explain(spark, llm.q_token_entropy(spark, SF_DIR))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # two map-combined groupBys


#: Plan nodes a row count passes through unchanged or reduced, so an
#: unpartitioned Window or a SinglePartition exchange above them is bounded
#: exactly when the node below them is. The last three only wrap stages (a
#: cached plan built without AQE is codegen-wrapped).
_PASS_THROUGH = frozenset({
    "ProjectExec", "FilterExec", "SortExec", "WindowExec",
    "WholeStageCodegenExec", "InputAdapter", "ColumnarToRowExec",
})
#: At most k rows in all, or k rows per partition (LocalLimit).
_LIMITS = frozenset({
    "TakeOrderedAndProjectExec", "GlobalLimitExec", "CollectLimitExec", "LocalLimitExec",
})
_AGGREGATES = frozenset({"HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"})

#: Queries whose single-partition step is bounded by the data's domain,
#: not by the plan. ``user_growth``: the running sum of
#: ``relational.growth_from_activity`` has one row per calendar day.
_SINGLE_PARTITION_ALLOWED = frozenset({"user_growth"})


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _is_single_partition_shuffle(node, name: str) -> bool:
    return (
        name == "ShuffleExchangeExec"
        and node.outputPartitioning().toString() == "SinglePartition"
    )


def _bounded(node) -> bool:
    """The input reaches one partition as a bounded number of rows: a
    limit, an aggregate with no grouping key (one row per partition), or
    an aggregate keyed only on ``__pid`` (one row per partition, the
    offsets frames of ``_exact_rank`` and ``pareto_frontier_2d``)."""
    while True:
        name = _name(node)
        if name in _LIMITS:
            return True
        if name in _AGGREGATES:
            return all(k.name() == "__pid" for k in _seq(node.groupingExpressions()))
        if name in _PASS_THROUGH or _is_single_partition_shuffle(node, name):
            node = node.child()
            continue
        return False


def _plan_nodes(plan):
    """Every node of a physical plan, including what the formatted explain
    does not print: AQE's initial plan, the plan behind each cached
    relation, and subquery plans."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = _name(node)
        yield node, name
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
        elif name == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))


def single_partition_offenders(df) -> list[str]:
    """The plan steps that would put data-proportional rows through one
    task at any scale: a CartesianProduct, an unpartitioned Window over an
    unbounded input, and a SinglePartition shuffle of an unbounded input."""
    found = []
    for node, name in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if name == "CartesianProductExec":
            found.append("CartesianProduct")
        elif name == "WindowExec" and node.partitionSpec().isEmpty():
            if not _bounded(node.child()):
                found.append("unpartitioned Window")
        elif _is_single_partition_shuffle(node, name) and not _bounded(node.child()):
            found.append("SinglePartition exchange")
    return sorted(set(found))


def test_no_query_plans_unbounded_rows_through_one_partition(spark):
    """The 100 TB plan contract over every registered query (SCALE.md):
    no CartesianProduct, and nothing data-proportional reaches one
    partition through an unpartitioned Window or a SinglePartition
    exchange. Plans are built at sf0.001 and never executed; the rule
    looks only at shape, so the scale does not matter. A global total is
    a 1-row ``agg`` joined onto the frame that needs it, never
    ``sum(...).over(Window.partitionBy())``."""
    from chess_lakehouse_spark import suite

    offenders = {}
    for name, fn in suite.QUERIES.items():
        found = single_partition_offenders(fn(spark, SF_DIR))
        if found:
            offenders[name] = found
    assert _SINGLE_PARTITION_ALLOWED <= set(offenders), (
        f"allow-listed queries no longer offend, drop them: "
        f"{sorted(_SINGLE_PARTITION_ALLOWED - set(offenders))}"
    )
    unexpected = {n: f for n, f in offenders.items() if n not in _SINGLE_PARTITION_ALLOWED}
    assert not unexpected, f"unbounded single-partition plan steps: {unexpected}"


def test_bm25_postings_filtered_before_shuffle(spark):
    """The posting shuffle must carry only the query's terms: the literal
    array_contains filter sits under the (doc, term) aggregate, so the
    exchange is query-postings-sized, never vocabulary-sized; top-k is a
    TakeOrdered, not a global sort."""
    plan = explain(spark, llm.q_bm25_topk(spark, SF_DIR))
    assert "array_contains" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_bm25_batch_no_forced_dfreq_broadcast(spark):
    """bm25_batch's dfreq table is bounded by the query BATCH's
    vocabulary — unbounded at bulk-scoring scale, so it must carry NO
    forced broadcast hint (AQE picks broadcast when the runtime size fits;
    r7, matching the r6 removal of the tfidf/LM/PMI vocabulary hints). The
    per-query bm25_topk hint (one query's terms) stays."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.functions.text import bm25_batch

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    queries = docs.limit(3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    df = bm25_batch(docs, "doc_id", "text", queries, "query_id", "query_text", k=5)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # the optimized plan keeps ResolvedHint/JoinHint markers for forced
    # broadcasts; none may remain on this path
    assert "ResolvedHint" not in logical and "broadcast" not in logical.lower()
    plan = explain(spark, df)
    assert "CartesianProduct" not in plan


def test_rrf_fuse_never_touches_corpus_after_lists(spark):
    """Fusion operates on k-bounded candidate frames: both rank windows run
    AFTER a TakeOrdered limit, and the final fuse is one aggregate over
    <= 2k rows."""
    plan = explain(spark, llm.q_rrf_fuse(spark, SF_DIR))
    assert plan.count("TakeOrderedAndProject") >= 2  # both lists + final top-k
    assert "CartesianProduct" not in plan


def test_dsir_ratio_table_broadcast_no_cartesian(spark):
    """The n_buckets-row log-ratio table joins the raw feature stream via
    broadcast (it is bounded by construction — unlike a vocabulary table);
    selection is TakeOrdered(k)."""
    plan = explain(spark, llm.q_dsir_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_keyed_join_partial_agg(spark):
    """Hash-table build is map-combined; the join back is hash-keyed (no
    cartesian, no nested loop against the corpus)."""
    from chess_lakehouse_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = explain(spark, paragraph_dedup(docs, "doc_id", "text", sep="value"))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "partial_min" in plan  # canonical-(id,pos) map-side combine


def test_shard_assignments_single_exchange(spark):
    """The global permutation costs exactly ONE exchange — the shard hash
    repartition the layout needs anyway; the rank window rides inside it."""
    from chess_lakehouse_spark.operators.sampling import shard_assignments

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    plan = explain(spark, shard_assignments(docs, "doc_id", 8))
    assert plan.count("Exchange ") == 1
    assert "Window" in plan


def test_span_dedup_keyed_joins_no_cartesian(spark):
    """ExactSubstr pass: shingle-hash first-occurrence is map-combined,
    the coverage/anti joins are hash-keyed — nothing pairwise against the
    corpus at any stage."""
    from chess_lakehouse_spark.operators.dedup import duplicate_span_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = explain(spark, duplicate_span_dedup(docs, "doc_id", "text", k=3))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "partial_min" in plan  # first-occurrence map-side combine


def test_gopher_rules_is_narrow(spark):
    """The rule battery is pure column expressions: zero exchanges, whole
    plan rides the scan."""
    from chess_lakehouse_spark.functions.text import gopher_rules

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = explain(spark, gopher_rules(docs, "doc_id", "text"))
    assert "Exchange" not in plan and "Join" not in plan
    assert "codegen id" in plan


def test_funnel_pushes_type_filters_no_cartesian(spark):
    plan = explain(spark, llm.q_funnel(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # each step's type filter must reach the parquet scan
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "BatchEvalPython" not in plan


def test_gapfill_single_series_shuffle(spark):
    plan = explain(spark, llm.q_gapfill(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    # the LOCF window partitions by the series key — never an
    # unpartitioned (single-task) global window
    win_args = [
        ln for ln in plan.splitlines()
        if "Arguments" in ln and "windowspecdefinition" in ln
    ]
    assert win_args, "expected a Window operator in the gapfill plan"
    assert all("windowspecdefinition(event_type#" in ln for ln in win_args)


def test_corpus_overlap_no_cartesian_in_corpus(spark):
    """The only crossJoin is the |groups|^2 size grid (aggregate frames);
    the document-scale joins are all hash equi-joins on the shingle key."""
    plan = explain(spark, llm.q_corpus_overlap(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    # shingle self-join and grid join are hash joins keyed on h / g1,g2
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_rollup_serve_reads_only_staged_lake(spark):
    df = llm.q_rollup_staged(spark, SF_DIR)
    plan = explain(spark, df)
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    # the serve plan scans ONLY the staged agg/spec lake, not events
    assert all("events.parquet" not in f for f in df.inputFiles())


def test_jaccard_verify_joins_on_ids_not_shingles(spark):
    """The verify joins each candidate pair to its two shingle sets on
    id_a and id_b: no join keyed on the shingle, before or after the run."""
    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.operators.dedup import minhash_lsh_dedup

    docs = load_table(spark, SF_DIR, "documents")
    df = minhash_lsh_dedup(docs, "doc_id", "text", band_size=2)
    for _ in range(2):
        plan = explain(spark, df)
        keys = [ln for ln in plan.splitlines() if re.search(r"(Left|Right) keys", ln)]
        assert keys and not any("shingle" in ln for ln in keys), keys
        df.collect()


def test_dedup_incremental_exchange_count(spark):
    """Exchange lines in the executed plan of ``dedup_incremental`` after a
    run (AQE's final and initial plans both print): 20 since the verify
    works on per-document shingle sets; 93 with the join on the shingle and
    the cached candidate frame before it."""
    df = llm.q_dedup_incremental(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert sum("Exchange" in ln for ln in plan.splitlines()) <= 20
