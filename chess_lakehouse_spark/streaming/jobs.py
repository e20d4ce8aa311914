"""Structured Streaming path over the events stream.

The reference is batch-only (SURVEY.md §2.10) — this module is the
north-star streaming extension (§7 step 8): file-source ingest, watermarked
tumbling/session windows, and a custom stateful operator via
``applyInPandasWithState``.

Scale notes: every aggregation keys its state by (window, type) or user —
state stores shard with the shuffle partitioning, so a 1000-executor
deployment scales state horizontally; watermarks bound state size against
late data; ``availableNow`` triggers give batch-backfill semantics with the
same code path as the live stream.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from chess_lakehouse_spark.session import FrameScope


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    Schema is inferred from the existing files (file streams require an
    explicit schema; we take it from a batch peek — one footer read), then
    the nanos-long ts is converted to a micros timestamp exactly as the
    batch catalog does, so batch and stream share downstream operators.
    """
    static = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(static.schema).parquet(events_dir)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)")))
    elif ts_type == "timestamp_ntz":
        # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
        # TIMESTAMP_NTZ, which watermarks reject (EVENT_TIME_IS_NOT_ON_
        # TIMESTAMP_TYPE); reinterpret as instant in the session tz (UTC).
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of the batch
    q_events_hourly query. Late rows beyond the watermark are dropped; state
    per (window, event_type) is evicted once the watermark passes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (30-min inactivity gap) per user — the
    streaming twin of the batch sessionize query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


RUNNING_COUNT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)
RUNNING_COUNT_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("last_us", LongType())]
)


def _running_count_fn(
    key: tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful op: per-user running event count + last-seen ts.
    State is one (long, long) per user — O(users) across the cluster,
    sharded by the groupBy shuffle."""
    (user_id,) = key
    n, last_us = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        if len(pdf):
            batch_max = pdf["ts"].max()
            last_us = max(last_us, int(pd.Timestamp(batch_max).value // 1000))
    state.update((n, last_us))
    yield pd.DataFrame(
        {
            "user_id": pd.Series([user_id], dtype="int64"),
            "n_events": pd.Series([n], dtype="int64"),
            "last_ts": [pd.Timestamp(last_us * 1000)],
        }
    )


def running_user_counts(events: DataFrame) -> DataFrame:
    """applyInPandasWithState custom stateful operator: cumulative per-user
    event counts emitted every micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_count_fn,
        outputStructType=RUNNING_COUNT_SCHEMA,
        stateStructType=RUNNING_COUNT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, drop every
    later duplicate — the ingest-time guard against at-least-once sources
    replaying rows into the lake.

    ``dropDuplicatesWithinWatermark`` keys the state store by ``key_cols``
    alone and evicts each entry once the watermark passes its event time —
    bounded state, unlike plain ``dropDuplicates(key_cols)`` whose state
    grows forever. The trade: a duplicate arriving later than the watermark
    window is no longer detected (every streaming dedup makes this trade).
    State shards with the shuffle partitioning, so capacity scales with
    executors exactly like the windowed aggregations above. ``ts_col``
    names the event-time column the watermark tracks.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def run_available_now(
    stream_df: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str = "complete"
) -> None:
    """Drain everything currently in the source into an in-memory table named
    ``query_name`` with batch semantics (availableNow), then stop. The test
    harness entry point; production uses the same plan with a live trigger
    and a durable sink."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _drain(stream_df: DataFrame, batch_fn, checkpoint_dir: str) -> None:
    """Run ``batch_fn(batch_df, batch_id)`` on every micro-batch currently
    in the source (availableNow), then stop."""
    (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_documents_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream over a directory of documents parquet shards —
    the daily-drop ingest shape (new shards appear, the stream picks them
    up). Schema from one batch footer read; never inferred per micro-batch."""
    static = spark.read.parquet(docs_dir)
    return spark.readStream.schema(static.schema).parquet(docs_dir)


def corpus_ingest_clean(
    docs: DataFrame,
    min_quality: float,
    dedup_window: str = "10 minutes",
    gate: str = "score",
    gopher_kwargs: dict | None = None,
    strip_markup: bool = False,
    model: dict | None = None,
    model_threshold: float = 0.5,
) -> DataFrame:
    """Streaming corpus cleaning: quality gate + replay-safe exact dedup —
    the ingest-time half of the batch `pipeline_clean_corpus`.

    The gate is the SAME column expression the batch path uses — narrow,
    zero streaming state, so batch and stream classify identically:
    ``strip_markup=True`` first applies `functions.text.strip_html` (the
    batch ``--stripHtml`` pass — stateless, so stream and batch classify
    identical text). ``gate="score"`` applies `functions.text.quality_score >=
    min_quality`; ``gate="gopher"`` applies the per-rule Gopher battery
    (`functions.text.gopher_passes` — min_quality is ignored, the rules
    carry their own thresholds); ``gate="model"`` applies a trained LR
    quality filter (``model`` = the JSON dict from
    `operators.classify.train_quality_classifier`, folded into one
    sigmoid column expression — no MLlib on the stream). Any other
    ``gate`` raises (r7 ADVICE: a typo silently fell back to the score
    gate). Both gates emit the same
    schema — ``quality_score`` is annotated in gopher mode too (one more
    narrow expression), so downstream sinks see one schema regardless of
    gate. Dedup keys on the content md5; documents carry no event time,
    so the watermark rides on an ingest processing timestamp: duplicates
    arriving within ``dedup_window`` are dropped with bounded state
    (at-least-once replay guard), and the state store evicts each digest
    once the watermark passes it.
    """
    if gate not in ("score", "gopher", "model"):
        raise ValueError(
            "corpus_ingest_clean: gate must be 'score', 'gopher' or "
            f"'model', got {gate!r}"
        )
    if gate == "model" and not model:
        raise ValueError("corpus_ingest_clean: gate='model' requires a model dict")
    from chess_lakehouse_spark.functions.text import quality_score

    if strip_markup:
        # the batch --stripHtml pass, stream-side: stateless column
        # expression BEFORE scoring/dedup, so batch and stream classify
        # and digest identical text
        from chess_lakehouse_spark.functions.text import strip_html

        docs = docs.withColumn("text", strip_html(F.col("text")))
    scored = docs.withColumn("quality_score", quality_score(F.col("text")))
    if gate == "gopher":
        from chess_lakehouse_spark.functions.text import gopher_passes

        # one boolean column expression — no join, no streaming state
        filtered = scored.where(gopher_passes(F.col("text"), **(gopher_kwargs or {})))
    elif gate == "model":
        # learned LR gate: the staged model dict folds into one sigmoid
        # column expression (operators/classify.py) — stateless like the
        # other gates, identical classification to the batch --gate model
        from chess_lakehouse_spark.operators.classify import classifier_score

        filtered = scored.where(
            classifier_score(F.col("text"), model) >= F.lit(float(model_threshold))
        )
    else:
        filtered = scored.where(F.col("quality_score") >= min_quality)
    return (
        filtered.withColumn("content_md5", F.md5(F.col("text")))
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", dedup_window)
        .dropDuplicatesWithinWatermark(["content_md5"])
    )


def stream_corpus_to_jsonl_shards(
    clean_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_records_per_file: int = 100_000,
    paragraph_dedup_sep: str | None = None,
    id_col: str = "doc_id",
    hashed_model_dir: str | None = None,
    hashed_threshold_margin: float = 0.0,
) -> None:
    """Land the cleaned stream as size-budgeted JSONL training shards via
    foreachBatch (same sink contract as `sources.jsonl.write_jsonl_shards`),
    each micro-batch OVERWRITING its own ``batch_id=N`` shard directory —
    the module's replay contract: a crash-replayed batch rewrites its
    partition byte-identically instead of appending duplicate training
    docs into a flat dir. availableNow drains what exists and stops —
    the test/backfill trigger; production swaps in a live trigger on the
    identical plan.

    .. warning:: **Sink-layout contract change (r10, CHANGELOG.md).**
       Shards land under ``out_dir/batch_id=N/part-*.json``, not the
       pre-r10 flat ``out_dir/*.json``. A consumer still globbing the
       flat layout reads ZERO files silently — switch to
       ``out_dir/batch_id=*/*.json`` or Spark partition discovery
       (``spark.read.json(out_dir)``, which also surfaces ``batch_id``
       as a column for replay-aware readers).

    ``paragraph_dedup_sep`` additionally rewrites each document's text
    with `operators.dedup.paragraph_dedup(scope="document")` inside the
    micro-batch — the RefinedWeb intra-document line pass. Document scope
    is a pure function of each row, so micro-batch boundaries cannot
    change the result and stream output equals the batch operator exactly
    (pinned in tests/test_streaming.py). Corpus scope is deliberately NOT
    offered here: corpus-first occurrence needs cross-batch state (the
    staged-signature pattern `stream_incremental_dedup` uses), not a
    stateless rewrite. Note the upstream ``content_md5`` column keeps the
    PRE-rewrite digest — it is the ingest-dedup identity, not a checksum
    of the published text.

    ``hashed_model_dir`` additionally applies the staged hashed-ngram
    learned gate (operators/classify.py: score_hashed_classifier, gate
    form) inside the micro-batch, BEFORE the paragraph pass — the same
    order the batch ``clean-corpus --gate hashed`` stage uses. The gate
    needs an explode + weight-join + doc groupBy, which streaming append
    mode cannot express statelessly; inside foreachBatch it runs under
    batch semantics, and the margin is a pure function of each row's
    text plus the STATIC staged weights, so micro-batch boundaries
    cannot change the admitted set (stream == batch, pinned in
    tests/test_hashed_classifier.py). The weight table is loaded ONCE at
    job setup, not per batch."""
    if hashed_model_dir is not None:
        from chess_lakehouse_spark.operators.classify import (
            load_hashed_classifier,
            score_hashed_classifier,
        )

        _hw, _hmeta = load_hashed_classifier(
            clean_docs.sparkSession, hashed_model_dir
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out_df = batch_df.drop("ingest_ts")
        if hashed_model_dir is not None:
            out_df = score_hashed_classifier(
                out_df, id_col, "text", _hw, _hmeta,
                threshold_margin=hashed_threshold_margin, gate=True,
            )
        if paragraph_dedup_sep is not None:
            from chess_lakehouse_spark.operators.dedup import paragraph_dedup

            cleaned = paragraph_dedup(
                out_df, id_col, "text", sep=paragraph_dedup_sep, scope="document"
            ).select(F.col(id_col), F.col("clean_text").alias("__pd_text"))
            out_df = (
                out_df.join(cleaned, id_col)
                .drop("text")
                .withColumnRenamed("__pd_text", "text")
            )
        # per-batch OVERWRITE partition, never a flat-dir append: a
        # crash-replayed micro-batch must rewrite its own shard directory
        # byte-identically instead of appending duplicate training docs
        # (the replay contract every other loop in this module holds)
        (
            out_df.write.option("maxRecordsPerFile", max_records_per_file)
            .mode("overwrite")
            .json(f"{out_dir}/batch_id={batch_id}")
        )

    _drain(clean_docs, _sink, checkpoint_dir)


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event counts (each event lands in window/slide
    overlapping windows) — trend smoothing over the stream. State per
    (window, type) is evicted at the watermark exactly like the tumbling
    variant; the only extra cost is the window/slide fan-out factor."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


def stream_incremental_dedup(
    new_docs: DataFrame,
    corpus_dir: str,
    sigs_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
) -> None:
    """The production daily-ingest dedup LOOP, streaming: each micro-batch
    of new documents is near-dup-checked within itself AND against the
    staged corpus (``incremental_near_dups`` — band equi-join against the
    staged signature table, never a corpus self-join), detected pairs land
    in ``pairs_dir``, and only the surviving canonicals are admitted: their
    text is appended to ``corpus_dir`` and their MinHash signatures to
    ``sigs_dir``, so every later batch dedups against everything admitted
    before it.

    Restart safety: foreachBatch replays a batch id after a crash, so every
    write goes to a ``batch_id=N`` subdirectory with overwrite semantics —
    a replayed batch rewrites its own partition byte-identically instead of
    double-appending (the standard idempotent-foreachBatch contract). The
    staged tables read back through the partition-discovering parent-dir
    scan, so batch partitioning is invisible to consumers. Crucially the
    staged reads EXCLUDE the in-flight batch's own partition (``WHERE
    batch_id <> current``): a crash can land after the sigs/corpus write
    but before the checkpoint commit, and without the filter the replay
    would compare every document against its own staged signature
    (jaccard 1.0), admit nothing, and overwrite the batch's partitions
    with empty data — losing the whole batch. ``incremental_near_dups``
    additionally drops self-pairs (``new_id != corpus_id``) as defense in
    depth. Pinned by the double-invoke replay test in
    ``tests/test_streaming.py``.

    Cost per batch is the incremental shape: O(|batch|) shingling + one
    band equi-join against staged signatures + candidate-bounded verify —
    the corpus text is touched only for candidate ids. availableNow drains
    and stops (test/backfill); production uses a live trigger on the same
    plan.
    """
    _drain(
        new_docs,
        partial(
            incremental_dedup_batch,
            corpus_dir=corpus_dir, sigs_dir=sigs_dir, pairs_dir=pairs_dir,
            id_col=id_col, text_col=text_col,
            k=k, num_hashes=num_hashes, band_size=band_size, threshold=threshold,
        ),
        checkpoint_dir,
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf).exists(p)


def incremental_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    sigs_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
) -> None:
    """One micro-batch of the incremental-dedup loop — module-level (not a
    closure) so the crash-replay contract is directly testable: calling it
    twice with the SAME ``batch_id`` must produce identical admitted sets
    and ``batch_id=N`` partitions, because the staged reads exclude the
    in-flight batch's own partition (see ``stream_incremental_dedup``)."""
    from chess_lakehouse_spark.operators.dedup import (
        incremental_near_dups,
        minhash_lsh_dedup,
        minhash_signatures,
        word_shingles,
    )

    spark = batch_df.sparkSession
    with FrameScope() as scope:
        batch_df = scope.cache(batch_df)
        # within-batch near-dups: min id per pair is the batch canonical
        intra = minhash_lsh_dedup(
            batch_df, id_col, text_col,
            k=k, num_hashes=num_hashes, band_size=band_size, threshold=threshold,
        ).select(
            F.col("id_a"), F.col("id_b"), "jaccard", F.lit("intra").alias("kind")
        )
        if _path_exists(spark, sigs_dir):
            # Exclude the in-flight batch's own partition: a replay after
            # crash-between-write-and-commit must not dedup the batch
            # against its own previously staged rows (replay hole — see
            # stream_incremental_dedup docstring). batch_id is the
            # discovered partition column; cast covers int-vs-string
            # partition-type inference.
            not_self = F.col("batch_id").cast("string") != F.lit(str(batch_id))
            corpus_sigs = spark.read.parquet(sigs_dir).where(not_self)
            want = {f"h{i}" for i in range(num_hashes)}
            have = set(corpus_sigs.columns)
            if not want <= have:
                raise ValueError(
                    f"staged signature table {sigs_dir} has columns {sorted(have)} "
                    f"but num_hashes={num_hashes} needs {sorted(want)} — the loop's "
                    "MinHash parameters must match the staged table it continues "
                    "(re-bootstrap the stage or pass the original num_hashes)"
                )
            corpus_docs = spark.read.parquet(corpus_dir).where(not_self)
            inc = incremental_near_dups(
                batch_df, corpus_sigs, corpus_docs, id_col, text_col,
                k=k, num_hashes=num_hashes, band_size=band_size, threshold=threshold,
            )
            # ``inc`` owns its candidate cache; it stays bound until the
            # writes below have run
            cross = inc.select(
                F.col("new_id").alias("id_a"),
                F.col("corpus_id").alias("id_b"),
                "jaccard",
                F.lit("cross").alias("kind"),
            )
        else:
            cross = intra.limit(0)
        pairs = scope.cache(intra.unionByName(cross))
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch_id={batch_id}")

        # dropped: anything with a corpus near-dup, or the higher id of
        # an intra-batch pair (min id stays, matching batch dedup)
        dropped = (
            pairs.where(F.col("kind") == "cross").select(F.col("id_a").alias(id_col))
            .unionByName(
                pairs.where(F.col("kind") == "intra").select(F.col("id_b").alias(id_col))
            )
            .distinct()
        )
        admitted = scope.cache(batch_df.join(dropped, id_col, "left_anti"))
        admitted.write.mode("overwrite").parquet(f"{corpus_dir}/batch_id={batch_id}")
        sigs = minhash_signatures(
            word_shingles(admitted, id_col, text_col, k=k), id_col, num_hashes=num_hashes
        )
        sigs.write.mode("overwrite").parquet(f"{sigs_dir}/batch_id={batch_id}")


def stream_url_dedup(
    new_docs: DataFrame,
    urls_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> None:
    """Streaming URL-level dedup — the cross-batch form of the
    clean-corpus ``--urlCol`` pass (RefinedWeb's FIRST stage): each
    micro-batch admits only the first occurrence of every canonical URL,
    within the batch (min id wins, matching
    ``functions.urls.url_dedup_groups``) AND against every URL admitted by
    earlier batches (one equi-anti-join on the staged canonical-URL table
    — URL-sized keys, never document text). Admitted docs land in
    ``out_dir`` with their ``url_canon``; their (url_canon, id) rows
    append to ``urls_dir``, so every later batch dedups against
    everything admitted before it.

    Same idempotent restart contract as ``stream_incremental_dedup``:
    every write goes to a ``batch_id=N`` partition with overwrite
    semantics, so a crash-replayed batch rewrites its own partition
    byte-identically — and the staged-URL read excludes the in-flight
    batch's own partition (``WHERE batch_id <> current``), because a
    crash after the urls_dir write but before the checkpoint commit
    would otherwise anti-join the replay against its own winners and
    overwrite the batch with empty data (pinned by the double-invoke
    replay test). Per-batch cost: O(|batch|) pure-codegen
    canonicalization + one map-combined groupBy on the batch's URLs + the
    staged anti-join.
    """
    _drain(
        new_docs,
        partial(
            url_dedup_batch,
            urls_dir=urls_dir, out_dir=out_dir, id_col=id_col, url_col=url_col,
        ),
        checkpoint_dir,
    )


def stream_span_dedup(
    new_docs: DataFrame,
    spans_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> None:
    """Streaming duplicate-SPAN dedup — the cross-batch form of the
    ExactSubstr pass (Lee et al. 2021), completing the streaming mirror
    of every batch dedup granularity (exact + paragraph + URL + span):
    each micro-batch removes every k-token window that occurred earlier
    WITHIN the batch (``duplicate_span_dedup`` (id, pos) order) or in ANY
    earlier batch (``seen_hashes`` = the staged first-occurrence shingle
    hashes — hash-sized state, never earlier text). The batch's own
    distinct window hashes (of the ORIGINAL text, exactly the hashes a
    full-corpus run would anchor firsts on) append to ``spans_dir`` so
    later batches dedup against them. Stream output equals the batch
    operator run on the concatenated corpus whenever batch arrival order
    agrees with id order (pinned in tests/test_streaming.py).

    Same idempotent restart contract as the other two loops: per-batch
    ``batch_id=N`` overwrite partitions, and every staged read excludes
    the in-flight batch's own partition (the replay-hole guard), pinned
    by the double-invoke replay test. Per-batch cost: O(|batch| tokens)
    shingling + one groupBy + one hash join against the staged table —
    the staged side is an equi-join on md5 keys, never pairwise.
    """

    _drain(
        new_docs,
        partial(
            span_dedup_batch,
            spans_dir=spans_dir, out_dir=out_dir,
            id_col=id_col, text_col=text_col, k=k,
        ),
        checkpoint_dir,
    )


def span_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    spans_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> None:
    """One micro-batch of the streaming span-dedup loop — module-level so
    the crash-replay contract is directly testable (same batch_id twice →
    identical partitions; see ``stream_span_dedup``)."""
    from chess_lakehouse_spark.operators.dedup import (
        duplicate_span_dedup,
        span_shingle_hashes,
    )

    spark = batch_df.sparkSession
    with FrameScope() as scope:
        batch_df = scope.cache(batch_df)
        staged = None
        if _path_exists(spark, spans_dir):
            # replay-hole guard: never dedup a replayed batch against its
            # own staged window hashes
            staged = (
                spark.read.parquet(spans_dir)
                .where(F.col("batch_id").cast("string") != F.lit(str(batch_id)))
                .select("h")
            )
        cleaned = duplicate_span_dedup(
            batch_df, id_col, text_col, k=k, seen_hashes=staged
        )
        out = batch_df.drop(text_col).join(cleaned, id_col)
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        # stage the ORIGINAL batch text's window hashes (first occurrences
        # anchor on pre-dedup text, exactly as a full-corpus run would)
        new_hashes = (
            span_shingle_hashes(batch_df, id_col, text_col, k=k)
            .select("h")
            .distinct()
        )
        if staged is not None:
            new_hashes = new_hashes.join(staged, "h", "left_anti")
        new_hashes.write.mode("overwrite").parquet(
            f"{spans_dir}/batch_id={batch_id}"
        )


def url_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    urls_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> None:
    """One micro-batch of the streaming URL-dedup loop — module-level so
    the crash-replay contract is directly testable: calling it twice with
    the SAME ``batch_id`` must rewrite the batch's partitions identically,
    because the staged-URL anti-join excludes the in-flight batch's own
    partition (see ``stream_url_dedup``)."""
    from chess_lakehouse_spark.functions.urls import url_canonicalize

    spark = batch_df.sparkSession
    with FrameScope() as scope:
        canon = scope.cache(batch_df.withColumn("url_canon", url_canonicalize(F.col(url_col))))
        winners = canon.groupBy("url_canon").agg(
            F.min(id_col).alias(id_col)
        )
        if _path_exists(spark, urls_dir):
            # Replay-hole guard: never anti-join a replayed batch
            # against its own staged winners (see docstring).
            staged = (
                spark.read.parquet(urls_dir)
                .where(F.col("batch_id").cast("string") != F.lit(str(batch_id)))
                .select("url_canon")
            )
            winners = winners.join(staged, "url_canon", "left_anti")
        admitted = scope.cache(canon.join(winners.select(id_col), id_col, "left_semi"))
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        admitted.select("url_canon", id_col).write.mode("overwrite").parquet(
            f"{urls_dir}/batch_id={batch_id}"
        )


def bloom_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    bloom_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    key_col: str = "url",
    m_bits: int = 1 << 20,
    k: int = 7,
) -> None:
    """One micro-batch of the streaming Bloom-frontier dedup loop —
    module-level so the crash-replay contract is directly testable (see
    ``stream_bloom_dedup``)."""
    from chess_lakehouse_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
        read_bloom_merged,
        write_bloom_batch,
    )

    spark = batch_df.sparkSession
    with FrameScope() as scope:
        batch_df = scope.cache(batch_df)
        winners = batch_df.groupBy(key_col).agg(F.min(id_col).alias(id_col))
        staged = None
        if _path_exists(spark, bloom_dir):
            # Replay-hole guard: never gate a replayed batch against its
            # own staged bitmap (bits can't be un-ORed, so the state is
            # batch-partitioned and the in-flight id is excluded here).
            staged = read_bloom_merged(spark, bloom_dir, exclude_batch=batch_id)
        if staged is not None:
            # persist the merged bitmap: the dims fetch, the gate's own
            # meta fetch and the broadcast would otherwise each re-run
            # the multi-batch OR over the staged state
            staged = scope.cache(staged)
            row = staged.select("m_bits", "k").first()
            m_bits, k = int(row["m_bits"]), int(row["k"])  # state owns dims
            winners = (
                bloom_might_contain(winners, key_col, staged)
                .where(~F.col("might_contain"))
                .drop("might_contain")
            )
        winners = scope.cache(winners)
        admitted = batch_df.join(
            winners.select(id_col), id_col, "left_semi"
        )
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        delta_bloom = build_bloom(
            winners.select(key_col), key_col, m_bits=m_bits, k=k
        )
        write_bloom_batch(delta_bloom, bloom_dir, batch_id)


def stream_bloom_dedup(
    new_docs: DataFrame,
    bloom_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    key_col: str = "url",
    m_bits: int = 1 << 20,
    k: int = 7,
) -> None:
    """Streaming Bloom-FRONTIER dedup — the crawl-frontier form of
    ``stream_url_dedup``: each micro-batch admits the first occurrence of
    every key within the batch (min id wins) and against a Bloom filter
    of everything ADMITTED by earlier batches, then ORs its own admitted
    keys into the staged bitmap. The trade vs the exact loop is explicit:
    state is O(m_bits) FOREVER — a frontier of billions of URLs gates
    through a bitmap of a few GB instead of a staged key table it must
    anti-join — at the cost of the filter's false-positive rate
    PERMANENTLY dropping that fraction of genuinely-new keys (no false
    negatives: an admitted key is never re-admitted). Size m_bits/k for
    the target corpus with the standard Bloom math (module docstring);
    the parameters bind at the FIRST batch, after which the staged
    state's own dimensions govern (a changed arg cannot silently split
    the filter).

    Replay contract, same as every loop here: the batch bitmap and the
    admitted docs land as ``batch_id=N`` overwrite partitions, and the
    staged-bitmap read EXCLUDES the in-flight batch (bits merged into
    one bitmap could never be un-ORed — the batch-partitioned state
    exists exactly so the replay hole stays closed); a crash-replayed
    batch therefore rewrites both partitions byte-identically
    (double-invoke pinned). ``compact_bloom_state`` folds old batch
    bitmaps into ``batch_id=base`` so state file counts stay bounded;
    keep the IN-FLIGHT batch out of a compaction window (the same
    exclusive-maintenance contract as ``compact_stream_state``).
    Per-batch cost: one map-combined groupBy on the batch's keys + k bit
    tests per winner against the broadcast bitmap + an O(k·|admitted|)
    delta-bitmap build — the staged corpus is never re-read."""

    _drain(
        new_docs,
        partial(
            bloom_dedup_batch,
            bloom_dir=bloom_dir, out_dir=out_dir,
            id_col=id_col, key_col=key_col, m_bits=m_bits, k=k,
        ),
        checkpoint_dir,
    )


def stream_phash_dedup(
    new_docs: DataFrame,
    sigs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 10,
    band_bits: int = 8,
    codec: str = "auto",
) -> None:
    """Streaming IMAGE near-dedup — the cross-batch form of
    ``operators/multimodal.py:phash_dedup``, completing the streaming
    mirror of every dedup granularity (exact + paragraph + URL + span +
    image): each micro-batch hashes its binary payloads (64-bit pHash),
    collapses within-batch visual clusters to their min-id canonical
    (pairs → connected components, exactly the batch operator), then
    drops any survivor within ``max_hamming`` of ANY earlier batch's
    signature via the banded ``hamming_join`` — hash-sized state, never
    payload bytes. ALL of the batch's decodable signatures (pre-dedup)
    append to ``sigs_dir``: staging pre-dedup signatures makes the
    greedy online rule match the batch operator on clique-shaped
    clusters (re-encodes/rescales of one image are pairwise near), the
    common case; on CHAIN-shaped clusters (a~b~c but a!~c) the online
    rule keeps the first arrival of each chain segment where the batch
    operator keeps only the component minimum — the same documented
    divergence as every online-vs-global dedup. Undecodable payloads
    (NULL phash in ``auto`` mode) always survive and stage nothing.

    Same idempotent restart contract as the other loops: per-batch
    ``batch_id=N`` overwrite partitions, staged reads exclude the
    in-flight batch's own partition (the replay-hole guard), pinned by
    the double-invoke replay test. Per-batch cost: O(|batch|) Arrow
    hashing + the batch self-join + one banded join whose cost tracks
    the batch's band buckets, not the corpus.
    """

    _drain(
        new_docs,
        partial(
            phash_dedup_batch,
            sigs_dir=sigs_dir, out_dir=out_dir,
            max_hamming=max_hamming, band_bits=band_bits, codec=codec,
        ),
        checkpoint_dir,
    )


def _binary_sig_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    sigs_dir: str,
    out_dir: str,
    signature,
    hash_col: str,
    max_hamming: int,
    band_bits: int,
) -> None:
    """Shared micro-batch body for every 64-bit-signature streaming dedup
    loop (image pHash, audio fingerprint): within-batch pairs →
    connected components → min-id canonical; survivors banded-joined
    against staged signatures (excluding the in-flight batch's own
    partition — the replay-hole guard); ALL of the batch's signatures
    (pre-dedup, the anchor rule) staged to ``sigs_dir``.
    ``signature(batch_df)`` gives the NULL-filtered (doc_id, hash_col)
    frame — rows absent from it (undecodable payloads) always survive and
    stage nothing. It is applied to the cached batch, so the payloads are
    read once."""
    from chess_lakehouse_spark.operators.dedup import (
        hamming_join,
        hamming_near_pairs,
    )
    from chess_lakehouse_spark.operators.graph import connected_components

    spark = batch_df.sparkSession
    with FrameScope() as scope:
        batch_df = scope.cache(batch_df)
        sig = scope.cache(signature(batch_df))
        pairs = hamming_near_pairs(
            sig, "doc_id", hash_col,
            n_bits=64, max_hamming=max_hamming, band_bits=band_bits,
        )
        comps = connected_components(pairs)
        losers = comps.where(F.col("id") != F.col("component")).select(
            F.col("id").alias("doc_id")
        )
        admitted = batch_df.join(losers, "doc_id", "left_anti")
        if _path_exists(spark, sigs_dir):
            # replay-hole guard: never compare a replayed batch
            # against its own staged signatures
            staged = (
                spark.read.parquet(sigs_dir)
                .where(F.col("batch_id").cast("string") != F.lit(str(batch_id)))
                .select("doc_id", hash_col)
            )
            hits = hamming_join(
                sig, staged, "doc_id", hash_col,
                n_bits=64, max_hamming=max_hamming, band_bits=band_bits,
            ).select(F.col("new_id").alias("doc_id"))
            admitted = admitted.join(hits, "doc_id", "left_anti")
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        # stage ALL decodable batch signatures (pre-dedup — the
        # anchor rule, exactly as the span loop stages original text)
        sig.write.mode("overwrite").parquet(
            f"{sigs_dir}/batch_id={batch_id}"
        )


def phash_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    sigs_dir: str,
    out_dir: str,
    max_hamming: int = 10,
    band_bits: int = 8,
    codec: str = "auto",
) -> None:
    """One micro-batch of the streaming image-dedup loop — module-level so
    the crash-replay contract is directly testable (same batch_id twice →
    identical partitions; see ``stream_phash_dedup``)."""
    from chess_lakehouse_spark.operators.multimodal import phash64

    _binary_sig_dedup_batch(
        batch_df, batch_id, sigs_dir, out_dir,
        lambda b: phash64(b, codec=codec).where(F.col("phash").isNotNull()), "phash",
        max_hamming=max_hamming, band_bits=band_bits,
    )


def stream_audio_dedup(
    new_docs: DataFrame,
    sigs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 6,
    band_bits: int = 8,
) -> None:
    """Streaming AUDIO near-dedup — the cross-batch form of
    ``operators/audio.py:audio_dedup``, sharing the image loop's batch
    body verbatim (``_binary_sig_dedup_batch``) with the 64-bit
    energy-difference fingerprint as the signature: gain-scaled
    re-encodes of an earlier batch's clip are dropped, undecodable /
    too-short clips always survive and stage nothing. Same idempotent
    restart contract (per-batch overwrite partitions + the replay-hole
    guard), pinned by the double-invoke replay test; same greedy-online
    vs global-clustering boundary as the image loop, exact on
    clique-shaped clusters."""

    _drain(
        new_docs,
        partial(
            audio_dedup_batch,
            sigs_dir=sigs_dir, out_dir=out_dir,
            max_hamming=max_hamming, band_bits=band_bits,
        ),
        checkpoint_dir,
    )


def audio_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    sigs_dir: str,
    out_dir: str,
    max_hamming: int = 6,
    band_bits: int = 8,
) -> None:
    """One micro-batch of the streaming audio-dedup loop — module-level so
    the crash-replay contract is directly testable (see
    ``stream_audio_dedup``)."""
    from chess_lakehouse_spark.operators.audio import audio_fingerprint

    _binary_sig_dedup_batch(
        batch_df, batch_id, sigs_dir, out_dir,
        lambda b: audio_fingerprint(b).where(F.col("afp").isNotNull()), "afp",
        max_hamming=max_hamming, band_bits=band_bits,
    )


def stream_video_dedup(
    new_docs: DataFrame,
    sigs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 6,
    min_sim: float = 0.5,
    frame_stride: int = 1,
    band_bits: int = 8,
) -> None:
    """Streaming VIDEO near-dedup — completing the streaming mirror of
    every dedup modality (text exact/paragraph/URL/span + image + audio
    + video): within-batch clip clusters collapse via the batch
    ``video_near_pairs`` max-containment rule; cross-batch, a new clip
    is dropped when >= ``min_sim`` of ITS OWN sampled frames are within
    ``max_hamming`` of ANY earlier batch's staged frame hash (NEW-SIDE
    containment — the online admission rule: per-batch cost tracks the
    batch's frame count and matching band buckets, never the corpus,
    because no corpus-side frame counts are consulted; a new LONGER cut
    that merely contains an old short clip is therefore admitted, the
    documented asymmetry vs the batch operator's max-containment).
    Staged state = (doc_id, frame_idx, frame_phash) rows — hash-sized,
    never pixels; ALL of the batch's frame hashes stage pre-dedup (the
    anchor rule). Undecodable payloads yield no frames and always
    survive. Same idempotent restart contract (per-batch overwrite
    partitions + the replay-hole guard), pinned by the double-invoke
    replay test."""

    _drain(
        new_docs,
        partial(
            video_dedup_batch,
            sigs_dir=sigs_dir, out_dir=out_dir,
            max_hamming=max_hamming, min_sim=min_sim,
            frame_stride=frame_stride, band_bits=band_bits,
        ),
        checkpoint_dir,
    )


def video_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    sigs_dir: str,
    out_dir: str,
    max_hamming: int = 6,
    min_sim: float = 0.5,
    frame_stride: int = 1,
    band_bits: int = 8,
) -> None:
    """One micro-batch of the streaming video-dedup loop — module-level so
    the crash-replay contract is directly testable (see
    ``stream_video_dedup``)."""
    from chess_lakehouse_spark.operators.dedup import hamming_join
    from chess_lakehouse_spark.operators.graph import connected_components
    from chess_lakehouse_spark.operators.video import (
        FRAME_ID_STRIDE,
        checked_frame_id,
        video_frame_phash,
        video_near_pairs,
    )

    S = FRAME_ID_STRIDE
    spark = batch_df.sparkSession
    with FrameScope() as scope:
        batch_df = scope.cache(batch_df)
        fr = scope.cache(video_frame_phash(batch_df, frame_stride=frame_stride))
        pairs = video_near_pairs(
            batch_df, max_hamming=max_hamming, min_sim=min_sim,
            band_bits=band_bits, frames=fr,
        )
        comps = connected_components(pairs.select("id_a", "id_b"))
        losers = comps.where(F.col("id") != F.col("component")).select(
            F.col("id").alias("doc_id")
        )
        admitted = batch_df.join(losers, "doc_id", "left_anti")
        if _path_exists(spark, sigs_dir):
            # replay-hole guard: never compare a replayed batch
            # against its own staged frame hashes
            staged = (
                spark.read.parquet(sigs_dir)
                .where(F.col("batch_id").cast("string") != F.lit(str(batch_id)))
                .select("doc_id", "frame_idx", "frame_phash")
            )
            new_fid = fr.select(
                checked_frame_id("doc_id", "frame_idx").alias("fid"),
                "frame_phash",
            )
            corp_fid = staged.select(
                checked_frame_id("doc_id", "frame_idx").alias("fid"),
                "frame_phash",
            )
            hits = hamming_join(
                new_fid, corp_fid, "fid", "frame_phash",
                n_bits=64, max_hamming=max_hamming, band_bits=band_bits,
            )
            covered = (
                hits.select(
                    F.expr(f"new_id DIV {S}").alias("doc_id"),
                    (F.col("new_id") % S).alias("fidx"),
                )
                .groupBy("doc_id")
                .agg(F.countDistinct("fidx").alias("m"))
            )
            n_sampled = fr.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("ns")
            )
            drop = (
                covered.join(n_sampled, "doc_id")
                .where(F.col("m") / F.col("ns") >= min_sim)
                .select("doc_id")
            )
            admitted = admitted.join(drop, "doc_id", "left_anti")
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        # stage ALL of the batch's frame hashes (pre-dedup — the
        # anchor rule)
        fr.write.mode("overwrite").parquet(f"{sigs_dir}/batch_id={batch_id}")


def stream_rollup(
    new_rows: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming fold into an incremental materialized rollup
    (operators/rollup.py) — the continuous-aggregate ingestion loop: the
    rollup is BUILT once (``build_rollup`` stages the spec + historical
    partials), then every micro-batch folds as its OWN
    ``agg/batch_id=b<N>`` partition via ``append_rollup``. Replay
    idempotency is STRUCTURAL here — the fold writes nothing but its own
    partition and reads no staged state at all, so a crash-replay
    rewrites ``batch_id=b<N>`` byte-identically with no exclusion filter
    needed (contrast the dedup loops, which must guard their staged-state
    reads). Per-batch cost is O(|batch|) + one |groups|-sized shuffle;
    serving stays ``serve_rollup`` on the same directory, unaware of
    which partitions came from streaming. Run ``compact_rollup``
    periodically to refold the accumulated batch partitions."""
    from chess_lakehouse_spark.operators.rollup import append_rollup

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        append_rollup(batch_df, rollup_dir, f"b{batch_id}")

    _drain(new_rows, _batch, checkpoint_dir)


def compact_stream_state(
    spark: SparkSession, state_dir: str, keep_recent: int = 2
) -> None:
    """Maintenance compaction for the ``batch_id=``-partitioned staged
    tables every streaming loop here accumulates (sigs/corpus/urls/frame
    hashes/rollup partials): a year of daily micro-batches is hundreds of
    partitions whose discovery and footer reads start to dominate the
    per-batch staged scan. Merges every partition EXCEPT the
    ``keep_recent`` most recent into one ``batch_id=compacted.<hi>``
    partition (``hi`` = the highest merged id), preserving rows exactly —
    consumers read the parent dir through partition discovery and see
    identical data; the synthetic label can never equal a live numeric
    (or ``b<N>``) foreachBatch id, so the replay-hole exclusion filter
    (``batch_id <> current``) keeps working for live batches. Recency
    orders numeric ids numerically; non-numeric labels (``bootstrap``,
    prior ``compacted.*``) are always merged. The rewrite lands aside and
    swaps via the crash-safe rename-aside pattern.

    Operational contract: run BETWEEN stream runs (the availableNow
    drain-and-stop cycle leaves exactly that window), and keep
    ``keep_recent`` >= 1 so a crashed-uncommitted batch — the only one
    foreachBatch can ever replay — still owns its partition."""
    from chess_lakehouse_spark.operators.publish import swap_publish

    if keep_recent < 1:
        raise ValueError(
            f"compact_stream_state: keep_recent must be >= 1, got {keep_recent}"
        )
    df = spark.read.parquet(state_dir)
    ids = [
        str(r.batch_id)
        for r in df.select("batch_id").distinct().collect()
    ]

    def _order(b: str):
        num = b[1:] if b.startswith("b") and b[1:].isdigit() else b
        return (1, int(num), "") if num.isdigit() else (0, 0, b)

    ids.sort(key=_order)
    kept = set(ids[-keep_recent:]) if keep_recent < len(ids) else set(ids)
    merged = [b for b in ids if b not in kept]
    if not merged:
        return
    hi = max((_order(b) for b in merged))
    tag = f"compacted.{hi[1] if hi[0] == 1 else 0}"
    remapped = df.withColumn(
        "batch_id",
        F.when(
            F.col("batch_id").cast("string").isin(list(kept)),
            F.col("batch_id").cast("string"),
        ).otherwise(F.lit(tag)),
    )
    swap_publish(
        spark, state_dir,
        remapped.write.partitionBy("batch_id").mode("overwrite").parquet,
        "compact_stream_state",
    )


def read_scd2_current(
    spark: SparkSession, dim_dir: str, exclude_batch=None
) -> DataFrame | None:
    """The served SCD2 dimension: the LATEST committed snapshot under
    ``dim_dir/batch_id=N`` (optionally excluding one batch id — the
    streaming replay-hole guard). None when no snapshot exists. The
    distinct-id fetch is bounded by |batches| (compact regularly)."""
    if not _path_exists(spark, dim_dir):
        return None
    snaps = spark.read.parquet(dim_dir)
    if exclude_batch is not None:
        snaps = snaps.where(
            F.col("batch_id").cast("string") != F.lit(str(exclude_batch))
        )
    ids = [str(r.batch_id) for r in snaps.select("batch_id").distinct().collect()]
    if not ids:
        return None
    latest = max(ids, key=lambda b: (b.isdigit(), int(b) if b.isdigit() else -1, b))
    return snaps.where(
        F.col("batch_id").cast("string") == F.lit(latest)
    ).drop("batch_id")


def scd2_batch(
    batch_df: DataFrame,
    batch_id: int,
    dim_dir: str,
    key_cols,
    attr_cols,
    ts_col: str,
) -> None:
    """One micro-batch of the streaming SCD2 loop — module-level so the
    crash-replay contract is directly testable. The Type-2 fold is
    ORDER-DEPENDENT (closed history cannot be un-closed), so unlike the
    dedup loops its state cannot be batch-partitioned rows: state is
    SNAPSHOT-PER-BATCH — each micro-batch reads the latest committed
    snapshot EXCLUDING its own batch id (the replay-hole guard: a crash
    after the snapshot write but before the checkpoint commit would
    otherwise fold the replay into its own output, double-versioning
    every event), folds with :func:`scd2_apply`'s exact batch
    semantics, and publishes the NEW full snapshot under
    ``batch_id=<id>`` via the rename-aside swap. A replayed batch
    therefore rewrites its snapshot byte-identically. Per-batch cost is
    O(|dim| + |batch|) — dimensions are small relative to fact/corpus
    tables, the documented trade for exact fold semantics; prune old
    snapshots with :func:`compact_scd2_snapshots`."""
    from chess_lakehouse_spark.operators.publish import scd2_apply, swap_publish

    spark = batch_df.sparkSession
    keys, attrs = list(key_cols), list(attr_cols)
    prior = read_scd2_current(spark, dim_dir, exclude_batch=batch_id)
    if prior is None:
        prior = (
            batch_df.select(
                *keys,
                *attrs,
                F.col(ts_col).alias("valid_from"),
                F.col(ts_col).alias("valid_to"),
            ).limit(0)
        )
    out = scd2_apply(prior, batch_df, keys, attrs, ts_col)
    swap_publish(
        spark, f"{dim_dir.rstrip('/')}/batch_id={batch_id}",
        out.write.mode("overwrite").parquet, "scd2_batch",
    )


def stream_scd2(
    updates: DataFrame,
    dim_dir: str,
    checkpoint_dir: str,
    key_cols,
    attr_cols,
    ts_col: str = "ts",
    compact_every: int | None = None,
    keep_recent: int = 2,
) -> None:
    """Streaming SCD2 dimension maintenance — the eighth stateful loop:
    every micro-batch of the update feed folds into the versioned
    dimension with :func:`scd2_apply`'s exact batch semantics (see
    :func:`scd2_batch` for the snapshot-per-batch state layout and the
    replay contract; stream == one-shot batch fold when the feed's
    (key, ts) order is consistent with batch boundaries, pinned in
    tests/test_streaming.py). Serve with :func:`read_scd2_current`.
    availableNow drains and stops (test/backfill); production uses a
    live trigger on the identical plan.

    ``compact_every=N`` auto-compacts the snapshot-per-batch state
    IN-LOOP: after every N-th micro-batch publishes, only the
    ``keep_recent`` newest ``batch_id=`` snapshots survive — without
    it, state maintenance is an out-of-band
    :func:`compact_scd2_snapshots` call that a year of hourly
    micro-batches (~9k full snapshots) can outrun. ``keep_recent`` must
    stay >= 2 when compaction runs in-loop: compaction fires BEFORE the
    batch's checkpoint commit, so a crash in that gap replays the batch
    — the replay excludes its own snapshot (the replay-hole guard) and
    must still find its PRIOR snapshot to re-fold from. Compaction
    itself is a pure function of the surviving snapshot set, so a
    replayed compact keeps the same snapshots (idempotent); pinned with
    serving-equality across an in-loop compaction in
    tests/test_streaming.py."""
    if compact_every is not None:
        if compact_every < 1:
            raise ValueError(
                f"stream_scd2: compact_every must be >= 1, got {compact_every}"
            )
        if keep_recent < 2:
            raise ValueError(
                "stream_scd2: in-loop compaction needs keep_recent >= 2 "
                "(a crash between compact and checkpoint-commit replays "
                f"the batch, which re-folds from its PRIOR snapshot), got "
                f"{keep_recent}"
            )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        scd2_batch(batch_df, batch_id, dim_dir, key_cols, attr_cols, ts_col)
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            compact_scd2_snapshots(
                batch_df.sparkSession, dim_dir, keep_recent=keep_recent
            )

    _drain(updates, _batch, checkpoint_dir)


def compact_scd2_snapshots(
    spark: SparkSession, dim_dir: str, keep_recent: int = 2
) -> None:
    """Prune old SCD2 snapshots: unlike ``compact_stream_state`` (which
    MERGES row-grain state), each snapshot here is a complete dimension
    state, so compaction simply KEEPS the ``keep_recent`` most recent
    ``batch_id=N`` snapshots and drops the rest — served rows
    (:func:`read_scd2_current` = the latest snapshot) are untouched.
    Crash-safe via the rename-aside swap; run BETWEEN stream runs and
    keep ``keep_recent`` >= 1 so a crashed-uncommitted batch still
    finds its prior snapshot to re-fold from (>= 2 keeps one fallback
    generation)."""
    from chess_lakehouse_spark.operators.publish import swap_publish

    if keep_recent < 1:
        raise ValueError(
            f"compact_scd2_snapshots: keep_recent must be >= 1, got {keep_recent}"
        )
    df = spark.read.parquet(dim_dir)
    ids = [str(r.batch_id) for r in df.select("batch_id").distinct().collect()]
    ids.sort(key=lambda b: (b.isdigit(), int(b) if b.isdigit() else -1, b))
    kept = ids[-keep_recent:]
    if set(kept) == set(ids):
        return
    remain = df.where(F.col("batch_id").cast("string").isin(kept)).withColumn(
        "batch_id", F.col("batch_id").cast("string")
    )
    swap_publish(
        spark, dim_dir,
        remain.write.partitionBy("batch_id").mode("overwrite").parquet,
        "compact_scd2_snapshots",
    )


def stream_anomaly_alerts(
    new_events: DataFrame,
    rollup_dir: str,
    alerts_dir: str,
    checkpoint_dir: str,
    series_col: str = "event_type",
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
    window: int = 24,
    k2: int = 9,
) -> None:
    """Streaming anomaly monitoring as a COMPOSITION of the staged
    primitives — the operational loop a 100 TB event pipeline runs: each
    micro-batch folds its bucketed per-series counts into the rollup as
    its own ``batch_id=b<N>`` partition (O(batch), structurally
    replay-idempotent — ``stream_rollup``'s contract), then the full
    count series is SERVED from the |series|·|buckets|-sized staged state
    (zero event re-reads) and scored by the exact-integer trailing
    z-score (``integer_zscore_flags`` — bit-identical flags regardless of
    how history was batched), then the current flag table is published to
    ``alerts_dir`` via the crash-safe rename-aside swap (a concurrent
    reader always sees a complete table). A crash-replay refolds its own partition and recomputes
    the same alerts — idempotent end to end because every derived table
    is a pure function of the staged state. The rollup must be BUILT
    first (``build_rollup`` with keys ``[series_col, 'bk']`` and one
    ``('n', 'count', None)`` measure — e.g. over the historical backfill,
    or an empty slice of it)."""
    from chess_lakehouse_spark.operators.publish import swap_publish
    from chess_lakehouse_spark.operators.relational import integer_zscore_flags
    from chess_lakehouse_spark.operators.rollup import (
        append_rollup,
        serve_rollup,
        time_bucket,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bucketed = batch_df.withColumn(
            "bk", time_bucket(F.col(ts_col), bucket_seconds)
        )
        append_rollup(bucketed, rollup_dir, f"b{batch_id}")
        series = serve_rollup(spark, rollup_dir)
        flags = integer_zscore_flags(
            series, series_col, "bk", "n", window=window, k2=k2
        )
        # rename-aside swap (never overwrite-in-place): a concurrent
        # dashboard reader must never observe a deleted or half-written
        # alerts table mid-rewrite — same served-surface convention as
        # compact_stream_state and the staged indexes.
        swap_publish(
            spark, alerts_dir,
            flags.write.mode("overwrite").parquet, "stream_anomaly_alerts",
        )

    _drain(new_events, _batch, checkpoint_dir)


def edit_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    sigs_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 5,
    q: int = 4,
    stop_gram_min_df: int | None = None,
    gdf_dir: str | None = None,
) -> None:
    """One micro-batch of the edit-distance dedup loop — module-level so
    the crash-replay contract is directly testable (same shape as
    ``incremental_dedup_batch``): within-batch pairs via the full
    :func:`~chess_lakehouse_spark.operators.dedup.edit_distance_pairs`
    plan, cross-batch pairs via
    :func:`~chess_lakehouse_spark.operators.dedup.incremental_edit_dups`
    against the staged q-gram signature table, min-id canonical kept.
    Every write overwrites its own ``batch_id=N`` partition and the
    staged reads EXCLUDE the in-flight batch's partition, so a replay
    after crash-between-write-and-commit reproduces identical output.
    The q used here is baked into the staged gram hashes — the loop must
    keep it constant for the lifetime of ``sigs_dir`` (documented on
    ``incremental_edit_dups``; unlike MinHash there is no schema-level
    width to check).

    ``gdf_dir`` (with ``stop_gram_min_df``): stage a per-batch gram
    document-frequency companion so the hot-gram set costs O(vocabulary x
    batches) per batch instead of one pass over the whole staged gram
    table (the SCALE.md curve: without it the per-batch df aggregate is
    the linear term). Admitted batches have disjoint ids, so the global
    df is the SUM of per-batch dfs — the same fold algebra as the rollup
    partials, replay-idempotent by partition overwrite + in-flight
    exclusion; compact with ``compact_stream_state`` like the other
    staged loops."""
    from chess_lakehouse_spark.operators.dedup import (
        edit_distance_pairs,
        edit_signatures,
        incremental_edit_dups,
    )

    spark = batch_df.sparkSession
    with FrameScope() as scope:
        batch_df = scope.cache(batch_df)
        intra = edit_distance_pairs(
            batch_df, id_col, text_col, max_dist,
            q=q, stop_gram_min_df=stop_gram_min_df,
        ).select("id_a", "id_b", "dist", F.lit("intra").alias("kind"))
        if _path_exists(spark, sigs_dir):
            not_self = F.col("batch_id").cast("string") != F.lit(str(batch_id))
            corpus_sigs = spark.read.parquet(sigs_dir).where(not_self)
            corpus_docs = spark.read.parquet(corpus_dir).where(not_self)
            corpus_gdf = None
            if stop_gram_min_df is not None and gdf_dir is not None:
                if _path_exists(spark, gdf_dir):
                    corpus_gdf = (
                        spark.read.parquet(gdf_dir)
                        .where(not_self)
                        .groupBy("gram")
                        .agg(F.sum("df").alias("df"))
                    )
                else:
                    corpus_gdf = spark.createDataFrame(
                        [], "gram long, df long"
                    )
            cross = incremental_edit_dups(
                batch_df, corpus_sigs, corpus_docs, id_col, text_col,
                max_dist, q=q, stop_gram_min_df=stop_gram_min_df,
                corpus_gram_df=corpus_gdf,
            ).select(
                F.col("new_id").alias("id_a"),
                F.col("corpus_id").alias("id_b"),
                "dist",
                F.lit("cross").alias("kind"),
            )
        else:
            cross = intra.limit(0)
        pairs = scope.cache(intra.unionByName(cross))
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch_id={batch_id}")

        dropped = (
            pairs.where(F.col("kind") == "cross").select(F.col("id_a").alias(id_col))
            .unionByName(
                pairs.where(F.col("kind") == "intra").select(F.col("id_b").alias(id_col))
            )
            .distinct()
        )
        admitted = scope.cache(batch_df.join(dropped, id_col, "left_anti"))
        admitted.write.mode("overwrite").parquet(f"{corpus_dir}/batch_id={batch_id}")
        admitted_sigs = edit_signatures(admitted, id_col, text_col, q=q)
        admitted_sigs.write.mode("overwrite").parquet(
            f"{sigs_dir}/batch_id={batch_id}"
        )
        if gdf_dir is not None:
            (
                admitted_sigs.where(F.col("pos").isNotNull())
                .select("id", "gram")
                .distinct()
                .groupBy("gram")
                .agg(F.count(F.lit(1)).alias("df"))
                .write.mode("overwrite")
                .parquet(f"{gdf_dir}/batch_id={batch_id}")
            )


def stream_edit_dedup(
    new_docs: DataFrame,
    corpus_dir: str,
    sigs_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 5,
    q: int = 4,
    stop_gram_min_df: int | None = None,
    gdf_dir: str | None = None,
) -> None:
    """Streaming edit-distance dedup — the record-linkage granularity's
    streaming mirror (exact/URL/paragraph/span/MinHash/image/audio/video
    all have one): each micro-batch is edit-deduped within itself AND
    against every earlier admitted batch via the staged q-gram signature
    table; detected pairs land in ``pairs_dir``, survivors append to
    ``corpus_dir`` + ``sigs_dir``. Same idempotent-foreachBatch restart
    contract as ``stream_incremental_dedup`` (per-batch partition
    overwrite + in-flight-partition exclusion; pinned by the
    double-invoke replay test). Per-batch cost: O(|batch|) gram rows +
    one gram equi-join against staged signatures + candidate-bounded
    threshold-DP verify — corpus text touched only for candidates."""

    _drain(
        new_docs,
        partial(
            edit_dedup_batch,
            corpus_dir=corpus_dir, sigs_dir=sigs_dir, pairs_dir=pairs_dir,
            id_col=id_col, text_col=text_col,
            max_dist=max_dist, q=q, stop_gram_min_df=stop_gram_min_df,
            gdf_dir=gdf_dir,
        ),
        checkpoint_dir,
    )


def substring_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    q: int = 3,
    fold_case: bool = False,
    n_posting_files: int | None = None,
) -> None:
    """One micro-batch of the streaming substring-index loop: the batch's
    postings land gram-clustered in ``postings/batch_id=b<N>`` and meta/
    is written ONCE when absent (swap-published; it is constant for the
    index's lifetime) — NO staged data reads at all, so
    replay idempotency is STRUCTURAL (the rollup-fold class: a replayed
    batch rewrites its own partition and the identical meta byte-for-byte;
    contrast the dedup loops, which must exclude their in-flight
    partition). O(batch) per batch where ``append_substring_index`` would
    re-merge the whole index.

    Layout contract: this loop OWNS the index dir — postings/ is
    batch-partitioned from the first batch (a flat build_substring_index
    layout cannot be mixed in; land a historical corpus as the first
    drop instead), and consumers read it unchanged because
    ``substring_search_from_index`` ignores the discovered batch_id
    column and takes DISTINCT candidates from the rarest gram's list (a
    doc re-admitted in a later batch has duplicate postings; they can
    only make its grams look more common, never drop a match). Each
    batch writes ``n_posting_files`` files (None: one per core). meta/
    carries n_docs = NULL — unknowable without a staged read; a periodic
    ``compact_stream_state(spark, f"{index_dir}/postings")`` keeps
    partition discovery cheap (the merged partition loses per-file gram
    clustering tightness, never correctness — footers still carry
    min/max)."""
    from chess_lakehouse_spark.functions.text import (
        gram_postings,
        read_substring_index_meta,
        substring_index_meta,
        write_gram_postings,
    )
    from chess_lakehouse_spark.operators.publish import swap_publish

    spark = batch_df.sparkSession
    # drift guard: a restart with different q/fold_case would rewrite
    # meta to claim a gram width the existing partitions were not built
    # with — serving would then silently drop every true match from the
    # old partitions. Same check catches pointing the loop at a flat
    # build_substring_index layout (whose meta carries a non-NULL n_docs
    # and whose postings/ has no batch_id= dirs to mix with).
    if _path_exists(spark, f"{index_dir}/meta"):
        meta = read_substring_index_meta(spark, index_dir)
        if int(meta["q"]) != q or bool(meta["fold_case"]) != bool(fold_case):
            raise ValueError(
                f"substring_index_batch: index at {index_dir} was staged "
                f"with q={meta['q']}, fold_case={meta['fold_case']} but the "
                f"loop was started with q={q}, fold_case={fold_case} — the "
                "existing postings would silently stop matching; keep the "
                "loop parameters constant for the lifetime of the index"
            )
        if meta["n_docs"] is not None:
            raise ValueError(
                f"substring_index_batch: {index_dir} holds a FLAT "
                "build_substring_index layout (meta.n_docs is set); the "
                "streaming loop owns a batch-partitioned postings dir and "
                "cannot mix with flat posting files — land the historical "
                "corpus as the loop's first drop instead"
            )
    t = F.col(text_col)
    if fold_case:
        t = F.lower(t)
    base = batch_df.select(F.col(id_col).alias("doc_id"), t.alias("t")).where(
        F.col("t").isNotNull()
    )
    write_gram_postings(
        gram_postings(base, q),
        f"{index_dir}/postings/batch_id=b{batch_id}",
        n_posting_files,
    )
    # meta is CONSTANT for the index's lifetime (the drift guard above
    # enforces it), so it only needs writing when absent — and through
    # the rename-aside swap, never an in-place overwrite a concurrent
    # substring_search_from_index reader could catch half-deleted
    if not _path_exists(spark, f"{index_dir}/meta"):
        new_meta = substring_index_meta(spark, q, None, fold_case)
        swap_publish(
            spark, f"{index_dir}/meta",
            new_meta.write.mode("overwrite").parquet, "substring_index_batch",
        )


def stream_substring_index(
    new_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    q: int = 3,
    fold_case: bool = False,
    n_posting_files: int | None = None,
) -> None:
    """Streaming maintenance of the trigram substring-search index: each
    micro-batch folds its own gram-clustered postings partition — the
    search-side twin of ``stream_rollup`` (zero staged reads, structural
    replay idempotency), giving the corpus an always-current exact
    substring/regex lookup surface without ever re-merging the index
    (``append_substring_index`` is the batch-append form; this is the
    O(batch) continuous form). Serving stays
    ``substring_search_from_index`` on the same directory, unaware of
    which partitions came from streaming."""

    _drain(
        new_docs,
        partial(
            substring_index_batch,
            index_dir=index_dir,
            id_col=id_col, text_col=text_col,
            q=q, fold_case=fold_case, n_posting_files=n_posting_files,
        ),
        checkpoint_dir,
    )


def user_growth_batch(
    batch_df: DataFrame,
    batch_id,
    state_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Fold one micro-batch into the growth-accounting activity state:
    the batch's DISTINCT (user, day) rows land as their own
    ``batch_id=<id>`` partition via the rename-aside swap (the
    write_bloom_batch publish discipline — a concurrent serve never sees
    a half-written partition). Replay safety is STRUCTURAL (the
    stream_rollup class): the fold reads NO staged state and writes only
    its own partition, so a crash-replayed batch rewrites it
    byte-identically with no exclusion filter needed — and cross-batch
    duplicate (user, day) rows are harmless because
    :func:`serve_user_growth` re-distincts at the activity grain (a
    distinct is the idempotent-merge state class: replaying ANY subset
    of history cannot change the served curve)."""
    from chess_lakehouse_spark.operators.publish import swap_publish

    act = (
        batch_df.where(F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("u"), F.to_date(ts_col).alias("day")
        )
        .distinct()
    )
    swap_publish(
        act.sparkSession, f"{state_dir.rstrip('/')}/batch_id={batch_id}",
        act.write.mode("overwrite").parquet, "user_growth_batch",
    )


def stream_user_growth(
    new_events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Streaming user-growth accounting — the ninth cross-batch loop,
    and the first of the IDEMPOTENT-MERGE state class: the staged state
    is the distinct (user, day) activity set, which is a set-union fold,
    so micro-batch order, replays, and overlap all collapse under the
    serve-side distinct (contrast the bitmap loops, where replayed bits
    can't be un-ORed and state must be batch-partitioned for exclusion,
    and the SCD2 loop, whose order-dependent fold needs
    snapshot-per-batch). Per-batch cost: one map-combined distinct over
    the batch — NO staged-state read at fold time; the curve
    materializes only when :func:`serve_user_growth` is called.
    ``compact_stream_state`` bounds the partition count; serving is
    unchanged by compaction because rows are preserved exactly and the
    serve re-distincts."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        user_growth_batch(
            batch_df, f"b{batch_id}", state_dir, user_col=user_col, ts_col=ts_col
        )

    _drain(new_events, _batch, checkpoint_dir)


def serve_user_growth(
    spark: SparkSession, state_dir: str, day_fmt: str = "yyyy-MM-dd"
) -> DataFrame:
    """Serve the growth curve from streamed activity state: distinct the
    union of every staged batch partition at (user, day) grain, then the
    SAME curve math as the batch operator
    (operators/relational.py: growth_from_activity — shared verbatim, so
    stream and batch cannot drift; the stream==batch equivalence is
    pytest-pinned). Cost: one distinct over the staged activity set —
    the honest lower bound for exact cumulative-distinct accounting —
    plus the calendar-bounded curve tail."""
    from chess_lakehouse_spark.operators.relational import growth_from_activity

    act = (
        spark.read.parquet(state_dir)
        .select(F.col("u").alias("__u"), F.col("day").alias("__day"))
        .distinct()
    )
    return growth_from_activity(act, day_fmt=day_fmt)


def stream_heavy_hitters(
    new_rows: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    term_col: str = "term",
    k: int = 50,
) -> None:
    """Streaming heavy-hitters frontier — the tenth cross-batch loop,
    in the STRUCTURAL-idempotency state class (stream_rollup's): each
    micro-batch stages its deterministic exact Misra-Gries partial
    (operators/sketches.py: mg_batch_partial, <= k counter rows + the
    mass-carrier) as its OWN ``batch_id=b<N>`` partition via
    write_mg_batch's rename-aside swap. The fold writes nothing but its
    own partition and reads no staged state, and the exact partial is a
    pure function of the batch's rows — so a crash-replayed batch
    republishes VALUE-identically with no exclusion filter needed.

    Serving at any time is :func:`mg_from_batches` (|batches|·k rows,
    zero corpus) with the global Mergeable-Summaries guarantee over
    everything ingested so far: est <= true, true − est <= N/(k+1),
    every term with true > N/(k+1) present, N = mg_state_total (the
    carrier-row sum — exact even across ``compact_stream_state``, which
    may merge several batches under one partition label). Per-batch
    cost: one batch-sized groupBy + a (k+1)-row prune — the state the
    exact answer would need (a corpus-cardinality running groupBy) never
    exists anywhere."""
    from chess_lakehouse_spark.operators.sketches import (
        mg_batch_partial,
        write_mg_batch,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        write_mg_batch(
            mg_batch_partial(batch_df, term_col, k), state_dir, f"b{batch_id}"
        )

    _drain(new_rows, _batch, checkpoint_dir)


def stream_rank_sketch(
    new_rows: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str,
    value_col: str,
    k: int,
    by: list[str] | None = None,
    seed: int = 0,
) -> None:
    """Streaming maintenance of the mergeable rank/quantile sketch
    (operators/sketches.py — the eleventh stateful loop, the
    stream_rollup structural-idempotency class): every micro-batch
    builds its OWN rank-sketch partial (a pure function of the batch's
    rows — deterministic md5 coins) and stages it as its own
    ``batch_id=b<N>`` partition via the rename-aside swap. The fold
    reads NO staged state, so a crash-replayed micro-batch republishes
    its partition value-identically with no exclusion filter needed.
    Serving stays :func:`rank_sketch_from_batches` on the same
    directory — the merge is EXACT (nesting), so the streamed sketch
    serves bit-identically to a batch build over the union (pinned in
    tests/test_streaming.py). Compact with ``compact_rank_sketch_state``
    (the REFOLD form — the row-preserving ``compact_stream_state`` merge
    would mix per-batch counts and is NOT applicable to this state
    layout; see the operator docstring)."""
    from chess_lakehouse_spark.operators.sketches import (
        rank_sketch_build,
        write_rank_sketch_batch,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        part = rank_sketch_build(
            batch_df, id_col, value_col, k=k, by=by, seed=seed
        )
        write_rank_sketch_batch(part, state_dir, f"b{batch_id}")

    _drain(new_rows, _batch, checkpoint_dir)
