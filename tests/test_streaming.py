"""Streaming-path tests: file-source ingest, watermarked windows, session
windows, and the applyInPandasWithState custom stateful operator — all
driven with availableNow triggers so they run as bounded batch drains.

Cross-checks: the streaming hourly counts must equal the batch groupBy on
the same data (same code path contract), and session-window counts must
equal the batch lag-based sessionize."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from chess_lakehouse_spark.catalog import load_table
from chess_lakehouse_spark.streaming import (
    hourly_event_counts,
    read_events_stream,
    run_available_now,
    running_user_counts,
    session_windows,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_hourly_counts_match_batch(spark, events_dir, tmp_path):
    stream = hourly_event_counts(read_events_stream(spark, events_dir))
    run_available_now(stream, "hourly_counts", str(tmp_path / "ckpt"))
    got = {
        (r.hour_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in spark.table("hourly_counts").collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    want = {
        (r.hour_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_session_windows_match_batch_sessionize(spark, events_dir, tmp_path):
    stream = session_windows(read_events_stream(spark, events_dir))
    run_available_now(stream, "session_win", str(tmp_path / "ckpt"))
    got = (
        spark.table("session_win")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    got_map = {r.user_id: r.n_sessions for r in got.collect()}

    from chess_lakehouse_spark.suite.core import q_sessionize

    want_map = {r.user_id: r.n_sessions for r in q_sessionize(spark, SF_DIR).collect()}
    assert got_map == want_map
    assert len(got_map) > 0


def test_running_user_counts_stateful(spark, events_dir, tmp_path):
    stream = running_user_counts(read_events_stream(spark, events_dir))
    run_available_now(stream, "running_counts", str(tmp_path / "ckpt"), output_mode="update")
    # last update per user must equal the total batch count per user
    got = (
        spark.table("running_counts")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    got_map = {r.user_id: r.n_events for r in got.collect()}
    ev = load_table(spark, SF_DIR, "events")
    want_map = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got_map == want_map


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data handling + checkpoint recovery: three availableNow runs
    against ONE checkpoint (watermark persists across restarts). Run 1 sets
    the watermark from the on-time rows; run 2 delivers a 9-days-late row,
    which must be dropped; run 3 advances the watermark past the on-time
    window so append mode finalizes it. Had the late row been accepted, its
    long-closed window would appear in the sink (it would finalize
    immediately) — the sink accumulating across runs makes that visible."""
    import pandas as pd

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp"

    def run_with_file(name, stamps):
        pdf = pd.DataFrame({"user_id": [1] * len(stamps), "ts": pd.to_datetime(stamps)})
        # micros precision so nanosAsLong doesn't turn ts into bigint
        pdf.to_parquet(src / f"{name}.parquet", index=False, coerce_timestamps="us")
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            # parquet NTZ → session-tz timestamp: watermarks need TIMESTAMP
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_with_file("a", ["2024-02-10 10:00", "2024-02-10 10:30"])  # on-time
    run_with_file("b", ["2024-02-01 00:00"])  # late: far below the watermark
    run_with_file("c", ["2024-02-10 13:00"])  # pushes watermark past 11:00

    rows = {(str(r.start), r.n) for r in spark.read.parquet(out).collect()}
    assert rows == {("2024-02-10 10:00:00", 2)}


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + a time-bound condition
    (click within 30 min of its impression) — the stateful two-sided join;
    watermarks bound both sides' state. Verified against the batch join."""
    import pandas as pd

    from pyspark.sql import functions as F

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    pd.DataFrame(
        {"imp_id": [1, 2, 3], "its": pd.to_datetime(
            ["2024-02-10 10:00", "2024-02-10 10:05", "2024-02-10 10:10"])}
    ).to_parquet(imp_dir / "a.parquet", index=False, coerce_timestamps="us")
    pd.DataFrame(
        {"c_imp_id": [1, 2, 9], "cts": pd.to_datetime(
            # imp 1: in-window click; imp 2: too late (40 min); 9: unknown imp
            ["2024-02-10 10:20", "2024-02-10 10:45", "2024-02-10 10:30"])}
    ).to_parquet(clk_dir / "a.parquet", index=False, coerce_timestamps="us")

    def stream(d, schema):
        return (
            spark.readStream.schema(schema).parquet(str(d))
            .withColumn(schema.split(",")[1].split()[0],
                        F.col(schema.split(",")[1].split()[0]).cast("timestamp"))
        )

    imps = stream(imp_dir, "imp_id long, its timestamp").withWatermark("its", "1 hour")
    clks = stream(clk_dir, "c_imp_id long, cts timestamp").withWatermark("cts", "1 hour")
    joined = imps.join(
        clks,
        F.expr("imp_id = c_imp_id AND cts BETWEEN its AND its + INTERVAL 30 MINUTES"),
    ).select("imp_id", "its", "cts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.imp_id, str(r.cts)) for r in spark.table("ss_join").collect()}
    assert got == {(1, "2024-02-10 10:20:00")}


def test_streaming_dedup_drops_replayed_rows(spark, tmp_path):
    """At-least-once replay guard: the same event_id arriving again (even
    with a different payload timestamp inside the watermark window) must be
    dropped; distinct ids all pass. Two availableNow drains against one
    checkpoint prove the dedup state survives restarts."""
    import pandas as pd

    from chess_lakehouse_spark.streaming import streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def feed(name, ids, stamps):
        pdf = pd.DataFrame({"event_id": ids, "ts": pd.to_datetime(stamps)})
        pdf.to_parquet(src / f"{name}.parquet", index=False, coerce_timestamps="us")
        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            streaming_dedup(stream, ["event_id"])
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    feed("a", [1, 2, 2], ["2024-02-10 10:00", "2024-02-10 10:05", "2024-02-10 10:20"])
    feed("b", [1, 3], ["2024-02-10 10:40", "2024-02-10 11:00"])  # 1 is a replay

    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]


def test_foreachbatch_streams_into_partitioned_lake(spark, events_dir, tmp_path):
    """foreachBatch bridges streaming into the batch lake writers: each
    micro-batch lands through write_partitioned (append), producing the
    same Hive layout the batch export stage owns."""
    from chess_lakehouse_spark.operators.publish import write_partitioned

    lake = str(tmp_path / "lake")
    ev = read_events_stream(spark, events_dir).select(
        "event_id",
        "user_id",
        F.col("event_type").alias("DataSource"),
        F.year("ts").alias("year"),
        F.date_format("ts", "MM").alias("month"),
    )

    def sink(batch_df, batch_id):
        write_partitioned(batch_df, lake, ("DataSource", "year", "month"), mode="append")

    q = (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    import glob

    out = spark.read.parquet(lake)
    src = spark.read.parquet(f"{events_dir}")
    assert out.count() == src.count()
    assert glob.glob(f"{lake}/DataSource=*/year=*/month=*")


def test_corpus_ingest_clean_matches_batch_and_shards(spark, tmp_path):
    """Streaming corpus cleaning (quality gate + content dedup) must keep
    exactly the content set the batch computation keeps, landing as JSONL
    shards through foreachBatch."""
    import glob
    import json
    import shutil

    from chess_lakehouse_spark.functions.text import quality_score
    from chess_lakehouse_spark.streaming import (
        corpus_ingest_clean,
        read_documents_stream,
        stream_corpus_to_jsonl_shards,
    )

    d = tmp_path / "docs_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-000.parquet")

    min_q = 2.2
    out = str(tmp_path / "shards")
    clean = corpus_ingest_clean(read_documents_stream(spark, str(d)), min_quality=min_q)
    stream_corpus_to_jsonl_shards(clean, out, str(tmp_path / "ckpt"), max_records_per_file=50)

    got = set()
    for path in glob.glob(f"{out}/batch_id=*/*.json"):
        with open(path) as fh:
            for line in fh:
                got.add(json.loads(line)["content_md5"])

    batch = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumn("q", quality_score(F.col("text")))
        .where(F.col("q") >= min_q)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    want = {r.h for r in batch.collect()}
    assert got == want
    assert len(want) > 0


def test_sliding_counts_match_batch(spark, events_dir, tmp_path):
    from chess_lakehouse_spark.streaming import sliding_event_counts

    stream = sliding_event_counts(read_events_stream(spark, events_dir))
    run_available_now(stream, "sliding_counts", str(tmp_path / "ckpt"))
    got = {
        (r.win_start, r.event_type): r.n
        for r in spark.table("sliding_counts").collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    want = {
        (r.win["start"], r.event_type): r.n
        for r in ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_incremental_dedup_daily_drops(spark, tmp_path):
    """The streaming daily-ingest dedup loop: drop 1 admits canonicals and
    stages signatures; drop 2's near-dup of an ADMITTED doc is caught by
    the cross-batch band join and kept out of the corpus; the checkpoint
    prevents reprocessing on restart."""
    from pyspark.sql import Row

    from chess_lakehouse_spark.streaming import stream_incremental_dedup

    def doc(i, text):
        return Row(doc_id=i, text=text)

    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"x{i}" for i in range(30))
    third = " ".join(f"y{i}" for i in range(30))

    drops = tmp_path / "drops"
    drops.mkdir()
    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        import glob
        import shutil

        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(staging))
        shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet")

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_incremental_dedup(stream, corpus, sigs, pairs, ckpt,
                                 k=3, num_hashes=8, band_size=2, threshold=0.5)

    # drop 1: doc 1/2 are intra-batch identical; doc 3 distinct
    land("d1", [doc(1, base), doc(2, base), doc(3, other)])
    run()
    admitted1 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert admitted1 == {1, 3}  # intra dup 2 dropped, min id kept
    p1 = {(r.id_a, r.id_b, r.kind) for r in spark.read.parquet(pairs).collect()}
    assert (1, 2, "intra") in p1

    # drop 2: doc 10 near-dups ADMITTED doc 1 (cross-batch); doc 11 is new
    near = " ".join(f"w{i}" for i in range(29)) + " zz"
    land("d2", [doc(10, near), doc(11, third)])
    run()
    admitted2 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert admitted2 == {1, 3, 11}  # 10 rejected against the staged corpus
    p2 = {(r.id_a, r.id_b, r.kind) for r in spark.read.parquet(pairs).collect()}
    assert (10, 1, "cross") in p2

    # restart with nothing new: checkpoint prevents reprocessing
    run()
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3, 11}
    assert {tuple(r) for r in spark.read.parquet(sigs).select("doc_id").collect()} \
        == {(1,), (3,), (11,)}


def test_stream_incremental_dedup_rejects_mismatched_sig_schema(spark, tmp_path):
    """Continuing a staged signature table with different MinHash params
    must fail loudly, not silently miss duplicates."""
    import glob
    import shutil

    import pytest
    from pyspark.sql import Row

    from chess_lakehouse_spark.streaming import stream_incremental_dedup

    # staged table with only h0..h3 (num_hashes=4)
    spark.createDataFrame([Row(doc_id=1, **{f"h{i}": "x" for i in range(4)})]) \
        .write.parquet(str(tmp_path / "sigs" / "batch_id=bootstrap"))
    spark.createDataFrame([Row(doc_id=1, text="a b c d")]) \
        .write.parquet(str(tmp_path / "corpus" / "batch_id=bootstrap"))

    drops = tmp_path / "drops"
    drops.mkdir()
    staging = tmp_path / "_stage"
    spark.createDataFrame([Row(doc_id=2, text="a b c d e")]).coalesce(1) \
        .write.parquet(str(staging))
    shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], drops / "d.parquet")

    static = spark.read.parquet(str(drops))
    stream = spark.readStream.schema(static.schema).parquet(str(drops))
    with pytest.raises(Exception, match="num_hashes=8 needs"):
        stream_incremental_dedup(
            stream, str(tmp_path / "corpus"), str(tmp_path / "sigs"),
            str(tmp_path / "pairs"), str(tmp_path / "ckpt"), num_hashes=8,
        )


def test_corpus_ingest_clean_gopher_gate_matches_batch(spark, tmp_path):
    """gate='gopher' on the stream keeps exactly the content set the batch
    gopher_passes filter keeps — the gate is one stateless column
    expression, so stream and batch classify identically."""
    import glob
    import json
    import shutil

    from chess_lakehouse_spark.functions.text import gopher_passes
    from chess_lakehouse_spark.streaming import (
        corpus_ingest_clean,
        read_documents_stream,
        stream_corpus_to_jsonl_shards,
    )

    d = tmp_path / "docs_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-000.parquet")

    out = str(tmp_path / "shards")
    kw = {"min_words": 30, "min_stop_hits": 1}  # fixture-tuned: the paper
    # defaults keep ZERO fixture docs (max 1 required-stop hit), which
    # would make this test vacuous
    clean = corpus_ingest_clean(
        read_documents_stream(spark, str(d)), min_quality=0.0,
        gate="gopher", gopher_kwargs=kw,
    )
    stream_corpus_to_jsonl_shards(clean, out, str(tmp_path / "ckpt"), max_records_per_file=50)

    got = set()
    for path in glob.glob(f"{out}/batch_id=*/*.json"):
        with open(path) as fh:
            for line in fh:
                got.add(json.loads(line)["content_md5"])

    docs_batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch = (
        docs_batch.where(gopher_passes(F.col("text"), **kw))
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    want = {r.h for r in batch.collect()}
    assert got == want
    # the gate actually discriminates (neither empty nor pass-through)
    n_all = docs_batch.select(F.md5("text")).distinct().count()
    assert 0 < len(want) < n_all


def test_stream_paragraph_dedup_matches_batch(spark, tmp_path):
    """paragraph_dedup(scope='document') wired into the streaming shard
    sink rewrites text exactly like the batch operator — document scope is
    row-local, so micro-batch boundaries cannot change it (completes the
    batch<->stream mirror for the r7 operators)."""
    import glob
    import json

    from chess_lakehouse_spark.operators.dedup import paragraph_dedup
    from chess_lakehouse_spark.streaming import (
        corpus_ingest_clean,
        read_documents_stream,
        stream_corpus_to_jsonl_shards,
    )

    rows = [
        # intra-doc repeated lines go; the cross-doc shared header stays
        # in every doc (document scope)
        (i, f"nav menu\nbody text {i} alpha beta\nnav menu\nmore {i}\nnav menu", "en", "s")
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    d = tmp_path / "docs_stream"
    docs.coalesce(1).write.parquet(str(d))

    out = str(tmp_path / "shards")
    clean = corpus_ingest_clean(read_documents_stream(spark, str(d)), min_quality=0.0)
    stream_corpus_to_jsonl_shards(
        clean, out, str(tmp_path / "ckpt"), paragraph_dedup_sep="\n"
    )
    got = {}
    for path in glob.glob(f"{out}/batch_id=*/*.json"):
        with open(path) as fh:
            for line in fh:
                rec = json.loads(line)
                got[rec["doc_id"]] = rec["text"]

    want = {
        r["doc_id"]: r["clean_text"]
        for r in paragraph_dedup(docs, "doc_id", "text", sep="\n", scope="document").collect()
    }
    assert got == want
    # the pass actually fired: repeated nav lines collapsed to one
    assert all(t.count("nav menu") == 1 for t in got.values())
    assert len(got) == 20


def test_corpus_ingest_clean_rejects_unknown_gate_and_unifies_schema(spark, tmp_path):
    """A gate typo must error, not silently fall back to score filtering,
    and both gates must emit the same output schema (r7 ADVICE)."""
    import shutil

    from chess_lakehouse_spark.streaming import (
        corpus_ingest_clean,
        read_documents_stream,
    )

    d = tmp_path / "docs_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-000.parquet")
    stream = read_documents_stream(spark, str(d))

    with pytest.raises(ValueError, match="gate must be"):
        corpus_ingest_clean(stream, min_quality=0.0, gate="gofer")

    score_schema = corpus_ingest_clean(stream, min_quality=0.0, gate="score").schema
    gopher_schema = corpus_ingest_clean(
        stream, min_quality=0.0, gate="gopher",
        gopher_kwargs={"min_words": 30, "min_stop_hits": 1},
    ).schema
    assert score_schema == gopher_schema
    assert "quality_score" in gopher_schema.fieldNames()


def test_stream_url_dedup_cross_batch_and_replay(spark, tmp_path):
    """Streaming URL pass: drop 1 collapses intra-batch URL aliases (min
    id wins, = url_dedup_groups batch semantics); drop 2's alias of an
    ADMITTED URL is rejected by the staged anti-join while a new URL is
    admitted; restart with nothing new reprocesses nothing."""
    import glob
    import shutil

    from pyspark.sql import Row

    from chess_lakehouse_spark.streaming import stream_url_dedup

    drops = tmp_path / "drops"
    drops.mkdir()
    urls = str(tmp_path / "urls")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(staging))
        shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet")

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_url_dedup(stream, urls, out, ckpt)

    def doc(i, u):
        return Row(doc_id=i, text=f"body {i}", url=u)

    # drop 1: docs 1/2 are aliases of one canonical URL; doc 3 distinct
    land("d1", [
        doc(1, "https://www.A.com/x?utm_source=s"),
        doc(2, "HTTP://a.com/x/"),
        doc(3, "https://a.com/y"),
    ])
    run()
    admitted1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted1 == {1, 3}

    # drop 2: doc 10 is ANOTHER alias of the admitted a.com/x; doc 11 new
    land("d2", [doc(10, "a.com/x#frag"), doc(11, "https://b.com/z")])
    run()
    admitted2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted2 == {1, 3, 11}
    staged = {(r.url_canon, r.doc_id) for r in spark.read.parquet(urls).collect()}
    assert staged == {("a.com/x", 1), ("a.com/y", 3), ("b.com/z", 11)}

    # restart with nothing new: checkpoint prevents reprocessing
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3, 11}


def test_corpus_ingest_clean_strip_markup_matches_batch(spark, tmp_path):
    """strip_markup=True in the stream publishes exactly the batch
    strip_html + gate result: the strip is stateless, so batch and
    stream see identical text (and digest identical content_md5)."""
    import glob
    import json
    import shutil

    from chess_lakehouse_spark.functions.text import quality_score, strip_html
    from chess_lakehouse_spark.streaming import (
        corpus_ingest_clean,
        read_documents_stream,
        stream_corpus_to_jsonl_shards,
    )

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    wrapped = base.withColumn(
        "text",
        F.concat(
            F.lit("<html><p>"), F.col("text"),
            F.lit("</p><script>var x;</script></html>"),
        ),
    )
    d = tmp_path / "docs_stream"
    staging = tmp_path / "_stage"
    wrapped.coalesce(1).write.parquet(str(staging))
    d.mkdir()
    shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], d / "p.parquet")

    min_q = 2.2
    out = str(tmp_path / "shards")
    clean = corpus_ingest_clean(
        read_documents_stream(spark, str(d)), min_quality=min_q, strip_markup=True
    )
    stream_corpus_to_jsonl_shards(clean, out, str(tmp_path / "ckpt"))

    got = set()
    for path in glob.glob(f"{out}/batch_id=*/*.json"):
        with open(path) as fh:
            for line in fh:
                got.add((json.loads(line)["doc_id"], json.loads(line)["text"]))

    batch = (
        wrapped.withColumn("text", strip_html(F.col("text")))
        .withColumn("q", quality_score(F.col("text")))
        .where(F.col("q") >= min_q)
    )
    want = {(r["doc_id"], r["text"]) for r in batch.collect()}
    assert got == want
    assert len(want) > 0
    assert all("<" not in t for _, t in got)


def test_incremental_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract (r8 verdict defect): invoking the batch body
    TWICE with the same batch_id — simulating a crash after the
    corpus/sigs writes but before the checkpoint commit — must reproduce
    the admitted set and every batch_id=N partition identically. Before
    the fix, the replay read its own staged signatures back, matched every
    doc against itself at jaccard=1.0, and overwrote the batch with
    EMPTY data."""
    from pyspark.sql import Row

    from chess_lakehouse_spark.streaming import incremental_dedup_batch

    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")

    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"x{i}" for i in range(30))
    third = " ".join(f"y{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(29)) + " zz"

    b0 = spark.createDataFrame([Row(doc_id=1, text=base), Row(doc_id=3, text=other)])
    b1 = spark.createDataFrame([Row(doc_id=10, text=near), Row(doc_id=11, text=third)])

    def snapshot():
        return {
            "corpus": {(r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()},
            "sigs": {tuple(r) for r in spark.read.parquet(sigs).collect()},
            "pairs": {tuple(r) for r in spark.read.parquet(pairs).collect()},
        }

    # batch 0: replay the very FIRST batch too (staged dirs exist and
    # contain ONLY the in-flight batch's own partition)
    incremental_dedup_batch(b0, 0, corpus, sigs, pairs)
    s0 = snapshot()
    assert {d for d, _ in s0["corpus"]} == {1, 3}
    incremental_dedup_batch(b0, 0, corpus, sigs, pairs)
    assert snapshot() == s0

    # batch 1: 10 is a cross-batch near-dup of admitted 1; 11 is new
    incremental_dedup_batch(b1, 1, corpus, sigs, pairs)
    s1 = snapshot()
    assert {d for d, _ in s1["corpus"]} == {1, 3, 11}
    # the crash window: every write of batch 1 landed, commit didn't —
    # foreachBatch re-invokes with the same batch_id
    incremental_dedup_batch(b1, 1, corpus, sigs, pairs)
    assert snapshot() == s1


def test_url_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Same crash-replay contract for the URL loop: a replayed batch must
    not anti-join against its own staged winners (which emptied the batch
    before the fix)."""
    from pyspark.sql import Row

    from chess_lakehouse_spark.streaming import url_dedup_batch

    urls = str(tmp_path / "urls")
    out = str(tmp_path / "out")

    def doc(i, u):
        return Row(doc_id=i, text=f"body {i}", url=u)

    b0 = spark.createDataFrame([doc(1, "https://www.A.com/x?utm_source=s"), doc(3, "https://a.com/y")])
    b1 = spark.createDataFrame([doc(10, "a.com/x#frag"), doc(11, "https://b.com/z")])

    def snapshot():
        return {
            "out": {(r.doc_id, r.url_canon) for r in spark.read.parquet(out).collect()},
            "urls": {(r.url_canon, r.doc_id) for r in spark.read.parquet(urls).collect()},
        }

    # first-batch replay: urls_dir holds only this batch's own partition
    url_dedup_batch(b0, 0, urls, out)
    s0 = snapshot()
    assert {d for d, _ in s0["out"]} == {1, 3}
    url_dedup_batch(b0, 0, urls, out)
    assert snapshot() == s0

    # batch 1: 10 aliases the admitted a.com/x (rejected), 11 is new
    url_dedup_batch(b1, 1, urls, out)
    s1 = snapshot()
    assert {d for d, _ in s1["out"]} == {1, 3, 11}
    url_dedup_batch(b1, 1, urls, out)
    assert snapshot() == s1


def test_stream_span_dedup_matches_batch_operator(spark, tmp_path):
    """Streaming ExactSubstr over two drops must equal duplicate_span_dedup
    on the concatenated corpus (batch arrival order agrees with id order),
    and the checkpoint prevents reprocessing on restart."""
    import glob
    import shutil

    from pyspark.sql import Row

    from chess_lakehouse_spark.operators.dedup import duplicate_span_dedup
    from chess_lakehouse_spark.streaming import stream_span_dedup

    K = 3
    # doc 2 repeats doc 1's opening trigram mid-text (intra-batch-1 span);
    # doc 10 (batch 2) repeats a doc-3 span (cross-batch); doc 11 is clean
    b1 = [
        Row(doc_id=1, text="alpha beta gamma delta epsilon"),
        Row(doc_id=2, text="zeta alpha beta gamma eta theta"),
        Row(doc_id=3, text="iota kappa lambda mu nu"),
    ]
    b2 = [
        Row(doc_id=10, text="xi iota kappa lambda omicron pi"),
        Row(doc_id=11, text="rho sigma tau upsilon phi"),
    ]

    drops = tmp_path / "drops"
    drops.mkdir()
    spans = str(tmp_path / "spans")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(staging))
        shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet")

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_span_dedup(stream, spans, out, ckpt, k=K)

    land("d1", b1)
    run()
    land("d2", b2)
    run()

    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed_tokens)
        for r in spark.read.parquet(out).collect()
    }
    batch = spark.createDataFrame(b1 + b2)
    want = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed_tokens)
        for r in duplicate_span_dedup(batch, "doc_id", "text", k=K).collect()
    }
    assert got == want
    assert got[2][2] > 0    # intra-batch span removed
    assert got[10][2] > 0   # cross-batch span removed
    assert got[11][2] == 0  # clean doc untouched

    # restart with nothing new: checkpoint prevents reprocessing
    run()
    got2 = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed_tokens)
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == got


def test_span_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Same crash-replay contract as the other two loops: invoking the
    batch body twice with one batch_id must reproduce the output — the
    staged-hash read excludes the in-flight batch's own partition, else
    the replay would mark EVERY window as already-seen and blank every
    document."""
    from pyspark.sql import Row

    from chess_lakehouse_spark.streaming import span_dedup_batch

    spans = str(tmp_path / "spans")
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma delta epsilon"),
        Row(doc_id=2, text="zeta alpha beta gamma eta theta"),
    ])
    b1 = spark.createDataFrame([
        Row(doc_id=10, text="xi alpha beta gamma omicron pi"),
        Row(doc_id=11, text="rho sigma tau upsilon phi"),
    ])

    def snapshot():
        return {
            "out": {tuple(r) for r in spark.read.parquet(out).collect()},
            "spans": {r.h for r in spark.read.parquet(spans).collect()},
        }

    # first-batch replay: spans_dir holds only this batch's own partition
    span_dedup_batch(b0, 0, spans, out, k=3)
    s0 = snapshot()
    assert any(r for r in s0["out"] if r[0] == 2 and r[3] > 0)
    span_dedup_batch(b0, 0, spans, out, k=3)
    assert snapshot() == s0

    span_dedup_batch(b1, 1, spans, out, k=3)
    s1 = snapshot()
    # doc 10's cross-batch span removed; doc 11 intact with full text
    out_by_id = {r[0]: r for r in s1["out"]}
    assert out_by_id[10][3] > 0 and out_by_id[11][3] == 0
    span_dedup_batch(b1, 1, spans, out, k=3)
    assert snapshot() == s1


def _ppm(arr) -> bytes:
    import numpy as np

    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def _blocky(seed: int, scale: int = 1):
    """Low-frequency 32s x 32s RGB test image; rescales of one seed are
    visual twins (pairwise-near pHashes — clique-shaped clusters)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    small = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    return np.repeat(np.repeat(small, 4 * scale, axis=0), 4 * scale, axis=1)


def test_stream_phash_dedup_matches_batch_operator(spark, tmp_path):
    """Streaming image dedup over two drops must equal phash_dedup on the
    concatenated corpus (clique-shaped clusters, arrival order = id
    order), undecodable payloads must survive, and the checkpoint must
    prevent reprocessing on restart."""
    import glob
    import shutil

    from chess_lakehouse_spark.operators.multimodal import phash_dedup
    from chess_lakehouse_spark.streaming.jobs import stream_phash_dedup

    b1 = [
        (1, _ppm(_blocky(1))),          # cluster A canonical
        (2, _ppm(_blocky(1, scale=2))), # A twin, same batch
        (3, _ppm(_blocky(2))),          # unique
    ]
    b2 = [
        (10, _ppm(_blocky(1, scale=3))),  # A twin, later batch
        (11, _ppm(_blocky(3))),           # unique
        (12, b"not an image"),            # undecodable: must survive
    ]
    schema = "doc_id long, payload binary"

    drops = tmp_path / "drops"
    drops.mkdir()
    sigs = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(staging))
        shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet")

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_phash_dedup(stream, sigs, out, ckpt, max_hamming=6)

    land("d1", b1)
    run()
    land("d2", b2)
    run()

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    batch = spark.createDataFrame(b1 + b2, schema)
    want = sorted(
        r.doc_id for r in phash_dedup(batch, max_hamming=6).collect()
    )
    assert got == want == [1, 3, 11, 12]

    # restart with nothing new: checkpoint prevents reprocessing
    run()
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == got


def test_phash_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract, same as the other four loops: invoking the
    batch body twice with one batch_id must reproduce the output — the
    staged-signature read excludes the in-flight batch's own partition,
    else the replay would find every admitted image within distance 0 of
    its own staged signature and blank the batch."""
    from chess_lakehouse_spark.streaming.jobs import phash_dedup_batch

    schema = "doc_id long, payload binary"
    sigs = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [(1, _ppm(_blocky(7))), (2, _ppm(_blocky(7, scale=2))), (3, _ppm(_blocky(8)))],
        schema,
    )
    b1 = spark.createDataFrame(
        [(10, _ppm(_blocky(7, scale=3))), (11, _ppm(_blocky(9)))], schema
    )

    def snapshot():
        return {
            "out": sorted(r.doc_id for r in spark.read.parquet(out).collect()),
            "sigs": sorted(
                (r.doc_id, r.phash) for r in spark.read.parquet(sigs).collect()
            ),
        }

    # first-batch replay: sigs_dir holds only this batch's own partition
    phash_dedup_batch(b0, 0, sigs, out, max_hamming=6)
    s0 = snapshot()
    assert s0["out"] == [1, 3]
    phash_dedup_batch(b0, 0, sigs, out, max_hamming=6)
    assert snapshot() == s0

    phash_dedup_batch(b1, 1, sigs, out, max_hamming=6)
    s1 = snapshot()
    assert sorted(s1["out"]) == [1, 3, 11]  # 10 dropped cross-batch
    phash_dedup_batch(b1, 1, sigs, out, max_hamming=6)
    assert snapshot() == s1


def _wav(seed: int, gain: float = 1.0) -> bytes:
    """Deterministic multi-tone clip; gain-scaled copies are fingerprint
    twins (exactly — energy comparisons are gain-invariant)."""
    import numpy as np

    from chess_lakehouse_spark.operators.audio import encode_wav_pcm16

    rng = np.random.RandomState(seed)
    t = np.arange(4000, dtype="float64") / 8000
    f1, f2 = rng.uniform(100, 900, 2)
    env = 0.2 + 0.8 * np.abs(np.sin(2 * np.pi * rng.uniform(1, 4) * t))
    x = env * (np.sin(2 * np.pi * f1 * t) + 0.5 * np.sin(2 * np.pi * f2 * t)) / 1.5
    return bytes(encode_wav_pcm16((x * gain * 0.6 * 32767).astype("int16"), 8000))


def test_stream_audio_dedup_matches_batch_operator(spark, tmp_path):
    """Streaming audio dedup over two drops must equal audio_dedup on the
    concatenated corpus (gain-twin cliques, arrival order = id order),
    undecodable payloads must survive, and the checkpoint must prevent
    reprocessing on restart."""
    import glob
    import shutil

    from chess_lakehouse_spark.operators.audio import audio_dedup
    from chess_lakehouse_spark.streaming import stream_audio_dedup

    b1 = [
        (1, _wav(1)),             # cluster A canonical
        (2, _wav(1, gain=0.5)),   # A gain twin, same batch
        (3, _wav(2)),             # unique
    ]
    b2 = [
        (10, _wav(1, gain=0.8)),  # A twin, later batch
        (11, _wav(3)),            # unique
        (12, b"not audio"),       # undecodable: must survive
    ]
    schema = "doc_id long, payload binary"
    drops = tmp_path / "drops"
    drops.mkdir()
    sigs, out, ckpt = (str(tmp_path / d) for d in ("sigs", "out", "ckpt"))

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(staging))
        shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet")

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_audio_dedup(stream, sigs, out, ckpt, max_hamming=6)

    land("d1", b1)
    run()
    land("d2", b2)
    run()

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    batch = spark.createDataFrame(b1 + b2, schema)
    want = sorted(r.doc_id for r in audio_dedup(batch, max_hamming=6).collect())
    assert got == want == [1, 3, 11, 12]

    run()  # restart with nothing new
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == got


def test_audio_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract for the audio loop (shared batch body with
    the image loop — this pins the audio instantiation)."""
    from chess_lakehouse_spark.streaming import audio_dedup_batch

    schema = "doc_id long, payload binary"
    sigs, out = str(tmp_path / "sigs"), str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [(1, _wav(7)), (2, _wav(7, gain=0.4)), (3, _wav(8))], schema
    )
    b1 = spark.createDataFrame([(10, _wav(7, gain=0.9)), (11, _wav(9))], schema)

    def snapshot():
        return {
            "out": sorted(r.doc_id for r in spark.read.parquet(out).collect()),
            "sigs": sorted(
                (r.doc_id, r.afp) for r in spark.read.parquet(sigs).collect()
            ),
        }

    audio_dedup_batch(b0, 0, sigs, out, max_hamming=6)
    s0 = snapshot()
    assert s0["out"] == [1, 3]
    audio_dedup_batch(b0, 0, sigs, out, max_hamming=6)
    assert snapshot() == s0

    audio_dedup_batch(b1, 1, sigs, out, max_hamming=6)
    s1 = snapshot()
    assert sorted(s1["out"]) == [1, 3, 11]
    audio_dedup_batch(b1, 1, sigs, out, max_hamming=6)
    assert snapshot() == s1


def _y4m(seeds, size: int = 32) -> bytes:
    import numpy as np

    from chess_lakehouse_spark.operators.video import encode_y4m

    frames = []
    for s in seeds:
        rng = np.random.RandomState(s)
        small = rng.randint(0, 256, size=(8, 8), dtype=np.uint8)
        frames.append(
            np.repeat(np.repeat(small, size // 8, axis=0), size // 8, axis=1)
        )
    return encode_y4m(frames)


def test_stream_video_dedup_matches_batch_operator(spark, tmp_path):
    """Streaming video dedup over two drops equals video_dedup on the
    concatenated corpus for full-containment twins; undecodable payloads
    survive; the checkpoint prevents reprocessing."""
    import glob
    import shutil

    from chess_lakehouse_spark.operators.video import video_dedup
    from chess_lakehouse_spark.streaming import stream_video_dedup

    seeds = [1, 2, 3, 4]
    b1 = [
        (1, _y4m(seeds, size=32)),
        (2, _y4m(seeds, size=64)),       # upscale twin, same batch
        (3, _y4m([5, 6, 7, 8])),
    ]
    b2 = [
        (10, _y4m(seeds[::2], size=32)),  # frame-rate-cut twin, later batch
        (11, _y4m([9, 10, 11, 12])),
        (12, b"not video"),
    ]
    schema = "doc_id long, payload binary"
    drops = tmp_path / "drops"
    drops.mkdir()
    sigs, out, ckpt = (str(tmp_path / d) for d in ("sigs", "out", "ckpt"))

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(staging))
        shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet")

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_video_dedup(stream, sigs, out, ckpt, max_hamming=6, min_sim=0.9)

    land("d1", b1)
    run()
    land("d2", b2)
    run()

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    batch = spark.createDataFrame(b1 + b2, schema)
    want = sorted(
        r.doc_id for r in video_dedup(batch, max_hamming=6, min_sim=0.9).collect()
    )
    assert got == want == [1, 3, 11, 12]

    run()  # restart with nothing new
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == got


def test_video_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract for the video loop: without the batch_id
    exclusion, a replay would find every clip's frames at distance 0 of
    its own staged hashes and blank the batch."""
    from chess_lakehouse_spark.streaming import video_dedup_batch

    schema = "doc_id long, payload binary"
    sigs, out = str(tmp_path / "sigs"), str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [(1, _y4m([21, 22, 23, 24])), (2, _y4m([21, 22, 23, 24], size=64)),
         (3, _y4m([25, 26, 27, 28]))],
        schema,
    )
    b1 = spark.createDataFrame(
        [(10, _y4m([21, 23], size=32)), (11, _y4m([30, 31, 32, 33]))], schema
    )

    def snapshot():
        return {
            "out": sorted(r.doc_id for r in spark.read.parquet(out).collect()),
            "sigs": sorted(
                (r.doc_id, r.frame_idx, r.frame_phash)
                for r in spark.read.parquet(sigs).collect()
            ),
        }

    video_dedup_batch(b0, 0, sigs, out, max_hamming=6, min_sim=0.9)
    s0 = snapshot()
    assert s0["out"] == [1, 3]
    video_dedup_batch(b0, 0, sigs, out, max_hamming=6, min_sim=0.9)
    assert snapshot() == s0

    video_dedup_batch(b1, 1, sigs, out, max_hamming=6, min_sim=0.9)
    s1 = snapshot()
    assert sorted(s1["out"]) == [1, 3, 11]  # 10 fully covered by staged clip 1
    video_dedup_batch(b1, 1, sigs, out, max_hamming=6, min_sim=0.9)
    assert snapshot() == s1


def test_stream_rollup_equals_direct_aggregation(spark, tmp_path):
    """Streaming continuous-aggregate loop: build over a historical slice,
    fold two micro-batch drops, serve == direct groupBy over everything;
    a restart with nothing new changes nothing; compaction preserves
    values."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.rollup import (
        build_rollup,
        compact_rollup,
        serve_rollup,
    )
    from chess_lakehouse_spark.streaming import stream_rollup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hist = docs.where(F.col("doc_id") % 3 == 0)
    d1 = docs.where(F.col("doc_id") % 3 == 1)
    d2 = docs.where(F.col("doc_id") % 3 == 2)

    rdir = str(tmp_path / "rollup")
    measures = [
        ("n", "count", None),
        ("nn", "countnn", "n_chars"),
        ("s6", "sum6", "n_chars"),
        ("mn", "min", "n_chars"),
        ("mx", "max", "n_chars"),
    ]
    build_rollup(hist, ["source"], measures, rdir)

    drops = tmp_path / "drops"
    drops.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def land(name, df):
        staging = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(staging))
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_rollup(stream, rdir, ckpt)

    land("d1", d1)
    run()
    land("d2", d2)
    run()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows(
        docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("n_chars").alias("nn"),
            F.expr("CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)").alias(
                "s6"
            ),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
    )
    assert rows(serve_rollup(spark, rdir)) == want
    run()  # restart with nothing new
    assert rows(serve_rollup(spark, rdir)) == want
    compact_rollup(spark, rdir)
    assert rows(serve_rollup(spark, rdir)) == want


def test_compact_stream_state_preserves_dedup_semantics(spark, tmp_path):
    """Compacting old batch partitions changes neither the staged ROWS nor
    the behavior of later batches: cross-batch rejection still fires, and
    the newest (replayable) batch keeps its own partition so the replay
    guard still excludes it."""
    from chess_lakehouse_spark.streaming import (
        compact_stream_state,
        url_dedup_batch,
    )

    schema = "doc_id long, url string"
    urls_dir, out = str(tmp_path / "urls"), str(tmp_path / "out")

    def batch(bid, rows):
        url_dedup_batch(
            spark.createDataFrame(rows, schema), bid, urls_dir, out, "url"
        )

    batch(0, [(1, "https://a.example/x"), (2, "https://b.example/y")])
    batch(1, [(10, "https://c.example/z")])
    batch(2, [(20, "https://d.example/w")])
    before = sorted(
        tuple(r) for r in spark.read.parquet(urls_dir).drop("batch_id").collect()
    )

    compact_stream_state(spark, urls_dir, keep_recent=1)
    after_parts = {
        str(r.batch_id)
        for r in spark.read.parquet(urls_dir).select("batch_id").distinct().collect()
    }
    assert after_parts == {"compacted.1", "2"}
    assert (
        sorted(
            tuple(r)
            for r in spark.read.parquet(urls_dir).drop("batch_id").collect()
        )
        == before
    )

    # cross-batch rejection against COMPACTED state still fires
    batch(3, [(30, "https://a.example/x"), (31, "https://e.example/v")])
    got3 = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{out}/batch_id=3").collect()
    )
    assert got3 == [31]  # 30 duplicates batch 0's URL, now in compacted.1

    # replay of the newest batch stays idempotent post-compaction
    compact_stream_state(spark, urls_dir, keep_recent=1)
    snap = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/batch_id=3").collect()
    )
    batch(3, [(30, "https://a.example/x"), (31, "https://e.example/v")])
    assert (
        sorted(tuple(r) for r in spark.read.parquet(f"{out}/batch_id=3").collect())
        == snap
    )

    # everything-kept and bad-arg paths
    compact_stream_state(spark, urls_dir, keep_recent=99)  # no-op
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_recent"):
        compact_stream_state(spark, urls_dir, keep_recent=0)


def test_stream_anomaly_alerts_equals_batch_composition(spark, tmp_path):
    """Two event drops through the streaming monitor produce EXACTLY the
    flags the batch composition computes over the concatenated events —
    regardless of how history was batched; restart with nothing new
    changes nothing."""
    import datetime as dt
    import glob
    import shutil

    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.relational import integer_zscore_flags
    from chess_lakehouse_spark.operators.rollup import build_rollup, time_bucket
    from chess_lakehouse_spark.streaming import stream_anomaly_alerts

    def ev(eid, minute, typ="view"):
        return (eid, dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(hours=minute), typ)

    # steady hourly singles, then a 30-event spike in hour 40
    rows = [ev(i, i) for i in range(40)] + [
        ev(1000 + j, 40) for j in range(30)
    ] + [ev(2000, 41)]
    schema = "event_id long, ts timestamp, event_type string"
    half = len(rows) // 2
    d1, d2 = rows[:half], rows[half:]

    rdir, alerts, ckpt = (
        str(tmp_path / d) for d in ("rollup", "alerts", "ckpt")
    )
    hist = spark.createDataFrame([], schema).withColumn(
        "bk", time_bucket(F.col("ts"), 3600)
    )
    build_rollup(hist, ["event_type", "bk"], [("n", "count", None)], rdir)

    drops = tmp_path / "drops"
    drops.mkdir()

    def land(name, rs):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rs, schema).coalesce(1).write.parquet(str(staging))
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_anomaly_alerts(stream, rdir, alerts, ckpt, window=24, k2=9)

    land("d1", d1)
    run()
    land("d2", d2)
    run()

    got = sorted(tuple(r) for r in spark.read.parquet(alerts).collect())
    batch_series = (
        spark.createDataFrame(rows, schema)
        .withColumn("bk", time_bucket(F.col("ts"), 3600))
        .groupBy("event_type", "bk")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = sorted(
        tuple(r)
        for r in integer_zscore_flags(
            batch_series, "event_type", "bk", "n", window=24, k2=9
        ).collect()
    )
    assert got == want
    # the spike hour (30 events where the baseline is 1/hour) must flag
    spike_rows = [r for r in got if r[2] == 30]
    assert spike_rows and all(r[3] is True for r in spike_rows)

    run()  # restart with nothing new
    assert sorted(tuple(r) for r in spark.read.parquet(alerts).collect()) == got
    # the served surface publishes via the rename-aside swap: no staging
    # or rollback leftovers may survive a successful micro-batch, so a
    # concurrent reader can never observe a deleted/half-written table
    import os

    assert not os.path.exists(alerts + ".compacting")
    assert not os.path.exists(alerts + ".old")


def test_stream_edit_dedup_daily_drops(spark, tmp_path):
    """The streaming edit-distance dedup loop: drop 1 admits canonicals of
    an intra-batch edit-pair and stages q-gram signatures; drop 2's
    near-edit of an ADMITTED doc is caught by the cross-batch gram join
    and kept out of the corpus; the checkpoint prevents reprocessing."""
    from pyspark.sql import Row

    from chess_lakehouse_spark.streaming import stream_edit_dedup

    base = " ".join(f"word{i}" for i in range(12))          # ~70 chars
    other = " ".join(f"zzz{i}qqq{i}" for i in range(12))
    third = " ".join(f"mmm{i}nnn{i}" for i in range(12))

    drops = tmp_path / "drops"
    drops.mkdir()
    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        import glob
        import shutil

        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(staging))
        shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet")

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_edit_dedup(stream, corpus, sigs, pairs, ckpt, max_dist=3)

    # drop 1: 1/2 within distance 1 (intra pair, min id kept); 3 distinct
    land("d1", [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + "x"),
        Row(doc_id=3, text=other),
    ])
    run()
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3}
    p1 = {(r.id_a, r.id_b, r.kind) for r in spark.read.parquet(pairs).collect()}
    assert (1, 2, "intra") in p1

    # drop 2: 10 is 2 edits from ADMITTED 1 (cross); 11 is new
    land("d2", [Row(doc_id=10, text=base + "yz"), Row(doc_id=11, text=third)])
    run()
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3, 11}
    p2 = {(r.id_a, r.id_b, r.kind) for r in spark.read.parquet(pairs).collect()}
    assert (10, 1, "cross") in p2

    # restart with nothing new: checkpoint prevents reprocessing
    run()
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3, 11}
    assert {r.id for r in spark.read.parquet(sigs).select("id").collect()} == {1, 3, 11}


@pytest.mark.parametrize("knob", [None, 1])
def test_edit_dedup_batch_replay_is_idempotent(spark, tmp_path, knob):
    """Crash-replay contract for the edit loop (the contract every staged
    streaming loop carries since the r8 verdict defect): invoking the
    batch body TWICE with the same batch_id — crash after the corpus/sigs
    writes, before the checkpoint commit — must reproduce the admitted
    set and every batch_id=N partition identically; without the
    in-flight-partition exclusion the replay would find every doc at
    distance 0 from its own staged grams and empty the batch. knob=1 runs
    the same contract through the staged gram-df companion with EVERY
    gram hot — all batch strings degenerate, the all-lengths bucket
    reroute carries the whole candidate load, and the results must not
    change (the knob's losslessness under replay)."""
    from pyspark.sql import Row

    from chess_lakehouse_spark.streaming import edit_dedup_batch

    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")
    kw = dict(max_dist=3)
    if knob is not None:
        kw.update(stop_gram_min_df=knob, gdf_dir=str(tmp_path / "gdf"))

    base = " ".join(f"word{i}" for i in range(12))
    other = " ".join(f"zzz{i}qqq{i}" for i in range(12))
    third = " ".join(f"mmm{i}nnn{i}" for i in range(12))

    b0 = spark.createDataFrame([Row(doc_id=1, text=base), Row(doc_id=3, text=other)])
    b1 = spark.createDataFrame(
        [Row(doc_id=10, text=base + "yz"), Row(doc_id=11, text=third)]
    )

    def snapshot():
        return {
            "corpus": {(r.doc_id, r.text) for r in spark.read.parquet(corpus).collect()},
            "sigs": {tuple(r) for r in spark.read.parquet(sigs).collect()},
            "pairs": {tuple(r) for r in spark.read.parquet(pairs).collect()},
        }

    edit_dedup_batch(b0, 0, corpus, sigs, pairs, **kw)
    s0 = snapshot()
    assert {d for d, _ in s0["corpus"]} == {1, 3}
    edit_dedup_batch(b0, 0, corpus, sigs, pairs, **kw)
    assert snapshot() == s0

    edit_dedup_batch(b1, 1, corpus, sigs, pairs, **kw)
    s1 = snapshot()
    assert {d for d, _ in s1["corpus"]} == {1, 3, 11}
    edit_dedup_batch(b1, 1, corpus, sigs, pairs, **kw)
    assert snapshot() == s1


def test_stream_substring_index_serves_like_rebuild(spark, tmp_path):
    """Streaming search-index maintenance: two document drops fold their
    own postings partitions; serving off the streamed index equals
    serving off a from-scratch batch-partitioned build over everything;
    a restart with nothing new changes nothing; a double-invoked batch
    body (crash replay) rewrites its partition and meta identically."""
    import glob
    import shutil

    from chess_lakehouse_spark.functions.text import (
        substring_search_from_index,
    )
    from chess_lakehouse_spark.streaming import (
        stream_substring_index,
        substring_index_batch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d1 = docs.where(F.col("doc_id") % 2 == 0)
    d2 = docs.where(F.col("doc_id") % 2 == 1)

    drops = tmp_path / "drops"
    drops.mkdir()
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def land(name, df):
        staging = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(staging))
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_substring_index(stream, idx, ckpt)

    land("d1", d1)
    run()
    land("d2", d2)
    run()

    queries = docs.where(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("qid"), F.substring("text", 11, 10).alias("qt")
    )

    def serve(d):
        return sorted(
            tuple(r)
            for r in substring_search_from_index(
                spark, d, docs, "doc_id", "text", queries, "qid", "qt"
            ).collect()
        )

    got = serve(idx)
    # reference: the same batch body over the full corpus in one batch
    ref = str(tmp_path / "ref")
    substring_index_batch(docs, 0, ref)
    assert got == serve(ref) and len(got) > 0

    run()  # restart with nothing new: checkpoint prevents reprocessing
    assert serve(idx) == got

    # crash replay: re-invoke a batch body with the same id — partitions
    # and meta must be byte-identical (structural: no staged reads)
    def snapshot(d):
        return (
            sorted(map(tuple, spark.read.parquet(f"{d}/postings").collect())),
            tuple(spark.read.parquet(f"{d}/meta").first()),
        )

    s0 = snapshot(ref)
    substring_index_batch(docs, 0, ref)
    assert snapshot(ref) == s0


def test_stream_substring_index_compaction_preserves_serving(spark, tmp_path):
    """compact_stream_state applies to the streamed postings dir like any
    other batch-partitioned state: rows preserved exactly, serving
    unchanged (the merged partition loses clustering tightness, never
    correctness)."""
    from chess_lakehouse_spark.functions.text import (
        substring_search_from_index,
    )
    from chess_lakehouse_spark.streaming import (
        compact_stream_state,
        substring_index_batch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = str(tmp_path / "idx")
    for i, mod in enumerate((0, 1, 2)):
        substring_index_batch(docs.where(F.col("doc_id") % 3 == mod), i, idx)
    queries = docs.where(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("qid"), F.substring("text", 11, 10).alias("qt")
    )

    def serve():
        return sorted(
            tuple(r)
            for r in substring_search_from_index(
                spark, idx, docs, "doc_id", "text", queries, "qid", "qt"
            ).collect()
        )

    before = serve()
    compact_stream_state(spark, f"{idx}/postings", keep_recent=1)
    parts = {
        str(r.batch_id)
        for r in spark.read.parquet(f"{idx}/postings").select("batch_id").distinct().collect()
    }
    assert len(parts) == 2 and any(p.startswith("compacted.") for p in parts)
    assert serve() == before and len(before) > 0


def test_stream_substring_index_rejects_drifted_or_flat_layout(spark, tmp_path):
    """Restarting the index loop with different q/fold_case, or pointing
    it at a flat build layout, fails loudly instead of silently breaking
    serving (review finding, fixed)."""
    from chess_lakehouse_spark.functions.text import build_substring_index
    from chess_lakehouse_spark.streaming import substring_index_batch

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    idx = str(tmp_path / "idx")
    substring_index_batch(docs, 0, idx, q=3)
    with pytest.raises(ValueError, match="q=3"):
        substring_index_batch(docs, 1, idx, q=4)
    with pytest.raises(ValueError, match="fold_case"):
        substring_index_batch(docs, 1, idx, q=3, fold_case=True)
    flat = str(tmp_path / "flat")
    build_substring_index(docs, "doc_id", "text", flat, q=3)
    with pytest.raises(ValueError, match="FLAT"):
        substring_index_batch(docs, 0, flat, q=3)


def test_stream_bloom_dedup_daily_drops_and_replay(spark, tmp_path):
    """The Bloom-frontier dedup loop: with a filter sized so this key
    count produces no false positives, two drops admit EXACTLY the
    first-occurrence set the exact URL pass would (cross-batch dup
    rejected, fresh keys admitted); a double-invoked batch (crash
    replay) rewrites its partitions identically; and compacting the
    batch bitmaps into base changes no later gating decision."""
    import glob
    import shutil

    from chess_lakehouse_spark.operators.bloom import compact_bloom_state
    from chess_lakehouse_spark.streaming import (
        bloom_dedup_batch,
        stream_bloom_dedup,
    )

    schema = "doc_id long, url string"
    d1 = [(1, "https://a.example/"), (2, "https://b.example/"),
          (3, "https://a.example/")]            # in-batch dup of a
    d2 = [(10, "https://b.example/"),           # cross-batch dup of b
          (11, "https://c.example/")]           # fresh

    drops = tmp_path / "drops"
    drops.mkdir()
    bloom_dir, out, ckpt = (
        str(tmp_path / d) for d in ("bloom", "out", "ckpt")
    )

    def land(name, rs):
        staging = tmp_path / f"_st_{name}"
        spark.createDataFrame(rs, schema).coalesce(1).write.parquet(str(staging))
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_bloom_dedup(
            stream, bloom_dir, out, ckpt, m_bits=63 * 64, k=4
        )

    land("d1", d1)
    run()
    land("d2", d2)
    run()

    admitted = sorted(
        (r.doc_id, r.url) for r in spark.read.parquet(out).collect()
    )
    assert admitted == [
        (1, "https://a.example/"), (2, "https://b.example/"),
        (11, "https://c.example/"),
    ]

    # crash replay: double-invoke the LAST batch id by hand — partitions
    # must rewrite identically (the staged read excludes the in-flight id)
    batch_parts = sorted(glob.glob(f"{out}/batch_id=*"))
    last_bid = batch_parts[-1].rsplit("=", 1)[1]
    bloom_words_before = spark.read.parquet(bloom_dir).where(
        F.col("batch_id").cast("string") == last_bid
    ).first()["words"]
    bloom_dedup_batch(
        spark.createDataFrame(d2, schema), int(last_bid), bloom_dir, out,
        m_bits=63 * 64, k=4,
    )
    again = sorted((r.doc_id, r.url) for r in spark.read.parquet(out).collect())
    assert again == admitted
    bloom_words_after = spark.read.parquet(bloom_dir).where(
        F.col("batch_id").cast("string") == last_bid
    ).first()["words"]
    assert list(bloom_words_before) == list(bloom_words_after)

    # compaction folds batch bitmaps into base; a third drop still gates
    # against everything admitted before it
    compact_bloom_state(spark, bloom_dir)
    parts = sorted(glob.glob(f"{bloom_dir}/batch_id=*"))
    assert [p.rsplit("=", 1)[1] for p in parts] == ["base"]
    land("d3", [(20, "https://c.example/"), (21, "https://d.example/")])
    run()
    final = sorted((r.doc_id, r.url) for r in spark.read.parquet(out).collect())
    assert final == admitted + [(21, "https://d.example/")]


def test_cross_loop_url_then_incremental_dedup_composition(spark, tmp_path):
    """Pipeline-grain integration of TWO stateful loops sharing a corpus
    across a restart (r10 verdict task 4): stream_url_dedup's admitted
    output feeds stream_incremental_dedup as a second stream, each loop
    with its own checkpoint/state. Two waves with a full stop between
    them (fresh availableNow query instances on the same checkpoints =
    restart), then a no-op third run. The composed admission must equal
    the BATCH composition in pipeline_clean_corpus's order (URL dedup
    first, near-dup second over the URL winners) — computed here with
    the batch operators, not hand-listed."""
    import glob
    import shutil

    from pyspark.sql import Row

    from chess_lakehouse_spark.functions.urls import url_dedup_groups
    from chess_lakehouse_spark.operators.dedup import minhash_lsh_dedup
    from chess_lakehouse_spark.operators.graph import connected_components
    from chess_lakehouse_spark.streaming import (
        stream_incremental_dedup,
        stream_url_dedup,
    )

    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"x{i}" for i in range(30))
    third = " ".join(f"y{i}" for i in range(30))
    fourth = " ".join(f"z{i}" for i in range(30))
    near_base = " ".join(f"w{i}" for i in range(29)) + " zz"

    drops = tmp_path / "drops"
    drops.mkdir()
    url_out = str(tmp_path / "url_out")
    urls_dir = str(tmp_path / "urls")
    url_ckpt = str(tmp_path / "url_ckpt")
    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    pairs = str(tmp_path / "pairs")
    dd_ckpt = str(tmp_path / "dd_ckpt")

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(staging))
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run_both():
        static = spark.read.parquet(str(drops))
        in1 = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_url_dedup(in1, urls_dir, url_out, url_ckpt)
        mid_static = spark.read.parquet(url_out)
        in2 = (
            spark.readStream.schema(mid_static.schema)
            .parquet(url_out)
            .select("doc_id", "text")
        )
        stream_incremental_dedup(
            in2, corpus, sigs, pairs, dd_ckpt,
            k=3, num_hashes=8, band_size=2, threshold=0.5,
        )

    # wave 1: docs 1/2 share a canonical URL (scheme/WWW/tracking noise);
    # doc 3 is distinct on both axes
    land("d1", [
        Row(doc_id=1, url="https://ex.com/p", text=base),
        Row(doc_id=2, url="HTTP://WWW.Ex.COM/p/", text=other),
        Row(doc_id=3, url="https://ex.com/q", text=other),
    ])
    run_both()
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3}

    # wave 2 AFTER a full stop (restart on both checkpoints):
    # doc 10 = new URL but near-dup of ADMITTED doc 1 (loop-2 cross-batch
    # rejection); doc 11 = same canonical URL as doc 1 (loop-1 cross-batch
    # rejection — its text must never even reach loop 2); doc 12 = clean
    land("d2", [
        Row(doc_id=10, url="https://ex.com/r", text=near_base),
        Row(doc_id=11, url="https://ex.com/p?utm_source=z#frag", text=fourth),
        Row(doc_id=12, url="https://ex.com/s", text=third),
    ])
    run_both()
    admitted = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert admitted == {1, 3, 12}
    # loop-1 stopped doc 11 (its text never staged a signature);
    # loop-2 stopped doc 10 with a cross pair against doc 1
    assert {tuple(r) for r in spark.read.parquet(sigs).select("doc_id").collect()} \
        == {(1,), (3,), (12,)}
    p = {(r.id_a, r.id_b, r.kind) for r in spark.read.parquet(pairs).collect()}
    assert (10, 1, "cross") in p
    assert not any(11 in (a, b) for a, b, _ in p)

    # restart with nothing new: both checkpoints hold, state unchanged
    run_both()
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 3, 12}

    # the BATCH composition (pipeline_clean_corpus's order: URL winners
    # first, then near-dup canonicals among them) over the FULL input
    # must select the same documents
    full = spark.read.parquet(str(drops))
    winners = url_dedup_groups(full, "doc_id", "url").select(
        F.col("canonical_id").alias("doc_id")
    )
    url_clean = full.join(winners, "doc_id")
    batch_pairs = minhash_lsh_dedup(
        url_clean, "doc_id", "text",
        k=3, num_hashes=8, band_size=2, threshold=0.5,
    )
    comp = connected_components(batch_pairs.select("id_a", "id_b"))
    batch_admitted = {
        r.doc_id
        for r in url_clean.join(comp, url_clean.doc_id == comp.id, "left")
        .where(F.col("id").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id")
        .collect()
    }
    assert batch_admitted == admitted


def test_stream_scd2_folds_drops_and_replay(spark, tmp_path):
    """The streaming SCD2 loop (snapshot-per-batch state): drop 1
    versions from scratch, drop 2 folds — no-op collapse, real change,
    new key — a restart with nothing new is a no-op, the direct batch
    replay (scd2_batch with the same id) rewrites its snapshot
    identically, the composed stream state equals the ONE-SHOT batch
    fold of all updates, and snapshot compaction keeps serving the same
    rows."""
    import glob
    import shutil

    from pyspark.sql import Row

    from chess_lakehouse_spark.operators.publish import scd2_apply
    from chess_lakehouse_spark.streaming import (
        compact_scd2_snapshots,
        read_scd2_current,
        scd2_batch,
        stream_scd2,
    )

    drops = tmp_path / "drops"
    drops.mkdir()
    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(staging))
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_scd2(stream, dim_dir, ckpt, ["k"], ["seg"], "ts")

    land("d1", [Row(k=1, seg="gold", ts=10), Row(k=2, seg="iron", ts=20)])
    run()
    cur = {tuple(r) for r in read_scd2_current(spark, dim_dir).collect()}
    assert cur == {(1, "gold", 10, None), (2, "iron", 20, None)}

    land("d2", [
        Row(k=1, seg="gold", ts=30),   # no-op
        Row(k=2, seg="steel", ts=40),  # change
        Row(k=3, seg="new", ts=50),    # first event
    ])
    run()
    cur2 = {tuple(r) for r in read_scd2_current(spark, dim_dir).collect()}
    want = {
        (1, "gold", 10, None),
        (2, "iron", 20, 40),
        (2, "steel", 40, None),
        (3, "new", 50, None),
    }
    assert cur2 == want

    # restart with nothing new: checkpoint holds
    run()
    assert {tuple(r) for r in read_scd2_current(spark, dim_dir).collect()} == want

    # crash-replay: re-invoking the last batch id rewrites its snapshot
    # identically (the own-snapshot exclusion guard)
    last = spark.read.parquet(str(drops / "d2.parquet"))
    scd2_batch(last, 1, dim_dir, ["k"], ["seg"], "ts")
    assert {tuple(r) for r in read_scd2_current(spark, dim_dir).collect()} == want

    # composed stream state == one-shot batch fold of the full feed
    allup = spark.read.parquet(str(drops))
    empty = allup.select(
        "k", "seg",
        allup.ts.alias("valid_from"), allup.ts.alias("valid_to"),
    ).limit(0)
    batch = {
        tuple(r) for r in scd2_apply(empty, allup, ["k"], ["seg"], "ts").collect()
    }
    assert batch == want

    # compaction drops old snapshots, serving unchanged
    compact_scd2_snapshots(spark, dim_dir, keep_recent=1)
    assert {tuple(r) for r in read_scd2_current(spark, dim_dir).collect()} == want
    import os

    snaps = [d for d in os.listdir(dim_dir) if d.startswith("batch_id=")]
    assert len(snaps) == 1


def test_stream_user_growth_equals_batch_and_replay(spark, tmp_path):
    """The streaming growth loop (idempotent-merge state class): serve
    after two drops equals the one-shot batch operator on the union of
    all events; a restart with nothing new is a no-op; the direct batch
    replay (same batch_id) rewrites its partition without changing the
    served curve (set-union state); NULL timestamps drop at the fold;
    compact_stream_state preserves the served curve exactly."""
    import glob
    import shutil

    from pyspark.sql import Row

    from chess_lakehouse_spark.operators.relational import daily_user_growth
    from chess_lakehouse_spark.streaming import (
        compact_stream_state,
        serve_user_growth,
        stream_user_growth,
        user_growth_batch,
    )

    drops = tmp_path / "drops"
    drops.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def mk(rows):
        return [
            Row(user_id=u, ts=None if t is None else __import__("datetime").datetime.fromisoformat(t))
            for u, t in rows
        ]

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(
            mk(rows), "user_id string, ts timestamp"
        ).coalesce(1).write.parquet(str(staging))
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_user_growth(stream, state, ckpt)

    b1 = [("u1", "2024-01-01 08:00:00"), ("u1", "2024-01-01 09:00:00"),
          ("u2", "2024-01-02 10:00:00"), ("u1", None)]
    b2 = [("u1", "2024-01-02 11:00:00"),  # returning across batches
          ("u3", "2024-01-03 12:00:00"),
          ("u2", "2024-01-02 13:00:00")]  # same (user, day) again
    land("b1", b1)
    run()
    land("b2", b2)
    run()

    got = sorted(tuple(r) for r in serve_user_growth(spark, state).collect())
    assert got == [
        ("2024-01-01", 1, 1, 1),
        ("2024-01-02", 2, 1, 2),
        ("2024-01-03", 1, 1, 3),
    ]
    # stream == batch: the one-shot operator on the union of all events
    allrows = spark.createDataFrame(mk(b1 + b2), "user_id string, ts timestamp")
    want = sorted(tuple(r) for r in daily_user_growth(allrows, "user_id", "ts").collect())
    assert got == want

    # restart with nothing new: checkpoint holds, curve unchanged
    run()
    assert sorted(tuple(r) for r in serve_user_growth(spark, state).collect()) == want

    # direct same-id replay of batch 1 (the crash-replay shape): the
    # partition rewrites; set-union state leaves the curve unchanged
    user_growth_batch(
        spark.createDataFrame(mk(b1), "user_id string, ts timestamp"), "b0", state
    )
    assert sorted(tuple(r) for r in serve_user_growth(spark, state).collect()) == want

    # compaction preserves serving
    compact_stream_state(spark, state, keep_recent=1)
    assert sorted(tuple(r) for r in serve_user_growth(spark, state).collect()) == want


def test_stream_scd2_in_loop_auto_compaction(spark, tmp_path):
    """The compact_every knob (r11 verdict task 4): the loop compacts its
    own snapshot-per-batch state, serving stays identical to the
    uncompacted fold at every step, the snapshot count stays bounded by
    keep_recent, crash-replay of the latest batch still finds its prior
    snapshot (keep_recent >= 2 enforced), and a replayed compaction is a
    no-op."""
    import glob
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import Row

    from chess_lakehouse_spark.streaming import (
        compact_scd2_snapshots,
        read_scd2_current,
        scd2_batch,
        stream_scd2,
    )

    drops = tmp_path / "drops"
    drops.mkdir()
    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(staging))
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_scd2(
            stream, dim_dir, ckpt, ["k"], ["seg"], "ts",
            compact_every=1, keep_recent=2,
        )

    def snaps():
        return sorted(
            d for d in os.listdir(dim_dir) if d.startswith("batch_id=")
        )

    land("d1", [Row(k=1, seg="gold", ts=10)])
    run()
    assert {tuple(r) for r in read_scd2_current(spark, dim_dir).collect()} == {
        (1, "gold", 10, None)
    }

    land("d2", [Row(k=1, seg="plat", ts=20), Row(k=2, seg="iron", ts=30)])
    run()
    want = {(1, "gold", 10, 20), (1, "plat", 20, None), (2, "iron", 30, None)}
    assert {tuple(r) for r in read_scd2_current(spark, dim_dir).collect()} == want

    land("d3", [Row(k=2, seg="steel", ts=40)])
    run()
    want = {
        (1, "gold", 10, 20),
        (1, "plat", 20, None),
        (2, "iron", 30, 40),
        (2, "steel", 40, None),
    }
    assert {tuple(r) for r in read_scd2_current(spark, dim_dir).collect()} == want
    # in-loop compaction ran each batch: only keep_recent snapshots remain
    assert len(snaps()) == 2

    # crash-replay of the LATEST batch after an in-loop compaction: the
    # prior snapshot survived (keep_recent >= 2), so the re-fold rewrites
    # the same snapshot and serving is unchanged
    last = spark.read.parquet(str(drops / "d3.parquet"))
    scd2_batch(last, 2, dim_dir, ["k"], ["seg"], "ts")
    assert {tuple(r) for r in read_scd2_current(spark, dim_dir).collect()} == want

    # a replayed compaction keeps the same snapshot set (idempotent)
    before = snaps()
    compact_scd2_snapshots(spark, dim_dir, keep_recent=2)
    assert snaps() == before

    # the keep_recent >= 2 guard for in-loop compaction raises loudly
    static = spark.read.parquet(str(drops))
    stream = spark.readStream.schema(static.schema).parquet(str(drops))
    with _pytest.raises(ValueError, match="keep_recent >= 2"):
        stream_scd2(
            stream, dim_dir, ckpt, ["k"], ["seg"], "ts",
            compact_every=1, keep_recent=1,
        )


def test_stream_heavy_hitters_guarantees_replay_and_compaction(spark, tmp_path):
    """The streaming heavy-hitters loop (structural-idempotency state
    class): after two drops the served summary satisfies the global
    Mergeable-Summaries guarantee against the exact union counts; a
    restart with nothing new is a no-op; a direct same-id crash replay
    republishes its partition VALUE-identically (deterministic exact
    partials); compact_stream_state preserves both the served summary
    and the guarantee denominator N (the carrier-row sum — a per-label
    aggregation would undercount after merge)."""
    import glob
    import shutil
    from collections import Counter

    from chess_lakehouse_spark.operators.sketches import (
        mg_batch_partial,
        mg_from_batches,
        mg_state_total,
        write_mg_batch,
    )
    from chess_lakehouse_spark.streaming import (
        compact_stream_state,
        stream_heavy_hitters,
    )

    drops = tmp_path / "drops"
    drops.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    k = 5

    def land(name, rows):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(rows, "term string").coalesce(1).write.parquet(
            str(staging)
        )
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_heavy_hitters(stream, state, ckpt, term_col="term", k=k)

    b1 = [("a",)] * 70 + [("b",)] * 30 + [(f"x{i}",) for i in range(20)]
    b2 = [("a",)] * 40 + [("c",)] * 50 + [(None,)] * 3 + [(f"y{i}",) for i in range(10)]
    land("b1", b1)
    run()
    land("b2", b2)
    run()

    true = Counter(t for (t,) in b1 + b2 if t is not None)
    n = sum(true.values())
    assert mg_state_total(spark, state) == n

    def check_served():
        served = {r["term"]: r["est"] for r in mg_from_batches(spark, state, k).collect()}
        assert 0 < len(served) <= k
        for t, est in served.items():
            assert 0 < est <= true[t], t
            assert (true[t] - est) * (k + 1) <= n, t
        for t, c in true.items():
            if c * (k + 1) > n:
                assert t in served, t
        return sorted(served.items())

    base = check_served()

    # restart with nothing new: checkpoint holds, state unchanged
    run()
    assert check_served() == base

    # direct same-id crash replay of batch 0: VALUE-identical partition
    def part_rows():
        return sorted(
            (tuple(r) for r in spark.read.parquet(f"{state}/batch_id=b0").collect()),
            key=lambda t: (t[0] is None, t),
        )

    before = part_rows()
    write_mg_batch(
        mg_batch_partial(
            spark.createDataFrame(b1, "term string").repartition(6), "term", k
        ),
        state,
        "b0",
    )
    after = part_rows()
    assert after == before
    assert check_served() == base

    # compaction merges batch partitions row-preservingly: served summary
    # and N both survive (N via the carrier sum, not per-label max)
    compact_stream_state(spark, state, keep_recent=1)
    assert mg_state_total(spark, state) == n
    assert check_served() == base


def test_stream_rank_sketch_equals_batch_and_replay(spark, tmp_path):
    """Streaming rank-sketch maintenance (the eleventh stateful loop,
    stream_rollup structural-idempotency class): fold two micro-batch
    drops, serve == a direct single-pass build over the union (the
    nesting property makes the merge EXACT); a restart with nothing new
    changes nothing; the REFOLD compaction preserves the served state
    bit-identically (the row-preserving compact_stream_state merge is
    NOT applicable to this layout — per-batch counts would mix)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.sketches import (
        compact_rank_sketch_state,
        rank_sketch_build,
        rank_sketch_from_batches,
    )
    from chess_lakehouse_spark.streaming.jobs import stream_rank_sketch

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    d1 = docs.where(F.col("doc_id") % 2 == 0)
    d2 = docs.where(F.col("doc_id") % 2 == 1)

    state_dir = str(tmp_path / "state")
    drops = tmp_path / "drops"
    drops.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def land(name, df):
        staging = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(staging))
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], drops / f"{name}.parquet"
        )

    def run():
        static = spark.read.parquet(str(drops))
        stream = spark.readStream.schema(static.schema).parquet(str(drops))
        stream_rank_sketch(
            stream, state_dir, ckpt, "doc_id", "n_chars", k=16, by=["source"]
        )

    land("d1", d1)
    run()
    land("d2", d2)
    run()

    cols = ["source", "doc_id", "n_chars", "level", "lvl", "n_total"]

    def served():
        return sorted(
            (
                tuple(r)
                for r in rank_sketch_from_batches(
                    spark, state_dir, 16, ["source"]
                )
                .select(*cols)
                .collect()
            ),
            key=str,
        )

    want = sorted(
        (
            tuple(r)
            for r in rank_sketch_build(docs, "doc_id", "n_chars", 16, ["source"])
            .select(*cols)
            .collect()
        ),
        key=str,
    )
    got = served()
    assert got == want and len(got) > 0

    # restart with no new files: a no-op on the staged state
    run()
    assert served() == want

    # refold compaction: one batch partition, served state unchanged
    compact_rank_sketch_state(spark, state_dir, k=16, by=["source"])
    import os

    assert sorted(os.listdir(state_dir)) == ["batch_id=compacted"] or [
        d for d in os.listdir(state_dir) if d.startswith("batch_id=")
    ] == ["batch_id=compacted"]
    assert served() == want
