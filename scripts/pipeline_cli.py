"""Stage CLIs, flag-compatible with the reference's DVC wiring.

The reference runs three per-stage scripts under DVC (dvc.yaml:28,41,53):

    bun run src/read-pgn.ts        --key K --inDir D --outDir O
    bun run src/find-openings.ts   --key K --inDir D --outDir O --openingsDb P --dataSource S
    bun run src/export-to-parquet.ts --inDir D --outDir O --outDb P

This module exposes the same stages with the same flags so the DVC graph
can swap `bun run src/x.ts` for `python scripts/pipeline_cli.py x` without
touching dvc.yaml's dependency structure. Differences by design: staging
zones are Parquet directories instead of DuckDB files (immutable,
recompute-don't-mutate — SURVEY.md §2.4), `--openingsDb` takes a Parquet
path/glob (or hf:// with huggingface_hub present), and `--outDb` writes a
single combined Parquet directory instead of a .duckdb file.

An example DVC wiring of the full stage DAG (the reference's dvc.yaml with
the bun commands swapped for these stages) ships in examples/dvc.yaml.

Usage:
    python scripts/pipeline_cli.py materialize-openings --location L --target T
    python scripts/pipeline_cli.py read-pgn        --key K --inDir D --outDir O
    python scripts/pipeline_cli.py find-openings   --key K --inDir D --outDir O \
        --openingsDb openings_parquet_dir --dataSource LumbrasGigabase_Online
    python scripts/pipeline_cli.py export-parquet  --inDir D --outDir O [--outDb P]
    python scripts/pipeline_cli.py clean-corpus    --inDir jsonl_glob --outDir O \
        [--minQuality 2.2 --threshold 0.5 --evalFrac 0.05 --seed 0]
    python scripts/pipeline_cli.py maintain-lake   --lakeDir L --op compact|vacuum|manifest \
        [--partitionCols a,b --targetPartitions N --statCols x,y]
    python scripts/pipeline_cli.py delete-rows     --lakeDir L --keysParquet P \
        --keyCols id [--partitionCols a,b]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _spark():
    from chess_lakehouse_spark.session import get_spark

    return get_spark(app_name="chess_lakehouse_pipeline")


def _write_rows(df, out_dir: str) -> int:
    """Overwrite ``out_dir`` with ``df``; return the rows written, counted
    by the write itself, so no second job re-runs ``df``'s plan."""
    from chess_lakehouse_spark.operators.publish import write_counted

    return write_counted(df, lambda d: d.write.mode("overwrite").parquet(out_dir))["rows"]


def _read_list_file(path: str) -> list:
    """One entry per line, blank lines and #-comment lines skipped —
    STRIPPED first, so an indented '  # comment' is a comment, not a
    bogus entry."""
    out = []
    for ln in Path(path).read_text().splitlines():
        ln = ln.strip()
        if ln and not ln.startswith("#"):
            out.append(ln)
    return out


def cmd_read_pgn(args: argparse.Namespace) -> None:
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.publish import write_counted
    from chess_lakehouse_spark.plans.pipeline import RAW_ZONE_SCHEMA, ingest

    spark = _spark()
    err = F.col("parse_error").isNotNull()
    qc = write_counted(
        ingest(spark, args.inDir),
        lambda df: df.write.mode("overwrite").parquet(args.outDir),
        error_predicate=err,
    )
    # QC report, as the reference prints per ingest (src/read-pgn.ts:54-56)
    if args.markdown:
        # reference renders QC through `duckdb -markdown` (src/read-pgn.ts:55)
        from chess_lakehouse_spark.report import qc_markdown_report

        staged = spark.read.schema(RAW_ZONE_SCHEMA).parquet(args.outDir)
        print(qc_markdown_report(staged, qc, error_predicate=err))
    else:
        print(f"[read-pgn] key={args.key} games={qc['rows']} parse_errors={qc['error_rows']}")


def cmd_find_openings(args: argparse.Namespace) -> None:
    from chess_lakehouse_spark.operators.publish import write_counted
    from chess_lakehouse_spark.plans.pipeline import RAW_ZONE_SCHEMA, enrich
    from chess_lakehouse_spark.sources.openings import load_openings

    spark = _spark()
    games = spark.read.schema(RAW_ZONE_SCHEMA).parquet(args.inDir)
    openings = load_openings(spark, args.openingsDb)
    enriched = enrich(games, openings.select("eco", "name", "pgn", "uci"), args.dataSource)
    qc = write_counted(enriched, lambda df: df.write.mode("overwrite").parquet(args.outDir))
    print(f"[find-openings] key={args.key} dataSource={args.dataSource} rows={qc['rows']}")


def cmd_export_parquet(args: argparse.Namespace) -> None:
    from chess_lakehouse_spark.plans.pipeline import ENRICHED_ZONE_SCHEMA, export_combined
    from chess_lakehouse_spark.operators.publish import write_partitioned

    spark = _spark()
    # one subdir per enriched source, processed in sorted order
    # (deterministic union order — src/export-to-parquet.ts:40-42)
    src_dirs = sorted(str(p) for p in Path(args.inDir).iterdir() if p.is_dir())
    sources = [spark.read.schema(ENRICHED_ZONE_SCHEMA).parquet(d) for d in src_dirs]
    combined = export_combined(sources)
    sort_cols = [c for c in (args.clusterBy or "").split(",") if c] or None
    n = write_partitioned(
        combined, args.outDir, ("DataSource", "year", "month"), sort_cols=sort_cols
    )["rows"]
    if args.outDb:
        # inferred on purpose: a declared schema would type the Hive
        # partition column `month` as the export's string, not the int
        # that partition discovery reads from `month=01`
        spark.read.parquet(args.outDir).write.mode("overwrite").parquet(args.outDb)
    if args.markdown:
        # reference: `duckdb -markdown ... SELECT COUNT(*) FROM combined`
        # (src/export-to-parquet.ts:103)
        from chess_lakehouse_spark.report import markdown_table

        print(markdown_table(["Rows"], [[n]]))
    else:
        print(f"[export-parquet] sources={len(sources)} rows={n}")


def cmd_materialize_openings(args: argparse.Namespace) -> None:
    """Openings-dimension stage (reference dvc.yaml:3 — `CREATE TABLE IF NOT
    EXISTS openings AS SELECT * FROM 'hf://...'`): idempotent snapshot of
    the openings dataset into a Parquet target; a committed target is never
    re-downloaded (same `IF NOT EXISTS` semantics, `_SUCCESS`-guarded)."""
    from chess_lakehouse_spark.sources.openings import (
        OPENINGS_SNAPSHOT_SCHEMA,
        publish_openings_snapshot,
    )

    spark = _spark()
    rows = publish_openings_snapshot(spark, args.location, args.target)
    if rows is None:  # a committed snapshot is reused: count it once
        rows = spark.read.schema(OPENINGS_SNAPSHOT_SCHEMA).parquet(args.target).count()
    print(f"[materialize-openings] target={args.target} rows={rows}")


def cmd_clean_corpus(args: argparse.Namespace) -> None:
    """Training-data stage (beyond the reference's surface): JSONL corpus →
    corrupt-line quarantine → optional URL-level pass FIRST (RefinedWeb
    §3.1 order: ``--urlCol`` dedups by canonical URL before any content
    work; ``--hostCap`` then bounds docs per host) → optional target
    matching (document-level
    DSIR selection via ``--dsirTarget``, then corpus-level mixture
    reweighting via ``--mixTarget``: fitted per-source weights applied as
    stratified keep rates) → quality gate (composite score, or the Gopher
    per-rule battery with ``--gate gopher``) → optional C4 paragraph pass
    (``--paragraphDedupSep``) and ExactSubstr span pass (``--spanDedupK``),
    each rewriting text before near-dup runs on the CLEANED content →
    near-dup canonical selection → leakage-safe train/eval split →
    split-partitioned JSONL shards + a dataset-card markdown.

    The near-dup cluster table is computed ONCE and fed to both consumers
    (canonical selection and the split) — the staged-components pattern
    (operators/sampling.py: leakage_safe_split) that a 100 TB pipeline
    materializes to the lake between stages.

    With ``--stageForStreaming`` the stage also writes the published
    corpus + its MinHash signatures under ``batch_id=bootstrap``
    partitions — the staged tables ``stream_incremental_dedup`` continues
    from, so the batch backfill and the daily streaming loop form one
    pipeline (integration-tested end-to-end).
    """
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.functions.text import quality_score
    from chess_lakehouse_spark.operators.dedup import minhash_lsh_dedup
    from chess_lakehouse_spark.operators.graph import connected_components
    from chess_lakehouse_spark.operators.sampling import leakage_safe_split
    from chess_lakehouse_spark.report import corpus_card
    from chess_lakehouse_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt,
        write_jsonl_shards,
    )

    spark = _spark()
    out = Path(args.outDir)
    schema = None
    if args.urlCol:
        from pyspark.sql import types as T

        from chess_lakehouse_spark.sources.jsonl import DOC_SCHEMA

        schema = T.StructType(
            list(DOC_SCHEMA.fields) + [T.StructField(args.urlCol, T.StringType())]
        )
    if getattr(args, "inFormat", "jsonl") == "wet":
        # crawl-direct ingest: WET archives -> documents shape (the
        # read-wet stage inlined, so one invocation goes archive ->
        # cleaned shards); capture-identity md5 doc_ids, quarantined
        # files to a parquet sidecar.
        from chess_lakehouse_spark.sources.warc import read_warc, wet_documents

        recs = read_warc(spark, args.inDir, warc_types=("conversion",))
        bad = recs.where(F.col("parse_error").isNotNull())
        n_bad = bad.count()
        if n_bad:
            bad.select("warc_file", "parse_error").write.mode(
                "overwrite"
            ).parquet(str(out / "quarantine"))
        wet = wet_documents(recs)
        docs = wet.select(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col("url"), F.col("warc_date"))),
                    1, 15,
                ), 16, 10,
            ).cast("long").alias("doc_id"),
            "text",
            F.lit("und").alias("lang"),
            F.lit("commoncrawl").alias("source"),
            *([F.col("url").alias(args.urlCol)] if args.urlCol else []),
        )
    elif getattr(args, "inFormat", "jsonl") == "parquet":
        # parquet-feeder ingest (e.g. the bloom-gated read-wet output):
        # the cleaning chain's documents shape synthesized from whatever
        # columns the feeder carries — missing lang/source fill with the
        # crawl defaults, a missing doc_id derives from the url (or text)
        # via the portable md5 chain
        raw = spark.read.parquet(args.inDir)
        cols = set(raw.columns)
        if "text" not in cols:
            raise SystemExit(
                "clean-corpus --inFormat parquet: input carries no text column"
            )
        if args.urlCol and args.urlCol not in cols:
            raise SystemExit(
                f"clean-corpus --inFormat parquet: --urlCol {args.urlCol} "
                "not in the input"
            )
        n_bad = 0
        id_src = F.col(args.urlCol) if args.urlCol else F.col("text")
        doc_id = (
            F.col("doc_id").cast("long")
            if "doc_id" in cols
            else F.conv(F.substring(F.md5(id_src), 1, 15), 16, 10).cast("long")
        )
        docs = raw.select(
            doc_id.alias("doc_id"),
            "text",
            (F.col("lang") if "lang" in cols else F.lit("und")).alias("lang"),
            (
                F.col("source") if "source" in cols else F.lit("commoncrawl")
            ).alias("source"),
            *([F.col(args.urlCol)] if args.urlCol else []),
        )
    else:
        docs, quarantined = split_corrupt(
            read_jsonl(spark, args.inDir, schema=schema)
        )
        n_bad = quarantined.count()
        if n_bad:
            quarantined.write.mode("overwrite").text(str(out / "quarantine"))

    n_in = docs.count()
    if args.urlCol:
        # URL-level pass FIRST, before any content-touching stage: the
        # host blocklist (a free scan predicate), then exact dedup by
        # canonical URL (min doc_id wins — one map-combined shuffle + one
        # keyed semi-join), then the optional per-host cap.
        from chess_lakehouse_spark.functions.urls import (
            host_blocklist_gate,
            host_cap,
            url_badwords_gate,
            url_dedup_groups,
        )

        if args.blockedHostsFile:
            hosts = _read_list_file(args.blockedHostsFile)
            docs = docs.where(host_blocklist_gate(F.col(args.urlCol), hosts))
        if args.blockedUrlWordsFile:
            frags = _read_list_file(args.blockedUrlWordsFile)
            docs = docs.where(url_badwords_gate(F.col(args.urlCol), frags))
        if args.hostRanksParquet:
            # host-authority gate: join the rank-hosts artifact (node,
            # rank) on the SAME url_host identity and drop docs from
            # known-but-below-threshold hosts. Hosts absent from the rank
            # table KEEP (the gate never invents a reason to drop what it
            # cannot score — the NULL-keep convention of every gate here).
            # The rank table is |hosts|-sized: AQE broadcasts the join.
            from chess_lakehouse_spark.functions.urls import url_host

            ranks = spark.read.parquet(args.hostRanksParquet).select(
                F.col("node").alias("__rh_host"), F.col("rank").alias("__rh_rank")
            )
            docs = (
                docs.join(
                    ranks,
                    url_host(F.col(args.urlCol)) == F.col("__rh_host"),
                    "left",
                )
                .where(
                    F.col("__rh_rank").isNull()
                    | (F.col("__rh_rank") >= F.lit(args.minHostRank))
                )
                .drop("__rh_host", "__rh_rank")
            )
        winners = url_dedup_groups(docs, "doc_id", args.urlCol).select(
            F.col("canonical_id").alias("doc_id")
        )
        docs = docs.join(winners, "doc_id", "left_semi")
        if args.hostCap:
            docs = host_cap(
                docs, "doc_id", args.urlCol, n=args.hostCap, seed=args.seed
            ).drop("host")
    if args.badwordsFile:
        # C4 word-blocklist gate: another free scan predicate, applied
        # before the quality gate (the C4 ordering).
        from chess_lakehouse_spark.functions.text import badwords_gate

        words = _read_list_file(args.badwordsFile)
        docs = docs.where(badwords_gate(F.col("text"), words))
    if args.dsirTarget:
        # DSIR selection BEFORE the quality gate: keep the --dsirKeep docs
        # whose hashed n-gram distribution best matches the target corpus
        from chess_lakehouse_spark.operators.sampling import dsir_topk

        target = read_jsonl(spark, args.dsirTarget)
        target, _ = split_corrupt(target)
        selected = dsir_topk(docs, target, "doc_id", "text", k=args.dsirKeep)
        docs = docs.join(
            F.broadcast(selected.select("doc_id")), "doc_id", "left_semi"
        )

    if args.mixTarget:
        # corpus-level target matching: fit per-source TARGET PROPORTIONS
        # against the target distribution, then convert them to stratified
        # keep RATES via per-source doc counts (kept mixture ∝ rate × size,
        # so using weights directly is only correct for equal-sized
        # sources). Document-level DSIR composes via --dsirTarget.
        from chess_lakehouse_spark.operators.sampling import (
            mixture_fit,
            mixture_keep_rates,
            stratified_hash_sample,
        )

        mix_target = read_jsonl(spark, args.mixTarget)
        mix_target, _ = split_corrupt(mix_target)
        weights = dict(
            mixture_fit(docs, mix_target, "source", "text", seed=args.seed)
        )
        sizes = {
            r["source"]: r["n"]
            for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        rates = mixture_keep_rates(weights, sizes)
        print(f"[clean-corpus] mixture weights: {weights}")
        print(f"[clean-corpus] mixture keep rates: {rates}")
        docs = stratified_hash_sample(
            docs, "doc_id", "source", rates=rates, seed=args.seed
        )
    if args.stripHtml:
        # markup strip BEFORE any content scoring/dedup (the C4-class
        # extraction step) — pure column expression, rides the scan
        from chess_lakehouse_spark.functions.text import strip_html

        docs = docs.withColumn("text", strip_html(F.col("text")))
    if args.gate == "gopher":
        # per-rule gate (Rae et al. 2021) instead of the composite score —
        # one boolean column expression, no join
        from chess_lakehouse_spark.functions.text import gopher_passes

        kept = docs.where(
            gopher_passes(
                F.col("text"),
                min_words=args.gopherMinWords,
                min_stop_hits=args.gopherMinStops,
            )
        )
    elif args.gate == "model":
        # learned LR gate (GPT-3-style quality filter): the staged JSON
        # model folds into one sigmoid column expression — no MLlib at
        # inference
        import json as _json

        from chess_lakehouse_spark.operators.classify import classifier_score

        if not args.modelJson:
            raise SystemExit("clean-corpus --gate model requires --modelJson")
        model = _json.loads(Path(args.modelJson).read_text())
        kept = docs.where(
            classifier_score(F.col("text"), model) >= args.modelThreshold
        )
    elif args.gate == "hashed":
        # fastText-class hashed-ngram gate: staged (bucket, w) parquet
        # served as explode -> weight-join -> exact DECIMAL doc sum —
        # the same artifact the streaming shard sink consumes
        from chess_lakehouse_spark.operators.classify import (
            load_hashed_classifier,
            score_hashed_classifier,
        )

        if not args.hashedModelDir:
            raise SystemExit("clean-corpus --gate hashed requires --hashedModelDir")
        hw, hmeta = load_hashed_classifier(spark, args.hashedModelDir)
        kept = score_hashed_classifier(
            docs, "doc_id", "text", hw, hmeta,
            threshold_margin=args.hashedMarginThreshold, gate=True,
        )
    else:
        kept = docs.where(quality_score(F.col("text")) >= args.minQuality)
    if args.paragraphDedupSep:
        # C4/RefinedWeb line pass: rewrite text with repeated paragraphs
        # removed EVERYWHERE but their corpus-first occurrence
        from chess_lakehouse_spark.operators.dedup import paragraph_dedup

        cleaned = paragraph_dedup(
            kept, "doc_id", "text", sep=args.paragraphDedupSep
        ).select("doc_id", F.col("clean_text").alias("text2"))
        kept = (
            kept.join(cleaned, "doc_id")
            .drop("text")
            .withColumnRenamed("text2", "text")
        )
    if args.spanDedupK:
        # ExactSubstr pass at k-token granularity (Lee et al. 2021)
        from chess_lakehouse_spark.operators.dedup import duplicate_span_dedup

        cleaned = duplicate_span_dedup(
            kept, "doc_id", "text", k=args.spanDedupK
        ).select("doc_id", F.col("clean_text").alias("text2"))
        kept = (
            kept.join(cleaned, "doc_id")
            .drop("text")
            .withColumnRenamed("text2", "text")
        )
    pairs = minhash_lsh_dedup(
        kept, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=args.threshold
    )
    comp = connected_components(pairs.select("id_a", "id_b"))  # staged once
    canonical = (
        kept.join(comp, kept.doc_id == comp.id, "left")
        .where(F.col("id").isNull() | (F.col("component") == F.col("doc_id")))
        .drop("id", "component")
    )
    split = leakage_safe_split(
        kept, "doc_id", eval_frac=args.evalFrac, seed=args.seed, components=comp
    )
    final = canonical.join(split.select("doc_id", "split"), "doc_id")
    write_jsonl_shards(
        final,
        str(out / "corpus"),
        max_records_per_file=args.maxRecordsPerFile,
        partition_by=("split",),
    )
    published = spark.read.json(str(out / "corpus"))
    card = corpus_card(published, "text")
    (out / "dataset_card.md").write_text(card + "\n")
    if args.stageForStreaming:
        # Bootstrap the streaming daily-ingest loop (stream_incremental_dedup):
        # stage the published canonicals' text and MinHash signatures under
        # batch_id=bootstrap partitions so the stream's first live batch
        # dedups against this batch-built corpus.
        from chess_lakehouse_spark.operators.dedup import (
            minhash_signatures,
            word_shingles,
        )

        canon_docs = final.select("doc_id", "text", "lang", "source")
        canon_docs.write.mode("overwrite").parquet(
            str(out / "staged_corpus" / "batch_id=bootstrap")
        )
        minhash_signatures(
            word_shingles(canon_docs, "doc_id", "text", k=3), "doc_id"
        ).write.mode("overwrite").parquet(str(out / "staged_sigs" / "batch_id=bootstrap"))
    if args.bpeMerges:
        # learn the tokenizer on the TRAIN split only (the eval split must
        # not influence the vocabulary) and ship it as a pipeline artifact
        from chess_lakehouse_spark.functions.bpe import bpe_train

        merges = bpe_train(
            published.where(F.col("split") == "train"), "text", args.bpeMerges
        )
        (out / "bpe_merges.txt").write_text(
            "\n".join(f"{a}\t{b}" for a, b in merges) + ("\n" if merges else "")
        )
    counts = {r.split: r.n for r in published.groupBy("split").agg(F.count("*").alias("n")).collect()}
    print(
        f"[clean-corpus] in={n_in} quarantined={n_bad} "
        f"kept={kept.count()} published={sum(counts.values())} "
        f"train={counts.get('train', 0)} eval={counts.get('eval', 0)}"
    )


def cmd_train_quality_model(args: argparse.Namespace) -> None:
    """Train the learned LR quality gate on a labeled JSONL corpus and
    stage the model as plain JSON — the artifact ``clean-corpus --gate
    model`` serves as one folded sigmoid column expression (GPT-3-style
    learned filter; operators/classify.py)."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from chess_lakehouse_spark.operators.classify import train_quality_classifier
    from chess_lakehouse_spark.sources.jsonl import DOC_SCHEMA, read_jsonl, split_corrupt

    spark = _spark()
    schema = T.StructType(
        list(DOC_SCHEMA.fields) + [T.StructField(args.labelField, T.IntegerType())]
    )
    docs, _bad = split_corrupt(read_jsonl(spark, args.inDir, schema=schema))
    labeled = docs.where(F.col(args.labelField).isNotNull())
    model = train_quality_classifier(
        labeled, "doc_id", "text", args.labelField,
        max_iter=args.maxIter, reg_param=args.regParam,
    )
    out = Path(args.outJson)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(_json.dumps(model, indent=1) + "\n")
    print(f"[train-quality-model] n_labeled={labeled.count()} -> {out}")


def cmd_train_hashed_model(args: argparse.Namespace) -> None:
    """Train the fastText-class hashed-ngram gate on a labeled JSONL
    corpus and stage it to the lake as one parquet (weights + intercept
    sentinel) — the artifact ``clean-corpus --gate hashed`` and the
    streaming shard sink serve via an explode -> weight-join -> exact
    DECIMAL doc sum (operators/classify.py)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from chess_lakehouse_spark.operators.classify import (
        save_hashed_classifier,
        train_hashed_classifier,
    )
    from chess_lakehouse_spark.sources.jsonl import DOC_SCHEMA, read_jsonl, split_corrupt

    spark = _spark()
    schema = T.StructType(
        list(DOC_SCHEMA.fields) + [T.StructField(args.labelField, T.IntegerType())]
    )
    docs, _bad = split_corrupt(read_jsonl(spark, args.inDir, schema=schema))
    labeled = docs.where(F.col(args.labelField).isNotNull())
    weights, meta = train_hashed_classifier(
        labeled, "doc_id", "text", args.labelField,
        n_buckets=args.nBuckets, lr=args.lr, iters=args.iters, reg=args.reg,
    )
    save_hashed_classifier(weights, meta, args.outDir)
    print(
        f"[train-hashed-model] n_labeled={labeled.count()} "
        f"intercept={meta['intercept']:.6f} -> {args.outDir}"
    )


def cmd_scd2_apply(args: argparse.Namespace) -> None:
    """SCD2 dimension maintenance stage (operators/publish.py:
    scd2_apply, Kimball Type-2): fold an update feed into a versioned
    dimension. ``--dimDir`` absent/missing = the first load (every key
    versions from its first event). With ``--inPlace`` the new table
    publishes OVER ``--dimDir`` via the crash-safe rename-aside swap
    (the served-surface convention); otherwise it lands in ``--outDir``
    and the caller rotates."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.publish import scd2_apply, swap_publish

    spark = _spark()
    keys = args.keyCols.split(",")
    attrs = args.attrCols.split(",")
    updates = spark.read.parquet(args.updatesParquet)
    dim_path = Path(args.dimDir) if args.dimDir else None
    if dim_path is not None and dim_path.exists():
        dim = spark.read.parquet(str(dim_path))
    else:
        # first load: an empty dim with the update feed's key/attr types
        # and the ts column's type for the validity bounds
        dim = (
            updates.select(
                *keys,
                *attrs,
                F.col(args.tsCol).alias("valid_from"),
                F.col(args.tsCol).alias("valid_to"),
            )
            .limit(0)
        )
    out = scd2_apply(dim, updates, keys, attrs, args.tsCol)
    if args.inPlace:
        if not args.dimDir:
            raise SystemExit("scd2-apply: --inPlace requires --dimDir")
        swap_publish(
            spark, args.dimDir, out.write.mode("overwrite").parquet, "scd2-apply"
        )
        dest = args.dimDir
    else:
        if not args.outDir:
            raise SystemExit("scd2-apply: pass --outDir (or --inPlace)")
        out.write.mode("overwrite").parquet(args.outDir)
        dest = args.outDir
    n = spark.read.parquet(dest)
    print(
        f"[scd2-apply] versions={n.count()} "
        f"open={n.where('valid_to IS NULL').count()} -> {dest}"
    )


def cmd_score_calibrate(args: argparse.Namespace) -> None:
    """Score-calibration stage (r11): map a raw quality score to its
    EXACT corpus percent-rank in integer millionths
    (operators/relational.py:global_percent_rank — the distributed
    sort-rank plan) and, optionally, to exact ntile strata
    (score_buckets) either globally or within --by groups. The
    normalization step before mixing heterogeneous quality signals:
    downstream weighting reads ``pct_ppm``/``bucket`` instead of raw
    engine-specific score scales. Rows with a NULL score are EXCLUDED
    from the rank (and bucket NULL) — the SQL percentile convention.

    ``--deriveQuality`` computes the composite ``quality_score`` from
    ``--textCol`` first (functions/text.py:quality_metrics) for inputs
    that carry raw text but no score column — e.g. clean-corpus's
    staged corpus (doc_id, text, lang, source); without it the score
    column must already exist (checked loudly at plan time)."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.relational import (
        global_percent_rank,
        score_buckets,
    )

    spark = _spark()
    df = spark.read.parquet(args.inParquet)
    if args.deriveQuality:
        from chess_lakehouse_spark.functions.text import quality_metrics

        if args.scoreCol != "quality_score":
            raise SystemExit(
                "--deriveQuality computes 'quality_score'; drop --scoreCol "
                f"or set it to quality_score (got {args.scoreCol!r})"
            )
        m = quality_metrics(df, args.idCol, args.textCol).select(
            args.idCol, "quality_score"
        )
        df = df.join(m, args.idCol, "left")
    elif args.scoreCol not in df.columns:
        raise SystemExit(
            f"score-calibrate: column {args.scoreCol!r} not in input "
            f"{sorted(df.columns)}; pass --deriveQuality to compute the "
            "composite quality score from text"
        )
    nn = df.where(F.col(args.scoreCol).isNotNull())
    ranked = global_percent_rank(nn, [args.scoreCol, args.idCol])
    nulls = df.where(F.col(args.scoreCol).isNull()).withColumn(
        "pct_ppm", F.lit(None).cast("long")
    )
    out = ranked.unionByName(nulls)
    if args.buckets:
        by = args.by.split(",") if args.by else None
        out = score_buckets(
            out, args.idCol, args.scoreCol, n_buckets=args.buckets, by=by
        )
    print(f"[score-calibrate] rows={_write_rows(out, args.outDir)} -> {args.outDir}")


def cmd_qc_report(args: argparse.Namespace) -> None:
    """One-command pre-release corpus QC card (report.py:
    qc_report_bundle): per-source summary, ordered gate attribution
    (Gopher + non-empty default battery), log2 length histogram,
    training-shard balance, pairwise source shingle overlap, per-source
    unigram KL, and — with --eventsParquet — the daily user-growth
    curve. Emits one parquet bundle (out/<signal>/) plus out/CARD.md.
    Run as the LAST DAG stage over the published corpus."""
    from chess_lakehouse_spark.report import qc_report_bundle

    spark = _spark()
    docs = spark.read.parquet(args.inParquet)
    for col in (args.idCol, args.textCol, args.sourceCol, args.sizeCol,
                args.langCol):
        if col not in docs.columns:
            raise SystemExit(
                f"qc-report: column {col!r} not in input {sorted(docs.columns)}"
            )
    events = (
        spark.read.parquet(args.eventsParquet) if args.eventsParquet else None
    )
    card = qc_report_bundle(
        docs,
        args.outDir,
        id_col=args.idCol,
        text_col=args.textCol,
        source_col=args.sourceCol,
        size_col=args.sizeCol,
        lang_col=args.langCol,
        n_shards=args.nShards,
        events=events,
        user_col=args.userCol,
        ts_col=args.tsCol,
    )
    print(card.split("\n", 1)[0], f"-> {args.outDir}/CARD.md")


def cmd_upsample_epochs(args: argparse.Namespace) -> None:
    """Budgeted epoch-upsampling stage (r11): materialize the training
    mixture manifest — one (doc, epoch) row per repetition — from a
    global size budget split equally across --groupCol domains
    (operators/sampling.py:upsample_epochs; Muennighoff et al. 2023,
    arXiv:2305.16264). ``--sizeCol`` defaults to n_chars; pass a token
    count column for token-denominated budgets. The deterministic md5
    fractional pass means re-running the stage (or re-running at a
    bigger budget) reproduces / extends the same manifest — never
    reshuffles it. Compose downstream with pack-sequences / shard
    writing; the manifest preserves all input columns plus ``epoch``."""
    from chess_lakehouse_spark.operators.sampling import upsample_epochs

    spark = _spark()
    df = spark.read.parquet(args.inParquet)
    for col in (args.idCol, args.sizeCol, args.groupCol):
        if col not in df.columns:
            raise SystemExit(
                f"upsample-epochs: column {col!r} not in input "
                f"{sorted(df.columns)}"
            )
    out = upsample_epochs(
        df,
        args.idCol,
        args.sizeCol,
        args.groupCol,
        budget=args.budget,
        max_epochs=args.maxEpochs,
        seed=args.seed,
    )
    print(f"[upsample-epochs] rows={_write_rows(out, args.outDir)} -> {args.outDir}")


def cmd_edit_dedup(args: argparse.Namespace) -> None:
    """Edit-distance near-dedup stage: exact Levenshtein-<=d pairs via the
    q-gram count filter, connected components, keep the min-id canonical
    per edit-cluster (operators/dedup.py:edit_distance_dedup) — the
    record-linkage pass for title/name/short-key corpora. Input is any
    parquet with an id and a text column; output is the surviving rows,
    all columns intact."""
    from chess_lakehouse_spark.operators.dedup import edit_distance_dedup

    spark = _spark()
    df = spark.read.parquet(args.inParquet)
    kept = edit_distance_dedup(
        df,
        args.idCol,
        args.textCol,
        max_dist=args.maxDist,
        q=args.qgram,
        stop_gram_min_df=args.stopGramMinDf,
    )
    print(f"[edit-dedup] kept={_write_rows(kept, args.outDir)} -> {args.outDir}")


def cmd_encode_corpus(args: argparse.Namespace) -> None:
    """Token-id encoding stage — the export step after clean-corpus: read
    a corpus parquet and a clean-corpus ``bpe_merges.txt`` artifact,
    tokenize (functions/bpe.py:bpe_apply), build-or-load the
    deterministic vocabulary, encode to integer ids, and write
    ``ids/`` (id, ids, n_tokens, n_oov) + ``vocab/`` (token, token_id).
    Pass --vocabParquet to encode AGAINST an existing vocabulary (the
    eval-split / incremental-batch shape: new tokens become <unk> and
    n_oov counts them) instead of minting one from this corpus."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.functions.bpe import (
        bpe_apply,
        build_token_vocab,
        encode_token_ids,
    )

    spark = _spark()
    merges = [
        tuple(line.split("\t"))
        for line in open(args.mergesTxt, encoding="utf-8").read().splitlines()
        if line
    ]
    df = spark.read.parquet(args.inParquet)
    toks = bpe_apply(df, args.idCol, args.textCol, merges)
    if args.vocabParquet:
        vocab = spark.read.parquet(args.vocabParquet)
    else:
        vocab = build_token_vocab(toks)
    enc = encode_token_ids(toks, args.idCol, vocab)
    enc.write.mode("overwrite").parquet(f"{args.outDir}/ids")
    vocab.write.mode("overwrite").parquet(f"{args.outDir}/vocab")
    n_docs = enc.count()
    n_oov = enc.agg(F.sum("n_oov")).collect()[0][0] or 0
    print(f"[encode-corpus] docs={n_docs} oov_tokens={n_oov} -> {args.outDir}")


def cmd_build_search_index(args: argparse.Namespace) -> None:
    """Search-index stage: stage the trigram substring index (functions/
    text.py:build_substring_index) as a pipeline artifact — downstream
    consumers serve exact substring (and safe-subset regex) lookups with
    zero corpus scans. --append folds a delta corpus into an existing
    index (retry-idempotent merge + atomic swap) instead of rebuilding."""
    from chess_lakehouse_spark.functions.text import (
        append_substring_index,
        build_substring_index,
    )

    spark = _spark()
    df = spark.read.parquet(args.inParquet)
    if args.append:
        # q and the case mode are derived from the staged meta on append —
        # accepting contradictory flags here would silently fold the delta
        # at the STAGED parameters while the user believes otherwise
        if args.qgram is not None or args.foldCase:
            raise SystemExit(
                "build-search-index: --qgram/--foldCase cannot be combined "
                "with --append (the staged index's meta owns them; rebuild "
                "without --append to change the gram width or case mode)"
            )
        append_substring_index(
            df, args.idCol, args.textCol, args.indexDir,
            n_posting_files=args.postingFiles,
        )
    else:
        build_substring_index(
            df, args.idCol, args.textCol, args.indexDir,
            q=args.qgram if args.qgram is not None else 3,
            n_posting_files=args.postingFiles,
            fold_case=args.foldCase,
        )
    meta = spark.read.parquet(f"{args.indexDir}/meta").first()
    print(
        f"[build-search-index] q={meta['q']} n_docs={meta['n_docs']} "
        f"fold_case={meta['fold_case']} -> {args.indexDir}"
    )


def cmd_bloom(args: argparse.Namespace) -> None:
    """Bloom-filter lifecycle stages (operators/bloom.py): ``bloom-build``
    folds a key parquet into a broadcastable bitmap artifact,
    ``bloom-append`` ORs a delta's keys into it (retry-safe: the delta
    bitmap rebuilds byte-identically, and the publish swaps atomically),
    ``bloom-gate`` flags or filters a corpus map-side by membership —
    the broadcast-the-bitmap-not-the-keys blocklist pattern. Gate
    semantics: a kept row is one the filter REJECTS (not in the set);
    false positives drop a bounded extra fraction, never the reverse —
    there are no false negatives, so every true member is always gated."""
    from chess_lakehouse_spark.operators.bloom import (
        append_bloom,
        bloom_might_contain,
        build_bloom,
    )
    from chess_lakehouse_spark.operators.publish import swap_publish

    spark = _spark()
    if args.stage == "bloom-build":
        bloom = build_bloom(
            spark.read.parquet(args.keysParquet),
            args.keyCol,
            m_bits=args.mBits,
            k=args.k,
        )
        # rename-aside swap like bloom-append: a REBUILD over a live
        # bloomDir must never expose readers to a deleted/partial table
        swap_publish(
            spark, args.bloomDir,
            bloom.coalesce(1).write.mode("overwrite").parquet, "bloom-build",
        )
        row = spark.read.parquet(args.bloomDir).first()
        print(
            f"[bloom-build] m_bits={row['m_bits']} k={row['k']} "
            f"n_keys={row['n_keys']} -> {args.bloomDir}"
        )
    elif args.stage == "bloom-append":
        merged = append_bloom(
            spark.read.parquet(args.keysParquet),
            args.keyCol,
            spark.read.parquet(args.bloomDir),
        )
        swap_publish(
            spark, args.bloomDir,
            merged.coalesce(1).write.mode("overwrite").parquet, "bloom-append",
        )
        row = spark.read.parquet(args.bloomDir).first()
        print(f"[bloom-append] n_keys={row['n_keys']} -> {args.bloomDir}")
    else:  # bloom-gate
        flagged = bloom_might_contain(
            spark.read.parquet(args.inParquet),
            args.keyCol,
            spark.read.parquet(args.bloomDir),
        )
        out = (
            flagged
            if args.emit == "flags"
            else flagged.where(~flagged["might_contain"]).drop("might_contain")
        )
        n = _write_rows(out, args.outDir)
        print(f"[bloom-gate] emit={args.emit} rows={n} -> {args.outDir}")


def cmd_heavy_hitters(args: argparse.Namespace) -> None:
    """Heavy-hitters frontier stages (operators/sketches.py, Mergeable
    Summaries): ``hh-ingest`` stages ONE batch's Misra-Gries partial as
    its own ``batch_id=`` partition (retry-safe: the default exact
    partial rebuilds value-identically and the publish swaps
    atomically), ``hh-serve`` merges the staged partials into the <= k
    summary — |batches|*k rows in, zero corpus rows — and writes it with
    the guarantee metadata (N, the error bound N/(k+1)) printed for the
    run log. Every served term t satisfies est <= true(t) and
    true(t) - est <= N/(k+1); every term with true > N/(k+1) is present."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.sketches import (
        mg_batch_partial,
        mg_from_batches,
        mg_state_total,
        write_mg_batch,
    )

    spark = _spark()
    if args.stage == "hh-ingest":
        partial = mg_batch_partial(
            spark.read.parquet(args.inParquet),
            args.termCol,
            args.k,
            exact=not args.streamed,
        )
        write_mg_batch(partial, args.stateDir, args.batchId)
        n_terms = (
            spark.read.parquet(f"{args.stateDir.rstrip('/')}/batch_id={args.batchId}")
            .where(F.col("term").isNotNull())
            .count()
        )
        print(
            f"[hh-ingest] batch_id={args.batchId} k={args.k} "
            f"terms={n_terms} -> {args.stateDir}"
        )
    else:  # hh-serve
        served = mg_from_batches(spark, args.stateDir, args.k)
        n_rows = _write_rows(served.coalesce(1), args.outDir)
        n = mg_state_total(spark, args.stateDir)
        print(
            f"[hh-serve] terms={n_rows} n_total={n} "
            f"max_err={n // (args.k + 1)} -> {args.outDir}"
        )


def cmd_ann_index(args: argparse.Namespace) -> None:
    """ANN lake-index lifecycle stages (operators/similarity.py):
    ``ann-index-build`` fits k-means centroids and publishes the corpus
    Hive-partitioned by centroid list (probes then read only their
    nprobe list_id= directories — partition pruning IS the index);
    ``ann-index-append`` folds a vector delta in O(delta) as its own
    batch partition, assigning with the index's sidecar centroids;
    ``ann-search`` serves top-k for a probe parquet with zero
    non-probed-list reads."""
    from chess_lakehouse_spark.operators.similarity import (
        append_ivf_index,
        kmeans_fit,
        publish_ivf_index,
        read_ivf_centroids,
        search_ivf_index,
    )

    spark = _spark()
    if args.stage == "ann-index-build":
        corpus = spark.read.parquet(args.inParquet)
        cents = kmeans_fit(
            corpus, args.idCol, args.vecCol, k=args.lists,
            iters=args.iters, seed=args.seed,
        )
        publish_ivf_index(corpus, args.indexDir, args.idCol, args.vecCol, cents)
        print(
            f"[ann-index-build] lists={len(cents)} -> {args.indexDir}"
        )
    elif args.stage == "ann-index-append":
        append_ivf_index(
            spark.read.parquet(args.inParquet),
            args.indexDir, args.idCol, args.vecCol, batch_id=args.batchId,
        )
        print(f"[ann-index-append] batch_id={args.batchId} -> {args.indexDir}")
    else:  # ann-search
        cents = read_ivf_centroids(spark, args.indexDir)
        hits = search_ivf_index(
            spark, args.indexDir,
            spark.read.parquet(args.probesParquet),
            args.idCol, args.vecCol, cents, nprobe=args.nprobe, k=args.topK,
        )
        n = _write_rows(hits, args.outDir)
        print(f"[ann-search] nprobe={args.nprobe} k={args.topK} rows={n} -> {args.outDir}")


def cmd_read_wet(args: argparse.Namespace) -> None:
    """WET web-archive ingest stage (sources/warc.py): CommonCrawl-layout
    .wet/.wet.gz archives → (url, warc_date, text, doc_id) parquet — the
    upstream feeder for clean-corpus. doc_id is the portable md5 hash of
    (url, warc_date): deterministic across re-runs AND re-segmentation of
    the same crawl (capture identity, not file position)."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.sources.warc import read_warc, wet_documents

    spark = _spark()
    recs = read_warc(spark, args.inDir, warc_types=("conversion",))
    bad = recs.where(F.col("parse_error").isNotNull())
    n_bad = bad.count()
    if args.quarantineDir and n_bad:
        bad.select("warc_file", "parse_error").write.mode("overwrite").parquet(
            args.quarantineDir
        )
    docs = wet_documents(recs).withColumn(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("url"), F.col("warc_date"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
    )
    n_docs = _write_rows(docs, args.outDir)
    print(f"[read-wet] docs={n_docs} quarantined_files={n_bad} -> {args.outDir}")


def cmd_media_dedup(args: argparse.Namespace) -> None:
    """Image / audio / video near-dedup stages: read any parquet with an
    id and a binary payload column, drop near-duplicates, write the
    survivors with all columns intact. Images: 64-bit pHash pairs via
    the shared banded hamming join, connected components, the min-id
    canonical per visual cluster (operators/multimodal.py:phash_dedup);
    clips: operators/audio.py:audio_dedup / operators/video.py:video_dedup."""
    spark = _spark()
    df = spark.read.parquet(args.inParquet)
    renamed = df
    if args.idCol != "doc_id":
        renamed = renamed.withColumnRenamed(args.idCol, "doc_id")
    if args.payloadCol != "payload":
        renamed = renamed.withColumnRenamed(args.payloadCol, "payload")
    if args.stage == "image-dedup":
        from chess_lakehouse_spark.operators.multimodal import phash_dedup

        kept = phash_dedup(
            renamed, max_hamming=args.maxHamming, codec=args.codec, band_bits=args.bandBits
        )
    elif args.stage == "audio-dedup":
        from chess_lakehouse_spark.operators.audio import audio_dedup

        kept = audio_dedup(
            renamed, max_hamming=args.maxHamming, band_bits=args.bandBits
        )
    else:
        from chess_lakehouse_spark.operators.video import video_dedup

        kept = video_dedup(
            renamed, max_hamming=args.maxHamming, band_bits=args.bandBits,
            min_sim=args.minSim, frame_stride=args.frameStride,
        )
    if args.idCol != "doc_id":
        kept = kept.withColumnRenamed("doc_id", args.idCol)
    if args.payloadCol != "payload":
        kept = kept.withColumnRenamed("payload", args.payloadCol)
    print(f"[{args.stage}] kept={_write_rows(kept, args.outDir)} -> {args.outDir}")


def cmd_maintain_lake(args: argparse.Namespace) -> None:
    """Lake-maintenance stage: compaction, crash-sidecar vacuum, or
    data-skipping manifest (re)build — the jobs a 100 TB lake schedules
    periodically rather than per ingest."""
    from chess_lakehouse_spark.operators.publish import (
        compact_partitions,
        recluster_lake,
        vacuum_lake,
        write_skipping_manifest,
    )

    spark = _spark()
    pcols = [c for c in args.partitionCols.split(",") if c]
    if args.op == "recluster":
        if not args.clusterCols:
            raise SystemExit("maintain-lake --op recluster requires --clusterCols")
        ccols = [c for c in args.clusterCols.split(",") if c]
        recluster_lake(
            spark, args.lakeDir, ccols, n_files=args.nFiles,
            bits_per_col=args.bitsPerCol,
        )
        print(f"[maintain-lake] reclustered {args.lakeDir} by {','.join(ccols)}")
    elif args.op == "compact":
        compact_partitions(
            spark, args.lakeDir, partition_cols=pcols,
            target_partitions=args.targetPartitions,
        )
        print(f"[maintain-lake] compacted {args.lakeDir}")
    elif args.op == "vacuum":
        removed = vacuum_lake(spark, args.lakeDir)
        print(f"[maintain-lake] vacuumed {args.lakeDir} removed={len(removed)}")
    else:  # manifest
        if not args.statCols:
            raise SystemExit("maintain-lake --op manifest requires --statCols")
        scols = [c for c in args.statCols.split(",") if c]
        path = write_skipping_manifest(spark, args.lakeDir, scols)
        print(f"[maintain-lake] manifest {path} cols={','.join(scols)}")


def cmd_rank_hosts(args: argparse.Namespace) -> None:
    """Host-authority stage (operators/graph.py): WARC response archives →
    response_documents → absolute-href extraction → weighted host edges →
    power-method PageRank → (node, rank) parquet — the CommonCrawl-style
    host ranking a curation pipeline joins as a source-quality prior.
    ``--inParquet`` alternatively takes a ready (url, html) parquet (e.g.
    a staged crawl) instead of raw archives."""
    from chess_lakehouse_spark.operators.graph import (
        extract_links,
        host_edges,
        pagerank,
    )

    spark = _spark()
    if args.inParquet:
        docs = spark.read.parquet(args.inParquet)
    else:
        from chess_lakehouse_spark.sources.warc import (
            read_warc,
            response_documents,
        )

        docs = response_documents(
            read_warc(spark, args.inDir, warc_types=("response",))
        )
    ranks = pagerank(
        host_edges(extract_links(docs, args.urlCol, args.htmlCol)),
        damping=args.damping,
        n_iter=args.iterations,
    )
    n_hosts = _write_rows(ranks, args.outDir)
    print(f"[rank-hosts] hosts={n_hosts} iters={args.iterations} -> {args.outDir}")


def cmd_rollup(args: argparse.Namespace) -> None:
    """Incremental materialized rollup lifecycle (operators/rollup.py) as
    three host-orchestrated stages: ``rollup-build`` (one corpus pass →
    spec + base partials), ``rollup-append`` (O(delta) fold of an ingest
    parquet as its own batch partition — retry-idempotent, so a failed
    DAG stage just re-runs), ``rollup-serve`` (zero-corpus-access merge,
    optional coarser grain / derived exact means / compaction)."""
    from chess_lakehouse_spark.operators.rollup import (
        append_rollup,
        build_rollup,
        compact_rollup,
        serve_rollup,
    )

    from pyspark.sql import functions as F

    spark = _spark()
    if args.stage == "rollup-build":
        measures = []
        for entry in args.measures.split(","):
            parts = entry.strip().split(":")
            if len(parts) == 2:
                parts.append(None)
            elif len(parts) != 3:
                raise SystemExit(
                    f"--measures entry {entry!r}: want name:agg[:col]"
                )
            measures.append(tuple(parts))
        df = spark.read.parquet(args.inParquet)
        for d in getattr(args, "derive", []) or []:
            if "=" not in d:
                raise SystemExit(f"--derive entry {d!r}: want name=SQL_EXPR")
            name, expr = d.split("=", 1)
            df = df.withColumn(name.strip(), F.expr(expr))
        build_rollup(
            df,
            [k.strip() for k in args.keys.split(",") if k.strip()],
            measures,
            args.rollupDir,
        )
    elif args.stage == "rollup-append":
        append_rollup(
            spark.read.parquet(args.inParquet), args.rollupDir, args.batchId
        )
    else:
        if args.compact:
            compact_rollup(spark, args.rollupDir)
        keys = [k.strip() for k in args.keys.split(",") if k.strip()] or None
        avg6 = [
            tuple(e.strip().split(":"))
            for e in args.avg6.split(",")
            if e.strip()
        ]
        serve_rollup(spark, args.rollupDir, keys=keys, avg6=avg6).write.mode(
            "overwrite"
        ).parquet(args.outDir)


def cmd_delete_rows(args: argparse.Namespace) -> None:
    """Row-level DELETE stage (takedown / right-to-be-forgotten): keys come
    from a Parquet file; carrying the partition columns there makes the
    delete partition-pruned."""
    from chess_lakehouse_spark.operators.publish import delete_rows

    spark = _spark()
    keys = spark.read.parquet(args.keysParquet)
    kcols = [c for c in args.keyCols.split(",") if c]
    pcols = [c for c in args.partitionCols.split(",") if c]
    n_keys = keys.count()
    delete_rows(spark, args.lakeDir, keys, key_cols=kcols, partition_cols=pcols)
    print(f"[delete-rows] lake={args.lakeDir} keys={n_keys}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="pipeline_cli")
    sub = p.add_subparsers(dest="stage", required=True)

    rp = sub.add_parser("read-pgn")
    rp.add_argument("--key", required=True)
    rp.add_argument("--inDir", required=True)
    rp.add_argument("--outDir", required=True)
    rp.add_argument("--markdown", action="store_true",
                    help="render QC as markdown tables (reference: duckdb -markdown)")
    rp.set_defaults(fn=cmd_read_pgn)

    fo = sub.add_parser("find-openings")
    fo.add_argument("--key", required=True)
    fo.add_argument("--inDir", required=True)
    fo.add_argument("--outDir", required=True)
    fo.add_argument("--openingsDb", required=True)
    fo.add_argument("--dataSource", required=True)
    fo.set_defaults(fn=cmd_find_openings)

    ep = sub.add_parser("export-parquet")
    ep.add_argument("--inDir", required=True)
    ep.add_argument("--outDir", required=True)
    ep.add_argument("--outDb", required=False, default=None)
    ep.add_argument("--clusterBy", default=None,
                    help="comma-separated columns to sort within each Hive "
                         "partition (tight row-group min/max for footer skipping)")
    ep.add_argument("--markdown", action="store_true",
                    help="render QC as markdown tables (reference: duckdb -markdown)")
    ep.set_defaults(fn=cmd_export_parquet)

    mo = sub.add_parser("materialize-openings")
    mo.add_argument("--location", required=True,
                    help="openings dataset: local/remote-FS glob dir, or hf:// with huggingface_hub")
    mo.add_argument("--target", required=True, help="Parquet snapshot dir")
    mo.set_defaults(fn=cmd_materialize_openings)

    cc = sub.add_parser("clean-corpus")
    cc.add_argument("--inDir", required=True, help="JSONL corpus path/glob")
    cc.add_argument("--inFormat", choices=("jsonl", "wet", "parquet"), default="jsonl",
                    help="jsonl (default) or wet: CommonCrawl-layout WET "
                         "archives ingested directly (sources/warc.py)")
    cc.add_argument("--outDir", required=True)
    cc.add_argument("--minQuality", type=float, default=2.2)
    cc.add_argument("--gate", choices=("score", "gopher", "model", "hashed"),
                    default="score",
                    help="quality gate: composite score (default), the "
                         "Gopher per-rule battery, a trained LR model "
                         "(--modelJson), or the staged hashed-ngram model "
                         "(--hashedModelDir)")
    cc.add_argument("--modelJson", default=None,
                    help="with --gate model: JSON dict from "
                         "train_quality_classifier")
    cc.add_argument("--hashedModelDir", default=None,
                    help="with --gate hashed: staged parquet dir from "
                         "train-hashed-model")
    cc.add_argument("--hashedMarginThreshold", type=float, default=0.0,
                    help="with --gate hashed: keep docs with "
                         "margin >= this (exact DECIMAL comparison)")
    cc.add_argument("--modelThreshold", type=float, default=0.5,
                    help="with --gate model: keep docs with "
                         "sigmoid score >= threshold")
    cc.add_argument("--gopherMinWords", type=int, default=50)
    cc.add_argument("--gopherMinStops", type=int, default=2)
    cc.add_argument("--urlCol", default=None,
                    help="URL-level pass first: exact dedup by canonical URL "
                         "(min doc_id wins); names a string column present in "
                         "the input JSONL (added to the read schema)")
    cc.add_argument("--hostCap", type=int, default=0,
                    help="with --urlCol: keep at most N docs per host "
                         "(deterministic hash order)")
    cc.add_argument("--blockedHostsFile", default="",
                    help="with --urlCol: drop docs whose URL host (or any "
                         "subdomain) is listed in this file (one host per "
                         "line, # comments)")
    cc.add_argument("--blockedUrlWordsFile", default="",
                    help="with --urlCol: drop docs whose lowercased URL "
                         "CONTAINS any listed fragment (RefinedWeb-style "
                         "URL word blocklist; one fragment per line, "
                         "# comments)")
    cc.add_argument("--hostRanksParquet", default="",
                    help="with --urlCol: (node, rank) parquet from "
                         "rank-hosts; drop docs from known hosts ranked "
                         "below --minHostRank (unknown hosts keep)")
    cc.add_argument("--minHostRank", type=float, default=0.0,
                    help="PageRank threshold for --hostRanksParquet")
    cc.add_argument("--badwordsFile", default="",
                    help="drop docs containing any listed word (one per "
                         "line, # comments; C4-style blocklist, Gopher "
                         "token normalization)")
    cc.add_argument("--stripHtml", action="store_true",
                    help="strip HTML markup/entities from text before any "
                         "scoring or dedup pass (functions.text.strip_html)")
    cc.add_argument("--paragraphDedupSep", default=None,
                    help="run corpus-wide paragraph first-occurrence dedup "
                         "on this LITERAL separator before near-dup "
                         "(C4/RefinedWeb line pass; e.g. $'\\n')")
    cc.add_argument("--spanDedupK", type=int, default=0,
                    help="run duplicate-span (ExactSubstr) dedup with "
                         "k-token windows before near-dup")
    cc.add_argument("--threshold", type=float, default=0.5, help="near-dup Jaccard threshold")
    cc.add_argument("--evalFrac", type=float, default=0.05)
    cc.add_argument("--seed", type=int, default=0)
    cc.add_argument("--maxRecordsPerFile", type=int, default=100_000)
    cc.add_argument("--dsirTarget", default=None,
                    help="JSONL target corpus: select --dsirKeep docs by DSIR "
                         "importance resampling before the quality gate")
    cc.add_argument("--mixTarget", default=None,
                    help="JSONL target corpus: fit per-source mixture weights "
                         "(mixture_fit) and apply them as stratified keep "
                         "rates before the quality gate")
    cc.add_argument("--dsirKeep", type=int, default=10_000)
    cc.add_argument("--bpeMerges", type=int, default=0,
                    help="also learn N BPE merges on the train split and "
                         "write bpe_merges.txt")
    cc.add_argument("--stageForStreaming", action="store_true",
                    help="also stage the published corpus + MinHash signatures "
                         "(batch_id=bootstrap) for stream_incremental_dedup to continue from")
    cc.set_defaults(fn=cmd_clean_corpus)

    ml = sub.add_parser("maintain-lake")
    ml.add_argument("--lakeDir", required=True)
    ml.add_argument("--op", required=True,
                    choices=["compact", "vacuum", "manifest", "recluster"])
    ml.add_argument("--partitionCols", default="DataSource,year,month",
                    help="comma-separated Hive partition columns")
    ml.add_argument("--targetPartitions", type=int, default=None,
                    help="cap the compaction shuffle width")
    ml.add_argument("--statCols", default=None,
                    help="comma-separated stats columns (required for --op manifest)")
    ml.add_argument("--clusterCols", default=None,
                    help="comma-separated clustering columns (required for --op recluster)")
    ml.add_argument("--nFiles", type=int, default=64,
                    help="target file count for --op recluster")
    ml.add_argument("--bitsPerCol", type=int, default=8,
                    help="z-order bits per column for multi-column recluster")
    ml.set_defaults(fn=cmd_maintain_lake)

    tq = sub.add_parser("train-quality-model")
    tq.add_argument("--inDir", required=True,
                    help="labeled JSONL corpus (doc_id/text/... plus the label field)")
    tq.add_argument("--labelField", default="label",
                    help="integer JSONL field: 1 = keep, 0 = drop")
    tq.add_argument("--outJson", required=True,
                    help="where to write the model dict (feed to "
                         "clean-corpus --gate model --modelJson)")
    tq.add_argument("--maxIter", type=int, default=100)
    tq.add_argument("--regParam", type=float, default=0.01)
    tq.set_defaults(fn=cmd_train_quality_model)

    th = sub.add_parser("train-hashed-model")
    th.add_argument("--inDir", required=True,
                    help="labeled JSONL corpus (doc_id/text/... plus the label field)")
    th.add_argument("--labelField", default="label",
                    help="integer JSONL field: 1 = keep, 0 = drop")
    th.add_argument("--outDir", required=True,
                    help="staged model parquet dir (feed to clean-corpus "
                         "--gate hashed --hashedModelDir)")
    th.add_argument("--nBuckets", type=int, default=1 << 18)
    th.add_argument("--lr", type=float, default=4.0)
    th.add_argument("--iters", type=int, default=60)
    th.add_argument("--reg", type=float, default=0.0)
    th.set_defaults(fn=cmd_train_hashed_model)

    imd = sub.add_parser("image-dedup")
    imd.add_argument("--inParquet", required=True)
    imd.add_argument("--outDir", required=True)
    imd.add_argument("--idCol", default="doc_id")
    imd.add_argument("--payloadCol", default="payload")
    imd.add_argument("--maxHamming", type=int, default=10)
    imd.add_argument("--bandBits", type=int, default=8)
    imd.add_argument("--codec", default="auto", choices=["auto", "real"])
    imd.set_defaults(fn=cmd_media_dedup)

    s2 = sub.add_parser("scd2-apply")
    s2.add_argument("--dimDir", default="",
                    help="current SCD2 dimension parquet (absent = first load)")
    s2.add_argument("--updatesParquet", required=True)
    s2.add_argument("--outDir", default="",
                    help="where the new dimension lands (or use --inPlace)")
    s2.add_argument("--keyCols", required=True, help="comma list")
    s2.add_argument("--attrCols", required=True, help="comma list")
    s2.add_argument("--tsCol", default="ts")
    s2.add_argument("--inPlace", action="store_true",
                    help="publish over --dimDir via the rename-aside swap")
    s2.set_defaults(fn=cmd_scd2_apply)

    scb = sub.add_parser("score-calibrate")
    scb.add_argument("--inParquet", required=True)
    scb.add_argument("--outDir", required=True)
    scb.add_argument("--idCol", default="doc_id")
    scb.add_argument("--scoreCol", required=True)
    scb.add_argument("--buckets", type=int, default=0,
                     help="also attach an exact ntile bucket column "
                          "(0 = percent-rank only)")
    scb.add_argument("--by", default="",
                     help="comma list of group columns: bucket WITHIN "
                          "each group instead of globally")
    scb.add_argument("--deriveQuality", action="store_true",
                     help="compute quality_score from --textCol first "
                          "(for score-less corpora like the staged "
                          "clean-corpus output)")
    scb.add_argument("--textCol", default="text")
    scb.set_defaults(fn=cmd_score_calibrate)

    ue = sub.add_parser("upsample-epochs")
    ue.add_argument("--inParquet", required=True)
    ue.add_argument("--outDir", required=True)
    ue.add_argument("--idCol", default="doc_id")
    ue.add_argument("--sizeCol", default="n_chars")
    ue.add_argument("--groupCol", default="source")
    ue.add_argument("--budget", type=int, required=True,
                    help="global size budget in --sizeCol units, split "
                         "equally across groups")
    ue.add_argument("--maxEpochs", type=int, default=4)
    ue.add_argument("--seed", type=int, default=0)
    ue.set_defaults(fn=cmd_upsample_epochs)

    ed = sub.add_parser("edit-dedup")
    ed.add_argument("--inParquet", required=True)
    ed.add_argument("--outDir", required=True)
    ed.add_argument("--idCol", default="doc_id")
    ed.add_argument("--textCol", default="text")
    ed.add_argument("--maxDist", type=int, default=5)
    ed.add_argument("--qgram", type=int, default=4)
    ed.add_argument("--stopGramMinDf", type=int, default=None)
    ed.set_defaults(fn=cmd_edit_dedup)

    ec = sub.add_parser("encode-corpus")
    ec.add_argument("--inParquet", required=True)
    ec.add_argument("--mergesTxt", required=True)
    ec.add_argument("--outDir", required=True)
    ec.add_argument("--idCol", default="doc_id")
    ec.add_argument("--textCol", default="text")
    ec.add_argument("--vocabParquet", default=None)
    ec.set_defaults(fn=cmd_encode_corpus)

    bsi = sub.add_parser("build-search-index")
    bsi.add_argument("--inParquet", required=True)
    bsi.add_argument("--indexDir", required=True)
    bsi.add_argument("--idCol", default="doc_id")
    bsi.add_argument("--textCol", default="text")
    bsi.add_argument("--qgram", type=int, default=None)  # build default: 3
    bsi.add_argument("--postingFiles", type=int, default=None)  # one per core
    bsi.add_argument("--foldCase", action="store_true")
    bsi.add_argument("--append", action="store_true")
    bsi.set_defaults(fn=cmd_build_search_index)

    rw = sub.add_parser("read-wet")
    rw.add_argument("--inDir", required=True)
    rw.add_argument("--outDir", required=True)
    rw.add_argument("--quarantineDir", default="")
    rw.set_defaults(fn=cmd_read_wet)

    aud = sub.add_parser("audio-dedup")
    aud.add_argument("--inParquet", required=True)
    aud.add_argument("--outDir", required=True)
    aud.add_argument("--idCol", default="doc_id")
    aud.add_argument("--payloadCol", default="payload")
    aud.add_argument("--maxHamming", type=int, default=6)
    aud.add_argument("--bandBits", type=int, default=8)
    aud.set_defaults(fn=cmd_media_dedup)

    vid = sub.add_parser("video-dedup")
    vid.add_argument("--inParquet", required=True)
    vid.add_argument("--outDir", required=True)
    vid.add_argument("--idCol", default="doc_id")
    vid.add_argument("--payloadCol", default="payload")
    vid.add_argument("--maxHamming", type=int, default=6)
    vid.add_argument("--bandBits", type=int, default=8)
    vid.add_argument("--minSim", type=float, default=0.5)
    vid.add_argument("--frameStride", type=int, default=1)
    vid.set_defaults(fn=cmd_media_dedup)

    rh = sub.add_parser("rank-hosts")
    rh.add_argument("--inDir", default="",
                    help="WARC response archive glob (.warc/.warc.gz)")
    rh.add_argument("--inParquet", default="",
                    help="alternatively: a staged (url, html) parquet")
    rh.add_argument("--outDir", required=True)
    rh.add_argument("--urlCol", default="url")
    rh.add_argument("--htmlCol", default="html")
    rh.add_argument("--damping", type=float, default=0.85)
    rh.add_argument("--iterations", type=int, default=12)
    rh.set_defaults(fn=cmd_rank_hosts)

    qr = sub.add_parser("qc-report")
    qr.add_argument("--inParquet", required=True)
    qr.add_argument("--outDir", required=True)
    qr.add_argument("--idCol", default="doc_id")
    qr.add_argument("--textCol", default="text")
    qr.add_argument("--sourceCol", default="source")
    qr.add_argument("--sizeCol", default="n_chars")
    qr.add_argument("--langCol", default="lang")
    qr.add_argument("--nShards", type=int, default=64)
    qr.add_argument("--eventsParquet", default=None,
                    help="optional events parquet; adds the daily "
                         "user-growth signal")
    qr.add_argument("--userCol", default="user_id")
    qr.add_argument("--tsCol", default="ts")
    qr.set_defaults(fn=cmd_qc_report)

    rb = sub.add_parser("rollup-build")
    rb.add_argument("--rollupDir", required=True)
    rb.add_argument("--inParquet", required=True)
    rb.add_argument("--keys", required=True,
                    help="comma-separated group-key columns")
    rb.add_argument("--measures", required=True,
                    help="comma-separated name:agg[:col] entries, agg in "
                         "count/countnn/sum/sum6/min/max/hll")
    rb.add_argument("--derive", action="append", default=[],
                    help="repeatable name=SQL_EXPR column derivations "
                         "applied before keying/measuring (e.g. "
                         "n_chars=length(text))")
    rb.set_defaults(fn=cmd_rollup)

    ra = sub.add_parser("rollup-append")
    ra.add_argument("--rollupDir", required=True)
    ra.add_argument("--inParquet", required=True)
    ra.add_argument("--batchId", required=True,
                    help="distinct per ingest delta (e.g. the date); "
                         "reusing an id REPLACES that batch")
    ra.set_defaults(fn=cmd_rollup)

    rs = sub.add_parser("rollup-serve")
    rs.add_argument("--rollupDir", required=True)
    rs.add_argument("--outDir", required=True)
    rs.add_argument("--keys", default="", help="optional coarser key subset")
    rs.add_argument("--avg6", default="",
                    help="comma-separated out:sum6_name:count_name derived "
                         "exact means")
    rs.add_argument("--compact", action="store_true",
                    help="refold all batch partitions first")
    rs.set_defaults(fn=cmd_rollup)

    bb = sub.add_parser("bloom-build")
    bb.add_argument("--keysParquet", required=True)
    bb.add_argument("--keyCol", required=True)
    bb.add_argument("--bloomDir", required=True)
    bb.add_argument("--mBits", type=int, default=1 << 20)
    bb.add_argument("--k", type=int, default=7)
    bb.set_defaults(fn=cmd_bloom)

    bap = sub.add_parser("bloom-append")
    bap.add_argument("--keysParquet", required=True)
    bap.add_argument("--keyCol", required=True)
    bap.add_argument("--bloomDir", required=True)
    bap.set_defaults(fn=cmd_bloom)

    bg = sub.add_parser("bloom-gate")
    bg.add_argument("--inParquet", required=True)
    bg.add_argument("--keyCol", required=True)
    bg.add_argument("--bloomDir", required=True)
    bg.add_argument("--outDir", required=True)
    bg.add_argument("--emit", choices=("clean", "flags"), default="clean")
    bg.set_defaults(fn=cmd_bloom)

    hi = sub.add_parser("hh-ingest")
    hi.add_argument("--inParquet", required=True)
    hi.add_argument("--termCol", required=True)
    hi.add_argument("--stateDir", required=True)
    hi.add_argument("--batchId", required=True)
    hi.add_argument("--k", type=int, default=50)
    hi.add_argument(
        "--streamed",
        action="store_true",
        help="O(k)-state pass for oversized batches (replay then holds at"
        " bounds level, not value-identity)",
    )
    hi.set_defaults(fn=cmd_heavy_hitters)

    hs = sub.add_parser("hh-serve")
    hs.add_argument("--stateDir", required=True)
    hs.add_argument("--outDir", required=True)
    hs.add_argument("--k", type=int, default=50)
    hs.set_defaults(fn=cmd_heavy_hitters)

    ab = sub.add_parser("ann-index-build")
    ab.add_argument("--inParquet", required=True)
    ab.add_argument("--indexDir", required=True)
    ab.add_argument("--idCol", default="vec_id")
    ab.add_argument("--vecCol", default="embedding")
    ab.add_argument("--lists", type=int, default=16)
    ab.add_argument("--iters", type=int, default=3)
    ab.add_argument("--seed", type=int, default=0)
    ab.set_defaults(fn=cmd_ann_index)

    aa = sub.add_parser("ann-index-append")
    aa.add_argument("--inParquet", required=True)
    aa.add_argument("--indexDir", required=True)
    aa.add_argument("--idCol", default="vec_id")
    aa.add_argument("--vecCol", default="embedding")
    aa.add_argument("--batchId", required=True)
    aa.set_defaults(fn=cmd_ann_index)

    asr = sub.add_parser("ann-search")
    asr.add_argument("--indexDir", required=True)
    asr.add_argument("--probesParquet", required=True)
    asr.add_argument("--outDir", required=True)
    asr.add_argument("--idCol", default="vec_id")
    asr.add_argument("--vecCol", default="embedding")
    asr.add_argument("--nprobe", type=int, default=2)
    asr.add_argument("--topK", type=int, default=5)
    asr.set_defaults(fn=cmd_ann_index)

    dr = sub.add_parser("delete-rows")
    dr.add_argument("--lakeDir", required=True)
    dr.add_argument("--keysParquet", required=True,
                    help="Parquet of deletion keys; include partition cols to prune")
    dr.add_argument("--keyCols", required=True, help="comma-separated key columns")
    dr.add_argument("--partitionCols", default="DataSource,year,month")
    dr.set_defaults(fn=cmd_delete_rows)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
