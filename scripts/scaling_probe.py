"""Empirical scaling curves for the headline training-data operators.

SCALE.md's contracts ("one map-combined shuffle", "vocabulary-bounded, not
corpus-bounded", "candidates only, never all-pairs") are plan-level claims;
this probe measures them. It builds x1/x2/x4/x8 copies of the sf0.1
documents/embeddings tables (doc ids offset per copy so every row is
distinct — this measures CORPUS scaling, not duplicate collapse) and times
each operator end-to-end. A near-linear (or flat) wall-clock curve across
8x is the local evidence that the shape survives the next 100x on a real
cluster, where the same shuffles spread over executors instead of cores.

Usage: python scripts/scaling_probe.py [sf_dir] [factors...] [--ops a,b]
``--ops`` limits the run to the named operators (table builds still run).
Prints one JSON line per (operator, factor) plus a summary table.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F


def _scaled(spark, src, id_col, factor, out, text_col=None):
    """x-factor copies with distinct ids AND (for text) per-copy tokens
    interleaved between every pair of words, so no shingle survives across
    copies — the curve measures CORPUS growth, not duplicate collapse (a
    verbatim-duplicated corpus legitimately produces quadratically more
    near-dup pairs, which is output growth, not operator cost)."""
    base = spark.read.parquet(src)
    n = base.count()
    copies = []
    for i in range(factor):
        c = base.withColumn(id_col, F.col(id_col) + F.lit(i * 10_000_000))
        if text_col is not None and i > 0:
            # suffix every word with a per-copy tag: copy i's vocabulary is
            # disjoint from copy j's, so each copy reproduces the ORIGINAL
            # corpus's near-dup structure under renaming — output (and
            # candidate pairs) grow linearly with the factor, as corpus
            # growth should. (Inserting one shared token between words
            # instead creates a boilerplate bomb: every doc in the copy
            # shares the tag-word-tag shingles — see the stress stage.)
            c = c.withColumn(
                text_col,
                F.regexp_replace(F.col(text_col), r"(\S+)", f"$1v{i}q"),
            )
        copies.append(c)
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    df.write.mode("overwrite").parquet(out)
    return n * factor


def main() -> None:
    args = sys.argv[1:]
    only_ops: set[str] | None = None
    if "--ops" in args:
        i = args.index("--ops")
        only_ops = set(args[i + 1].split(","))
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    factors = [int(x) for x in args[1:]] or [1, 2, 4, 8]

    from chess_lakehouse_spark.session import FrameScope, get_spark

    spark = get_spark()  # the product session: 8g driver, AQE, Arrow
    from chess_lakehouse_spark.functions.bpe import bpe_train
    from chess_lakehouse_spark.functions.text import bm25_topk, gopher_rules
    from chess_lakehouse_spark.operators.dedup import (
        duplicate_span_dedup,
        exact_dedup_groups,
        minhash_lsh_dedup,
        paragraph_dedup,
    )
    from chess_lakehouse_spark.operators.sampling import (
        dsir_topk,
        mixture_fit,
        shard_assignments,
    )
    from chess_lakehouse_spark.functions.urls import host_cap, url_dedup_groups
    from chess_lakehouse_spark.operators.sketches import content_sketches
    from chess_lakehouse_spark.operators.similarity import knn_ivf
    from chess_lakehouse_spark.suite.llm import _synth_url_col

    tmp = tempfile.mkdtemp(prefix="scaling_probe_")
    results: dict[str, dict[int, float]] = {}

    def probe(name, factor, thunk):
        if only_ops is not None and name not in only_ops:
            return
        best = None
        for _ in range(2):
            t0 = time.time()
            thunk()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        results.setdefault(name, {})[factor] = round(best, 2)
        print(json.dumps({"op": name, "factor": factor, "sec": round(best, 2)}), flush=True)

    for factor in factors:
        docs_path = f"{tmp}/docs_x{factor}"
        emb_path = f"{tmp}/emb_x{factor}"
        n_docs = _scaled(
            spark, f"{sf_dir}/documents.parquet", "doc_id", factor, docs_path,
            text_col="text",
        )
        _scaled(spark, f"{sf_dir}/embeddings.parquet", "vec_id", factor, emb_path)
        docs = spark.read.parquet(docs_path)
        emb = spark.read.parquet(emb_path)
        probes = emb.where(F.col("vec_id") < 10)
        print(json.dumps({"factor": factor, "n_docs": n_docs}), flush=True)

        probe("dedup_exact", factor, lambda: exact_dedup_groups(docs, "doc_id", "text").count())
        probe(
            "dedup_minhash_lsh", factor,
            lambda: minhash_lsh_dedup(docs, "doc_id", "text", band_size=2).count(),
        )
        probe(
            "paragraph_dedup", factor,
            lambda: paragraph_dedup(docs, "doc_id", "text", sep="value").count(),
        )
        probe(
            "bm25_topk", factor,
            lambda: bm25_topk(docs, "doc_id", "text", "join hash vector customer", k=50).count(),
        )
        probe(
            "dsir_topk", factor,
            lambda: dsir_topk(
                docs.where(F.col("doc_id") % 10 != 0),
                docs.where(F.col("doc_id") % 10 == 0),
                "doc_id", "text", k=100, n_buckets=256,
            ).count(),
        )
        probe(
            "shard_assignments", factor,
            lambda: shard_assignments(docs.select("doc_id"), "doc_id", 16).count(),
        )
        probe("bpe_train", factor, lambda: bpe_train(docs, "text", n_merges=4))
        probe(
            "knn_ivf", factor,
            lambda: knn_ivf(emb, probes, "vec_id", "embedding", k=5).count(),
        )
        probe(
            "dedup_span", factor,
            lambda: duplicate_span_dedup(docs, "doc_id", "text", k=3).count(),
        )
        probe(
            "gopher_rules", factor,
            lambda: gopher_rules(docs, "doc_id", "text").count(),
        )
        probe(
            "content_sketches", factor,
            lambda: content_sketches(docs, ["source"], "text").count(),
        )
        probe(
            "mixture_fit", factor,
            lambda: mixture_fit(
                docs,
                docs.where(F.col("doc_id") % 10 == 0),
                "source", "text", n_buckets=256,
            ),
        )
        # URL passes over a synthesized messy URL per doc (the suite's
        # gated grammar): dedup is one map-combined shuffle on the
        # canonical key; host_cap is one window shuffle over 7 hosts —
        # deliberately FEW groups, so this curve also measures how the
        # rank-per-group shape degrades under group skew.
        docs_url = docs.withColumn("url", _synth_url_col())
        probe(
            "url_dedup", factor,
            lambda: url_dedup_groups(docs_url, "doc_id", "url").count(),
        )
        probe(
            "url_host_cap", factor,
            lambda: host_cap(docs_url, "doc_id", "url", n=40).count(),
        )
        # staged-serving paths: the curve of interest is SERVE cost as the
        # staged corpus grows x1..x8 while the query batch stays fixed —
        # near-flat serve = the stage-once/serve-many contract holds.
        if only_ops is None or {"bm25_serve", "lm_serve"} & only_ops:
            from chess_lakehouse_spark.functions.text import (
                bm25_from_index,
                build_bm25_index,
                build_lm,
                lm_score_from,
            )

            bm25_queries = spark.createDataFrame(
                [(i, "join hash vector customer table scan") for i in range(20)],
                "qid long, qtext string",
            )
            build_bm25_index(docs, "doc_id", "text", f"{tmp}/bm25_x{factor}")
            probe(
                "bm25_serve", factor,
                lambda: bm25_from_index(
                    spark, f"{tmp}/bm25_x{factor}", bm25_queries, "qid", "qtext", k=10
                ).count(),
            )
            build_lm(docs, "text", f"{tmp}/lm_x{factor}")
            lm_batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
            probe(
                "lm_serve", factor,
                lambda: lm_score_from(
                    spark, f"{tmp}/lm_x{factor}", lm_batch, "doc_id", "text"
                ).count(),
            )
        if only_ops is None or {"strip_html", "pii_counts"} & only_ops:
            from chess_lakehouse_spark.functions.text import pii_counts, strip_html

            probe(
                "strip_html", factor,
                lambda: docs.select(
                    strip_html(F.col("text")).alias("t")
                ).agg(F.sum(F.length("t"))).collect(),
            )
            probe(
                "pii_counts", factor,
                lambda: pii_counts(docs, "doc_id", "text").agg(
                    F.sum("redacted_len")
                ).collect(),
            )
        if only_ops is None or {"classifier_train", "pack_bfd"} & only_ops:
            from chess_lakehouse_spark.functions.text import gopher_passes
            from chess_lakehouse_spark.operators.classify import (
                train_quality_classifier,
            )
            from chess_lakehouse_spark.operators.sampling import pack_bins_bfd

            labeled = docs.withColumn(
                "label", gopher_passes(F.col("text"), min_words=30,
                                       min_stop_hits=1).cast("int")
            )
            probe(
                "classifier_train", factor,
                lambda: train_quality_classifier(
                    labeled, "doc_id", "text", "label", max_iter=20
                ),
            )
            with_len = docs.withColumn(
                "n_tokens",
                F.size(F.split(F.col("text"), r"[ \t\n\r\f\x0B]+")),
            )
            probe(
                "pack_bfd", factor,
                lambda: pack_bins_bfd(
                    with_len, "doc_id", "n_tokens", budget=512, n_shards=64
                ).count(),
            )

        if only_ops is None or {"classifier_serve", "span_stream_batch"} & only_ops:
            from chess_lakehouse_spark.operators.classify import (
                score_quality_classifier,
            )
            from chess_lakehouse_spark.operators.dedup import span_shingle_hashes
            from chess_lakehouse_spark.streaming import span_dedup_batch
            from chess_lakehouse_spark.suite.llm import CLASSIFIER_MODEL

            # learned-gate SERVING path (r9 gated query): pure column
            # sigmoid over the shared Gopher metrics — should ride the
            # scan linearly like gopher_rules
            probe(
                "classifier_serve", factor,
                lambda: score_quality_classifier(
                    docs, "doc_id", "text", CLASSIFIER_MODEL
                ).agg(F.sum("keep_prob")).collect(),
            )
            # streaming span-dedup batch: FIXED batch against a staged
            # hash table growing x1..x8 — the curve of interest is
            # per-batch cost vs staged-corpus size (the keyed hash join
            # against the staged table is the only corpus-sized term).
            # Rep 2 exercises the replay guard (same batch_id).
            spans_dir = f"{tmp}/spans_x{factor}"
            (
                span_shingle_hashes(docs, "doc_id", "text", k=3)
                .select("h").distinct()
                .write.mode("overwrite").parquet(f"{spans_dir}/batch_id=0")
            )
            span_batch = spark.read.parquet(
                f"{sf_dir}/documents.parquet"
            ).withColumn("doc_id", F.col("doc_id") + F.lit(990_000_000))
            probe(
                "span_stream_batch", factor,
                lambda: span_dedup_batch(
                    span_batch, 1, spans_dir, f"{tmp}/span_out_x{factor}", k=3
                ),
            )

        if only_ops is None or {"encode_ids"} & only_ops:
            # token-id export: tokenize (whitespace — the BPE apply cost
            # is measured separately via bpe_train's class), mint the
            # vocab, encode the x-factor corpus; the per-copy renamed
            # vocabulary grows linearly, the doc-keyed reassembly is
            # output-sized
            from chess_lakehouse_spark.functions.bpe import (
                build_token_vocab,
                encode_token_ids,
            )
            from chess_lakehouse_spark.operators.dedup import tokens as _tokens

            tok_df = docs.select(
                "doc_id", _tokens(F.col("text")).alias("tokens")
            )
            probe(
                "encode_ids", factor,
                lambda: encode_token_ids(
                    tok_df, "doc_id", build_token_vocab(tok_df)
                ).agg(F.sum("n_tokens")).collect(),
            )

        if only_ops is None or {"substr_serve"} & only_ops:
            from chess_lakehouse_spark.functions.text import (
                build_substring_index,
                substring_search_from_index,
            )

            # staged substring search: FIXED 20-query batch against an
            # x-factor index — serve cost should track matching postings
            # (grams of the query batch), not the corpus; the per-copy
            # word renaming keeps original-vocabulary grams present in
            # every copy, so matching postings DO grow linearly and the
            # honest expectation is sub-linear-to-linear, never corpus-
            # rescan behavior
            sidx = f"{tmp}/subidx_x{factor}"
            build_substring_index(docs, "doc_id", "text", sidx, q=3)
            sub_queries = (
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .where(F.col("doc_id") % 250 == 0)
                .select(
                    F.col("doc_id").alias("qid"),
                    F.substring("text", 21, 12).alias("qt"),
                )
            )
            probe(
                "substr_serve", factor,
                lambda: substring_search_from_index(
                    spark, sidx, docs, "doc_id", "text",
                    sub_queries, "qid", "qt",
                ).count(),
            )

        if only_ops is None or {
            "edit_pairs", "cms_build_est", "edit_stream_batch"
        } & only_ops:
            from chess_lakehouse_spark.operators.dedup import (
                edit_distance_pairs,
                tokens,
            )
            from chess_lakehouse_spark.operators.sketches import (
                CmsSpec,
                cms_build,
                cms_estimate,
            )

            # edit-distance join over the short-doc slice (the gated
            # scope class; the per-copy word-suffix renaming lengthens
            # copies, so the cap is raised to keep the slice growing with
            # the factor) — gram-keyed count filter + bucket path, hot
            # grams absorbed by the lossless stop-gram knob
            shortdocs = docs.where(F.length("text") <= 250)
            probe(
                "edit_pairs", factor,
                lambda: edit_distance_pairs(
                    shortdocs, "doc_id", "text", 10, stop_gram_min_df=50
                ).count(),
            )
            # CMS build is ONE map-combined pass over the x-factor
            # occurrence stream (state stays depth x width); estimates
            # probe a FIXED base-corpus vocabulary against the growing
            # sketch — the build pass is the only corpus-sized term
            cspec = CmsSpec(depth=4, width=1024, seed="probe")
            occ = docs.select(
                F.explode(tokens(F.col("text"))).alias("term")
            ).where(F.col("term") != "")
            fixed_probes = (
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select(F.explode(tokens(F.col("text"))).alias("term"))
                .where(F.col("term") != "")
                .distinct()
            )
            probe(
                "cms_build_est", factor,
                lambda: cms_estimate(
                    cms_build(occ, "term", cspec), fixed_probes, "term", cspec
                ).count(),
            )
            # streaming edit-dedup per-batch shape: FIXED batch against an
            # x-factor STAGED q-gram signature table — cost should track
            # the batch's matching staged grams (which grow with shared
            # character 4-grams across renamed copies), never re-gram the
            # corpus; corpus text joins only for candidates
            from chess_lakehouse_spark.operators.dedup import (
                edit_signatures,
                incremental_edit_dups,
            )

            esigs_dir = f"{tmp}/editsigs_x{factor}"
            sigs_once = edit_signatures(shortdocs, "doc_id", "text")
            sigs_once.write.mode("overwrite").parquet(esigs_dir)
            # the staged gram-df companion (what the streaming loop folds
            # per batch via gdf_dir): with it, the hot-set derivation is
            # O(vocab) instead of a pass over the whole staged gram table
            egdf_dir = f"{tmp}/editgdf_x{factor}"
            (
                spark.read.parquet(esigs_dir)
                .where(F.col("pos").isNotNull())
                .select("id", "gram").distinct()
                .groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
                .write.mode("overwrite").parquet(egdf_dir)
            )
            edit_batch = (
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .where(F.length("text") <= 250)
                .withColumn("doc_id", F.col("doc_id") + F.lit(990_000_000))
            )
            probe(
                "edit_stream_batch", factor,
                lambda: incremental_edit_dups(
                    edit_batch,
                    spark.read.parquet(esigs_dir),
                    shortdocs,
                    "doc_id", "text", max_dist=10, stop_gram_min_df=50,
                    corpus_gram_df=spark.read.parquet(egdf_dir),
                ).count(),
            )

        if only_ops is None or {
            "hashed_serve", "hashed_train", "semantic_contam",
            "hamming_pairs64", "hamming_pairs64_b16", "audio_fp_pairs",
        } & only_ops:
            from chess_lakehouse_spark.operators.classify import (
                hashed_classifier_margins,
                hashed_weights_from_tokens,
                train_hashed_classifier,
            )
            from chess_lakehouse_spark.operators.similarity import (
                semantic_contamination,
            )
            from chess_lakehouse_spark.suite.llm import (
                HASHED_MODEL_BUCKETS,
                HASHED_MODEL_TOKENS,
                SEM_CONTAM_BANDS,
            )

            # hashed-ngram gate SERVING: explode -> md5 bucket -> weight
            # join (AQE broadcast) -> one map-combined doc sum — should
            # ride the scan linearly like gopher_rules/classifier_serve
            hw = hashed_weights_from_tokens(
                spark, HASHED_MODEL_TOKENS, HASHED_MODEL_BUCKETS
            )
            probe(
                "hashed_serve", factor,
                lambda: hashed_classifier_margins(
                    docs, "doc_id", "text", hw, -0.04, HASHED_MODEL_BUCKETS
                ).agg(F.sum("margin")).collect(),
            )
            # hashed-ngram gate TRAINING: 3 GD iterations over the scaled
            # corpus — linear-per-pass by construction (the honest caveat
            # shared with classifier_train); weight-side joins stay small
            probe(
                "hashed_train", factor,
                lambda: train_hashed_classifier(
                    docs.withColumn("label", (F.col("doc_id") % 2 == 0).cast("int")),
                    "doc_id", "text", "label",
                    n_buckets=HASHED_MODEL_BUCKETS, lr=2.0, iters=3,
                ),
            )
            # semantic decontamination: FIXED eval slice (from the base
            # table) vs a corpus growing x1..x8 — banded candidate pairs
            # and the cosine re-check both grow linearly with the corpus;
            # the eval side stays broadcast-sized
            eval_fixed = spark.read.parquet(
                f"{sf_dir}/embeddings.parquet"
            ).where(F.col("vec_id") % 20 == 0)
            probe(
                "semantic_contam", factor,
                lambda: semantic_contamination(
                    emb, eval_fixed, "vec_id", "embedding", 0.35,
                    plane_sets=SEM_CONTAM_BANDS,
                ).count(),
            )
            # 64-bit byte-banded hamming join (the phash_near_pairs /
            # simhash shared machinery): signatures synthesized from the
            # text md5 (near-uniform bits — the no-clusters worst case
            # for band-bucket balance); measures the 8-band self-join's
            # growth, the only shuffle-bearing stage of image near-dup
            # (the Arrow hash stage itself is narrow and linear)
            from chess_lakehouse_spark.operators.dedup import (
                hamming_near_pairs,
                md5_hash64,
            )

            probe(
                "hamming_pairs64", factor,
                lambda: hamming_near_pairs(
                    docs.select("doc_id", md5_hash64(F.col("text")).alias("phash")),
                    "doc_id", "phash", n_bits=64, max_hamming=7,
                ).count(),
            )
            # the 16-bit-band variant: 256x fewer random band collisions
            # (the band_bits cost/recall knob — guaranteed recall shrinks
            # to radius <= 3, verified beyond); this is the 100 TB setting
            probe(
                "hamming_pairs64_b16", factor,
                lambda: hamming_near_pairs(
                    docs.select("doc_id", md5_hash64(F.col("text")).alias("phash")),
                    "doc_id", "phash", n_bits=64, max_hamming=3, band_bits=16,
                ).count(),
            )
            # audio end-to-end: text bytes re-encoded as PCM16 WAV (valid
            # payloads, text-random samples — near-uniform fingerprints,
            # the no-clusters worst case again), then decode + energy
            # fingerprint (narrow Arrow stages) + the 16-bit-band join
            from chess_lakehouse_spark.operators.audio import (
                audio_near_pairs,
                encode_wav_pcm16,
            )

            def _wav_payloads(d):
                import numpy as np
                import pandas as pd

                def _mk(batches):
                    for pdf in batches:
                        payloads = []
                        for t in pdf["text"]:
                            b = t.encode()[:4000]
                            b = b + b"\x00" * (len(b) & 1)
                            arr = np.frombuffer(b, dtype="<i2")
                            payloads.append(encode_wav_pcm16(arr, 8000))
                        yield pd.DataFrame(
                            {"doc_id": pdf["doc_id"], "payload": payloads}
                        )

                return d.select("doc_id", "text").mapInPandas(
                    _mk, "doc_id long, payload binary"
                )

            probe(
                "audio_fp_pairs", factor,
                lambda: audio_near_pairs(
                    _wav_payloads(docs), max_hamming=3, band_bits=16
                ).count(),
            )

        if only_ops is None or {
            "warc_wet_parse",
            "rollup_build", "rollup_append_fixed_delta", "rollup_serve",
        } & only_ops:
            # WARC/WET source: x-factor ARCHIVE FILES (the unit of
            # parallelism) at a constant ~record count per file — the
            # CommonCrawl shape, where a crawl grows by adding segments
            import gzip as _gzip

            warc_dir = Path(tmp) / f"warc_x{factor}"
            warc_dir.mkdir(exist_ok=True)
            texts = [
                r.text[:2000]
                for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("text")
                .collect()
            ]
            n_files = 8 * factor
            rec_per_file = max(1, len(texts) // 8)  # constant per file:
            # total records = factor * len(texts), files = 8 * factor
            for fi in range(n_files):
                recs = []
                for ri in range(rec_per_file):
                    t = texts[(fi + ri * n_files) % len(texts)]
                    body = t.encode()
                    head = (
                        "WARC/1.0\r\nWARC-Type: conversion\r\n"
                        f"WARC-Target-URI: http://d{fi}-{ri}.example/p\r\n"
                        f"WARC-Record-ID: <urn:uuid:{fi}-{ri}>\r\n"
                        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
                        "Content-Type: text/plain\r\n"
                        f"Content-Length: {len(body)}\r\n\r\n"
                    )
                    recs.append(
                        _gzip.compress(head.encode() + body + b"\r\n\r\n")
                    )
                (warc_dir / f"seg{fi:05d}.wet.gz").write_bytes(b"".join(recs))

            from chess_lakehouse_spark.sources.warc import (
                read_warc,
                wet_documents,
            )

            probe(
                "warc_wet_parse", factor,
                lambda: wet_documents(
                    read_warc(spark, f"{warc_dir}/*.wet.gz", ("conversion",))
                ).count(),
            )

            # incremental materialized rollup: build is the one
            # corpus-sized pass; the FIXED-delta append and the serve must
            # stay FLAT as the staged corpus grows (O(delta) fold with
            # zero staged-byte access; |groups|-sized serve)
            from chess_lakehouse_spark.operators.rollup import (
                append_rollup,
                build_rollup,
                serve_rollup,
            )

            rdir = f"{tmp}/rollup_x{factor}"
            r_measures = [
                ("n", "count", None),
                ("nn", "countnn", "n_chars"),
                ("s6", "sum6", "n_chars"),
                ("mn", "min", "n_chars"),
                ("mx", "max", "n_chars"),
            ]
            probe(
                "rollup_build", factor,
                lambda: build_rollup(docs, ["source", "lang"], r_measures, rdir),
            )
            r_delta = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
                "doc_id", F.col("doc_id") + F.lit(980_000_000)
            )
            # rep 2 of min-of-2 re-folds the same batch_id — exercising the
            # replay-idempotency path at probe scale
            probe(
                "rollup_append_fixed_delta", factor,
                lambda: append_rollup(r_delta, rdir, "d1"),
            )
            probe(
                "rollup_serve", factor,
                lambda: serve_rollup(
                    spark, rdir, avg6=[("avg", "s6", "nn")]
                ).count(),
            )

        if only_ops is None or {"corpus_overlap"} & only_ops:
            # corpus-grain overlap audit: the x-factor copies keep their
            # original source labels but carry per-copy-tagged vocab, so
            # the distinct (group, shingle) table grows linearly while
            # |groups| stays fixed — the intended usage shape
            from chess_lakehouse_spark.operators.dedup import (
                corpus_overlap_matrix,
            )

            # .count() would let Catalyst PRUNE the shared-shingle
            # self-join (a left join preserves left row count) — sum the
            # join outputs instead so the measured plan is the real one
            probe(
                "corpus_overlap", factor,
                lambda: corpus_overlap_matrix(docs, "source", "text", k=3)
                .agg(F.sum("shared"), F.sum("n1"))
                .collect(),
            )

        if only_ops is None or {
            "funnel_3step", "gapfill_hourly", "session_pairs", "event_transitions"
        } & only_ops:
            # event-table operators: x-factor copies of events with
            # distinct users AND time-shifted rows (i * 1h) so the funnel
            # user population, the gap-fill grid, and the session
            # population all grow with the factor
            from chess_lakehouse_spark.operators.relational import (
                funnel,
                gapfill_series,
                session_cooccurrence,
            )
            from chess_lakehouse_spark.operators.rollup import time_bucket

            ev_base = spark.read.parquet(f"{sf_dir}/events.parquet")
            ts_type = dict(ev_base.dtypes).get("ts")
            if ts_type == "bigint":
                ev_base = ev_base.withColumn(
                    "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
                )
            elif ts_type == "timestamp_ntz":
                ev_base = ev_base.withColumn("ts", F.col("ts").cast("timestamp"))
            copies = []
            for i in range(factor):
                copies.append(
                    ev_base.withColumn(
                        "user_id", F.col("user_id") + F.lit(i * 10_000_000)
                    ).withColumn(
                        "ts",
                        F.timestamp_micros(
                            F.unix_micros("ts") + F.lit(i * 3_600_000_000)
                        ),
                    )
                )
            ev = copies[0]
            for c in copies[1:]:
                ev = ev.unionByName(c)
            ev.write.mode("overwrite").parquet(f"{tmp}/events_x{factor}")
            ev = spark.read.parquet(f"{tmp}/events_x{factor}")

            probe(
                "funnel_3step", factor,
                lambda: funnel(
                    ev, "user_id", "event_type", "ts",
                    ["view", "click", "purchase"], within_seconds=86_400,
                ).count(),
            )
            hourly = ev.withColumn("bk", time_bucket(F.col("ts"), 3600)).groupBy(
                "event_type", "bk"
            ).agg(F.count(F.lit(1)).alias("n"))
            holes = hourly.where((F.expr("bk DIV 3600") % 3) != 0)
            probe(
                "gapfill_hourly", factor,
                lambda: gapfill_series(
                    holes, "event_type", "bk", ["n"], 3600
                ).count(),
            )
            # session co-occurrence: sessions grow with the factor while
            # the TYPE vocabulary (and so the pair table) stays fixed —
            # one window pass + array-domain pair expansion bounded by
            # types-per-session, never event count
            probe(
                "session_pairs", factor,
                lambda: session_cooccurrence(
                    ev, "user_id", "ts", "event_id", "event_type"
                ).count(),
            )
            from chess_lakehouse_spark.operators.relational import (
                event_transitions,
            )

            probe(
                "event_transitions", factor,
                lambda: event_transitions(
                    ev, "user_id", "ts", "event_id", "event_type"
                ).count(),
            )

        if only_ops is None or {
            "bloom_build", "bloom_gate_serve", "exact_quantiles",
            "score_buckets_exact", "ivf_append_fixed_delta",
        } & only_ops:
            from chess_lakehouse_spark.operators.bloom import (
                bloom_might_contain,
                build_bloom,
            )
            from chess_lakehouse_spark.operators.relational import (
                exact_quantiles,
                score_buckets,
            )
            from chess_lakehouse_spark.operators.similarity import (
                append_ivf_index,
                kmeans_fit,
                publish_ivf_index,
            )

            # bloom build: one map-combined groupBy bounded by m/63 word
            # groups — linear in keys, never corpus-rescan
            keys_x = docs.select(F.md5("text").alias("bk"))
            probe(
                "bloom_build", factor,
                lambda: build_bloom(keys_x, "bk", m_bits=1 << 20, k=7).first(),
            )
            # bloom gate SERVE: FIXED bitmap (built from the base table,
            # MATERIALIZED once — an unpersisted lazy bitmap would rebuild
            # inside every timed rep and misstate serve cost) against the
            # x-factor corpus — pure map-side column exprs, should ride
            # the scan linearly like gopher_rules
            with FrameScope() as scope:
                bloom_fixed = scope.cache(
                    build_bloom(
                        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                            F.md5("text").alias("bk")
                        ),
                        "bk", m_bits=1 << 20, k=7,
                    )
                )
                bloom_fixed.count()
                probe(
                    "bloom_gate_serve", factor,
                    lambda: bloom_might_contain(keys_x, "bk", bloom_fixed)
                    .agg(F.sum(F.col("might_contain").cast("long")))
                    .collect(),
                )

        if only_ops is not None and "bloom_table_ceiling" in only_ops:
            # the umbrella op name covers both timed sub-probes
            only_ops |= {
                "bloom_table_ceiling_build", "bloom_table_ceiling_serve",
            }
            # word-TABLE layout ABOVE the array cap, AT the INT32-widx
            # ceiling (r11 verdict task 7): m_bits = TABLE_MAX_BITS =
            # 63*2^31, so positions reach ~1.35e11 and widx reaches
            # 2^31 - 1 — the exact boundary the cast('int') must survive.
            # Sparse words (k·|keys| set bits in a 16.9 GB-range space),
            # modest key counts scaled by the x-factor: build is the one
            # map-combined word groupBy, serve is the k-position
            # join+regroup. Invariants checked in-probe: ZERO false
            # negatives (every inserted key tests true) and a sampled
            # non-key FP count of ~0 at this sparsity.
            from chess_lakehouse_spark.operators.bloom import (
                TABLE_MAX_BITS,
                bloom_might_contain_table,
                build_bloom_table,
            )

            tkeys = docs.select(
                F.col("doc_id").alias("kid"), F.md5("text").alias("bk")
            )
            table_path = f"{tmp}/bloom_table_x{factor}"

            def _ceiling_build():
                build_bloom_table(
                    tkeys, "bk", m_bits=TABLE_MAX_BITS, k=7
                ).write.mode("overwrite").parquet(table_path)

            probe("bloom_table_ceiling_build", factor, _ceiling_build)
            words = spark.read.parquet(table_path)

            def _ceiling_serve():
                hits = (
                    bloom_might_contain_table(
                        tkeys, "bk", "kid", words,
                        m_bits=TABLE_MAX_BITS, k=7,
                    )
                    .agg(F.sum(F.col("might_contain").cast("long")))
                    .first()[0]
                )
                n = tkeys.count()
                assert hits == n, (
                    f"false negatives at the widx ceiling: {hits}/{n}"
                )

            probe("bloom_table_ceiling_serve", factor, _ceiling_serve)
            neg = tkeys.select(
                "kid", F.md5(F.concat(F.lit("miss|"), "bk")).alias("bk")
            )
            fp = (
                bloom_might_contain_table(
                    neg, "bk", "kid", words, m_bits=TABLE_MAX_BITS, k=7
                )
                .agg(F.sum(F.col("might_contain").cast("long")))
                .first()[0]
            )
            print(
                json.dumps(
                    {"op": "bloom_table_ceiling_fp", "factor": factor,
                     "false_positives": int(fp)}
                ),
                flush=True,
            )

        if only_ops is None or {
            "bloom_build", "bloom_gate_serve", "exact_quantiles",
            "score_buckets_exact", "ivf_append_fixed_delta",
        } & only_ops:
            from chess_lakehouse_spark.operators.relational import (  # noqa: F811
                exact_quantiles,
                score_buckets,
            )

            # distributed sort-rank forms (r10: the exact ntile / exact
            # quantile plans with NO single-partition sort): two full-data
            # shuffles — linear growth is the contract
            scored = docs.select(
                "doc_id", F.length("text").cast("double").alias("s")
            )
            probe(
                "exact_quantiles", factor,
                lambda: exact_quantiles(scored, "s", [0.5, 0.9, 0.99]).count(),
            )
            probe(
                "score_buckets_exact", factor,
                lambda: score_buckets(scored, "doc_id", "s", 10)
                .groupBy("bucket").count().count(),
            )
            # IVF append: FIXED vector delta against an x-factor staged
            # index — O(delta) assignment from sidecar centroids + one
            # delta-sized batch write; must stay FLAT (rep 2 replays the
            # same batch_id, exercising the idempotent rewrite)
            ividx = f"{tmp}/ivfidx_x{factor}"
            iv_cents = kmeans_fit(
                spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
                "vec_id", "embedding", k=16, iters=1, seed=0,
            )
            publish_ivf_index(emb, ividx, "vec_id", "embedding", iv_cents)
            iv_delta = spark.read.parquet(
                f"{sf_dir}/embeddings.parquet"
            ).withColumn("vec_id", F.col("vec_id") + F.lit(970_000_000))
            probe(
                "ivf_append_fixed_delta", factor,
                lambda: append_ivf_index(
                    iv_delta, ividx, "vec_id", "embedding", batch_id="d1"
                ),
            )

        if only_ops is None or {
            "bloom_table_build", "bloom_table_serve", "global_percent_rank",
            "robust_zscore_by", "group_buckets_by", "pareto_frontier",
            "weighted_quantiles", "scd2_fold", "asof_nearest",
        } & only_ops:
            from chess_lakehouse_spark.operators.bloom import (
                bloom_might_contain_table,
                build_bloom_table,
            )
            from chess_lakehouse_spark.operators.relational import (
                global_percent_rank,
                pareto_frontier_2d,
                robust_zscore_flags,
                score_buckets,
                weighted_quantiles,
            )

            # word-TABLE bloom layout (r11): build is the same bounded
            # word aggregation as the array form minus the single-row
            # assembly; SERVE pays the one k-position explode + join +
            # regroup shuffle the array form avoids — measured here so
            # SCALE.md can state the crossover guidance vs
            # bloom_gate_serve (use the array form below the 2^31-bit
            # single-row cap, the table form only past it)
            keyed_x = docs.select("doc_id", F.md5("text").alias("bk"))
            probe(
                "bloom_table_build", factor,
                lambda: build_bloom_table(
                    keyed_x, "bk", m_bits=1 << 20, k=7
                ).count(),
            )
            with FrameScope() as scope:
                words_fixed = scope.cache(
                    build_bloom_table(
                        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                            F.md5("text").alias("bk")
                        ),
                        "bk", m_bits=1 << 20, k=7,
                    )
                )
                words_fixed.count()
                probe(
                    "bloom_table_serve", factor,
                    lambda: bloom_might_contain_table(
                        keyed_x, "bk", "doc_id", words_fixed,
                        m_bits=1 << 20, k=7,
                    )
                    .agg(F.sum(F.col("might_contain").cast("long")))
                    .collect(),
                )
            # r11 relational additions: percent-rank rides the same
            # two-shuffle sort-rank skeleton as exact_quantiles; the
            # by-group forms are one partitioned window / two
            # exact-median passes — linear growth is the contract
            scored_g = docs.select(
                "doc_id", "source", F.length("text").cast("double").alias("s")
            )
            probe(
                "global_percent_rank", factor,
                lambda: global_percent_rank(
                    scored_g.select("doc_id", "s"), ["s", "doc_id"]
                ).count(),
            )
            probe(
                "robust_zscore_by", factor,
                lambda: robust_zscore_flags(scored_g, "s", by=["source"])
                .agg(F.sum(F.col("is_outlier").cast("long")))
                .collect(),
            )
            probe(
                "group_buckets_by", factor,
                lambda: score_buckets(scored_g, "doc_id", "s", 4, by=["source"])
                .groupBy("bucket")
                .count()
                .count(),
            )
            # skyline: groupBy-collapse + distinct-x prefix-max +
            # frontier-sized semi-join — one map-combined shuffle on x,
            # the prefix pass on the collapsed frame only
            pareto_pts = docs.select(
                "doc_id",
                F.length("text").cast("double").alias("px"),
                (F.col("doc_id") % 997).cast("double").alias("py"),
            )
            probe(
                "pareto_frontier", factor,
                lambda: pareto_frontier_2d(pareto_pts, "px", "py").count(),
            )
            # weighted quantiles: the prefix-SUM skeleton — same
            # two-shuffle shape as global_percent_rank
            wq_pts = docs.select(
                F.length("text").cast("double").alias("wv"),
                (F.col("doc_id") % 7 + 1).cast("long").alias("ww"),
            )
            probe(
                "weighted_quantiles", factor,
                lambda: weighted_quantiles(
                    wq_pts, "wv", "ww", [0.5, 0.9, 0.99]
                ).count(),
            )
            # SCD2 fold: docs as the dimension (key = doc_id % groups),
            # the x-factor corpus as the feed — two per-key windows
            from chess_lakehouse_spark.operators.publish import scd2_apply

            scd_dim = spark.read.parquet(
                f"{sf_dir}/documents.parquet"
            ).select(
                (F.col("doc_id") % 1000).alias("k"),
                F.col("source").alias("seg"),
                F.lit(0).cast("long").alias("valid_from"),
                F.lit(None).cast("long").alias("valid_to"),
            ).groupBy("k").agg(
                F.max("seg").alias("seg"),
                F.min("valid_from").alias("valid_from"),
                F.min("valid_to").alias("valid_to"),
            )
            scd_upd = docs.select(
                (F.col("doc_id") % 1000).alias("k"),
                F.col("source").alias("seg"),
                F.col("doc_id").alias("ts"),
            )
            probe(
                "scd2_fold", factor,
                lambda: scd2_apply(
                    scd_dim, scd_upd, ["k"], ["seg"], "ts"
                ).count(),
            )
            # nearest-asof: two ordered key-window passes over the
            # x-factor left side against a FIXED right side
            from chess_lakehouse_spark.operators.relational import asof_join

            asof_left = docs.select(
                (F.col("doc_id") % 500).alias("k"),
                F.col("doc_id").alias("lid"),
                (F.col("doc_id") * 37 % 100000).cast("long").alias("t"),
            )
            asof_right = spark.read.parquet(
                f"{sf_dir}/documents.parquet"
            ).select(
                (F.col("doc_id") % 500).alias("k"),
                (F.col("doc_id") * 53 % 100000).cast("long").alias("rt"),
                F.col("n_chars").alias("p"),
            ).groupBy("k", "rt").agg(F.max("p").alias("p"))
            probe(
                "asof_nearest", factor,
                lambda: asof_join(
                    asof_left, asof_right, ["k"], "t", "rt", ["p"],
                    direction="nearest", tolerance=5000,
                ).count(),
            )

        if only_ops is None or {
            "upsample_epochs", "user_growth", "interleave_sources",
            "quantile_normalize", "length_histogram", "shard_skew",
        } & only_ops:
            from chess_lakehouse_spark.operators.relational import (
                daily_user_growth,
            )
            from chess_lakehouse_spark.operators.sampling import (
                interleave_groups,
                upsample_epochs,
            )

            # budgeted epoch upsampling: budget grows WITH the corpus so
            # per-source epochs (and thus output volume per input row)
            # stay constant — the honest end-to-end; the op itself is a
            # broadcast plan + map-side explode, expected linear
            probe(
                "upsample_epochs", factor,
                lambda: upsample_epochs(
                    docs.select("doc_id", "source", "n_chars"),
                    "doc_id", "n_chars", "source",
                    budget=400_000 * factor, max_epochs=4, seed=7,
                ).count(),
            )
            # growth accounting over synthesized activity (user/day from
            # doc_id arithmetic — x-factor events, fixed 5000-user,
            # 90-day universe): two keyed aggs + a |days| cumsum,
            # expected linear
            growth_ev = docs.select(
                (F.col("doc_id") % 5000).alias("u"),
                F.timestamp_seconds(
                    F.lit(1704067200)
                    + (F.col("doc_id") * 37 % 90) * 86400
                    + F.col("doc_id") % 86400
                ).alias("ts"),
            )
            probe(
                "user_growth", factor,
                lambda: daily_user_growth(growth_ev, "u", "ts").count(),
            )
            # round-robin interleave: two global_sort_rank passes (four
            # keyed shuffles) — expected ~linear with the usual sort
            # superlinearity at the margins
            probe(
                "interleave_sources", factor,
                lambda: interleave_groups(
                    docs, "doc_id", "source", seed=3
                ).count(),
            )
            # dual percent-rank: the sort-rank skeleton + one group
            # window — expected ~linear
            from chess_lakehouse_spark.operators.relational import (
                quantile_normalize,
            )

            probe(
                "quantile_normalize", factor,
                lambda: quantile_normalize(
                    docs.select("doc_id", "source", "n_chars"),
                    "doc_id", "n_chars", "source",
                ).count(),
            )
            # QC report pair: one map-combined agg each — expected flat
            # to linear-in-scan
            from chess_lakehouse_spark.operators.sampling import (
                shard_balance_audit,
            )
            from chess_lakehouse_spark.report import log2_length_histogram

            probe(
                "length_histogram", factor,
                lambda: log2_length_histogram(docs, "source", "n_chars").count(),
            )
            probe(
                "shard_skew", factor,
                lambda: shard_balance_audit(
                    docs, "doc_id", "n_chars", 16
                ).count(),
            )

        if only_ops is None or {
            "mg_heavy_hitters", "lsh_recall_audit", "stream_sessionize"
        } & only_ops:
            # r12 second-batch candidates. mg_sketch: one Arrow pass with
            # O(k) task state + a k*|partitions|-row merge — expected
            # linear-in-scan, flat beyond (the whole point vs the exact
            # token groupBy). lsh_recall audit: exact side is the shingle
            # inverted-index pair expansion (copies have disjoint vocab,
            # so pairs grow LINEARLY with the factor — corpus growth, not
            # quadratic blowup; on a real corpus this is the documented
            # run-on-a-sample audit). stream_sessionize: full availableNow
            # drain (feed scan + session-window state + parquet sink) over
            # x-factor events with x-factor users — state grows with
            # active sessions, expected linear.
            from chess_lakehouse_spark.functions.text import ws_tokens
            from chess_lakehouse_spark.operators.dedup import (
                exact_jaccard_pairs_ppm,
                lsh_bands,
                lsh_candidate_pairs,
                lsh_recall_report,
                minhash_signatures,
                word_shingles,
            )
            from chess_lakehouse_spark.operators.sketches import mg_sketch

            toks = docs.select(
                F.explode(
                    F.filter(ws_tokens(F.col("text")), lambda t: t != "")
                ).alias("term")
            )
            probe(
                "mg_heavy_hitters", factor,
                lambda: mg_sketch(toks, "term", 50).count(),
            )

            def _lsh_recall():
                exact = exact_jaccard_pairs_ppm(
                    docs, "doc_id", "text", k=3, threshold_ppm=0
                )
                sh = word_shingles(docs, "doc_id", "text", k=3)
                cand = lsh_candidate_pairs(
                    lsh_bands(
                        minhash_signatures(sh, "doc_id"), "doc_id", band_size=2
                    ),
                    "doc_id",
                    max_bucket_size=10_000,
                )
                return lsh_recall_report(exact, cand).count()

            probe("lsh_recall_audit", factor, _lsh_recall)

            ev_base = spark.read.parquet(f"{sf_dir}/events.parquet")
            ts_type = dict(ev_base.dtypes).get("ts")
            if ts_type == "bigint":
                ev_base = ev_base.withColumn(
                    "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
                )
            elif ts_type == "timestamp_ntz":
                ev_base = ev_base.withColumn("ts", F.col("ts").cast("timestamp"))
            ev_base = ev_base.where(F.col("ts").isNotNull()).select("user_id", "ts")
            sess_copies = [
                ev_base.withColumn(
                    "user_id", F.col("user_id") + F.lit(i * 10_000_000)
                )
                for i in range(factor)
            ]
            sess_ev = sess_copies[0]
            for c in sess_copies[1:]:
                sess_ev = sess_ev.unionByName(c)
            sentinel = sess_ev.agg(F.max("ts").alias("__mx")).select(
                F.lit(-1).cast("long").alias("user_id"),
                (F.col("__mx") + F.expr("INTERVAL 365 DAYS")).alias("ts"),
            )
            feed = f"{tmp}/ssess_feed_x{factor}"
            sess_ev.unionByName(sentinel).coalesce(4).write.mode(
                "overwrite"
            ).parquet(feed)

            def _ssess():
                run = tempfile.mkdtemp(prefix="ssx_", dir=tmp)
                out_dir, ckpt = f"{run}/out", f"{run}/ckpt"
                stream = (
                    spark.readStream.schema("user_id long, ts timestamp")
                    .parquet(feed)
                    .withWatermark("ts", "1 hour")
                    .groupBy(
                        F.session_window("ts", "1800 seconds").alias("sw"),
                        "user_id",
                    )
                    .agg(F.count(F.lit(1)).alias("n"))
                )
                q = (
                    stream.writeStream.format("parquet")
                    .outputMode("append")
                    .option("path", out_dir)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                return spark.read.parquet(out_dir).count()

            probe("stream_sessionize", factor, _ssess)

        if only_ops is None or {
            "mg_staged_lifecycle", "stream_dedup_watermark"
        } & only_ops:
            # staged MG lifecycle: 3 batch ingests (batch-sized groupBy
            # partials, <= k rows each) + the |batches|*k-row serve —
            # ingest linear-in-scan, serve flat. watermark dedup: full
            # availableNow drain over the DOUBLED feed through
            # dropDuplicatesWithinWatermark + parquet sink — state
            # bounded by the watermark, expected linear in events.
            from chess_lakehouse_spark.functions.text import ws_tokens
            from chess_lakehouse_spark.operators.sketches import (
                mg_batch_partial,
                mg_from_batches,
                write_mg_batch,
            )

            mg_state = f"{tmp}/mgstate_x{factor}"

            def _mg_staged():
                toks2 = docs.select(
                    "doc_id",
                    F.explode(
                        F.filter(ws_tokens(F.col("text")), lambda t: t != "")
                    ).alias("term"),
                )
                for b in range(3):
                    write_mg_batch(
                        mg_batch_partial(
                            toks2.where(F.col("doc_id") % 3 == b), "term", 50
                        ),
                        mg_state,
                        b,
                    )
                return mg_from_batches(spark, mg_state, 50).count()

            probe("mg_staged_lifecycle", factor, _mg_staged)

            ddw_feed = f"{tmp}/ddw_feed_x{factor}"
            base = spark.read.parquet(f"{sf_dir}/events.parquet")
            ts_type = dict(base.dtypes).get("ts")
            if ts_type == "bigint":
                base = base.withColumn(
                    "ts",
                    F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)")),
                )
            elif ts_type == "timestamp_ntz":
                base = base.withColumn("ts", F.col("ts").cast("timestamp"))
            base = base.where(F.col("ts").isNotNull())
            cps = [
                base.select(
                    (F.col("event_id") + F.lit(i * 100_000_000)).alias(
                        "event_id"
                    ),
                    "user_id",
                    "ts",
                )
                for i in range(factor)
            ]
            ev1 = cps[0]
            for c in cps[1:]:
                ev1 = ev1.unionByName(c)
            ev1.unionByName(ev1).coalesce(4).write.mode("overwrite").parquet(
                ddw_feed
            )

            def _ddw():
                run = tempfile.mkdtemp(prefix="ddwx_", dir=tmp)
                out_dir, ckpt = f"{run}/out", f"{run}/ckpt"
                stream = (
                    spark.readStream.schema(
                        "event_id long, user_id long, ts timestamp"
                    )
                    .parquet(ddw_feed)
                    .withWatermark("ts", "1 hour")
                    .dropDuplicatesWithinWatermark(["event_id"])
                )
                q = (
                    stream.writeStream.format("parquet")
                    .outputMode("append")
                    .option("path", out_dir)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                return spark.read.parquet(out_dir).count()

            probe("stream_dedup_watermark", factor, _ddw)

        if only_ops is None or {
            "sample_reservoir", "curriculum_order", "qc_card_signals",
            "stream_rollup",
        } & only_ops:
            # r13-staged candidates. sample_reservoir: one keyed window
            # shuffle — linear-in-scan. curriculum_order: two sort-rank
            # shuffles + keyed window + the distributed prefix-sum pair
            # — near-linear. qc_card_signals: five one-scan
            # bounded-cardinality signals — linear. stream_rollup: build
            # + two-micro-batch stream fold + zero-raw-serve — linear in
            # events.
            from chess_lakehouse_spark.functions.text import (
                quality_score,
                ws_tokens,
            )
            from chess_lakehouse_spark.operators.sampling import (
                curriculum_order,
                weighted_reservoir_per_group,
            )
            from chess_lakehouse_spark.report import qc_card_signals_tall

            probe(
                "sample_reservoir", factor,
                lambda: weighted_reservoir_per_group(
                    docs, "doc_id", "source", "n_chars", 5, seed=11
                ).count(),
            )

            def _curr():
                slim = docs.select(
                    "doc_id",
                    "source",
                    quality_score(F.col("text")).alias("q"),
                    F.size(ws_tokens(F.col("text"))).cast("long").alias("nt"),
                )
                return curriculum_order(
                    slim, "doc_id", "source", "q", "nt", 3, seed=5
                ).count()

            probe("curriculum_order", factor, _curr)

            qc_gates = {
                "len": F.col("n_chars") >= 300,
                "lang": F.col("lang") == "en",
                "stop": F.col("text").contains(" the "),
            }
            probe(
                "qc_card_signals", factor,
                lambda: qc_card_signals_tall(
                    docs, n_shards=16, gates=qc_gates, top_k=50
                ).count(),
            )

            from chess_lakehouse_spark.operators.rollup import (
                build_rollup,
                serve_rollup,
                time_bucket,
            )
            from chess_lakehouse_spark.streaming.jobs import stream_rollup

            sr_base = spark.read.parquet(f"{sf_dir}/events.parquet")
            sr_ts = dict(sr_base.dtypes).get("ts")
            if sr_ts == "bigint":
                sr_base = sr_base.withColumn(
                    "ts",
                    F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)")),
                )
            elif sr_ts == "timestamp_ntz":
                sr_base = sr_base.withColumn("ts", F.col("ts").cast("timestamp"))
            sr_cps = [
                sr_base.select(
                    (F.col("event_id") + F.lit(i * 100_000_000)).alias(
                        "event_id"
                    ),
                    "event_type",
                    "ts",
                    "value",
                )
                for i in range(factor)
            ]
            sr_ev = sr_cps[0]
            for c in sr_cps[1:]:
                sr_ev = sr_ev.unionByName(c)
            sr_ev = sr_ev.withColumn(
                "hour_epoch", time_bucket(F.col("ts"), 3600)
            )
            sr_feed = f"{tmp}/sroll_feed_x{factor}"
            (
                sr_ev.where(F.col("event_id") % 4 == 0)
                .select("hour_epoch", "event_type", "value")
                .repartition(2)
                .write.mode("overwrite")
                .parquet(sr_feed)
            )

            def _sroll():
                run = tempfile.mkdtemp(prefix="srx_", dir=tmp)
                rdir, ckpt = f"{run}/rollup", f"{run}/ckpt"
                build_rollup(
                    sr_ev.where(F.col("event_id") % 4 != 0),
                    ["hour_epoch", "event_type"],
                    [
                        ("n", "count", None),
                        ("n_value", "countnn", "value"),
                        ("s6", "sum6", "value"),
                        ("mn", "min", "value"),
                        ("mx", "max", "value"),
                    ],
                    rdir,
                )
                stream = (
                    spark.readStream.schema(
                        "hour_epoch long, event_type string, value double"
                    )
                    .option("maxFilesPerTrigger", 1)
                    .parquet(sr_feed)
                )
                stream_rollup(stream, rdir, ckpt)
                return serve_rollup(spark, rdir).count()

            probe("stream_rollup", factor, _sroll)

        if only_ops is None or {"pq_adc"} & only_ops:
            # PQ train (m per-slice kmeans passes) + map-side encode +
            # broadcast-probe ADC top-k — expected linear-in-scan (the
            # codebooks are literals, the serve is one encoded pass)
            from chess_lakehouse_spark.operators.similarity import (
                pq_adc_topk,
                pq_train,
            )

            def _pq():
                books = pq_train(
                    emb, "vec_id", "embedding", m=2, k=8, iters=1, seed=0
                )
                pr = emb.where(F.col("vec_id") < 10)
                return pq_adc_topk(
                    emb, pr, "vec_id", "embedding", books, n=5
                ).count()

            probe("pq_adc", factor, _pq)

        if only_ops is None or {
            "rank_sketch", "linkage_score", "knn_ivfpq"
        } & only_ops:
            # r14-staged candidates. rank_sketch: map-side md5 level +
            # one |groups|-row broadcast meta join + a window over the
            # ~k-per-group retained state + the broadcast audit join —
            # scan-bound, expected linear. linkage_score: blocking pairs
            # + one-field q-gram Jaccard + map-side FS scoring; the
            # blocking key here GROWS with the corpus (doc_id div 16 —
            # constant bucket size, the scale prescription from the r13
            # fixed-cardinality analysis), so pairs grow linearly and
            # the curve measures machinery, not output explosion.
            # knn_ivfpq: both trainers + partitioned publish + pruned
            # codes-only ADC + exact re-rank — linear in the scan,
            # publish shuffle included.
            from chess_lakehouse_spark.operators.linkage import (
                blocking_pairs,
                fs_match_score,
                fs_weights_ppm,
                pair_field_jaccard_ppm,
            )
            from chess_lakehouse_spark.operators.sketches import (
                rank_sketch_build,
                rank_sketch_quantiles,
            )
            from chess_lakehouse_spark.operators.similarity import (
                kmeans_fit,
                pq_train,
                publish_ivfpq_index,
                search_ivfpq_index,
            )

            def _rsk():
                st = rank_sketch_build(
                    docs, "doc_id", "n_chars", k=64, by=["source"], seed=0
                )
                return rank_sketch_quantiles(
                    st, "doc_id", "n_chars",
                    [250_000, 500_000, 750_000, 900_000], by=["source"],
                ).count()

            probe("rank_sketch", factor, _rsk)

            def _lsc():
                recs = docs.select(
                    "doc_id",
                    F.expr("doc_id div 16").alias("blk"),
                    F.substring("text", 1, 48).alias("nm"),
                    "lang",
                )
                pairs = blocking_pairs(
                    recs,
                    "doc_id",
                    {"blk": [F.col("blk")],
                     "blk_lang": [F.col("blk"), F.col("lang")]},
                    max_bucket_size=1000,
                )
                vec = pair_field_jaccard_ppm(
                    pairs, recs, "doc_id", "nm", q=3, out_col="nm_jac_ppm"
                )
                scored = fs_match_score(
                    vec,
                    [(F.col("nm_jac_ppm") >= 600_000,
                      *fs_weights_ppm(900_000, 100_000))],
                    lower_ppm=0,
                    upper_ppm=2_000_000,
                )
                return scored.count()

            probe("linkage_score", factor, _lsc)

            def _ivfpq():
                cents = kmeans_fit(
                    emb, "vec_id", "embedding", k=8, iters=1, seed=0
                )
                books = pq_train(
                    emb, "vec_id", "embedding", m=2, k=8, iters=1, seed=0
                )
                idx = tempfile.mkdtemp(prefix="ivfpqx_", dir=tmp) + "/index"
                publish_ivfpq_index(
                    emb, idx, "vec_id", "embedding", cents, books
                )
                pr = emb.where(F.col("vec_id") < 10)
                return search_ivfpq_index(
                    spark, idx, pr, "vec_id", "embedding", cents, books,
                    nprobe=2, pool=20, k=5,
                ).count()

            probe("knn_ivfpq", factor, _ivfpq)

        if only_ops is None or {"pagerank_5it"} & only_ops:
            # PageRank over a synthetic host graph whose |V| and |E| both
            # grow with the corpus (md5-derived edges — near-uniform
            # degree, no hub shortcut): 5 power iterations end-to-end
            from chess_lakehouse_spark.operators.graph import pagerank

            k_nodes = max(1000, n_docs // 5)
            pr_edges = docs.select(
                (F.col("doc_id") % k_nodes).cast("string").alias("src"),
                (
                    F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast(
                        "long"
                    )
                    % k_nodes
                ).cast("string").alias("dst"),
            ).withColumn("weight", F.lit(1.0))
            probe(
                "pagerank_5it", factor,
                lambda: pagerank(pr_edges, n_iter=5).count(),
            )

        if only_ops is None or {"video_frame_pairs"} & only_ops:
            # video end-to-end, deliberately LAST in the factor: its x8
            # rep thrashes executor memory for minutes (r10 finding —
            # TaskMemoryManager page-allocation retries), and any cell
            # measured in that wake reads 3-4x its true cost. Fencing it
            # to the end keeps the rest of the factor's cells clean.
            # 4-frame Y4M clips synthesized from doc text bytes
            # (per-frame pixel noise — near-uniform frame hashes, the
            # no-clusters worst case): Arrow decode + per-frame pHash +
            # the shared 16-bit-band join + the containment vote
            from chess_lakehouse_spark.operators.video import (
                encode_y4m,
                video_near_pairs,
            )

            def _y4m_payloads(d):
                import numpy as np
                import pandas as pd

                def _mk(batches):
                    for pdf in batches:
                        payloads = []
                        for t in pdf["text"]:
                            b = (t.encode() * 2)[: 4 * 256]
                            b = b + bytes(4 * 256 - len(b))
                            arr = np.frombuffer(b, dtype=np.uint8).reshape(
                                4, 16, 16
                            )
                            payloads.append(
                                encode_y4m(
                                    [np.repeat(np.repeat(f, 2, 0), 2, 1) for f in arr]
                                )
                            )
                        yield pd.DataFrame(
                            {"doc_id": pdf["doc_id"], "payload": payloads}
                        )

                return d.select("doc_id", "text").mapInPandas(
                    _mk, "doc_id long, payload binary"
                )

            probe(
                "video_frame_pairs", factor,
                lambda: video_near_pairs(
                    _y4m_payloads(docs), max_hamming=3, band_bits=16
                ).count(),
            )

    # Boilerplate-bomb stress: one shared token interleaved between every
    # word of every doc makes ALL docs of the batch share the tag-word-tag
    # shingles — band buckets hold the whole batch and the uncapped pair
    # expansion is quadratic. The max_bucket_size guard must turn that into
    # a bounded-cost (and *more correct*: those buckets carry no similarity
    # signal) run.
    bomb = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("text", F.regexp_replace(F.col("text"), " ", " zzq "))
    )
    bomb.write.mode("overwrite").parquet(f"{tmp}/bomb")
    bomb = spark.read.parquet(f"{tmp}/bomb")
    probe(
        "minhash_bomb_capped256", 1,
        lambda: minhash_lsh_dedup(
            bomb, "doc_id", "text", band_size=2, max_bucket_size=256
        ).count(),
    )

    print("\nop" + " " * 18 + "  ".join(f"x{f:<6}" for f in factors) + "x8/x1")
    for name, by_f in results.items():
        row = "  ".join(f"{by_f.get(f, float('nan')):<7}" for f in factors)
        ratio = by_f.get(factors[-1], 0) / max(by_f.get(factors[0], 1e-9), 1e-9)
        print(f"{name:<20}{row}{ratio:.1f}")


if __name__ == "__main__":
    main()
