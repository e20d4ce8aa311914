"""Training-data-pipeline queries: dedup, similarity search, text analysis
over the documents/embeddings tables (north-star extensions, SURVEY.md §7
step 8). Each query has a DuckDB oracle built on the same portable-hash
contract (md5-derived, engine-independent — see operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chess_lakehouse_spark.catalog import load_table
from chess_lakehouse_spark.functions.text import (
    LANG_MARKERS,
    PII_PATTERNS,
    langid_scores,
    quality_metrics,
    tfidf,
    token_counts,
    winnow_fingerprints,
)
from chess_lakehouse_spark.operators.dedup import (
    LSH_MAX_BUCKET_SIZE,
    exact_dedup_groups,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash32,
    simhash_near_pairs,
)
from chess_lakehouse_spark.operators.similarity import (
    cosine_near_pairs,
    hyperplane_signs,
    kmeans_fit,
    knn_brute_force,
    knn_ivf,
    knn_lsh,
)
from chess_lakehouse_spark.functions.urls import (
    AMP_RUN_RE,
    FRAGMENT_RE,
    HOST_RE,
    SCHEME_RE,
    TRACKING_PARAM_RE,
    TRACKING_PARAM_SUB_DUCKDB,
    WWW_RE,
)
from chess_lakehouse_spark.session import FrameScope, apply_runtime_conf, local_df

NUM_PLANES = 8
EMB_DIM = 64
PLANES = hyperplane_signs(NUM_PLANES, EMB_DIM)
COSINE_DUP_THRESHOLD = 0.45
JACCARD_THRESHOLD = 0.5
KNN_PROBES = 10
KNN_K = 5


# ---------------------------------------------------------------- queries


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (single map-combined shuffle)."""
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: word 3-shingles → 8 minhashes → 4 bands of 2 →
    bucket-join candidates → exact-Jaccard verify >= 0.5."""
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=JACCARD_THRESHOLD
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    graph (iterative min-label propagation, operators/graph.py) — each doc
    in a dup group mapped to its canonical (min-id) representative."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=JACCARD_THRESHOLD
    )
    return connected_components(pairs.select("id_a", "id_b"))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: near-dups of the NEW batch (doc_id % 10 == 9)
    against the existing corpus, with corpus signatures taken from a staged
    table (computed here inline; in production written once and appended).
    Signature cost is paid only for the new batch; the corpus self-join
    never happens — the shape that keeps dedup incremental at 100 TB."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.dedup import (
        incremental_near_dups,
        minhash_signatures,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 9)
    corpus = docs.where(F.col("doc_id") % 10 != 9)
    corpus_sigs = minhash_signatures(word_shingles(corpus, "doc_id", "text", k=3), "doc_id")
    return incremental_near_dups(
        new, corpus_sigs, corpus, "doc_id", "text",
        k=3, num_hashes=8, band_size=2, threshold=JACCARD_THRESHOLD,
    )


QUALITY_THRESHOLD = 2.2


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end-to-end: quality-filter the
    corpus (score >= 2.2 keeps ~75%), find near-dup clusters among the
    survivors (MinHash-LSH → connected components), keep exactly one
    canonical doc per cluster plus every unclustered doc. Returns surviving
    doc_ids — the 'clean corpus' selection a 100 TB pretraining pipeline
    materializes as its output manifest."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    keep = (
        quality_metrics(docs, "doc_id", "text")
        .where(F.col("quality_score") >= QUALITY_THRESHOLD)
        .select("doc_id")
    )
    filtered = docs.join(keep, "doc_id")
    pairs = minhash_lsh_dedup(
        filtered, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=JACCARD_THRESHOLD
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return (
        filtered.join(comp, filtered.doc_id == comp.id, "left")
        .where(F.col("id").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document."""
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return simhash32(docs, "doc_id", "text")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs: byte-banding (equi-join blocking) + hamming <= 6."""
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(
        simhash32(docs, "doc_id", "text"), "doc_id", max_hamming=6, persist_signatures=True
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-7-gram Jaccard near-dup blocked by source. Gram length trades
    join fan-out against sensitivity: over this small shared vocabulary,
    3-grams degenerate toward a block-cross-join while 7-grams (a standard
    char-gram size for near-dup detection) keep the gram-equality join
    sparse — measured 10.5s → 7.1s at sf0.1 with an identical result set."""
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="source", n=7, threshold=JACCARD_THRESHOLD
    )


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by label, sim >= 0.45."""
    apply_runtime_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_pairs(
        emb, "vec_id", "embedding", block_col="label", threshold=COSINE_DUP_THRESHOLD
    )


def q_knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the probe set (vec_id < 10), probes broadcast."""
    apply_runtime_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < KNN_PROBES)
    return knn_brute_force(emb, probes, "vec_id", "embedding", k=KNN_K)


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: random-hyperplane LSH bucket prefilter + exact
    cosine re-rank within the bucket."""
    apply_runtime_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < KNN_PROBES)
    return knn_lsh(emb, probes, "vec_id", "embedding", PLANES, k=KNN_K)


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: 16 centroid lists, probe the 2 nearest."""
    apply_runtime_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < KNN_PROBES)
    return knn_ivf(emb, probes, "vec_id", "embedding", n_centroids=16, nprobe=2, k=KNN_K)


SAMPLE_RATE = 0.25
SAMPLE_SEED = 0
MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
MIX_DEFAULT_RATE = 0.1
EVAL_FRAC = 0.05


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% corpus sample by id hash — membership is a pure
    function of (seed, doc_id), so re-runs/re-partitions/engine swaps keep
    exactly the same rows. Zero shuffle; the scan reads only 2 columns."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", rate=SAMPLE_RATE, seed=SAMPLE_SEED).select(
        "doc_id", "source"
    )


def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing + split assignment, the data-recipe step of a
    pretraining pipeline: per-source keep rates (src0 100%, src1 50%,
    src2 25%, others 10%) and a deterministic train/eval split over the
    survivors — both pure hash functions of doc_id, one zero-shuffle
    filter + projection."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import (
        split_assign,
        stratified_hash_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    mixed = stratified_hash_sample(
        docs, "doc_id", "source", MIX_RATES, default_rate=MIX_DEFAULT_RATE, seed=SAMPLE_SEED
    )
    return split_assign(mixed, "doc_id", eval_frac=EVAL_FRAC, seed=SAMPLE_SEED + 1).select(
        "doc_id", "source", "split"
    )


def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination audit — the check every training pipeline
    runs before reporting numbers: assign the deterministic train/eval
    split, then find eval documents whose exact content (md5) also appears
    in train. One hash-equi join keyed by content digest (map-combined,
    AQE-splittable); returns each contaminated eval doc with its duplicate
    count and the smallest offending train id."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents")
    split = split_assign(docs, "doc_id", eval_frac=EVAL_FRAC, seed=SAMPLE_SEED + 1)
    ev = split.where(F.col("split") == "eval").select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    tr = split.where(F.col("split") == "train").select(
        F.col("doc_id").alias("train_id"), F.md5(F.col("text")).alias("h")
    )
    return ev.join(tr, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_train_copies"),
        F.min("train_id").alias("first_train_id"),
    )


FP_OVERLAP_THRESHOLD = 0.8


def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram contamination audit — the GPT-3-style complement of the exact
    md5 check in ``split_contamination``: an eval document is contaminated
    if a high fraction of its winnowing fingerprints (char-5-gram windows)
    also occur ANYWHERE in train. The train side is collapsed to a DISTINCT
    fingerprint set before the join, so cost is |eval fps| × lookup — a
    semi-join shape with no quadratic doc-pair term (at 100 TB the train fp
    set is a table, not a broadcast, and the join shuffles on fingerprint).
    Returns contaminated eval docs with fp counts and the overlap fraction."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents")
    split = split_assign(docs, "doc_id", eval_frac=EVAL_FRAC, seed=SAMPLE_SEED + 1)
    ev_fp = (
        winnow_fingerprints(split.where(F.col("split") == "eval"), "doc_id", "text", k=5, window=8)
        .select("doc_id", "fingerprint")
        .distinct()
    )
    tr_fp = (
        winnow_fingerprints(split.where(F.col("split") == "train"), "doc_id", "text", k=5, window=8)
        .select("fingerprint")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        ev_fp.join(tr_fp, "fingerprint", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.count("__hit").alias("n_shared"),
        )
        .withColumn(
            "overlap_frac",
            F.round(F.col("n_shared").cast("double") / F.col("n_fp"), 6),
        )
        .where(F.col("overlap_frac") >= FP_OVERLAP_THRESHOLD)
    )


PACK_BUDGET = 2048


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing: documents concatenated in
    (source, doc_id) order, cut every 2048 tokens — each doc mapped to its
    (seq_id, seq_offset) in the training stream. Integer window arithmetic,
    one shuffle."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    tc = token_counts(docs, "doc_id", "text").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return pack_sequences(tc, "doc_id", "source", "n_ws_tokens", budget=PACK_BUDGET)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM negative log-likelihood per document (CCNet-style
    in-distribution quality score): corpus term probabilities → mean
    -ln p(token) per doc. Two map-combined shuffles + one vocabulary-sized
    broadcast."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs, "doc_id", "text")


CHUNK_WINDOW = 64
CHUNK_STRIDE = 48


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping 64-token windows every 48
    tokens per document — narrow array-domain plan, zero shuffle."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    return chunk_tokens(docs, "doc_id", "text", window=CHUNK_WINDOW, stride=CHUNK_STRIDE)


def q_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 over int8-quantized vectors (scales cancel in cosine, so
    all per-pair math is exact integer arithmetic): the 4×-less-memory scan
    path for a 100 TB ANN corpus."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import knn_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < KNN_PROBES)
    return knn_quantized(emb, probes, "vec_id", "embedding", k=KNN_K)


SEMANTIC_CENTROIDS = 32
SEMANTIC_THRESHOLD = 0.45


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster embeddings (map-side argmax
    over literal centroids, zero shuffle), cosine near-pairs via the
    list_id equi-join only, keep the min-id representative per duplicate
    group. Returns survivors (vec_id, list_id)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding",
        n_centroids=SEMANTIC_CENTROIDS, threshold=SEMANTIC_THRESHOLD,
    )


BOILERPLATE_MAX_DF_PCT = 60


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-driven boilerplate removal: tokens present in > 60% of
    documents are stripped corpus-wide, survivor order preserved. The
    vocabulary is one bounded aggregation; the strip is a zero-shuffle
    map-side array filter against the vocab literal."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import strip_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    return strip_boilerplate(
        docs, "doc_id", "text", max_df_pct=BOILERPLATE_MAX_DF_PCT
    )


VOCAB_TOP_K = 50


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-50 tokens by total occurrences
    with per-token document frequency — one aggregation shuffle + a
    TakeOrdered top-k."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import vocab_top_k

    docs = load_table(spark, sf_dir, "documents")
    return vocab_top_k(docs, "doc_id", "text", k=VOCAB_TOP_K)


QUALITY_N_BUCKETS = 10


def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score stratification: exact deciles over the composite
    quality score (ntile semantics with a doc_id tie-break so both
    engines cut identically), then per-bucket population stats. The
    exact form is computed by the DISTRIBUTED sort-rank plan (range
    repartition + per-partition row_number + broadcast offsets — no
    single-partition global sort anywhere; see score_buckets), so the
    gated plan IS the 100 TB plan; `score_buckets(exact=False)` remains
    the cheaper one-pass approx-cutpoint variant (pytest-pinned against
    this form)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.exact import mean6, sum6_long
    from chess_lakehouse_spark.functions.text import quality_metrics
    from chess_lakehouse_spark.operators.relational import score_buckets

    docs = load_table(spark, sf_dir, "documents")
    m = quality_metrics(docs, "doc_id", "text")
    return (
        score_buckets(m, "doc_id", "quality_score", n_buckets=QUALITY_N_BUCKETS, exact=True)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality_score").alias("min_score"),
            F.max("quality_score").alias("max_score"),
            sum6_long(F.col("n_chars")).alias("_s6"),
        )
        .select(
            "bucket",
            "n_docs",
            "min_score",
            "max_score",
            mean6("_s6", "n_docs").alias("avg_chars"),
        )
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids: one map-combined groupBy carrying
    |labels| × dim cells, DECIMAL-exact means, exploded scalar layout."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb, "label", "embedding")


#: Bloom gate dimensions for q_bloom_gate — small enough that the SQL
#: twin's word table stays tiny, large enough that false positives are
#: rare at sf0.01 and present at sf0.1 (both states deterministic and
#: identical across engines, since the bit math is the shared md5 chain).
BLOOM_M_BITS = 4032  # 64 words of 63 bits
BLOOM_K = 3
_BLOOM_BLOCKED_SOURCES = ("src1", "src2", "src3")


def q_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership gate (operators/bloom.py): build the
    bitmap over the blocked sources' text fingerprints, then flag EVERY
    document map-side by testing its fingerprint's k bits — the
    broadcast-a-bitmap-not-the-keys pattern for blocklists too large to
    broadcast raw. might_contain includes the filter's false positives
    BIT-IDENTICALLY in both engines (positions are the portable md5
    chain; words are 63-bit so no shift touches the sign bit). Returns
    (doc_id, might_contain)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    block = docs.where(
        F.col("source").isin(*_BLOOM_BLOCKED_SOURCES)
    ).select(F.md5("text").alias("bkey"))
    bloom = build_bloom(block, "bkey", m_bits=BLOOM_M_BITS, k=BLOOM_K)
    keyed = docs.select("doc_id", F.md5("text").alias("bkey"))
    return bloom_might_contain(keyed, "bkey", bloom).select(
        "doc_id", "might_contain"
    )


_BLOOM_I_VALUES = ", ".join(f"('{i}')" for i in range(BLOOM_K))
_BLOOM_SRC_IN = ", ".join(f"'{s}'" for s in _BLOOM_BLOCKED_SOURCES)
BLOOM_GATE_ORACLE = f"""
    WITH block AS (
      SELECT md5(text) AS bkey FROM documents
      WHERE source IN ({_BLOOM_SRC_IN})
    ),
    pos AS (
      SELECT CAST('0x' || substr(md5(i || ':' || bkey), 1, 15) AS BIGINT)
               % {BLOOM_M_BITS} AS p
      FROM block, (VALUES {_BLOOM_I_VALUES}) AS ii(i)
    ),
    words AS (
      SELECT p // 63 AS widx,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS word
      FROM pos GROUP BY 1
    ),
    kpos AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(i || ':' || md5(text)), 1, 15) AS BIGINT)
               % {BLOOM_M_BITS} AS p
      FROM documents, (VALUES {_BLOOM_I_VALUES}) AS ii(i)
    ),
    hits AS (
      SELECT doc_id,
             COALESCE((word >> CAST(p % 63 AS INT)) & 1, CAST(0 AS BIGINT)) AS b
      FROM kpos LEFT JOIN words ON words.widx = kpos.p // 63
    )
    SELECT doc_id, (MIN(b) = 1) AS might_contain
    FROM hits GROUP BY doc_id
"""


def q_bloom_gate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-TABLE Bloom layout (operators/bloom.py:build_bloom_table
    / bloom_might_contain_table) — the serving plan for filters past the
    single-row 2^31-bit cap (~268 MB broadcast row): keys JOIN the
    sparse (widx, word) frame on the word index instead of indexing one
    broadcast array, at the cost of one shuffle. Same md5 63-bit-word
    bit math as q_bloom_gate, so every verdict — INCLUDING the false
    positives — must be bit-identical to the array form and to the
    oracle (which is the SAME SQL: the layout may never change a
    verdict; equality with the array form is additionally pinned in
    tests/test_bloom.py). Returns (doc_id, might_contain)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.bloom import (
        bloom_might_contain_table,
        build_bloom_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    block = docs.where(
        F.col("source").isin(*_BLOOM_BLOCKED_SOURCES)
    ).select(F.md5("text").alias("bkey"))
    words = build_bloom_table(block, "bkey", m_bits=BLOOM_M_BITS, k=BLOOM_K)
    keyed = docs.select("doc_id", F.md5("text").alias("bkey"))
    return bloom_might_contain_table(
        keyed, "bkey", "doc_id", words, m_bits=BLOOM_M_BITS, k=BLOOM_K
    ).select("doc_id", "might_contain")


#: the table layout must reproduce the array layout's verdicts exactly,
#: so it shares q_bloom_gate's oracle verbatim.
BLOOM_GATE_TABLE_ORACLE = BLOOM_GATE_ORACLE


#: Gates for q_gate_attribution, in pipeline order: a length floor, an
#: English-only language gate, and a stopword-presence gate — each a
#: pure SQL-expressible boolean so the attribution math is oracle-exact.
GATE_ATTR_MIN_CHARS = 300


def q_gate_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation gate attribution (report.py:gate_attribution): per gate,
    rows failing it in isolation, rows dropped AT its stage of the
    ordered pipeline (pass all earlier, fail this — sums to total drops
    with no double counting), rows ONLY it catches, and the pass-all
    count — ONE map-combined aggregate over one corpus pass, never a job
    per gate. Returns (gate, n_fail, n_first_fail, n_only_fail,
    n_pass_all)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.report import gate_attribution

    docs = load_table(spark, sf_dir, "documents")
    gates = {
        "len": F.col("n_chars") >= GATE_ATTR_MIN_CHARS,
        "lang": F.col("lang") == "en",
        "stop": F.col("text").contains(" the "),
    }
    return gate_attribution(docs, gates)


GATE_ATTRIBUTION_ORACLE = f"""
    WITH g AS (
      SELECT COALESCE(n_chars >= {GATE_ATTR_MIN_CHARS}, FALSE) AS g_len,
             COALESCE(lang = 'en', FALSE) AS g_lang,
             COALESCE(contains(text, ' the '), FALSE) AS g_stop
      FROM documents
    ),
    a AS (
      SELECT
        CAST(SUM(CASE WHEN NOT g_len THEN 1 ELSE 0 END) AS BIGINT) AS f_len,
        CAST(SUM(CASE WHEN NOT g_len THEN 1 ELSE 0 END) AS BIGINT) AS ff_len,
        CAST(SUM(CASE WHEN NOT g_len AND g_lang AND g_stop THEN 1 ELSE 0 END) AS BIGINT) AS of_len,
        CAST(SUM(CASE WHEN NOT g_lang THEN 1 ELSE 0 END) AS BIGINT) AS f_lang,
        CAST(SUM(CASE WHEN g_len AND NOT g_lang THEN 1 ELSE 0 END) AS BIGINT) AS ff_lang,
        CAST(SUM(CASE WHEN g_len AND NOT g_lang AND g_stop THEN 1 ELSE 0 END) AS BIGINT) AS of_lang,
        CAST(SUM(CASE WHEN NOT g_stop THEN 1 ELSE 0 END) AS BIGINT) AS f_stop,
        CAST(SUM(CASE WHEN g_len AND g_lang AND NOT g_stop THEN 1 ELSE 0 END) AS BIGINT) AS ff_stop,
        CAST(SUM(CASE WHEN g_len AND g_lang AND NOT g_stop THEN 1 ELSE 0 END) AS BIGINT) AS of_stop,
        CAST(SUM(CASE WHEN g_len AND g_lang AND g_stop THEN 1 ELSE 0 END) AS BIGINT) AS pa
      FROM g
    )
    SELECT 'len' AS gate, f_len AS n_fail, ff_len AS n_first_fail,
           of_len AS n_only_fail, pa AS n_pass_all FROM a
    UNION ALL
    SELECT 'lang', f_lang, ff_lang, of_lang, pa FROM a
    UNION ALL
    SELECT 'stop', f_stop, ff_stop, of_stop, pa FROM a
"""


#: Salt fan-out for q_salted_join (the skew-mitigation knob; the salt
#: never affects the RESULT — that is exactly what the oracle checks).
SALTED_JOIN_N = 8


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigating salted equi-join (operators/relational.py:
    salted_join): lineitem (the large, potentially hot-keyed side) joins
    orders on the order key through the (key, salt) expansion — a hot
    order key's rows spread over SALTED_JOIN_N reducers — then rolls up
    per order status. The oracle is the PLAIN un-salted join + GROUP BY:
    salting must never change a single row of the result, only where
    rows land. Returns (o_orderstatus, n_rows, sum_price)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    j = salted_join(li, orders, "l_orderkey", n_salts=SALTED_JOIN_N, how="inner")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("sum_price"),
    )


SALTED_JOIN_ORACLE = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
"""


#: Quantiles gated by q_exact_quantiles, as integer millionths (the ppm
#: form is what both engines compute ranks from — no float boundary).
EXACT_QUANTILE_PPMS = (250_000, 500_000, 750_000, 900_000, 990_000)


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global quantile values of order totals — the sorted-pick
    semantics (value at rank ceil(q*N), q carried as integer millionths)
    computed by the distributed sort-rank plan
    (operators/relational.py:exact_quantiles riding global_sort_rank:
    range repartition + per-partition row_number + broadcast offsets —
    no single-partition global sort anywhere, the plan a 100 TB corpus
    could run). Oracle: DuckDB row_number pick at the identical integer
    rank. Returns (q_ppm, value)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import exact_quantiles

    orders = load_table(spark, sf_dir, "orders")
    return exact_quantiles(
        orders, "o_totalprice", [p / 1_000_000 for p in EXACT_QUANTILE_PPMS]
    )


#: Per-group quantiles gated by q_group_quantiles (integer millionths).
GROUP_QUANTILE_PPMS = (500_000, 900_000, 990_000)


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT quantiles (the `by` form of exact_quantiles):
    value at rank ceil(q*N_group) within each (l_returnflag,
    l_linestatus) group — groups parallelize across the cluster, so the
    per-group window IS the distributed plan (no global sort). Returns
    (l_returnflag, l_linestatus, q_ppm, value)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import exact_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li,
        "l_extendedprice",
        [p / 1_000_000 for p in GROUP_QUANTILE_PPMS],
        by=["l_returnflag", "l_linestatus"],
    )


GROUP_QUANTILES_ORACLE = f"""
    WITH r AS (
      SELECT l_returnflag, l_linestatus, l_extendedprice AS v,
             row_number() OVER (
               PARTITION BY l_returnflag, l_linestatus ORDER BY l_extendedprice
             ) AS rk,
             CAST(COUNT(*) OVER (
               PARTITION BY l_returnflag, l_linestatus
             ) AS BIGINT) AS n
      FROM lineitem
    ),
    q AS (SELECT CAST(x AS BIGINT) AS q_ppm
          FROM (VALUES {", ".join(f"({p})" for p in GROUP_QUANTILE_PPMS)}) AS qv(x))
    SELECT r.l_returnflag, r.l_linestatus, q.q_ppm AS q_ppm, r.v AS value
    FROM r JOIN q
      ON r.rk = GREATEST(CAST(1 AS BIGINT),
                         (CAST(q.q_ppm AS HUGEINT) * r.n + 999999) // 1000000)
"""


EXACT_QUANTILES_ORACLE = f"""
    WITH t AS (SELECT o_totalprice AS v FROM orders),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
    r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM t),
    q AS (SELECT CAST(x AS BIGINT) AS q_ppm
          FROM (VALUES {", ".join(f"({p})" for p in EXACT_QUANTILE_PPMS)}) AS qv(x)),
    tgt AS (SELECT q_ppm,
                   GREATEST(CAST(1 AS BIGINT),
                            (CAST(q_ppm AS HUGEINT) * n + 999999) // 1000000) AS tr
            FROM q, n)
    SELECT tgt.q_ppm AS q_ppm, r.v AS value
    FROM tgt JOIN r ON r.rk = tgt.tr
"""


def q_score_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global percent-rank calibration in EXACT integer millionths
    (operators/relational.py:global_percent_rank): every order mapped to
    its corpus position ppm = ((rank-1)*1e6) div (N-1) over the unique
    (o_totalprice, o_orderkey) total order — the score-normalization
    pass of corpus curation (calibrate heterogeneous quality scores to
    ranks before mixing), riding the distributed sort-rank plan (range
    repartition + offsets, never a single-partition global sort).
    Integer arithmetic end to end: no float-division boundary for the
    oracle to diverge on. Returns (o_orderkey, pct_ppm)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import global_percent_rank

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return global_percent_rank(orders, ["o_totalprice", "o_orderkey"]).select(
        "o_orderkey", "pct_ppm"
    )


SCORE_PERCENTILE_ORACLE = """
    SELECT o_orderkey,
           CAST((CAST(rk - 1 AS HUGEINT) * 1000000) // (n - 1) AS BIGINT) AS pct_ppm
    FROM (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM orders
    )
"""


#: Robust-z threshold for q_robust_zscore: flag when |x - med| > k * MAD.
ROBUST_Z_K = 3.0


def q_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flags per event type
    (operators/relational.py:robust_zscore_flags — the Hampel
    identifier): |value − group median| > k·MAD, with both medians EXACT
    discrete quantiles (value at rank ceil(N/2) — actual data values,
    never interpolated) so the flag is bit-deterministic cross-engine.
    Unlike the classic z-score (q_event_outliers), one extreme row
    cannot mask itself by inflating sigma — median/MAD have a 50%
    breakdown point. NULL values flag NULL. Returns
    (event_id, event_type, is_outlier)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import robust_zscore_flags

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return robust_zscore_flags(ev, "value", by=["event_type"], k=ROBUST_Z_K).select(
        "event_id", "event_type", "is_outlier"
    )


ROBUST_ZSCORE_ORACLE = f"""
    WITH base AS (SELECT event_id, event_type, value FROM events),
    med AS (
      SELECT event_type, v AS med FROM (
        SELECT event_type, value AS v,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM base WHERE value IS NOT NULL
      ) WHERE rk = GREATEST(CAST(1 AS BIGINT), (CAST(500000 AS HUGEINT) * n + 999999) // 1000000)
    ),
    dev AS (
      SELECT b.event_id, b.event_type, b.value, m.med,
             abs(b.value - m.med) AS d
      FROM base b LEFT JOIN med m ON b.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, d AS mad FROM (
        SELECT event_type, d,
               row_number() OVER (PARTITION BY event_type ORDER BY d) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM dev WHERE d IS NOT NULL
      ) WHERE rk = GREATEST(CAST(1 AS BIGINT), (CAST(500000 AS HUGEINT) * n + 999999) // 1000000)
    )
    SELECT dev.event_id, dev.event_type,
           CASE WHEN dev.value IS NULL OR dev.med IS NULL OR mad.mad IS NULL
                THEN NULL
                ELSE dev.d > CAST({ROBUST_Z_K} AS DOUBLE) * mad.mad
           END AS is_outlier
    FROM dev LEFT JOIN mad ON dev.event_type = mad.event_type
"""


#: Buckets per source for q_group_buckets (per-group exact ntile).
GROUP_BUCKETS_N = 4


def q_group_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group score stratification (the `by` form of
    operators/relational.py:score_buckets): documents quartiled by
    length WITHIN each source — per-source quality strata for mixture
    weighting. The per-group window IS the distributed plan (groups
    parallelize; no global sort), and the bucket label comes from the
    same integer ntile formula as the global form, tie-broken on doc_id
    so both engines cut identically. Returns (doc_id, source, bucket)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import score_buckets

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return score_buckets(
        docs, "doc_id", "n_chars", n_buckets=GROUP_BUCKETS_N, by=["source"]
    ).select("doc_id", "source", "bucket")


GROUP_BUCKETS_ORACLE = f"""
    SELECT doc_id, source,
           CAST(ntile({GROUP_BUCKETS_N}) OVER (
             PARTITION BY source ORDER BY n_chars ASC, doc_id ASC
           ) AS INT) AS bucket
    FROM documents
"""


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier / skyline (operators/relational.py:
    pareto_frontier_2d, Börzsönyi ICDE'01): lineitem rows weakly
    dominated on (extendedprice, quantity) by no other row — the
    multi-objective "no other row beats it on BOTH axes" selection.
    Never all-pairs: groupBy-collapse to one best row per distinct x,
    then the distributed exclusive prefix-max over x DESC (the
    sort-rank skeleton generalized from prefix-count to prefix-max),
    then one frontier-sized semi-join. The oracle is the O(n log n)
    window form (exclusive running max over x desc); the definition
    itself is additionally pinned against a brute-force NOT EXISTS in
    tests/test_r12_candidates.py. Returns
    (l_orderkey, l_linenumber, price, qty)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import pareto_frontier_2d

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("qty"),
    )
    return pareto_frontier_2d(li, "price", "qty")


#: Nearest-asof tolerance for q_asof_nearest: 2 days in microseconds.
ASOF_NEAREST_TOL_US = 2 * 86_400 * 1_000_000


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join with a tolerance window
    (operators/relational.py:asof_join(direction='nearest') — the pandas
    merge_asof surface, distributed): each click event picks up its
    user's CLOSEST purchase by |Δt|, exact ties preferring the backward
    match (the pandas convention), matches farther than 2 days
    discarded. Purchases are pre-collapsed to unique (user, ts) — max
    value per instant — so no tiebreak order is needed in either
    engine. Two ordered key-window passes, no range-join blowup.
    Returns (event_id, user_id, t_us, purchase_us, purchase_value)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    purchases = (
        ev.where((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .groupBy("user_id", F.unix_micros("ts").alias("p_us"))
        .agg(F.max("value").alias("pval"))
        .select(
            "user_id", "p_us", F.col("p_us").alias("p_ts_us"), "pval"
        )
    )
    out = asof_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        left_ts="t_us",
        right_ts="p_us",
        payload_cols=["p_ts_us", "pval"],
        direction="nearest",
        tolerance=ASOF_NEAREST_TOL_US,
    )
    return out.select(
        "event_id",
        "user_id",
        "t_us",
        F.col("asof_p_ts_us").alias("purchase_us"),
        F.col("asof_pval").alias("purchase_value"),
    )


ASOF_NEAREST_ORACLE = f"""
    WITH l AS (
      SELECT event_id, user_id, epoch_us(ts) AS t_us
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, epoch_us(ts) AS p_us, MAX(value) AS pval
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
      GROUP BY user_id, epoch_us(ts)
    ),
    j AS (
      SELECT l.event_id, r.p_us, r.pval,
             row_number() OVER (
               PARTITION BY l.event_id
               ORDER BY ABS(r.p_us - l.t_us) ASC,
                        CASE WHEN r.p_us <= l.t_us THEN 0 ELSE 1 END ASC
             ) AS rk
      FROM l JOIN r ON l.user_id = r.user_id
                   AND ABS(r.p_us - l.t_us) <= {ASOF_NEAREST_TOL_US}
    )
    SELECT l.event_id, l.user_id, CAST(l.t_us AS BIGINT) AS t_us,
           CAST(j.p_us AS BIGINT) AS purchase_us,
           j.pval AS purchase_value
    FROM l LEFT JOIN (SELECT * FROM j WHERE rk = 1) j
      ON l.event_id = j.event_id
"""


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension fold (operators/publish.py:
    scd2_apply, Kimball SCD2): customers open at segment
    ``c_mktsegment`` from t=0; the orders feed (attr =
    o_orderpriority, event time = epoch-micros(o_orderdate) +
    o_orderkey — unique per key by construction) versions each
    customer's attribute history, consecutive equal attributes
    collapsing to one validity interval. Two per-key windows — groups
    parallelize, no global sort. Returns
    (c_custkey, seg, valid_from, valid_to) with valid_to NULL on each
    key's open version."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.publish import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderpriority").alias("seg"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            + F.col("o_orderkey")
        ).alias("ts"),
    )
    return scd2_apply(cust, orders, ["k"], ["seg"], "ts").select(
        F.col("k").alias("c_custkey"), "seg", "valid_from", "valid_to"
    )


SCD2_ORACLE = """
    WITH dim AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             CAST(0 AS BIGINT) AS ts, 0 AS src
      FROM customer
    ),
    upd AS (
      SELECT o_custkey AS k, o_orderpriority AS seg,
             epoch_us(o_orderdate) + o_orderkey AS ts, 1 AS src
      FROM orders
    ),
    ev AS (SELECT * FROM dim UNION ALL SELECT * FROM upd),
    d AS (
      SELECT k, seg, ts, src,
             row_number() OVER w AS rn,
             LAG(seg) OVER w AS pseg
      FROM ev WINDOW w AS (PARTITION BY k ORDER BY ts, src)
    ),
    keep AS (
      SELECT k, seg, ts, src FROM d
      WHERE rn = 1 OR seg IS DISTINCT FROM pseg
    )
    SELECT k AS c_custkey, seg,
           CAST(ts AS BIGINT) AS valid_from,
           CAST(LEAD(ts) OVER (PARTITION BY k ORDER BY ts, src) AS BIGINT)
             AS valid_to
    FROM keep
"""


#: Weighted quantiles gated by q_weighted_quantiles (integer millionths).
WEIGHTED_Q_PPMS = (500_000, 900_000)


def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT weighted quantiles (operators/relational.py:
    weighted_quantiles): the price at which each return-flag group's
    cumulative QUANTITY mass reaches ceil(q·W) — the "median document
    by token mass" / compute-budget percentile shape, weights as
    positive integers so every cumulative position is exact integer
    arithmetic (q in millionths, no float boundary). Ties in price
    cannot change the selected value (the threshold lands inside a tie
    group's contiguous cumulative block). Returns
    (l_returnflag, q_ppm, value)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import weighted_quantiles

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("qty_w"),
    )
    return weighted_quantiles(
        li,
        "l_extendedprice",
        "qty_w",
        [p / 1_000_000 for p in WEIGHTED_Q_PPMS],
        by=["l_returnflag"],
    )


WEIGHTED_QUANTILES_ORACLE = f"""
    WITH t AS (
      SELECT l_returnflag AS g, l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND CAST(l_quantity AS BIGINT) > 0
    ),
    c AS (
      SELECT g, v, w,
             CAST(SUM(w) OVER (
               PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS tw
      FROM t
    ),
    q AS (SELECT CAST(x AS BIGINT) AS q_ppm
          FROM (VALUES {", ".join(f"({p})" for p in WEIGHTED_Q_PPMS)}) AS qv(x)),
    j AS (
      SELECT c.g, q.q_ppm, c.v,
             GREATEST(CAST(1 AS BIGINT),
                      (CAST(q.q_ppm AS HUGEINT) * c.tw + 999999) // 1000000) AS tgt,
             c.cw, c.w
      FROM c JOIN q ON TRUE
    )
    SELECT g AS l_returnflag, q_ppm, v AS value
    FROM j WHERE cw >= tgt AND cw - w < tgt
"""


PARETO_FRONTIER_ORACLE = """
    WITH pts AS (
      SELECT l_orderkey, l_linenumber,
             l_extendedprice AS price, l_quantity AS qty
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    best AS (SELECT price, MAX(qty) AS qty FROM pts GROUP BY price),
    sky AS (
      SELECT price, qty FROM (
        SELECT price, qty,
               MAX(qty) OVER (
                 ORDER BY price DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS m
        FROM best
      ) WHERE m IS NULL OR qty > m
    )
    SELECT p.l_orderkey, p.l_linenumber, p.price, p.qty
    FROM pts p JOIN sky s ON p.price = s.price AND p.qty = s.qty
"""


def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted again on
    each later active day offset — first-seen via one min-aggregate (no
    window over the raw stream), activity distinct per (user, day), one
    keyed join. Returns (cohort_us, day_offset, n_users)."""
    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort"))
    return (
        days.join(first, "user_id")
        .groupBy(
            F.unix_micros(F.col("cohort")).alias("cohort_us"),
            F.datediff(F.col("day"), F.col("cohort")).cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase within 24h end-to-end) per
    user: for each purchase, the latest prior click; for that click, the
    latest prior view; keep chains inside the window. Expressed as two
    keyed self-joins on user_id with inequality predicates bounded by the
    24h interval band (never a cartesian across users). Returns per-user
    completed-funnel counts."""
    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("ts").alias("t_view")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("t_click")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("ts").alias("t_buy")
    )
    chains = (
        p.join(c, "u")
        .where(
            (F.col("t_click") < F.col("t_buy"))
            & (F.col("t_click") >= F.col("t_buy") - F.expr("INTERVAL 24 HOUR"))
        )
        .join(v, "u")
        .where(
            (F.col("t_view") < F.col("t_click"))
            & (F.col("t_view") >= F.col("t_buy") - F.expr("INTERVAL 24 HOUR"))
        )
        .select("u", "t_buy")
        .distinct()
    )
    return chains.groupBy(F.col("u").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_funnels")
    )


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between two corpus snapshots (old = even
    vec_ids, new = odd): DECIMAL-exact per-label means on each half, cosine
    between the two centroids — the embedding-space monitoring step between
    corpus releases. Two map-combined groupBys carrying |labels| x dim
    cells; the centroid join is |labels|-sized."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    old = label_centroids(emb.where(F.col("vec_id") % 2 == 0), "label", "embedding")
    new = label_centroids(emb.where(F.col("vec_id") % 2 == 1), "label", "embedding")
    o = old.select("label", "pos", F.col("mval").alias("ov"))
    n = new.select("label", "pos", F.col("mval").alias("nv"))
    j = o.join(n, ["label", "pos"])
    agg = j.groupBy("label").agg(
        F.sum(F.col("ov").cast("decimal(18,6)") * F.col("nv").cast("decimal(18,6)"))
        .alias("dp"),
        F.sum(F.col("ov").cast("decimal(18,6)") * F.col("ov").cast("decimal(18,6)"))
        .alias("o2"),
        F.sum(F.col("nv").cast("decimal(18,6)") * F.col("nv").cast("decimal(18,6)"))
        .alias("n2"),
    )
    return agg.select(
        "label",
        F.round(
            F.col("dp").cast("double")
            / F.sqrt(F.col("o2").cast("double") * F.col("n2").cast("double")),
            6,
        ).alias("centroid_cos"),
    )


TOKEN_BUDGET = 500


def q_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sampling: admit docs in deterministic hash
    order until ~500 whitespace tokens per source — integer prefix sums
    over one group window."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    from chess_lakehouse_spark.functions.text import WS_SPLIT

    n_toks = F.size(F.filter(F.split(F.col("text"), WS_SPLIT), lambda t: t != ""))
    return token_budget_sample(
        docs, "doc_id", "source", n_toks, budget=TOKEN_BUDGET, seed=SAMPLE_SEED
    )


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split: the split key is the near-dup
    CLUSTER canonical (connected components over MinHash-LSH pairs), not
    the doc id — so near-duplicates can never straddle the split and leak
    eval content into train. Docs outside any cluster key on themselves.

    Demonstrates the staged-components pattern: the cluster table is built
    ONCE here (connected_components' bounded driver fast path makes it a
    local relation — the LSH subtree runs once, eagerly, and never appears
    in the split's plan) and handed to ``leakage_safe_split(components=)``;
    a production pipeline passes the same staged frame to every cluster
    consumer (this split, priority_canonical, ...). Returns
    (doc_id, split_key, split)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.graph import connected_components
    from chess_lakehouse_spark.operators.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=JACCARD_THRESHOLD
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return leakage_safe_split(
        docs, "doc_id", eval_frac=EVAL_FRAC, seed=SAMPLE_SEED + 1, components=comp
    )


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted resampling: keep probability ramps linearly with
    the quality score (0 below 2.0, 1 above 3.0) — zero-shuffle filter,
    membership a pure function of (seed, doc_id, score)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import quality_score
    from chess_lakehouse_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    rate = (quality_score(F.col("text")) - F.lit(2.0)) / F.lit(1.0)
    return weighted_sample(docs, "doc_id", rate, seed=SAMPLE_SEED).select(
        "doc_id", "source"
    )


def q_dq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit over orders: null keys, domain
    violations, range violations — every rule a conditional sum inside ONE
    aggregate (one scan regardless of rule count)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import dq_violations

    orders = load_table(spark, sf_dir, "orders")
    return dq_violations(
        orders,
        {
            "custkey_null": F.col("o_custkey").isNull(),
            "status_domain": ~F.col("o_orderstatus").isin("O", "F", "P"),
            "price_nonpositive": F.col("o_totalprice") <= 0,
            "priority_null": F.col("o_orderpriority").isNull(),
        },
    )


PMI_TOP_K = 50
PMI_MIN_COUNT = 5


def q_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by PMI over adjacent token pairs (support >= 5):
    integer-exact ln inputs, TakeOrdered top-k."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import pmi_top_k

    docs = load_table(spark, sf_dir, "documents")
    return pmi_top_k(docs, "doc_id", "text", k=PMI_TOP_K, min_count=PMI_MIN_COUNT)


Z_THRESHOLD = 2.0


def q_event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| >= 2): exact-decimal group
    moments broadcast back onto the un-shuffled stream."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import zscore_outliers

    events = load_table(spark, sf_dir, "events")
    return zscore_outliers(events, "event_id", "event_type", "value", z_threshold=Z_THRESHOLD)


def q_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diff: snapshot A = docs with doc_id % 5 != 0 and a
    simulated edit on doc_id % 7 == 0; snapshot B = the corpus. Classifies
    added/removed/changed per id via one full-outer digest join —
    |delta|-sized output."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import snapshot_delta

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v1")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_delta(old, docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


def q_lm_score_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM NLL with add-1/2 smoothing — integer-exact model inputs
    ((2c+1)/(2c+V) rational form), DECIMAL-exact per-doc sums."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs, "doc_id", "text")


PASSAGE_WINDOW = 32


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage dedup audit: non-overlapping 32-token chunks,
    first occurrence wins (global (doc_id, chunk_idx) order on the chunk
    content hash), per-doc duplicate-passage counts. One window shuffle
    keyed by chunk hash — per-hash state is a rank counter — plus the
    map-combined per-doc rollup."""
    apply_runtime_conf(spark)
    from pyspark.sql.window import Window

    from chess_lakehouse_spark.functions.text import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_tokens(docs, "doc_id", "text", window=PASSAGE_WINDOW, stride=PASSAGE_WINDOW)
    w = Window.partitionBy(F.md5("chunk_text")).orderBy("doc_id", "chunk_idx")
    return (
        chunks.withColumn("occ", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("occ") > 1, 1).otherwise(0)).cast("long").alias("n_dup_chunks"),
        )
    )


#: Source-priority ranks for canonical selection: curated sources first,
#: everything unlisted at rank 99 (crawl tier).
PRIORITY_RANKS = {"src3": 0, "src7": 1}
PRIORITY_DEFAULT = 99


def q_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-aware canonical selection: near-dup clusters (MinHash-LSH +
    connected components), then per cluster keep the member from the most
    trusted source (rank via a literal CASE map, id tie-break) — 'which
    copy do we train on' as one join + one map-combined groupBy.

    priority_canonical's first argument IS the staged-components reuse
    path: a pipeline that has already materialized the cluster table (see
    q_split_leakage_safe) passes that same frame here instead of
    recomputing LSH + connected components per consumer."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.graph import connected_components, priority_canonical

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=JACCARD_THRESHOLD
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    prio = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(r))
            for s, r in PRIORITY_RANKS.items()
        ],
        F.lit(PRIORITY_DEFAULT),
    )
    attrs = docs.select("doc_id", prio.cast("int").alias("prio_rank"))
    return priority_canonical(comp, attrs, "doc_id", "prio_rank")


GROUP_CAP_N = 15


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document cap (at most 15 per source, chosen
    by the portable sampling hash): domain balancing with reproducible,
    nested membership. One window shuffle keyed by source."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import top_n_per_group

    docs = load_table(spark, sf_dir, "documents")
    return top_n_per_group(docs, "doc_id", "source", n=GROUP_CAP_N, seed=SAMPLE_SEED).select(
        "doc_id", "source"
    )


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters: duplicate-token fraction
    (array-domain, narrow) + modal-bigram fraction (explode + two
    map-combined groupBys on doc id)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import repetition_metrics

    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs, "doc_id", "text")


KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_SEED = 0


def q_knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 over k-means-TRAINED centroid lists (k=8, 2 iterations,
    seed 0): the trainer is ``kmeans_fit`` — seeded md5 init, map-side
    argmax assignment, DECIMAL-exact means — so the whole train+search run
    is deterministic and the oracle unrolls the two iterations in SQL."""
    apply_runtime_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(
        emb, "vec_id", "embedding", k=KMEANS_K, iters=KMEANS_ITERS, seed=KMEANS_SEED
    )
    probes = emb.where(F.col("vec_id") < KNN_PROBES)
    return knn_ivf(
        emb, probes, "vec_id", "embedding", nprobe=2, k=KNN_K, centroids=cents
    )


TFIDF_COS_THRESHOLD = 0.6


def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine document similarity via an inverted-index join
    (pairs exist only where a term is shared), blocked by ``source`` so the
    Σ_t df(t)² join fan-out is bounded per block. This corpus is
    shared-vocabulary (median df ≈ 0.8·N — every term is a "stopword"), so
    the Zipfian ``max_df`` control would prune everything; blocking is the
    control that survives here. Blocks are (source, lang) — near-dups
    across languages are not a thing, so the finer key costs no recall and
    cuts Σ_blk n_blk² ~5×. Measured at sf0.1: unblocked+unpruned 172 s vs
    5 s blocked, same per-pair cosines (norms are computed unblocked)."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import tfidf
    from chess_lakehouse_spark.operators.similarity import sparse_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    wts = tfidf(docs, "doc_id", "text", min_tf=2).join(
        docs.select("doc_id", F.concat_ws("|", "source", "lang").alias("blk")),
        "doc_id",
    )
    return sparse_cosine_pairs(
        wts, "doc_id", "term", "tfidf",
        threshold=TFIDF_COS_THRESHOLD, block_col="blk",
    )


def q_source_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus stats via grouped-map ``applyInPandas`` — the
    Arrow-batched grouped transform surface (one group = one pandas frame).
    Used here for a numpy-style computation (mean + interpolated median of
    doc lengths); values are rounded so numpy's (a+b)/2 midpoint and the
    oracle's interpolation agree. One shuffle on the group key; per-group
    memory is bounded by the largest group (sources are balanced blocks)."""
    apply_runtime_conf(spark)
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        n = pdf["n_chars"].astype("float64")
        # mean via exact integer half-away rounding (functions/exact.py):
        # Python round() is half-EVEN, so a quotient tie at the 7th
        # decimal would disagree with the oracle's half-away ROUND; the
        # integer form agrees by construction. The median's midpoint of
        # two ints has at most one decimal digit — no 6-decimal tie.
        s6 = int(pdf["n_chars"].sum()) * 1_000_000
        cnt = len(pdf)
        mean_chars = ((2 * s6 + cnt) // (2 * cnt)) / 1e6
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": pd.Series([cnt], dtype="int64"),
                "mean_chars": [mean_chars],
                "median_chars": [round(float(n.median()), 6)],
            }
        )

    return docs.groupBy("source").applyInPandas(
        stats, schema="source string, n_docs long, mean_chars double, median_chars double"
    )


def q_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark's SQL-callable table function — the
    declarative twin of the mapInPandas table-function pattern used by the
    PGN source): word bigrams with positions, invoked via correlated
    LATERAL in SQL."""
    apply_runtime_conf(spark)
    from pyspark.sql.functions import udtf

    @udtf(returnType="gram string, pos int")
    class WordBigrams:
        def eval(self, text: str):
            toks = text.split()
            for i in range(len(toks) - 1):
                yield (toks[i] + " " + toks[i + 1], i)

    spark.udtf.register("word_bigrams", WordBigrams)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT d.doc_id, b.gram, b.pos FROM documents d, LATERAL word_bigrams(d.text) b"
    )


def q_udaf_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (UDAF surface): per-source geometric mean of
    document lengths — Arrow-batched per group, partial aggregation is not
    available for arbitrary Python aggs so the group's values ship to one
    task (bounded: sources are blocks). Rounded so numpy's pairwise mean
    and the oracle's sequential AVG agree."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.pandas_aggs import gmean

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(F.round(gmean("n_chars"), 6).alias("gmean_chars"))


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus canonicalization + PII redaction in one narrow pass:
    lowercase / whitespace-collapse / trim, then typed placeholder
    substitution for emails, phones, IPv4 (portable Java-regex∩RE2
    patterns). Pure codegen, zero shuffle at any scale."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import normalize_text, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", scrub_pii(normalize_text(F.col("text"))).alias("norm_text")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return quality_metrics(docs, "doc_id", "text")


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return langid_scores(docs, "doc_id", "text")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs, "doc_id", "text")


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF vectorization over the documents table (min_tf=2)."""
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return tfidf(docs, "doc_id", "text", min_tf=2)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=5, window=8)


MIX_ALPHA = 0.5


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language mixing (alpha=0.5): per-language keep
    rate (n_min/n_lang)^(1-alpha) — rarest language kept whole, the
    dominant one flattened toward it (the multilingual pretraining
    rebalance). One |langs|-row count aggregate, broadcast rate join,
    zero-shuffle hash filter."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "doc_id", "lang", alpha=MIX_ALPHA, seed=SAMPLE_SEED
    ).select("doc_id", "lang")


WINSOR_LO = 0.01
WINSOR_HI = 0.99


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization: clip values to the exact rank-based
    [p01, p99] of their group — one window shuffle for ranks, a
    |groups|-row bounds frame broadcast back onto the rows."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import winsorize

    ev = load_table(spark, sf_dir, "events")
    return winsorize(
        ev, "event_id", "event_type", "value", lower_pct=WINSOR_LO, upper_pct=WINSOR_HI
    )


#: Literal canary strings for the contamination tripwire scan. The first
#: two occur in the synthetic corpus vocabulary; the GUID-style one must
#: never match (its absence from the result is part of the contract).
CANARIES = (
    "batch batch batch",
    "window window",
    "canary-7f3a9c2e-eval-do-not-train",
)


def q_canary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-canary contamination scan: per (canary, source) count of
    documents containing each literal tripwire string — one corpus pass,
    literal-array explode, JVM substring search, tiny final aggregate."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import canary_hits

    docs = load_table(spark, sf_dir, "documents")
    return canary_hits(docs, "text", CANARIES, group_col="source")


def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence against the corpus distribution —
    the domain-skew monitor. One explode + map-combined (source, word)
    counts; word/source totals derived from that frame (single corpus
    scan); DECIMAL-exact summation of integer-weighted rounded ln terms."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import source_unigram_kl

    docs = load_table(spark, sf_dir, "documents")
    return source_unigram_kl(docs, "source", "text")


TWO_STAGE_COARSE_DIMS = 16
TWO_STAGE_POOL = 20


def q_knn_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine ANN: shortlist pool=20 per query on the first 16
    dims (4x cheaper corpus scan), exact-cosine re-rank the shortlist on
    full vectors, top-5. Exact sims, bounded rerank."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import knn_two_stage

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < KNN_PROBES)
    return knn_two_stage(
        emb,
        probes,
        "vec_id",
        "embedding",
        coarse_dims=TWO_STAGE_COARSE_DIMS,
        pool=TWO_STAGE_POOL,
        k=KNN_K,
    )


ROLLING_WINDOW_S = 7 * 86400


def q_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user moving average of event values — a time-RANGE
    window over integer epoch micros (exact frame membership, tied
    timestamps are peers in any engine), DECIMAL-exact mean."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import rolling_time_mean

    ev = load_table(spark, sf_dir, "events")
    return rolling_time_mean(
        ev, "event_id", "user_id", "ts", "value", window_s=ROLLING_WINDOW_S
    )


def q_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-active-day streaks (gaps & islands): integer
    epoch days, island id = day - row_number, one distinct + one window +
    one aggregate all on the user partitioning."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import activity_streaks

    ev = load_table(spark, sf_dir, "events")
    return activity_streaks(ev, "user_id", "ts")


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy (nats): diversity/repetition
    quality signal; integer-weighted rounded ln terms, DECIMAL-exact sum."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    return token_entropy(docs, "doc_id", "text")


def q_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash-LSH near-dup pairs labeled
    with both docs' sources (order-normalized), counted per source pair —
    the 'where does duplicate mass live' release diagnostic. Two bounded
    equi-joins onto the pair list; output is |sources|^2-bounded."""
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=JACCARD_THRESHOLD
    )
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")), "id_a"
        )
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")), "id_b")
        .select(
            F.least(F.col("sa"), F.col("sb")).alias("source_a"),
            F.greatest(F.col("sa"), F.col("sb")).alias("source_b"),
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(F.count(F.lit(1)).alias("n_pairs"))


#: BM25 retrieval constants shared by q_bm25_topk / q_rrf_fuse and their
#: oracles (mixed document frequencies in the fixture vocabulary).
BM25_QUERY = "join hash vector customer"
BM25_K = 50
RRF_LIST_K = 20
RRF_K = 15
DSIR_K = 100
DSIR_BUCKETS = 256
#: doc_id range served through the manifest-pruned lake read.
LAKE_READ_RANGE = (100, 149)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ad-hoc retrieval over the documents corpus: postings are
    filtered to the query's terms BEFORE the shuffle (map-side literal-
    array filter), the corpus stats are a 1-row aggregate of the document
    lengths cross-joined onto the query-term df table, result is
    TakeOrdered(k). Scoring contract (integer-ratio idf, ROUND(·,6)
    per-term, DECIMAL(18,6) sum, (score DESC, id) order) pinned against a
    pure-Python reference in tests/test_bm25.py."""
    from chess_lakehouse_spark.functions.text import bm25_topk

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", BM25_QUERY, k=BM25_K)


def q_rrf_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion: BM25 lexical candidates fused with a
    length-prior ranking via reciprocal-rank fusion (Cormack et al. 2009).
    Both input lists are k-bounded (TakeOrdered) before the rank windows,
    so every window runs over ≤ RRF_LIST_K rows and the fusion itself
    never touches the corpus."""
    from pyspark.sql.window import Window

    from chess_lakehouse_spark.functions.text import bm25_topk, rrf_fuse

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    bm = bm25_topk(docs, "doc_id", "text", BM25_QUERY, k=RRF_LIST_K)
    bm_ranked = bm.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .cast("int"),
    ).select("doc_id", "rk")
    prior = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(RRF_LIST_K)
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
            .cast("int"),
        )
        .select("doc_id", "rk")
    )
    return rrf_fuse([bm_ranked, prior], "doc_id", k=RRF_K)


def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): the every-10th
    documents slice plays the in-domain TARGET corpus, the rest the raw
    pool; hashed unigram+bigram bucket models give log importance weights
    and deterministic Gumbel top-k picks the selection. Weight chain
    pinned in tests/test_dsir.py against pure Python AND this oracle."""
    from chess_lakehouse_spark.operators.sampling import dsir_topk

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 10 == 0)
    raw = docs.where(F.col("doc_id") % 10 != 0)
    return dsir_topk(
        raw, target, "doc_id", "text", k=DSIR_K, n_buckets=DSIR_BUCKETS
    )


#: Merge rounds learned by the gated bpe_train query (all rounds clear
#: min_pair_count on the fixture corpus, so the early-stop path — pinned
#: separately in tests/test_bpe.py — never truncates the oracle's chain).
BPE_MERGES = 8


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction over the documents corpus: the
    corpus collapses to the distinct-word frequency table in one
    map-combined aggregation, then each merge round is pair-count explode →
    weighted count → TakeOrdered(1) winner with the (count DESC, pa, pb)
    total order → JVM array-fold merge. The driver holds only the merge
    list (bounded by BPE_MERGES), returned as (rk, pa, pb) rows. The
    oracle replays every round as an unrolled CTE chain (greedy leftmost
    non-overlapping pair selection via run/island analysis — the same
    unroll pattern as knn_ivf_kmeans's k-means oracle)."""
    from chess_lakehouse_spark.functions.bpe import bpe_train

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=BPE_MERGES)
    rows = [(i + 1, pa, pb) for i, (pa, pb) in enumerate(merges)]
    return local_df(spark, rows, "rk int, pa string, pb string")


#: One staging root per (process, kind) for the queries that stage a
#: lake/feed on local disk (lake_skipping_read, the stream-gated trio,
#: the staged heavy-hitters state), created lazily and removed at
#: interpreter exit — a fresh mkdtemp per invocation leaked a full
#: corpus copy under /tmp on every suite/bench rep (r6 advice). The
#: base directory honors ``SPARK_GRAFT_TMPDIR`` when set (r12 advice:
#: on a shared-cluster driver the system temp dir is a collision and
#: cleanup hazard — point every staging root at one job-scoped scratch
#: path instead); default is the system temp dir.
_SCRATCH_ROOTS: dict[str, str] = {}


def _scratch_dir(kind: str, sf_dir: str) -> str:
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    if kind not in _SCRATCH_ROOTS:
        base = os.environ.get("SPARK_GRAFT_TMPDIR") or None
        if base:
            os.makedirs(base, exist_ok=True)
        root = tempfile.mkdtemp(prefix=f"chess_lakehouse_{kind}_", dir=base)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOTS[kind] = root
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = f"{_SCRATCH_ROOTS[kind]}/{tag}"
    os.makedirs(d, exist_ok=True)
    return d


def _feed_once(feed: str, write) -> None:
    """Materialize a per-process deterministic file FEED exactly once:
    every stream-gated query's feed is a pure function of sf_dir and
    the scratch roots are per-process, so bench reps and suite
    re-invocations reuse the first write instead of re-staging the
    corpus each call. The completion marker is underscore-prefixed
    (Spark's file listing skips it, batch and streaming alike); a crash
    between write and marker just rewrites in overwrite mode."""
    import os

    marker = os.path.join(feed, "_feed_complete")
    if os.path.exists(marker):
        return
    write()
    open(marker, "w").close()


#: State-partition count for the gated streaming drains. Measured r15
#: (SCALE.md): the stream-stream interval join at 32 shuffle/state
#: partitions cost 20-49 s per drain vs 5-9 s at 8 in the same process
#: — per-micro-batch cost is dominated by per-state-partition
#: checkpoint I/O (one state store + checksum checkpoint files per
#: partition per stateful operator), which is also what made the
#: streaming queries the most co-tenant-sensitive rows on the bench
#: watchlist. The gated drains carry tiny per-batch volumes, so 8
#: partitions bound the constant without touching parallelism that
#: matters; at 100 TB/day the SAME knob is sized to the stream's actual
#: volume (state partitioning is fixed at first checkpoint creation —
#: size it at job birth, not suite-wide).
STREAM_DRAIN_PARTITIONS = 8


class _stream_drain_conf:
    """Set spark.sql.shuffle.partitions to STREAM_DRAIN_PARTITIONS for
    the duration of a streaming drain and restore it after (try/finally
    via the context protocol) — the batch plans around the drain keep
    the suite-wide setting. Conf is read at query START, so wrapping
    .start()+awaitTermination() (foreachBatch folds included: their
    batch jobs run inside the drain) is sufficient."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_DRAIN_PARTITIONS)
        )

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def _sklake_dir(sf_dir: str) -> str:
    return _scratch_dir("sklake", sf_dir) + "/docs"


def q_lake_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end lake-layout path: cluster the documents table by doc_id
    into range-disjoint Parquet files, build the per-file min/max skipping
    manifest, then serve a point-range query THROUGH the manifest — the
    pruned read must return exactly what the raw table would (the oracle
    checks values; file-level pruning itself is pinned by inputFiles()
    asserts in tests/test_clustering.py). The lake is staged (overwrite
    mode) under one per-process temp root keyed by sf_dir, removed at
    exit; at 100 TB this is the write-once/serve-many layout whose point
    reads open O(1) of the files."""
    from chess_lakehouse_spark.operators.publish import (
        read_with_skipping,
        write_clustered,
        write_skipping_manifest,
    )

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    lake = _sklake_dir(sf_dir)
    # stage the clustered lake + manifest once per process (pure
    # function of sf_dir — the bm25_staged r15 watchlist discipline;
    # the gated cost measures the manifest-pruned point READ)
    def stage() -> None:
        write_clustered(docs, lake, ["doc_id"], n_files=8)
        write_skipping_manifest(spark, lake, ["doc_id"])

    _feed_once(lake, stage)
    lo, hi = LAKE_READ_RANGE
    return read_with_skipping(spark, lake, {"doc_id": (lo, hi)})


#: paragraph_dedup separator for the gated query — a frequent fixture
#: token, so documents actually split into multiple "paragraphs" and
#: cross-document repeats occur (the synthetic corpus has no newlines).
PARA_SEP = "value"
#: shard_assignments layout for the gated query.
SHARD_N = 16
SHARD_SEED = 0


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide first-occurrence paragraph dedup (the C4/RefinedWeb
    line-level pass): split on the literal PARA_SEP, drop every repeated
    paragraph except its (doc_id, pos)-first occurrence, rebuild each
    document. One posexplode + ONE map-combined groupBy(md5(para)) + a
    keyed join + a per-doc rebuild — the paragraph-hash table is shuffled,
    never broadcast (operators/dedup.py:paragraph_dedup)."""
    from chess_lakehouse_spark.operators.dedup import paragraph_dedup

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup(docs, "doc_id", "text", sep=PARA_SEP)


def q_shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle-shard layout: shard = pmod(h60, N),
    pos = rank of the md5-derived hash within the shard — a pure function
    of (seed, id), so any run / partitioning / engine reproduces the
    identical training-serving layout (operators/sampling.py). The only
    exchange is the per-shard rank window — the same repartition the
    on-disk layout needs anyway."""
    from chess_lakehouse_spark.operators.sampling import shard_assignments

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return shard_assignments(docs, "doc_id", SHARD_N, seed=SHARD_SEED)


# ---------------------------------------------------------- gate queries
# tests/test_span_dedup.py / test_gopher.py / test_bm25.py import these
# oracle templates (the bm25_topk anti-divergence pattern).

SPAN_DEDUP_K = 3
#: fixture-tuned Gopher thresholds (see tests/test_gopher.py — the
#: paper's (50 words, 2 stops) rejects every fixture row).
GOPHER_Q_MIN_WORDS = 30
GOPHER_Q_MIN_STOPS = 1
BM25_BATCH_MOD = 250
BM25_BATCH_K = 10

#: FIXED literal model for the learned-gate SERVING path (r8 verdict
#: task 3): training floats (LBFGS partial-aggregate class) keep
#: train_quality_classifier rows-only, but serving a pinned weight dict
#: is a deterministic column chain a DuckDB oracle reproduces exactly.
#: Weights chosen so the gate splits the documents fixture on BOTH sides
#: via n_words / mean_word_len / stop_hits (the metrics that vary there
#: — tests/test_classifier.py asserts the split discriminates).
CLASSIFIER_MODEL: dict = {
    "features": [
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "alpha_word_frac",
        "stop_hits",
    ],
    "coef": {
        "n_words": 0.04,
        "mean_word_len": -0.1,
        "symbol_ratio": -8.0,
        "bullet_line_frac": -2.0,
        "ellipsis_line_frac": -1.5,
        "alpha_word_frac": 1.0,
        "stop_hits": 0.5,
    },
    "intercept": -2.5,
}


def q_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr pass (Lee et al. 2021) at k-token shingle granularity:
    every k-token window repeated from earlier in the corpus loses its
    tokens; first occurrences survive (operators/dedup.py:
    duplicate_span_dedup)."""
    from chess_lakehouse_spark.operators.dedup import duplicate_span_dedup

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_dedup(docs, "doc_id", "text", k=SPAN_DEDUP_K)


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule battery (Rae et al. 2021) with per-rule evidence
    columns, fixture-tuned word/stop thresholds so the gate splits the
    corpus on both sides (functions/text.py: gopher_rules)."""
    from chess_lakehouse_spark.functions.text import gopher_rules

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(
        docs, "doc_id", "text",
        min_words=GOPHER_Q_MIN_WORDS, min_stop_hits=GOPHER_Q_MIN_STOPS,
    )


def q_classifier_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned LR quality gate, SERVING path (GPT-3 App. A / DCLM class;
    operators/classify.py): score every document with the FIXED
    CLASSIFIER_MODEL — sigmoid(w·x+b) folded into a pure column chain
    over the shared Gopher metric columns, zero MLlib/UDF, rides the
    scan. The keep decision derives from the linear margin ``z >= 0``
    (== prob >= 0.5), which is exact double arithmetic in both engines;
    keep_prob is ROUND(sigmoid, 6) — the documented
    ROUND-of-a-transcendental accepted-risk class (same as lm_score's
    ln)."""
    from chess_lakehouse_spark.operators.classify import (
        classifier_margin,
        classifier_score,
    )

    apply_runtime_conf(spark)
    from chess_lakehouse_spark.session import spread

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    z = classifier_margin(text, CLASSIFIER_MODEL)
    # spread: the whole margin chain is map-side feature extraction over
    # the scan's partitioning — ONE task on the single-file fixture
    # (guide §2.5; fenced 2.7 s → 1.9 s at sf0.1/local[32]).
    return spread(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.round(classifier_score(text, CLASSIFIER_MODEL), 6).alias("keep_prob"),
        (z >= F.lit(0.0)).alias("keep"),
    )


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25: every doc_id % BM25_BATCH_MOD == 0 document's text
    plays a query; one corpus pass scores the whole batch
    (functions/text.py: bm25_batch — dfreq hint dropped in r7 ahead of
    gating)."""
    from chess_lakehouse_spark.functions.text import bm25_batch

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") % BM25_BATCH_MOD == 0).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    return bm25_batch(
        docs, "doc_id", "text", queries, "query_id", "query_text", k=BM25_BATCH_K
    )


#: Query-batch modulus for the STAGED BM25 candidate — distinct from
#: BM25_BATCH_MOD so the staged-serving query's output is not a byte
#: twin of bm25_batch's (two genuinely different result sets, one per
#: execution path).
BM25_STAGED_MOD = 125


def _bm25_index_dir(sf_dir: str) -> str:
    """Per-process temp dir for the staged BM25 index (same atexit-cleaned
    root as the skipping lake / staged LM)."""
    return _sklake_dir(sf_dir).rsplit("/", 1)[0] + "/bm25idx"


def q_bm25_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served FROM the staged lake index (functions/text.py:
    build_bm25_index + bm25_from_index) — the scale-headline serving
    path: term-clustered postings staged once, then the query batch
    (every doc_id % BM25_STAGED_MOD == 0 document's text) scores with
    ZERO corpus access; serve cost tracks matching postings, not corpus
    size (SCALE.md: flat at x8). The oracle is the RAW-table batch-BM25
    SQL — exactly the lake_skipping_read gating pattern: stage inside
    the query, serve through the staged layout, and the result must
    equal what the raw table computes. The index stages ONCE per
    process (pure function of sf_dir — the _feed_once / knn_ivfpq
    discipline; r15 watchlist fix: rebuilding the clustered index on
    every invocation made the gated cost bimodal-noisy, because the
    sort+swap build — not the stable serve — dominated and soaked up
    co-tenant disk variance); the serve at the gated scales takes the
    BOUNDED-LITERAL pushdown branch of bm25_from_index (30/31 distinct
    query terms at sf0.01/sf0.1, far under max_pushdown_terms=1000, so
    the term predicate reaches the clustered postings' footers —
    branch-attributed fences in SCALE.md r15).

    Exact value parity against BM25_STAGED_ORACLE pinned in
    tests/test_bm25.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.functions.text import (
        bm25_from_index,
        build_bm25_index,
    )

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    idx = _bm25_index_dir(sf_dir)
    _feed_once(idx, lambda: build_bm25_index(docs, "doc_id", "text", idx))
    queries = docs.where(F.col("doc_id") % BM25_STAGED_MOD == 0).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    return bm25_from_index(spark, idx, queries, "query_id", "query_text", k=BM25_BATCH_K)


#: Delta slice for the staged-rollup candidate: event_id % MOD == 0 rows
#: arrive as the "ingest delta" fold.
ROLLUP_DELTA_MOD = 4


def _rollup_dir(sf_dir: str) -> str:
    return _sklake_dir(sf_dir).rsplit("/", 1)[0] + "/rollup"


def q_rollup_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized rollup (operators/rollup.py — the
    continuous-aggregate / hypertable pattern; the reference re-CTASes
    its aggregates per run, export-to-parquet.ts:98) exercised through
    its full lifecycle in one gated query: build hourly-by-type partials
    over the historical slice (event_id % ROLLUP_DELTA_MOD != 0), fold
    the ingest delta (% == 0) as its own batch partition in O(delta),
    then serve count / non-null count / exact decimal sum / min / max /
    exact-6-decimal mean with ZERO raw-table access (the serve plan reads
    only the staged lake — inputFiles-pinned in tests/test_rollup.py).
    The oracle is the direct GROUP BY over the full raw table, so the
    hash-match certifies build+append+merge+serve end to end.

    Exact value parity against ROLLUP_STAGED_ORACLE pinned in
    tests/test_rollup.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.rollup import (
        append_rollup,
        build_rollup,
        serve_rollup,
        time_bucket,
    )

    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_epoch", time_bucket(F.col("ts"), 3600)
    )
    d = _rollup_dir(sf_dir)
    # stage once per process (pure function of sf_dir — the bm25_staged
    # r15 watchlist discipline): build+append are the ingest lifecycle,
    # replay-idempotent by construction (a replay of the same batch_id
    # rewrites its own partition value-identically — operators/rollup.py
    # swap contract); the gated cost should measure the SERVE.
    def stage() -> None:
        build_rollup(
            ev.where(F.col("event_id") % ROLLUP_DELTA_MOD != 0),
            ["hour_epoch", "event_type"],
            [
                ("n", "count", None),
                ("n_value", "countnn", "value"),
                ("sum_value", "sum6", "value"),
                ("min_value", "min", "value"),
                ("max_value", "max", "value"),
            ],
            d,
        )
        append_rollup(
            ev.where(F.col("event_id") % ROLLUP_DELTA_MOD == 0), d, "delta1"
        )

    _feed_once(d, stage)
    return serve_rollup(spark, d, avg6=[("avg_value", "sum_value", "n_value")])


#: Funnel definition for the staged candidate: view → click → purchase
#: completed within one day of funnel entry — splits the fixture at both
#: local scales (sf0.001: 15/6/3; sf0.01: 150/60/14).
FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WITHIN_S = 86_400


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel over events (operators/relational.py:funnel):
    first-occurrence, strictly-increasing step times, window anchored at
    funnel entry in exact integer microseconds. K-1 user-keyed joins +
    map-combined groupBys, type filters pushed to the scan.

    Exact value parity against FUNNEL_ORACLE pinned in tests/test_funnel.py
    at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.relational import funnel

    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    return funnel(
        ev, "user_id", "event_type", "ts",
        list(FUNNEL_STEPS), within_seconds=FUNNEL_WITHIN_S,
    )


def _funnel_oracle_sql() -> str:
    us = FUNNEL_WITHIN_S * 1_000_000
    ctes = [
        f"s1 AS (SELECT user_id, MIN(ts) AS t, MIN(ts) AS t1 FROM events "
        f"WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1)"
    ]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, MIN(e.ts) AS t, MIN(s.t1) AS t1 "
            f"FROM events e JOIN s{i-1} s ON e.user_id = s.user_id "
            f"WHERE e.event_type = '{step}' AND e.ts > s.t "
            f"AND epoch_us(e.ts) <= epoch_us(s.t1) + CAST({us} AS BIGINT) "
            f"GROUP BY 1)"
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({i+1} AS INT) AS step_idx, '{s}' AS step, "
        f"COUNT(*) AS n_users FROM s{i+1}"
        for i, s in enumerate(FUNNEL_STEPS)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


FUNNEL_ORACLE = _funnel_oracle_sql()


#: Anomaly candidate: trailing-24h exact-integer 3-sigma flags over the
#: hourly per-type count series — 29/46 anomalies at sf0.001/0.01, so
#: the boolean splits at both scales.
ANOMALY_WINDOW = 24
ANOMALY_K2 = 9


def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer trailing z-score anomaly flags
    (operators/relational.py:integer_zscore_flags) over hourly per-type
    event counts: (w·x − s)² > k²·(w·ss − s²) — one integer comparison,
    no mean/sqrt/division, bit-identical cross-engine where a float
    z-score would ride the ROUND-of-transcendental risk. NULL until the
    trailing window is full.

    Exact value parity against ANOMALY_ORACLE pinned in
    tests/test_anomaly.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.relational import integer_zscore_flags
    from chess_lakehouse_spark.operators.rollup import time_bucket

    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bk", time_bucket(F.col("ts"), 3600)
    )
    hourly = ev.groupBy("event_type", "bk").agg(F.count(F.lit(1)).alias("n"))
    return integer_zscore_flags(
        hourly, "event_type", "bk", "n",
        window=ANOMALY_WINDOW, k2=ANOMALY_K2,
    )


ANOMALY_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
         3600 * (epoch_us(ts) // 3600000000) AS bk,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, bk, n,
         SUM(n) OVER win AS s,
         SUM(n * n) OVER win AS ss,
         COUNT(*) OVER win AS cnt
  FROM hourly
  WINDOW win AS (PARTITION BY event_type ORDER BY bk
                 ROWS BETWEEN {ANOMALY_WINDOW} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, bk, CAST(n AS BIGINT) AS n,
       CASE WHEN cnt = {ANOMALY_WINDOW} THEN
         (cnt * n - s) * (cnt * n - s) > {ANOMALY_K2} * (cnt * ss - s * s)
       END AS is_anomaly
FROM w
"""


#: Gap-fill candidate: hourly per-type event counts with every 3rd hour
#: deterministically removed, then grid-completed + LOCF-forward-filled —
#: is_filled splits both ways at both local scales.
GAPFILL_STEP_S = 3600
GAPFILL_HOLE_MOD = 3


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill (operators/relational.py:gapfill_series —
    the hypertable time_bucket_gapfill/LOCF shape): hourly per-type
    counts with planted holes, per-series grid completion from own
    min to max, forward-filled counts, is_filled markers. Grid explode
    is output-sized; the fill is one window per series.

    Exact value parity against GAPFILL_ORACLE pinned in
    tests/test_gapfill.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.relational import gapfill_series
    from chess_lakehouse_spark.operators.rollup import time_bucket

    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bk", time_bucket(F.col("ts"), GAPFILL_STEP_S)
    )
    hourly = ev.groupBy("event_type", "bk").agg(F.count(F.lit(1)).alias("n"))
    holes = hourly.where(
        (F.expr(f"bk DIV {GAPFILL_STEP_S}") % GAPFILL_HOLE_MOD) != 0
    )
    return gapfill_series(holes, "event_type", "bk", ["n"], GAPFILL_STEP_S)


GAPFILL_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
         {GAPFILL_STEP_S} * (epoch_us(ts) // {GAPFILL_STEP_S * 1_000_000}) AS bk,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
holes AS (
  SELECT * FROM hourly WHERE (bk // {GAPFILL_STEP_S}) % {GAPFILL_HOLE_MOD} <> 0
),
b AS (SELECT event_type, MIN(bk) AS lo, MAX(bk) AS hi FROM holes GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, {GAPFILL_STEP_S})) AS bk
  FROM b
),
j AS (
  SELECT g.event_type, g.bk, h.n, h.bk IS NULL AS is_filled
  FROM grid g LEFT JOIN holes h USING (event_type, bk)
)
SELECT event_type, bk,
       LAST_VALUE(n IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bk
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS n,
       is_filled
FROM j
"""


#: Shingle width for the corpus-overlap candidate (matches the engine
#: default; the fixture's shared template vocabulary guarantees non-zero
#: AND non-total overlap between every source pair).
CORPUS_OVERLAP_K = 3


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise k-shingle-set overlap between the documents table's
    sources (operators/dedup.py:corpus_overlap_matrix) — the corpus-grain
    ingest audit: complete g1<g2 grid with exact set sizes, shared
    counts, and the integer-exact 6-decimal Jaccard. One distinct pass +
    one shingle-keyed self-join bounded by |groups| per hash; nothing
    all-pairs in documents.

    Exact value parity against CORPUS_OVERLAP_ORACLE pinned in
    tests/test_corpus_overlap.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.dedup import corpus_overlap_matrix

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return corpus_overlap_matrix(docs, "source", "text", k=CORPUS_OVERLAP_K)


CORPUS_OVERLAP_ORACLE = rf"""
WITH tarr AS (
  SELECT source AS g,
         list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'),
                     x -> x <> '') AS t
  FROM documents
),
gh AS (
  SELECT DISTINCT g,
         md5(array_to_string(t[i:i+{CORPUS_OVERLAP_K}-1], ' ')) AS h
  FROM tarr,
       LATERAL unnest(generate_series(1, len(t) - {CORPUS_OVERLAP_K} + 1)) AS w(i)
  WHERE len(t) >= {CORPUS_OVERLAP_K}
),
sizes AS (
  SELECT u.g, COALESCE(c.n, 0) AS n
  FROM (SELECT DISTINCT source AS g FROM documents) u
  LEFT JOIN (SELECT g, COUNT(*) AS n FROM gh GROUP BY g) c USING (g)
),
shared AS (
  SELECT a.g AS g1, b.g AS g2, COUNT(*) AS shared
  FROM gh a JOIN gh b USING (h) WHERE a.g < b.g GROUP BY 1, 2
),
grid AS (
  SELECT x.g AS g1, y.g AS g2, x.n AS n1, y.n AS n2,
         COALESCE(s.shared, 0) AS shared,
         x.n + y.n - COALESCE(s.shared, 0) AS u
  FROM sizes x JOIN sizes y ON x.g < y.g
  LEFT JOIN shared s ON s.g1 = x.g AND s.g2 = y.g
)
SELECT g1, g2, n1, n2, shared,
       CASE WHEN u > 0 THEN
         CAST((2 * CAST(1000000 AS HUGEINT) * shared + u) // (2 * u) AS DOUBLE)
         / CAST(1000000 AS DOUBLE)
       END AS jaccard
FROM grid
"""


#: FIXED hashed-ngram model for the gated serving query (the
#: classifier_serve pattern: training floats are rows-only, serving a
#: pinned model is exact). Buckets are derived IN-ENGINE from these
#: literal tokens via the portable md5 chain — the oracle rebuilds the
#: same weight table from the same literals, so a hashing divergence
#: anywhere in the chain fails the gate. Weights chosen to split the
#: fixture corpus on both sides at both scales (232/500 and 218/500
#: kept; tests assert the discrimination).
HASHED_MODEL_TOKENS: dict = {
    "fast": 2.0,
    "spark": 1.5,
    "scan": 1.0,
    "slow": -2.0,
    "window": -1.0,
    "batch": -0.5,
}
HASHED_MODEL_INTERCEPT = -0.04
HASHED_MODEL_BUCKETS = 1 << 16


def q_classifier_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-class hashed-ngram quality gate, SERVING path
    (operators/classify.py:hashed_classifier_margins): explode tokens,
    md5-bucket, join the fixed weight table (AQE broadcasts it), one
    map-combined doc sum through the ROUND->DECIMAL(18,6) chain, margin
    and keep in exact DECIMAL — no float-sum order, no transcendental.

    Exact value parity against HASHED_CLASSIFIER_ORACLE pinned in
    tests/test_hashed_classifier.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.classify import (
        hashed_classifier_margins,
        hashed_weights_from_tokens,
    )

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    weights = hashed_weights_from_tokens(
        spark, HASHED_MODEL_TOKENS, HASHED_MODEL_BUCKETS
    )
    return hashed_classifier_margins(
        docs, "doc_id", "text", weights, HASHED_MODEL_INTERCEPT, HASHED_MODEL_BUCKETS
    )


#: Cross-set semantic-contamination candidate: the eval slice is every
#: SEM_CONTAM_MOD-th embedding (the contamination_ngram fixture pattern),
#: the corpus is the rest; banding is 4 independent 3-plane signatures
#: OR-ed (the LSH recall amplifier — one 8-plane band has ~2% recall at
#: this threshold, four 3-plane bands recover 11/16 resp. 20/31 true
#: pairs at the two local scales).
SEM_CONTAM_MOD = 20
SEM_CONTAM_THRESHOLD = 0.35
SEM_CONTAM_N_BANDS = 4
SEM_CONTAM_BAND_PLANES = 3
_SEM_ALL_PLANES = hyperplane_signs(
    SEM_CONTAM_N_BANDS * SEM_CONTAM_BAND_PLANES, EMB_DIM
)
SEM_CONTAM_BANDS = [
    _SEM_ALL_PLANES[b * SEM_CONTAM_BAND_PLANES : (b + 1) * SEM_CONTAM_BAND_PLANES]
    for b in range(SEM_CONTAM_N_BANDS)
]


def q_contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-set decontamination
    (operators/similarity.py:semantic_contamination): corpus×eval
    candidate pairs from the OR of four banded RHP signatures, exact
    cosine re-check at SEM_CONTAM_THRESHOLD. Returns
    (corpus_id, eval_id, sim).

    Exact value parity against SEM_CONTAM_ORACLE pinned in
    tests/test_semantic_contamination.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.similarity import semantic_contamination

    apply_runtime_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    evalset = emb.where(F.col("vec_id") % SEM_CONTAM_MOD == 0)
    corpus = emb.where(F.col("vec_id") % SEM_CONTAM_MOD != 0)
    return semantic_contamination(
        corpus,
        evalset,
        "vec_id",
        "embedding",
        SEM_CONTAM_THRESHOLD,
        plane_sets=SEM_CONTAM_BANDS,
    )


#: Planted-twin constants for the 64-bit banded-hamming candidate:
#: signatures group every HAMMING64_GROUP consecutive doc_ids onto one
#: md5-derived base (the portable 60-bit chain), each member flipping a
#: group-unique bit (doc_id % 61), every third doc additionally flipping
#: bit 61 — so within-group distances land at 2..4 and cross-group
#: distances sit near 30. HAMMING64_MAX stays INSIDE the pigeonhole
#: guarantee (7 < n_bands = 8), making the banded join EXACT — the
#: oracle is therefore the brute-force quadratic answer, and the gate
#: checks recall, not just precision.
HAMMING64_GROUP = 5
HAMMING64_MAX = 7

_HAMMING64_SIG_SPARK = (
    f"conv(substring(md5(CAST(doc_id DIV {HAMMING64_GROUP} AS STRING)), 1, 15), 16, 10) "
    "^ shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 61 AS INT)) "
    "^ (CASE WHEN doc_id % 3 = 0 THEN shiftleft(CAST(1 AS BIGINT), 61) "
    "ELSE CAST(0 AS BIGINT) END)"
)


def q_hamming64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit banded hamming near-pair join (operators/dedup.py:
    hamming_near_pairs — the shared machinery under phash_near_pairs and
    simhash_near_pairs) over planted-twin signatures, radius
    HAMMING64_MAX = 7 < n_bands = 8 so banding is pigeonhole-complete
    and the brute-force oracle checks RECALL as well as precision.
    Returns (id_a, id_b, hamming).

    Exact value parity against HAMMING64_ORACLE pinned in
    tests/test_phash.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.dedup import hamming_near_pairs

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id", F.expr(_HAMMING64_SIG_SPARK).cast("long").alias("sig64")
    )
    return hamming_near_pairs(
        sig, "doc_id", "sig64", n_bits=64, max_hamming=HAMMING64_MAX
    )


_HAMMING64_SIG_DUCK = (
    f"xor(xor(CAST('0x' || substr(md5(CAST(doc_id // {HAMMING64_GROUP} AS VARCHAR)), "
    "1, 15) AS BIGINT), "
    "(CAST(1 AS BIGINT) << CAST(doc_id % 61 AS INT))), "
    "CASE WHEN doc_id % 3 = 0 THEN (CAST(1 AS BIGINT) << 61) "
    "ELSE CAST(0 AS BIGINT) END)"
)

HAMMING64_ORACLE = f"""
    WITH sig AS (
      SELECT doc_id, {_HAMMING64_SIG_DUCK} AS sig64 FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig64, b.sig64)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig64, b.sig64)) <= {HAMMING64_MAX}
"""


#: Blocklist for the staged badwords-gate candidate: 'dup' hits 25 of the
#: 500 fixture docs at both local scales, so the boolean splits the
#: corpus on both sides. The oracle normalizes tokens with the SAME
#: explicit translate + edge-punct trim chain as the Gopher stop-hit
#: rule (GOPHER_ORACLE_TPL) — one normalization, no drift.
BADWORDS_GATE_WORDS = ("dup",)


def q_badwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 word-blocklist gate (functions/text.py:badwords_gate) as a
    per-document boolean projection — pure codegen, rides the scan.
    Returns (doc_id, keep_doc).

    Exact value parity against BADWORDS_ORACLE pinned in
    tests/test_gopher.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.functions.text import badwords_gate

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", badwords_gate(F.col("text"), BADWORDS_GATE_WORDS).alias("keep_doc")
    )


def _badwords_list_sql() -> str:
    # the oracle list MUST ride the engine's entry normalization
    # (functions/text.py:normalize_badwords) — one chain, no drift
    from chess_lakehouse_spark.functions.text import normalize_badwords

    return "[" + ", ".join(
        f"'{w}'" for w in normalize_badwords(BADWORDS_GATE_WORDS)
    ) + "]"


_BADWORDS_LIST_SQL = _badwords_list_sql()

BADWORDS_ORACLE = rf"""
SELECT doc_id,
  COALESCE(NOT len(list_filter({_BADWORDS_LIST_SQL}, w -> list_contains(
    list_transform(
      list_filter(string_split_regex(COALESCE(text, ''), '[ \t\n\r\f\x0B]+'),
                  x -> x <> ''),
      x -> trim(translate(x, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                          'abcdefghijklmnopqrstuvwxyz'), '.,;:!?()''"')),
    w))) > 0, TRUE) AS keep_doc
FROM documents
"""


#: lgConfigK for the gated sketch query (the operator default).
SKETCH_LG_K = 12


def q_corpus_sketch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus accounting through the HLL sketch path
    (operators/sketches.py: content_sketches) with the driver-checkable
    projection: the sketch ESTIMATE itself is implementation-specific
    (the approx_stats class), but (a) exact row counts, (b) exact
    distinct-content counts, (c) that a non-empty sketch was built, and
    (d) that its estimate lands within ±10% of the exact count are all
    exact booleans/longs an oracle can pin — so the sketch aggregation
    path gets a hash-checked driver row without hashing sketch bytes.
    The ±10% bound is loose against the ~1-2% HLL error at lgK=12 (and
    the sketch is EXACT below its sparse-mode threshold, which covers
    every sf the driver runs), so the boolean is deterministically TRUE
    unless the sketch path actually breaks."""
    from chess_lakehouse_spark.operators.sketches import content_sketches

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    sk = content_sketches(docs, ["source"], "text", lg_config_k=SKETCH_LG_K)
    exact = docs.groupBy("source").agg(
        F.count_distinct(F.md5(F.col("text"))).alias("exact_distinct")
    )
    return sk.join(exact, "source").select(
        "source",
        "n_rows",
        "exact_distinct",
        (
            (F.col("est_distinct").cast("double") >= 0.9 * F.col("exact_distinct"))
            & (F.col("est_distinct").cast("double") <= 1.1 * F.col("exact_distinct"))
        ).alias("est_within_10pct"),
        (F.length(F.col("sketch")) > 0).alias("has_sketch"),
    )


#: Per-host document cap for the gated URL query. The synthesized corpus
#: spreads docs over 7 hosts, so the cap keeps a proper subset at every
#: driver sf (500 docs / 7 hosts ≈ 71 per host at sf0.01).
URL_CAP_N = 40


def _synth_url_col() -> Column:
    """Deterministic messy URL per document, exercising every
    canonicalization rule: mixed-case scheme and host, optional WWW.,
    case-preserved path, optional trailing slash, optional tracking-laced
    query string, optional fragment. Mirrored literally (same CASE arms,
    same concatenation) by the oracle SQL — the suite's established
    derived-input gating form (cf. chunk/shard queries)."""
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTP://")),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Ex"),
        (d % 7).cast("string"),
        F.lit(".Example.COM/"),
        F.col("source"),
        F.lit("/Doc"),
        d.cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("?utm_source=bench&id="),
                (d % 50).cast("string"),
                F.lit("&utm_medium=cpc"),
            ),
        ).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("#Sec1")).otherwise(F.lit("")),
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level corpus pass (C4/RefinedWeb §3.1): canonicalize a
    synthesized messy URL per document (functions/urls.py:
    url_canonicalize — pure codegen column chain, Java∩RE2-portable
    regexes), derive the host, and keep at most URL_CAP_N docs per host
    in deterministic hash order (operators/sampling.py:
    top_n_per_group)."""
    from chess_lakehouse_spark.functions.urls import url_canonicalize, url_host
    from chess_lakehouse_spark.operators.sampling import top_n_per_group

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    url = _synth_url_col()
    with_url = docs.select(
        "doc_id",
        url_canonicalize(url).alias("url_canon"),
        url_host(url).alias("host"),
    )
    return top_n_per_group(with_url, "doc_id", "host", n=URL_CAP_N, seed=SAMPLE_SEED)


#: Train/score split for the staged-LM candidate: the LM fits on 3/4 of
#: the corpus and scores the held-out quarter (OOV actually occurs).
LM_STAGED_MOD = 4


def _lm_dir(sf_dir: str) -> str:
    """Per-process temp dir for the staged LM (same atexit-cleaned root
    as the skipping lake)."""
    return _sklake_dir(sf_dir).rsplit("/", 1)[0] + "/lm"


def q_lm_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style staged-LM scoring (Wenzek et al. 2020): build_lm
    stages unigram counts from 3/4 of the corpus to the lake, then
    lm_score_from scores the held-out quarter with add-1/2 OOV smoothing
    and ZERO training-corpus access (functions/text.py:build_lm,
    lm_score_from).

    Exact value parity against LM_STAGED_ORACLE pinned in
    tests/test_lm_staged.py (allowlisted output types)."""
    from chess_lakehouse_spark.functions.text import build_lm, lm_score_from

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % LM_STAGED_MOD != 0)
    held_out = docs.where(F.col("doc_id") % LM_STAGED_MOD == 0)
    lm = _lm_dir(sf_dir)
    # stage once per process (pure function of sf_dir — the bm25_staged
    # r15 watchlist discipline; the gated cost measures the held-out
    # scoring serve, not the training-count write)
    _feed_once(lm, lambda: build_lm(train, "text", lm))
    return lm_score_from(spark, lm, held_out, "doc_id", "text")


def _synth_pii_text() -> Column:
    """Deterministic PII-laced text per document for the pii_scan
    candidate: every doc gains an email, every third a phone, every fifth
    an IPv4 — mirrored literally by the oracle SQL (the derived-input
    gating form; the raw fixture text has no PII, which would make the
    audit vacuous)."""
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@ex"),
        (d % 7).cast("string"),
        F.lit(".example.org"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (d % 256).cast("string"),
                F.lit("."),
                (d % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit pass (functions/text.py:pii_counts): per-document hit
    counts for each PII_PATTERNS class plus the redacted length — the
    corpus-publication audit, over deterministically PII-laced text so
    every pattern actually fires.

    Exact parity against PII_SCAN_ORACLE pinned in tests/test_pii_scan.py."""
    from chess_lakehouse_spark.functions.text import pii_counts

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    laced = docs.select("doc_id", _synth_pii_text().alias("text"))
    return pii_counts(laced, "doc_id", "text")


def _pii_scan_oracle() -> str:
    """DuckDB oracle for q_pii_scan, generated from PII_PATTERNS (one
    source of truth for the regexes, like _scrub_sql)."""
    synth = """
        documents_pii AS (
          SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR)
            || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.example.org'
            || (CASE WHEN doc_id % 3 = 0
                  THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END)
            || (CASE WHEN doc_id % 5 = 0
                  THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.' || CAST(doc_id % 100 AS VARCHAR)
                  ELSE '' END) AS t
          FROM documents
        )"""
    scrubbed = "t"
    for pattern, repl in PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pattern}', '{repl}', 'g')"
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS INTEGER) AS {name}"
        for name, (pat, _) in zip(("n_emails", "n_phones", "n_ips"), PII_PATTERNS)
    )
    return f"""
        WITH {synth}
        SELECT doc_id,
           {counts},
           CAST(length({scrubbed}) AS INTEGER) AS redacted_len
        FROM documents_pii
    """


PII_SCAN_ORACLE = _pii_scan_oracle()


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def html_strip_sql(expr: str) -> str:
    """DuckDB twin of functions/text.py:strip_html, assembled step for
    step from the SAME pattern/entity constants the Spark chain compiles
    (tests/test_strip_html.py imports this; the html_strip candidate's
    oracle is built from it)."""
    from chess_lakehouse_spark.functions.text import (
        HTML_COMMENT_RE,
        HTML_ENTITIES,
        HTML_SCRIPT_STYLE_RE,
        HTML_TAG_RE,
        WS_SPLIT,
    )

    out = f"regexp_replace({expr}, {_sql_quote(HTML_SCRIPT_STYLE_RE)}, ' ', 'g')"
    out = f"regexp_replace({out}, {_sql_quote(HTML_COMMENT_RE)}, ' ', 'g')"
    out = f"regexp_replace({out}, {_sql_quote(HTML_TAG_RE)}, ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        out = f"replace({out}, {_sql_quote(ent)}, {_sql_quote(ch)})"
    return f"trim(regexp_replace({out}, {_sql_quote(WS_SPLIT)}, ' ', 'g'))"


def _synth_html_text() -> Column:
    """Deterministic markup-laced text per document for the html_strip
    candidate: tag wrap, entity splice, and (on residue classes) a
    script block, a comment, and an uppercase style block — mirrored
    literally by the oracle SQL."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("<html><p class=\"x\">"),
        F.col("text"),
        F.lit("</p><br/>tail&amp;"),
        (d % 9).cast("string"),
        F.lit("&nbsp;end"),
        F.when(
            d % 3 == 0, F.lit("<script>var x=1;</script>")
        ).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("<!-- hidden -->")).otherwise(F.lit("")),
        F.when(
            d % 5 == 0, F.lit("<STYLE a=b>.c{}</STYLE>")
        ).otherwise(F.lit("")),
        F.lit("</html>"),
    )


def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup extraction pass (functions/text.py:strip_html) over
    deterministically markup-laced fixture text — the C4-class HTML
    preprocessing step, hash-checked on the full cleaned string plus its
    length.

    Exact parity against HTML_STRIP_ORACLE pinned in
    tests/test_strip_html.py."""
    from chess_lakehouse_spark.functions.text import strip_html

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    clean = strip_html(_synth_html_text())
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).alias("clean_len"),
    )


HTML_STRIP_ORACLE = f"""
    WITH laced AS (
      SELECT doc_id,
        '<html><p class="x">' || text || '</p><br/>tail&amp;'
        || CAST(doc_id % 9 AS VARCHAR) || '&nbsp;end'
        || (CASE WHEN doc_id % 3 = 0 THEN '<script>var x=1;</script>' ELSE '' END)
        || (CASE WHEN doc_id % 4 = 0 THEN '<!-- hidden -->' ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0 THEN '<STYLE a=b>.c{{}}</STYLE>' ELSE '' END)
        || '</html>' AS t
      FROM documents
    )
    SELECT doc_id,
           {html_strip_sql('t')} AS clean_text,
           CAST(length({html_strip_sql('t')}) AS INTEGER) AS clean_len
    FROM laced
"""


#: DuckDB mirror of functions/urls.py:url_canonicalize, step for step,
#: with every regex INTERPOLATED FROM THE SAME PYTHON CONSTANTS the Spark
#: chain compiles (SCHEME_RE/HOST_RE/WWW_RE/FRAGMENT_RE/TRACKING_PARAM_RE
#: — the anti-divergence pattern: patterns cannot drift between engines
#: because there is only one definition). Expects a CTE ``u`` providing
#: (doc_id, url); adds CTEs ending in ``canon`` with host + url_canon.
#: tests/test_urls.py imports this template for its parity fuzz.
_URL_CANON_CORE = f"""
st AS (
  SELECT doc_id, regexp_replace(trim(url), '{SCHEME_RE}', '') AS s FROM u
), pp AS (
  SELECT doc_id, s, regexp_extract(s, '{HOST_RE}', 1) AS raw_host FROM st
), canon AS (
  SELECT doc_id,
    regexp_replace(lower(raw_host), '{WWW_RE}', '') AS host,
    regexp_replace(lower(raw_host), '{WWW_RE}', '') ||
    rtrim(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(substr(s, length(raw_host) + 1), '{FRAGMENT_RE}', '', 'g'),
            '{TRACKING_PARAM_RE}', '{TRACKING_PARAM_SUB_DUCKDB}', 'g'),
          '{AMP_RUN_RE}', '&', 'g'),
        '\\?&', '?', 'g'),
      '/?&') AS url_canon
  FROM pp
)"""


# ---------------------------------------------------------------- oracles

#: Canonical BM25 DuckDB oracle (promoted from tests/test_bm25.py after the
#: r5 parity pin; the test now imports THIS template so suite and pytest
#: cannot diverge). Tokenization, integer-ratio idf, per-term ROUND(·,6),
#: DECIMAL(18,6) sum and the (score DESC, id) total order mirror
#: functions/text.py:bm25_topk exactly.
_BM25_ORACLE_TPL = r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), t -> t <> '')) AS t
  FROM documents
), lengths AS (
  SELECT id, COUNT(*) AS n_d FROM toks GROUP BY id
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(n_d) AS total_len FROM lengths
), qterms(t) AS (VALUES {terms_values}),
postings AS (
  SELECT id, t, COUNT(*) AS tf FROM toks
  WHERE t IN (SELECT t FROM qterms) GROUP BY id, t
), dfreq AS (
  SELECT t, COUNT(*) AS df FROM postings GROUP BY t
)
SELECT p.id AS doc_id,
  CAST(ROUND(CAST(SUM(CAST(ROUND(
      ROUND(ln(CAST(2*s.n_docs + 2 AS DOUBLE) / CAST(2*d.df + 1 AS DOUBLE)), 6)
      * CAST(p.tf AS DOUBLE)
      / (CAST(p.tf AS DOUBLE)
         + {k1} * ((1 - {b}) + {b} * CAST(l.n_d * s.n_docs AS DOUBLE)
                                     / CAST(s.total_len AS DOUBLE)))
    , 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS DOUBLE) AS score
FROM postings p JOIN dfreq d USING (t) JOIN lengths l ON p.id = l.id
CROSS JOIN stats s
GROUP BY p.id, s.n_docs, s.total_len
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _bm25_oracle(query: str, k: int, k1: float = 1.2, b: float = 0.75) -> str:
    terms = sorted({t for t in query.split() if t})
    return _BM25_ORACLE_TPL.format(
        terms_values=", ".join(f"('{t}')" for t in terms), k1=k1, b=b, k=k
    )


#: Canonical DSIR oracle body (promoted from tests/test_dsir.py after the
#: r5 parity pin; the test prepends WITH and registers raw_docs /
#: target_docs views, the suite defines them as CTE slices of documents).
#: md5 60-bit bucket hash, exact integer-product smoothing ratio,
#: ROUND(ln(·),6) + DECIMAL(18,6) sums, and the Gumbel chain all mirror
#: operators/sampling.py:dsir_topk.
_DSIR_ORACLE_BODY = r"""raw_base AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS ts
  FROM raw_docs
), tgt_base AS (
  SELECT list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS ts
  FROM target_docs
), raw_idx AS (
  SELECT id, ts, unnest(generate_series(1, list_count(ts))) AS i FROM raw_base
), tgt_idx AS (
  SELECT ts, unnest(generate_series(1, list_count(ts))) AS i FROM tgt_base
), raw_feats AS (
  SELECT id, ts[i] AS f FROM raw_idx
  UNION ALL
  SELECT id, ts[i] || ' ' || ts[i+1] FROM raw_idx WHERE i < list_count(ts)
), tgt_feats AS (
  SELECT ts[i] AS f FROM tgt_idx
  UNION ALL
  SELECT ts[i] || ' ' || ts[i+1] FROM tgt_idx WHERE i < list_count(ts)
), raw_b AS (
  SELECT id, CAST('0x' || substr(md5('{seed}|f|' || f), 1, 15) AS BIGINT) % {B} AS b
  FROM raw_feats
), tgt_b AS (
  SELECT CAST('0x' || substr(md5('{seed}|f|' || f), 1, 15) AS BIGINT) % {B} AS b
  FROM tgt_feats
), cq AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cq FROM raw_b GROUP BY b
), ct AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tgt_b GROUP BY b
), totals AS (
  SELECT (SELECT COUNT(*) FROM tgt_b) AS t_total,
         (SELECT COUNT(*) FROM raw_b) AS q_total
), lr AS (
  SELECT cq.b,
    ROUND(ln(
      (CAST(COALESCE(ct.ct, 0) * {B} + 1 AS DOUBLE) * CAST(tt.q_total + 1 AS DOUBLE))
      / (CAST(cq.cq * {B} + 1 AS DOUBLE) * CAST(tt.t_total + 1 AS DOUBLE))
    ), {prec}) AS lr
  FROM cq LEFT JOIN ct USING (b) CROSS JOIN totals tt
), logw AS (
  SELECT rb.id,
    CAST(ROUND(CAST(SUM(CAST(lr.lr AS DECIMAL(18,6))) AS DOUBLE), {prec}) AS DOUBLE) AS logw
  FROM raw_b rb JOIN lr USING (b) GROUP BY rb.id
)
SELECT id AS doc_id, logw,
  ROUND(logw + ROUND(-ln(-ln(
    (CAST(CAST('0x' || substr(md5('{seed}|' || CAST(id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) + 1.0)
    / (CAST({hash_space} AS DOUBLE) + 1.0)
  )), {prec}), {prec}) AS score
FROM logw
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""

def _bpe_iter_ctes(r: int, min_pair_count: int) -> str:
    """CTEs replaying BPE merge round ``r``: count adjacent pairs weighted
    by word frequency, pick the winner under the (count DESC, pa, pb)
    total order, then apply it with the Python/Spark fold's exact greedy
    leftmost non-overlapping semantics. Consecutive match positions (only
    possible when pa == pb, e.g. 'aaa') overlap, so the apply step selects
    every OTHER match within each run of consecutive matches — run/island
    analysis over the per-word position stream. MATERIALIZED is load-
    bearing: vocab{r} is referenced three times and DuckDB would otherwise
    re-inline the whole chain per reference (exponential blowup by round).
    """
    p, q = r, r + 1
    return f"""
pairs{p} AS MATERIALIZED (
  SELECT syms[i] AS pa, syms[i+1] AS pb, SUM(n) AS cnt
  FROM (SELECT n, syms, unnest(generate_series(1, list_count(syms) - 1)) AS i
        FROM vocab{p} WHERE list_count(syms) >= 2)
  GROUP BY 1, 2
),
best{p} AS MATERIALIZED (
  SELECT pa, pb FROM pairs{p}
  WHERE cnt >= {min_pair_count}
  ORDER BY cnt DESC, pa ASC, pb ASC LIMIT 1
),
pos{p} AS (
  SELECT v.w, v.n, i.i, v.syms[i.i] AS sym,
         (i.i < list_count(v.syms)
          AND v.syms[i.i] = b.pa AND v.syms[i.i+1] = b.pb) AS mt
  FROM vocab{p} v
  CROSS JOIN best{p} b
  CROSS JOIN LATERAL unnest(generate_series(1, list_count(v.syms))) AS i(i)
),
grp{p} AS (
  SELECT w, n, i, sym, mt,
         CASE WHEN mt THEN i - ROW_NUMBER() OVER (
           PARTITION BY w, mt ORDER BY i) END AS run
  FROM pos{p}
),
sel{p} AS (
  SELECT w, n, i, sym,
         mt AND (i - MIN(i) OVER (PARTITION BY w, run)) % 2 = 0 AS picked
  FROM grp{p}
),
lag{p} AS (
  SELECT w, n, i, sym, picked,
         COALESCE(LAG(picked) OVER (PARTITION BY w ORDER BY i), FALSE) AS prev
  FROM sel{p}
),
applied{p} AS MATERIALIZED (
  SELECT l.w, l.n,
         list(CASE WHEN l.picked THEN b.pa || b.pb ELSE l.sym END ORDER BY l.i) AS syms
  FROM lag{p} l CROSS JOIN best{p} b
  WHERE l.picked OR NOT l.prev
  GROUP BY l.w, l.n
),
vocab{q} AS MATERIALIZED (
  -- early stop: with no winning pair this round, vocab passes through
  SELECT * FROM applied{p}
  UNION ALL
  SELECT * FROM vocab{p} WHERE NOT EXISTS (SELECT 1 FROM best{p})
)"""


def _bpe_chain_ctes(n_merges: int, min_pair_count: int = 2) -> str:
    """The shared unrolled BPE training chain: vocab1 is the distinct-word
    frequency table with char symbols + the EOW marker, then one
    :func:`_bpe_iter_ctes` block per round — ending at
    ``vocab{n_merges+1}``, the per-word symbol lists AFTER every merge.
    Consumed by the ``bpe_train`` oracle (reads each round's winner) and
    the ``tokenizer_fertility`` oracle (reads the final symbol counts:
    for words OF the training corpus, the training fold's per-round
    leftmost-non-overlap sweep IS rank-priority ``bpe_apply`` — apply's
    candidate ranks are strictly increasing because a merge can never
    recreate an earlier rank's pair, so one sweep per rank in training
    order reproduces apply exactly; pinned in tests)."""
    ctes = [
        r"""vocab1 AS MATERIALIZED (
  SELECT w, SUM(n) AS n, syms FROM (
    SELECT w, COUNT(*) AS n,
           list_transform(generate_series(1, length(w)),
             i -> CASE WHEN i = length(w) THEN substr(w, i, 1) || '</w>'
                       ELSE substr(w, i, 1) END) AS syms
    FROM (SELECT unnest(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '')) AS w
          FROM documents)
    GROUP BY w
  ) GROUP BY w, syms
)"""
    ]
    for r in range(1, n_merges + 1):
        ctes.append(_bpe_iter_ctes(r, min_pair_count))
    return ",".join(ctes)


def _bpe_oracle(n_merges: int, min_pair_count: int = 2) -> str:
    """Full unrolled-CTE DuckDB oracle for ``bpe_train`` (functions/bpe.py):
    the shared :func:`_bpe_chain_ctes` chain, reading each round's winner.
    Pinned against BOTH the Spark implementation and the pure-Python
    reference in tests/test_bpe.py."""
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS rk, pa, pb FROM best{r}" for r in range(1, n_merges + 1)
    )
    return (
        "WITH " + _bpe_chain_ctes(n_merges, min_pair_count)
        + f"\nSELECT CAST(rk AS INT) AS rk, pa, pb FROM ({finals}) ORDER BY rk"
    )


def _sum6_sql(v: str) -> str:
    """Exact scale-6 integer sum — DuckDB twin of functions/exact.py
    sum6_long."""
    # per-element cast stays BIGINT-exact; the SUM accumulates in DuckDB's
    # native HUGEINT (no outer BIGINT narrowing — it would abort past
    # ~9.2e12 summed units, mirroring the Spark side's DECIMAL(38,0)
    # accumulator). s6 is always an INTERNAL column (consumed by
    # _mean6_sql or a final double division), never a hashed output.
    return f"SUM(CAST(CAST({v} AS DECIMAL(18,6)) * 1000000 AS BIGINT))"


def _mean6_sql(s6: str, n: str) -> str:
    """Half-away-from-zero 6-decimal mean from integer sum/count — DuckDB
    twin of functions/exact.py mean6 (double-quotient ROUND diverges
    between engines on 7th-decimal ties; see label_centroids)."""
    return (
        f"CAST(CASE WHEN {s6} >= 0 THEN (2 * {s6} + {n}) // (2 * {n}) "
        f"ELSE -((2 * (-({s6})) + {n}) // (2 * {n})) END AS DOUBLE) "
        f"/ CAST(1000000 AS DOUBLE)"
    )


#: Direct full-raw-table GROUP BY twin of q_rollup_staged's staged serve:
#: the hour bucket is integer ``//`` (the time_bucket contract), the sum
#: is the exact DECIMAL(18,6) form, and the mean is the integer
#: half-away-from-zero derivation — CASE-guarded for all-NULL groups
#: exactly like the serve-side avg6.
ROLLUP_STAGED_ORACLE = f"""
SELECT hour_epoch, event_type, n, n_value,
       CAST(CAST(s6 AS DECIMAL(38,0)) / 1000000 AS DOUBLE) AS sum_value,
       min_value, max_value,
       CASE WHEN n_value > 0 THEN {_mean6_sql("s6", "n_value")} END AS avg_value
FROM (
  SELECT 3600 * (epoch_us(ts) // 3600000000) AS hour_epoch,
         event_type,
         COUNT(*) AS n,
         COUNT(value) AS n_value,
         {_sum6_sql("value")} AS s6,
         MIN(value) AS min_value,
         MAX(value) AS max_value
  FROM events GROUP BY 1, 2
)
"""


_HASH64 = "CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"

_TOKS = r"string_split_regex(text, '[ \t\n\r\f\x0B]+')"

_SHINGLES_CTE = rf"""
tok AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingle
  FROM tok WHERE len(toks) >= 3
)"""

_MINHASH_AGGS = ",\n    ".join(
    f"min(md5(concat('{h}|', shingle))) AS h{h}" for h in range(8)
)

_SIMHASH_SUMS = ",\n    ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}" for i in range(32)
)
_SIMHASH_BITS = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32))

#: The full MinHash-LSH pipeline as composable CTEs ending in `pairs` —
#: shared by the pairs oracle and the recursive clustering oracle. `{{src}}`
#: is the corpus relation (the base table, or a filtering CTE). The `okb`
#: guard mirrors the engine's default band-bucket cap
#: (operators/dedup.py:LSH_MAX_BUCKET_SIZE, counted over DISTINCT doc ids
#: exactly as cooccur_pairs' collect_set does) — every Spark counterpart of
#: these oracles calls minhash_lsh_dedup with the default cap, so engine
#: and oracle drop the same oversized buckets the day a corpus produces
#: one.
_MINHASH_PAIRS_CTES_TPL = rf"""{_SHINGLES_CTE.replace("FROM documents", "FROM {src}")},
        sig AS (
          SELECT doc_id, {_MINHASH_AGGS}
          FROM sh GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id, 0 AS band, concat(h0, h1) AS bsig FROM sig
          UNION ALL SELECT doc_id, 1, concat(h2, h3) FROM sig
          UNION ALL SELECT doc_id, 2, concat(h4, h5) FROM sig
          UNION ALL SELECT doc_id, 3, concat(h6, h7) FROM sig
        ),
        okb AS (
          SELECT band, bsig FROM bands GROUP BY band, bsig
          HAVING COUNT(DISTINCT doc_id) <= {LSH_MAX_BUCKET_SIZE}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM okb k
          JOIN bands a ON a.band = k.band AND a.bsig = k.bsig
          JOIN bands b ON b.band = k.band AND b.bsig = k.bsig
                      AND a.doc_id < b.doc_id
        ),
        counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS n_common
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY c.id_a, c.id_b
        ),
        pairs AS (
          SELECT * FROM (
            SELECT i.id_a, i.id_b,
                   ROUND(CAST(i.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - i.n_common), 6) AS jaccard
            FROM inter i
            JOIN counts ca ON ca.doc_id = i.id_a
            JOIN counts cb ON cb.doc_id = i.id_b
          ) WHERE jaccard >= {JACCARD_THRESHOLD}
        )"""

_MINHASH_PAIRS_CTES = _MINHASH_PAIRS_CTES_TPL.format(src="documents")

_SIMHASH_CTE = rf"""
tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
th AS (
  SELECT doc_id, {_HASH64.format(expr='tok')} AS h FROM tok WHERE tok <> ''
),
bsum AS (
  SELECT doc_id, {_SIMHASH_SUMS}
  FROM th GROUP BY doc_id
),
simh AS (
  SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM bsum
)"""


def _plane_literal(row: list[float]) -> str:
    return "CAST([" + ", ".join(str(s) for s in row) + "] AS DOUBLE[])"


def _bucket_sql(vec_expr: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vec_expr}, {_plane_literal(PLANES[p])}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(NUM_PLANES)
    ]
    return "CAST(" + " + ".join(terms) + " AS INT)"


def _band_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """rhp_bucket over an ARBITRARY plane list (the generalized
    :func:`_bucket_sql` — that one is pinned to the global PLANES), used
    by the banded semantic-contamination oracle."""
    terms = [
        f"(CASE WHEN list_dot_product({vec_expr}, {_plane_literal(row)}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(planes)
    ]
    return "CAST(" + " + ".join(terms) + " AS INT)"


_COS = (
    "ROUND(list_dot_product({a}, {b}) / "
    "sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b})), 6)"
)


def _scrub_sql() -> str:
    """normalize_text + scrub_pii as one DuckDB expression, generated from
    the same PII_PATTERNS source of truth as the Spark column function."""
    expr = r"trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g'))"
    for pattern, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pattern}', '{repl}', 'g')"
    return expr


def _kmeans_iter_ctes(prev: str, idx: int) -> str:
    """One unrolled k-means iteration as CTEs: assign each vector to its
    argmax-cosine centroid in ``prev``, then recompute per-(cid, dim) means
    with the same DECIMAL(18,6)-exact arithmetic as ``kmeans_fit``; empty
    clusters keep their previous centroid (COALESCE)."""
    cos = _COS.format(a="e.v", b="c.cv")
    return f"""a{idx} AS (
          SELECT e.vec_id, e.v, l.cid AS list_id
          FROM e, LATERAL (
            SELECT c.cid FROM {prev} c
            ORDER BY {cos} DESC, c.cid ASC LIMIT 1
          ) l
        ),
        m{idx} AS (
          SELECT list_id AS cid, pos,
                 ROUND(CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mval
          FROM (SELECT list_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a{idx})
          GROUP BY 1, 2
        ),
        c{idx} AS (
          SELECT i.cid, COALESCE(m.cv, i.cv) AS cv
          FROM {prev} i LEFT JOIN
            (SELECT cid, list(mval ORDER BY pos) AS cv FROM m{idx} GROUP BY cid) m USING (cid)
        )"""

_STOP = {lang: ", ".join(f"'{w}'" for w in words) for lang, words in LANG_MARKERS.items()}

_LANG_SCORES = ",\n   ".join(
    f"ROUND(CAST(len(list_filter(toks, t -> t IN ({_STOP[lang]}))) AS DOUBLE)"
    f" / len(toks), 6) AS score_{lang}"
    for lang in sorted(LANG_MARKERS)
)

#: Canonical paragraph_dedup DuckDB oracle (window-rank first occurrence),
#: promoted from tests/test_shuffle_paragraphs.py — the test now imports
#: THIS template so suite and pytest cannot diverge. ``{sep}`` is spliced
#: as a SQL string literal; both engines treat the separator as a LITERAL
#: (the Spark side Pattern.quote's it before F.split). The md5 partition
#: key makes "same paragraph" the same equality the engine groups on.
_PARAGRAPH_DEDUP_ORACLE_TPL = """
WITH paras AS (
  SELECT doc_id AS id, i - 1 AS pos, p[i] AS para
  FROM (SELECT doc_id, string_split(COALESCE(text, ''), '{sep}') AS p FROM documents),
  LATERAL unnest(generate_series(1, len(p))) AS t(i)
),
flags AS (
  SELECT id, pos, para,
    length(trim(para)) < {min_chars}
    OR ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY id, pos) = 1 AS keep
  FROM paras
)
SELECT id AS doc_id,
  COALESCE(string_agg(para, '{sep}' ORDER BY pos) FILTER (WHERE keep), '') AS clean_text,
  CAST(COUNT(*) AS INT) AS n_paras,
  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS INT) AS n_removed
FROM flags GROUP BY id
"""


def _paragraph_dedup_oracle(
    sep: str, min_chars: int = 1, scope: str = "corpus"
) -> str:
    # scope mirrors the operator: corpus-first occurrence (the gated
    # query's form) vs per-document first occurrence
    part = "md5(para)" if scope == "corpus" else "id, md5(para)"
    return _PARAGRAPH_DEDUP_ORACLE_TPL.format(
        sep=sep.replace("'", "''"), min_chars=min_chars, part=part
    )


#: Canonical shard_assignments DuckDB oracle — the same portable-hash
#: pillar as every sampling oracle (md5 hex -> 60-bit int), with the
#: per-shard rank window mirroring the engine's (hash ASC, id ASC) total
#: order. The hash is non-negative, so ``%`` == Spark's ``pmod``.
_SHARD_ORACLE_TPL = """
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('{seed}|shuffle|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS _h
  FROM documents
)
SELECT doc_id,
       CAST(_h % {n} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY _h % {n} ORDER BY _h ASC, doc_id ASC) AS BIGINT) AS pos
FROM h
"""


def _shard_oracle(n_shards: int, seed: int) -> str:
    return _SHARD_ORACLE_TPL.format(n=n_shards, seed=seed)


#: Canonical duplicate_span_dedup DuckDB oracle (promoted from
#: tests/test_span_dedup.py at r8 registration; the test imports THIS
#: template) — window-rank first occurrence per k-shingle hash, coverage
#: explode, anti-join, token rebuild, mirroring operators/dedup.py:
#: duplicate_span_dedup clause for clause.
SPAN_DEDUP_ORACLE_TPL = r"""
WITH tarr AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS t
  FROM documents
),
tok AS (
  SELECT id, i - 1 AS pos, t[i] AS tok
  FROM tarr, LATERAL unnest(generate_series(1, len(t))) AS g(i)
),
sh AS (
  SELECT id, i - 1 AS pos, md5(array_to_string(t[i:i+{k}-1], ' ')) AS h
  FROM tarr, LATERAL unnest(generate_series(1, len(t) - {k} + 1)) AS g(i)
  WHERE len(t) >= {k}
),
marked AS (
  SELECT id, pos FROM (
    SELECT id, pos, ROW_NUMBER() OVER (PARTITION BY h ORDER BY id, pos) AS rk
    FROM sh
  ) WHERE rk > 1
),
covered AS (
  SELECT DISTINCT id, pos + j AS cpos
  FROM marked, LATERAL unnest(generate_series(0, {k} - 1)) AS u(j)
),
flagged AS (
  SELECT t.id, t.pos, t.tok, c.cpos IS NOT NULL AS dup
  FROM tok t LEFT JOIN covered c ON c.id = t.id AND c.cpos = t.pos
),
rebuilt AS (
  SELECT id,
         COALESCE(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT dup), '') AS clean_text,
         CAST(COUNT(*) AS INT) AS n_tokens,
         CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS INT) AS n_removed_tokens
  FROM flagged GROUP BY id
)
SELECT d.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       COALESCE(r.n_tokens, 0) AS n_tokens,
       COALESCE(r.n_removed_tokens, 0) AS n_removed_tokens
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN rebuilt r ON r.id = d.doc_id
"""

#: Canonical gopher_rules DuckDB oracle (promoted from tests/test_gopher.py
#: at r8 registration; the test imports THIS template) — ratios of
#: integers ROUND(·,6); the boolean re-derives the rule conjunction from
#: the SAME rounded values. The stop-hit membership test normalizes each
#: token via the same explicit ASCII translate table + edge-punctuation
#: trim as functions/text.py:_gopher_metric_cols (identical by
#: construction in both engines — no lower(), no regex).
GOPHER_ORACLE_TPL = r"""
WITH base AS (
  SELECT doc_id,
    COALESCE(text, '') AS text,
    list_filter(string_split_regex(COALESCE(text, ''), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS toks,
    string_split(COALESCE(text, ''), chr(10)) AS lines
  FROM base_docs
),
m AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_words,
    CASE WHEN len(toks) = 0 THEN NULL ELSE ROUND(
      CAST(list_reduce(list_transform(toks, x -> len(x)), (a, b) -> a + b) AS DOUBLE)
      / len(toks), 6) END AS mean_word_len,
    CASE WHEN len(toks) = 0 THEN NULL ELSE ROUND(
      CAST((len(text) - len(replace(text, '#', '')))
           + (len(text) - len(replace(text, '...', ''))) // 3
           + (len(text) - len(replace(text, chr(8230), ''))) AS DOUBLE)
      / len(toks), 6) END AS symbol_ratio,
    ROUND(CAST(len(list_filter(lines, l ->
        starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
        OR starts_with(ltrim(l), chr(8226)))) AS DOUBLE) / len(lines), 6)
      AS bullet_line_frac,
    ROUND(CAST(len(list_filter(lines, l ->
        ends_with(rtrim(l), '...') OR ends_with(rtrim(l), chr(8230)))) AS DOUBLE)
      / len(lines), 6) AS ellipsis_line_frac,
    CASE WHEN len(toks) = 0 THEN NULL ELSE ROUND(
      CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      / len(toks), 6) END AS alpha_word_frac,
    CAST(len(list_filter({stops}, w -> list_contains(
      list_transform(toks, x -> trim(
        translate(x, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        '.,;:!?()''"')),
      w))) AS INT) AS stop_hits
  FROM base
)
SELECT *,
  COALESCE(
    n_words >= {min_words} AND n_words <= 100000
    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
    AND symbol_ratio <= 0.1
    AND bullet_line_frac <= 0.9
    AND ellipsis_line_frac <= 0.3
    AND alpha_word_frac >= 0.8
    AND stop_hits >= {min_stops}, FALSE) AS passes_gopher
FROM m
"""


def gopher_oracle_sql(min_words: int, min_stops: int, src: str = "documents") -> str:
    """GOPHER_ORACLE_TPL over ``src`` with the suite stopword set."""
    from chess_lakehouse_spark.functions.text import GOPHER_STOPS

    stops = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPS) + "]"
    body = GOPHER_ORACLE_TPL.format(
        stops=stops, min_words=min_words, min_stops=min_stops
    )
    return body.replace("FROM base_docs", f"FROM {src}")


def classifier_oracle_sql(src: str = "documents") -> str:
    """DuckDB mirror of q_classifier_serve, generated from the SAME
    CLASSIFIER_MODEL dict the Spark chain folds (anti-divergence: one
    weight definition, two engines). The metric CTEs are the shared
    Gopher oracle template; the margin z is built with the identical
    left-associated fold order as operators/classify.py:
    classifier_margin, so z is bit-identical cross-engine and the keep
    boolean (z >= 0) is exact."""
    inner = gopher_oracle_sql(GOPHER_Q_MIN_WORDS, GOPHER_Q_MIN_STOPS, src=src)
    z = f"CAST({CLASSIFIER_MODEL['intercept']!r} AS DOUBLE)"
    for name in CLASSIFIER_MODEL["features"]:
        w = CLASSIFIER_MODEL["coef"][name]
        feat = f"COALESCE(CAST({name} AS DOUBLE), 0.0)"
        z = f"({z} + CAST({w!r} AS DOUBLE) * {feat})"
    return f"""
WITH g AS ({inner}),
zt AS (SELECT doc_id, {z} AS z FROM g)
SELECT doc_id,
       ROUND(1.0 / (1.0 + exp(-z)), 6) AS keep_prob,
       z >= 0.0 AS keep
FROM zt
"""


#: Canonical bm25_batch DuckDB oracle (promoted from tests/test_bm25.py at
#: r8 registration; the test imports THIS template) — the same scoring
#: chain as _BM25_ORACLE_TPL generalized to a query table: postings
#: restricted to terms ANY query uses, per-(query, doc) DECIMAL sums, and
#: the per-query (score DESC, doc_id) rank window. ``{queries_cte}`` is
#: the full ``queries AS (...)`` CTE text with columns (query_id, qtext):
#: a VALUES list for tests, a doc-derived slice for the gated query (so
#: the gating SQL is self-contained AND query_id inherits BIGINT from
#: doc_id — a VALUES integer literal would be INTEGER, the r4 driver-type
#: lesson).
BM25_BATCH_ORACLE_TPL = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'),
                                    t -> t <> '')) AS t
  FROM documents
), lengths AS (
  SELECT doc_id, COUNT(*) AS n_d FROM toks GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(n_d) AS total_len FROM lengths
), {queries_cte},
qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(qtext, '[ \t\n\r\f\x0B]+'),
                            t -> t <> '')) AS t
  FROM queries
), postings AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM toks
  WHERE t IN (SELECT DISTINCT t FROM qterms) GROUP BY doc_id, t
), dfreq AS (
  SELECT t, COUNT(*) AS df FROM postings GROUP BY t
), scored AS (
  SELECT q.query_id, p.doc_id,
    CAST(ROUND(CAST(SUM(CAST(ROUND(
        ROUND(ln(CAST(2*s.n_docs + 2 AS DOUBLE) / CAST(2*d.df + 1 AS DOUBLE)), 6)
        * CAST(p.tf AS DOUBLE)
        / (CAST(p.tf AS DOUBLE)
           + {k1} * ((1 - {b}) + {b} * CAST(l.n_d * s.n_docs AS DOUBLE)
                                       / CAST(s.total_len AS DOUBLE)))
      , 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS DOUBLE) AS score
  FROM qterms q
  JOIN postings p USING (t)
  JOIN dfreq d USING (t)
  JOIN lengths l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id, s.n_docs, s.total_len
)
SELECT query_id, doc_id, score, rk FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rk
  FROM scored
) WHERE rk <= {k}
"""


def bm25_batch_oracle_sql(
    queries_cte: str, k: int, k1: float = 1.2, b: float = 0.75
) -> str:
    return BM25_BATCH_ORACLE_TPL.format(queries_cte=queries_cte, k1=k1, b=b, k=k)


#: DuckDB oracle for q_bm25_staged — the RAW-table
#: batch-BM25 SQL over the BM25_STAGED_MOD query slice: the staged-index
#: serving path must return exactly what one pass over the raw corpus
#: computes (the lake_skipping_read gating pattern). Defined HERE per
#: the anti-divergence pattern; tests/test_bm25.py imports this.
BM25_STAGED_ORACLE = bm25_batch_oracle_sql(
    "queries AS (SELECT doc_id AS query_id, text AS qtext FROM documents "
    f"WHERE doc_id % {BM25_STAGED_MOD} = 0)",
    BM25_BATCH_K,
)


def hashed_classifier_oracle_sql(src: str = "documents") -> str:
    """DuckDB mirror of q_classifier_hashed, generated from the SAME
    HASHED_MODEL_TOKENS / intercept / bucket-width constants the Spark
    chain folds (anti-divergence: one model, two engines). The exactness
    chain mirrors operators/classify.py:hashed_classifier_margins
    term-for-term: buckets via the portable md5 contract; colliding
    literal-token weights summed in DECIMAL(9,4); per-term contribution
    ROUND(w*tf/n_d, 6) -> DECIMAL(18,6); doc sum and intercept addition
    in DECIMAL; margin = CAST(z AS DOUBLE) and keep = z >= 0 — both
    bit-exact cross-engine, no float-sum order, no transcendental."""
    vals = ", ".join(
        f"('{tok}', CAST({w!r} AS DOUBLE))"
        for tok, w in sorted(HASHED_MODEL_TOKENS.items())
    )
    nb = HASHED_MODEL_BUCKETS
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    string_split_regex(COALESCE(text, ''), '[ \t\n\r\f\x0B]+'),
    t -> t <> '')) AS t
  FROM {src}
), lengths AS (
  SELECT doc_id, COUNT(*) AS n_d FROM toks GROUP BY doc_id
), tf AS (
  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % {nb} AS bucket,
         COUNT(*) AS tf
  FROM toks GROUP BY 1, 2
), wts0(tok, w) AS (VALUES {vals}),
wts AS (
  SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {nb} AS bucket,
         CAST(SUM(CAST(w AS DECIMAL(9,4))) AS DOUBLE) AS w
  FROM wts0 GROUP BY 1
), contrib AS (
  SELECT f.doc_id,
         CAST(ROUND(w.w * CAST(f.tf AS DOUBLE) / CAST(l.n_d AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS c
  FROM tf f JOIN wts w USING (bucket) JOIN lengths l USING (doc_id)
), zt AS (
  SELECT d.doc_id,
         CAST({HASHED_MODEL_INTERCEPT!r} AS DECIMAL(18,6))
           + COALESCE(s.sc, CAST(0 AS DECIMAL(18,6))) AS z
  FROM {src} d
  LEFT JOIN (SELECT doc_id, SUM(c) AS sc FROM contrib GROUP BY doc_id) s
    USING (doc_id)
)
SELECT doc_id, CAST(z AS DOUBLE) AS margin, z >= 0 AS keep FROM zt
"""


#: Canonical q_classifier_hashed oracle (tests import THIS).
HASHED_CLASSIFIER_ORACLE = hashed_classifier_oracle_sql()


def semantic_contamination_oracle_sql(src: str = "embeddings") -> str:
    """DuckDB mirror of q_contamination_semantic, generated from the SAME
    SEM_CONTAM_BANDS plane literals: candidate pairs where ANY of the
    four banded RHP signatures agree (the OR join mirrors the Spark
    posexplode + equi-join + pair-dedup set semantics exactly), then the
    established bit-exact cosine chain and the threshold."""
    bands_cols = ", ".join(
        f"{_band_sql('v', SEM_CONTAM_BANDS[b])} AS b{b}"
        for b in range(SEM_CONTAM_N_BANDS)
    )
    any_band = " OR ".join(
        f"co.b{b} = ev.b{b}" for b in range(SEM_CONTAM_N_BANDS)
    )
    cos = _COS.format(a="co.v", b="ev.v")
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {src}
), bb AS (
  SELECT vec_id, v, {bands_cols} FROM e
), ev AS (SELECT * FROM bb WHERE vec_id % {SEM_CONTAM_MOD} = 0),
co AS (SELECT * FROM bb WHERE vec_id % {SEM_CONTAM_MOD} <> 0)
SELECT corpus_id, eval_id, sim FROM (
  SELECT co.vec_id AS corpus_id, ev.vec_id AS eval_id, {cos} AS sim
  FROM co JOIN ev ON ({any_band})
) WHERE sim >= {SEM_CONTAM_THRESHOLD}
"""


#: Canonical q_contamination_semantic oracle (tests import THIS).
SEM_CONTAM_ORACLE = semantic_contamination_oracle_sql()


#: DuckDB oracle for q_lm_staged — defined HERE (not in tests/) per the
#: anti-divergence pattern so registration at r9 is a dict edit only;
#: tests/test_lm_staged.py imports this. Same tokenization CTE shape as
#: the gated lm_score oracle; the smoothing keeps every input an exact
#: integer: lp = ROUND(ln((2c+1)/(2T+V)), 6), c = 0 for OOV.
LM_STAGED_ORACLE = rf"""
    WITH tr AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
      WHERE doc_id % {LM_STAGED_MOD} != 0
    ),
    tr2 AS (SELECT term FROM tr WHERE term <> ''),
    ctf AS (SELECT term, COUNT(*) AS ctf FROM tr2 GROUP BY 1),
    st AS (SELECT SUM(ctf) AS total, COUNT(*) AS vocab FROM ctf),
    sc AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
      WHERE doc_id % {LM_STAGED_MOD} = 0
    ),
    sc2 AS (SELECT doc_id, term FROM sc WHERE term <> ''),
    lps AS (
      SELECT s.doc_id, c.ctf,
             ROUND(ln(CAST(2 * COALESCE(c.ctf, 0) + 1 AS DOUBLE)
                      / CAST(2 * st.total + st.vocab AS DOUBLE)), 6) AS lp
      FROM sc2 s LEFT JOIN ctf c USING (term) CROSS JOIN st
    )
    SELECT doc_id, n_tokens, n_oov, -({_mean6_sql("s6", "n_tokens")}) AS nll FROM (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(COUNT(*) FILTER (WHERE ctf IS NULL) AS BIGINT) AS n_oov,
             {_sum6_sql("lp")} AS s6
      FROM lps GROUP BY 1
    )
"""

#: Edit-distance near-dup candidate (r11 staging): scope caps that keep the
#: brute-force oracle tractable while the Spark side runs the full q-gram
#: count-filter plan (operators/dedup.py:edit_distance_pairs).
EDIT_DIST_MAX = 10
EDIT_DIST_Q = 4
EDIT_DIST_LEN_CAP = 160
#: hot-gram skew knob — LOSSLESS by construction (threshold adjustment +
#: degenerate rerouting, operators/dedup.py), so the oracle is untouched;
#: measured 7.6s -> 2.7s at sf0.1 with identical rows.
EDIT_DIST_STOP_DF = 50
#: space..tilde — printable ASCII; the class is spelled out because DuckDB's
#: levenshtein counts BYTES while Spark's counts CHARS (measured:
#: levenshtein('héllo','hello') = 2 in DuckDB, 1 in Spark) — on ASCII the
#: two are identical, so the query pins its scope to ASCII rows. The end
#: anchor is \z, NOT $: Java's $ also matches BEFORE a final line
#: terminator ('abc\n' passes rlike('^[ -~]*$') but fails DuckDB's RE2
#: regexp_matches — measured), while \z means end-of-text in BOTH engines,
#: so the scope filter is engine-identical on every input.
EDIT_DIST_ASCII_RE = r"^[ -~]*\z"


def q_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance near-dup pairs (Levenshtein <= 10) over short
    ASCII documents — the order-sensitive record-linkage complement to the
    set-similarity dedup family, via the positional q-gram count filter of
    Gravano et al. VLDB'01 + threshold-DP verify
    (operators/dedup.py:edit_distance_pairs; complete, no lossy blocking).

    The <=160-char + ASCII scope exists for the ORACLE, not the operator:
    brute force needs the implied |len diff| <= d predicate to stay
    tractable, and byte-level (DuckDB) vs char-level (Spark) levenshtein
    agree exactly on ASCII. The Spark side runs the real gram-keyed plan.

    Exact value parity against EDIT_DIST_ORACLE pinned in
    tests/test_edit_join.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.dedup import edit_distance_pairs

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents").where(
        (F.length("text") <= EDIT_DIST_LEN_CAP)
        & F.col("text").rlike(EDIT_DIST_ASCII_RE)
    )
    return edit_distance_pairs(
        docs, "doc_id", "text", max_dist=EDIT_DIST_MAX, q=EDIT_DIST_Q,
        stop_gram_min_df=EDIT_DIST_STOP_DF,
    )


#: Canonical q_dedup_edit oracle (tests import THIS). Brute-force with the
#: IMPLIED |len diff| <= d predicate (ed(a,b) >= |len diff|, so adding it
#: changes nothing) — the independent check the gram-filtered Spark plan is
#: graded against; dist computed once in a subquery so the sf0.1 local verify
#: doesn't pay the DP twice.
EDIT_DIST_ORACLE = f"""
    WITH s AS (
      SELECT doc_id, text FROM documents
      WHERE length(text) <= {EDIT_DIST_LEN_CAP}
        AND regexp_matches(text, '{EDIT_DIST_ASCII_RE}')
    )
    SELECT id_a, id_b, dist FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      FROM s a JOIN s b
        ON a.doc_id < b.doc_id
       AND abs(length(a.text) - length(b.text)) <= {EDIT_DIST_MAX}
    ) WHERE dist <= {EDIT_DIST_MAX}
"""

#: Count-min sketch candidate (r11 staging): small width so the 31-term
#: fixture vocabulary actually collides (22/31 terms over-count at
#: sf0.01) — the estimates are non-trivial yet fully deterministic
#: cross-engine because the bucket hash is the module-wide md5 contract.
CMS_DEPTH = 3
CMS_WIDTH = 16
CMS_SEED = "cms-suite"


def q_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates vs exact counts over the
    corpus token stream (operators/sketches.py:cms_build/cms_estimate —
    Cormode & Muthukrishnan '05): depth×width integer counters, estimates
    = min over depth md5-bucket rows, est >= true by construction. Unlike
    the HLL family (rows-only — engine-specific estimates), every CMS
    counter is a plain SUM over md5-derived buckets, so the sketch is
    exactly oracle-able.

    Exact value parity against CMS_FREQ_ORACLE pinned in tests/test_cms.py
    at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.dedup import tokens
    from chess_lakehouse_spark.operators.sketches import (
        CmsSpec,
        cms_build,
        cms_estimate,
    )

    apply_runtime_conf(spark)
    spec = CmsSpec(depth=CMS_DEPTH, width=CMS_WIDTH, seed=CMS_SEED)
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(F.explode(tokens(F.col("text"))).alias("term")).where(
        F.col("term") != ""
    )
    exact = occ.groupBy("term").agg(F.count(F.lit(1)).alias("n_true"))
    sketch = cms_build(occ, "term", spec)
    est = cms_estimate(sketch, exact.select("term"), "term", spec)
    return exact.join(est, "term").select(
        "term",
        "n_true",
        "est",
        (F.col("est") - F.col("n_true")).alias("err"),
    )


_CMS_BUCKET = (
    f"CAST(concat('0x', substr(md5(concat('{CMS_SEED}|', "
    f"CAST(r.i AS VARCHAR), '|', {{term}})), 1, 15)) AS BIGINT) % {CMS_WIDTH}"
)

#: Canonical q_cms_freq oracle (tests import THIS). The counters and
#: estimates are recomputed from scratch in SQL with the same md5 bucket hash
#: — an independent arithmetic path to the identical integers.
CMS_FREQ_ORACLE = rf"""
    WITH tok AS (SELECT unnest({_TOKS}) AS term FROM documents),
    occ AS (SELECT term FROM tok WHERE term <> ''),
    exact AS (SELECT term, COUNT(*) AS n_true FROM occ GROUP BY 1),
    cells AS (
      SELECT r.i AS row_i, {_CMS_BUCKET.format(term="term")} AS bucket,
             COUNT(*) AS cnt
      FROM occ CROSS JOIN range({CMS_DEPTH}) r(i)
      GROUP BY 1, 2
    ),
    pe AS (
      SELECT e.term, r.i AS row_i, {_CMS_BUCKET.format(term="e.term")} AS bucket
      FROM exact e CROSS JOIN range({CMS_DEPTH}) r(i)
    ),
    est AS (
      SELECT pe.term, MIN(COALESCE(c.cnt, 0)) AS est
      FROM pe LEFT JOIN cells c ON c.row_i = pe.row_i AND c.bucket = pe.bucket
      GROUP BY 1
    )
    SELECT x.term, CAST(x.n_true AS BIGINT) AS n_true,
           CAST(e.est AS BIGINT) AS est,
           CAST(e.est - x.n_true AS BIGINT) AS err
    FROM est e JOIN exact x USING (term)
"""

#: Substring-search candidate (r11 staging): every 97th document donates a
#: 12-char interior slice as a query — each query is GUARANTEED at least
#: its own document, and the synthetic corpus's repeated phrasing makes
#: many slices match dozens of other documents (non-trivial result).
SUBSTR_Q = 3
SUBSTR_QUERY_MOD = 97
SUBSTR_SLICE_POS = 21
SUBSTR_SLICE_LEN = 12


def q_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring search (LIKE '%s%' at corpus scale) THROUGH a
    staged trigram-class index (functions/text.py:build_substring_index /
    substring_search_from_index — the pg_trgm / codesearch pattern, Cox
    2012): candidates are the posting list of the query's rarest q-gram
    (gram-clustered, footer-skipped), verified with contains();
    identical rows to the brute scan because containment implies
    possession of every q-gram. The index is staged under the per-process
    temp root (the lake_skipping_read pattern) ONCE per process behind a
    ``_staged`` marker (pure function of sf_dir — the bm25_staged r15
    watchlist discipline: rebuilding the gram-clustered index on every
    invocation makes the gated cost measure the sort+swap build, not the
    pruned serve); the ORACLE is the honest
    brute contains() scan the index path must reproduce exactly.

    Exact value parity against SUBSTR_SEARCH_ORACLE pinned in
    tests/test_substring_index.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.functions.text import (
        build_substring_index,
        substring_search_from_index,
    )

    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    idx = _sklake_dir(sf_dir).rsplit("/", 1)[0] + "/subidx"
    _feed_once(idx, lambda: build_substring_index(docs, "doc_id", "text", idx, q=SUBSTR_Q))
    queries = docs.where(F.col("doc_id") % SUBSTR_QUERY_MOD == 0).select(
        F.col("doc_id").alias("qid"),
        F.substring("text", SUBSTR_SLICE_POS, SUBSTR_SLICE_LEN).alias("qt"),
    )
    return substring_search_from_index(
        spark, idx, docs, "doc_id", "text", queries, "qid", "qt"
    )


#: Canonical q_substring_search oracle (tests import THIS): the brute
#: contains() scan — completely index-free, so it checks the
#: rarest-gram candidate path's exactness rather than mirroring it.
SUBSTR_SEARCH_ORACLE = f"""
    WITH qs AS (
      SELECT doc_id AS qid,
             substr(text, {SUBSTR_SLICE_POS}, {SUBSTR_SLICE_LEN}) AS qt
      FROM documents WHERE doc_id % {SUBSTR_QUERY_MOD} = 0
    ),
    -- mirror the serve path's NULL/empty-query drop (functions/text.py:
    -- substring_search_from_index): a query doc shorter than the slice
    -- start yields qt = '' and DuckDB contains(text, '') is TRUE for
    -- EVERY document — without this filter such a row would fan out to
    -- the whole corpus on the oracle side only
    qs2 AS (SELECT * FROM qs WHERE qt IS NOT NULL AND length(qt) >= 1)
    SELECT q.qid, d.doc_id
    FROM qs2 q JOIN documents d ON contains(d.text, q.qt)
"""

#: Session co-occurrence candidate (r11 staging): 30-min sessions over the
#: events fixture — every pair of the 5 event types co-occurs somewhere.
#: The fixture's types are sampled independently, so lift never exceeds 1
#: (lift_gt_1 is all-False here — its exactness is pinned on planted
#: sessions in the unit tests); lift_ppm carries the non-trivial
#: cross-engine signal: exact millionths via DECIMAL/HUGEINT floor
#: division (the documented DuckDB // == Spark DIV boundary for
#: non-negative operands).
SESSION_PAIRS_GAP_S = 1800
SESSION_PAIRS_MIN_SUPPORT = 2
#: pair-expansion guard, MIRRORED in the oracle (the LSH bucket-cap
#: discipline: a cap the engine applies but the oracle doesn't would
#: silently diverge on a corpus with a pathological session) — no-op on
#: the 5-type fixture
SESSION_PAIRS_MAX_TYPES = 10_000


def q_session_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket event-type co-occurrence at session grain
    (operators/relational.py:session_cooccurrence): one user-keyed window
    pass assigns sessions, distinct session-type SETS expand to pairs in
    the array domain (cost bounded by per-session type vocabulary, never
    event count), and the positive-association flag is the exact integer
    comparison n_ab·n_sessions > n_a·n_b — no float lift ever computed.

    Exact value parity against SESSION_PAIRS_ORACLE pinned in
    tests/test_session_pairs.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.relational import session_cooccurrence

    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    return session_cooccurrence(
        ev, "user_id", "ts", "event_id", "event_type",
        gap_s=SESSION_PAIRS_GAP_S, min_support=SESSION_PAIRS_MIN_SUPPORT,
        max_types_per_session=SESSION_PAIRS_MAX_TYPES,
    )


#: Canonical q_session_pairs oracle (tests import THIS): the q_sessionize
#: lag/running-sum CTE shape with the SAME (ts, event_id) total order in
#: BOTH windows, distinct session-type sets, a<b self-join pairs, and the
#: integer lift comparison.
SESSION_PAIRS_ORACLE = f"""
    WITH x AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             epoch_us(lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)) AS prev_us
      FROM events WHERE ts IS NOT NULL
    ),
    s AS (
      SELECT user_id, event_type,
             SUM(CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > {SESSION_PAIRS_GAP_S * 1_000_000}
                  THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING) AS sess
      FROM x
    ),
    st AS (SELECT DISTINCT user_id, sess, event_type FROM s),
    na AS (SELECT event_type, COUNT(*) AS n FROM st GROUP BY 1),
    ns AS (SELECT COUNT(*) AS n_sessions
           FROM (SELECT DISTINCT user_id, sess FROM st)),
    -- the engine-side pair-expansion cap, mirrored (sessions with more
    -- distinct types than the cap generate NO pairs; per-type and total
    -- session counts still include them, matching cooccur_pairs)
    ok AS (SELECT user_id, sess FROM st GROUP BY 1, 2
           HAVING COUNT(*) <= {SESSION_PAIRS_MAX_TYPES}),
    sto AS (SELECT st.* FROM st JOIN ok USING (user_id, sess)),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_ab
      FROM sto a JOIN sto b
        ON a.user_id = b.user_id AND a.sess = b.sess
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST(xa.n AS BIGINT) AS n_a,
           CAST(xb.n AS BIGINT) AS n_b,
           CAST(ns.n_sessions AS BIGINT) AS n_sessions,
           CAST((CAST(p.n_ab AS HUGEINT) * 1000000 * ns.n_sessions)
                // (CAST(xa.n AS HUGEINT) * xb.n) AS BIGINT) AS lift_ppm,
           CAST(p.n_ab AS HUGEINT) * ns.n_sessions
             > CAST(xa.n AS HUGEINT) * xb.n AS lift_gt_1
    FROM pairs p
    JOIN na xa ON xa.event_type = p.type_a
    JOIN na xb ON xb.event_type = p.type_b
    CROSS JOIN ns
    WHERE p.n_ab >= {SESSION_PAIRS_MIN_SUPPORT}
"""

def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types within
    30-min sessions (operators/relational.py:event_transitions — the
    ordered complement to q_session_pairs): consecutive in-session
    adjacencies counted exactly, row-normalized probability in exact
    integer millionths (DECIMAL floor division), session boundaries never
    bridged.

    Exact value parity against EVENT_TRANSITIONS_ORACLE pinned in
    tests/test_session_pairs.py at two scales + cold-JVM."""
    from chess_lakehouse_spark.operators.relational import event_transitions

    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    return event_transitions(
        ev, "user_id", "ts", "event_id", "event_type",
        gap_s=SESSION_PAIRS_GAP_S, min_count=SESSION_PAIRS_MIN_SUPPORT,
    )


#: Canonical q_event_transitions oracle (tests import THIS): the shared
#: session CTEs, an in-session lag for the adjacency, exact HUGEINT
#: floor-division ppm.
EVENT_TRANSITIONS_ORACLE = f"""
    WITH x AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             epoch_us(lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)) AS prev_us
      FROM events WHERE ts IS NOT NULL
    ),
    s AS (
      SELECT user_id, event_id, event_type, ts_us,
             SUM(CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > {SESSION_PAIRS_GAP_S * 1_000_000}
                  THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING) AS sess
      FROM x
    ),
    tr AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id, sess
                                   ORDER BY ts_us, event_id) AS type_from,
             event_type AS type_to
      FROM s
    ),
    tr2 AS (SELECT * FROM tr WHERE type_from IS NOT NULL),
    counts AS (
      SELECT type_from, type_to, COUNT(*) AS n_trans
      FROM tr2 GROUP BY 1, 2
    ),
    nf AS (SELECT type_from, COUNT(*) AS n_from FROM tr2 GROUP BY 1)
    SELECT c.type_from, c.type_to,
           CAST(c.n_trans AS BIGINT) AS n_trans,
           CAST(nf.n_from AS BIGINT) AS n_from,
           CAST((CAST(c.n_trans AS HUGEINT) * 1000000) // nf.n_from
                AS BIGINT) AS p_ppm
    FROM counts c JOIN nf USING (type_from)
    WHERE c.n_trans >= {SESSION_PAIRS_MIN_SUPPORT}
"""

ORACLES = {
    "dedup_exact": """
        SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "dedup_minhash_lsh": rf"""
        WITH {_MINHASH_PAIRS_CTES}
        SELECT id_a, id_b, jaccard FROM pairs
    """,
    "dedup_clusters": rf"""
        WITH RECURSIVE {_MINHASH_PAIRS_CTES},
        sym AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs
        ),
        reach(id, lbl) AS (
          SELECT src, src FROM sym
          UNION
          SELECT s.src, r.lbl FROM sym s JOIN reach r ON r.id = s.dst
        )
        SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
    """,
    "pipeline_clean_corpus": rf"""
        WITH RECURSIVE kept AS (
          SELECT * FROM (
            SELECT d.*,
                   ROUND(0.4 * ln(1.0 + CAST(length(d.text) AS DOUBLE))
                   + 0.3 * (CAST(len(list_filter(string_split_regex(d.text, '[ \t\n\r\f\x0B]+'),
                                                 x -> x IN ({_STOP['en']}))) AS DOUBLE)
                            / len(string_split_regex(d.text, '[ \t\n\r\f\x0B]+')))
                   + 0.3 * least((CAST(list_reduce(list_transform(string_split_regex(d.text, '[ \t\n\r\f\x0B]+'),
                                                                  x -> len(x)),
                                                   (a, b) -> a + b) AS DOUBLE)
                                  / len(string_split_regex(d.text, '[ \t\n\r\f\x0B]+'))) / 10.0, 1.0), 6) AS q
            FROM documents d
          ) WHERE q >= {QUALITY_THRESHOLD}
        ),
        {_MINHASH_PAIRS_CTES_TPL.format(src="kept")},
        sym AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs
        ),
        reach(id, lbl) AS (
          SELECT src, src FROM sym
          UNION
          SELECT s.src, r.lbl FROM sym s JOIN reach r ON r.id = s.dst
        ),
        comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)
        SELECT d.doc_id FROM kept d
        LEFT JOIN comp c ON c.id = d.doc_id
        WHERE c.id IS NULL OR c.component = d.doc_id
    """,
    "dedup_simhash": f"""
        WITH {_SIMHASH_CTE}
        SELECT doc_id, simhash FROM simh
    """,
    "dedup_simhash_pairs": f"""
        WITH {_SIMHASH_CTE},
        bands AS (
          SELECT doc_id, simhash, b.bi, (simhash >> (8 * b.bi)) & 255 AS bv
          FROM simh, (SELECT unnest([0, 1, 2, 3]) AS bi) b
        )
        SELECT * FROM (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM bands a JOIN bands b
            ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
        ) WHERE hamming <= 6
    """,
    "dedup_ngram_jaccard": rf"""
        WITH g AS (
          SELECT DISTINCT doc_id, source AS blk,
            unnest(list_transform(range(1, greatest(length(text) - 5, 1)),
                   i -> substring(text, i, 7))) AS gram
          FROM documents WHERE length(text) >= 7
        ),
        c AS (SELECT doc_id, COUNT(*) AS n_g FROM g GROUP BY 1),
        i AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
          FROM g a JOIN g b
            ON a.blk = b.blk AND a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT * FROM (
          SELECT id_a, id_b,
                 ROUND(CAST(n_common AS DOUBLE) / (ca.n_g + cb.n_g - n_common), 6) AS jaccard
          FROM i JOIN c ca ON ca.doc_id = id_a JOIN c cb ON cb.doc_id = id_b
        ) WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    "dedup_embedding_cosine": f"""
        WITH e AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT * FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 {_COS.format(a='a.v', b='b.v')} AS sim
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE sim >= {COSINE_DUP_THRESHOLD}
    """,
    "knn_brute_force": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (SELECT * FROM e WHERE vec_id < {KNN_PROBES}),
        s AS (
          SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
                 {_COS.format(a='p.v', b='c.v')} AS sim
          FROM p JOIN e c ON c.vec_id <> p.vec_id
        )
        SELECT query_id, cand_id, sim, rk FROM (
          SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rk
          FROM s
        ) WHERE rk <= {KNN_K}
    """,
    "knn_lsh": f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 {_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
          FROM embeddings
        ),
        p AS (SELECT * FROM e WHERE vec_id < {KNN_PROBES}),
        s AS (
          SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
                 {_COS.format(a='p.v', b='c.v')} AS sim
          FROM p JOIN e c ON c.bucket = p.bucket AND c.vec_id <> p.vec_id
        )
        SELECT query_id, cand_id, sim, rk FROM (
          SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rk
          FROM s
        ) WHERE rk <= {KNN_K}
    """,
    "knn_ivf": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        assigned AS (
          SELECT e.vec_id, e.v, a.cid AS list_id
          FROM e, LATERAL (
            SELECT c.cid FROM cent c
            ORDER BY {_COS.format(a='e.v', b='c.cv')} DESC, c.cid ASC
            LIMIT 1
          ) a
        ),
        p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {KNN_PROBES}),
        plists AS (
          SELECT p.query_id, p.qv, a.cid AS list_id
          FROM p, LATERAL (
            SELECT c.cid FROM cent c
            ORDER BY {_COS.format(a='p.qv', b='c.cv')} DESC, c.cid ASC
            LIMIT 2
          ) a
        ),
        s AS (
          SELECT pl.query_id, t.vec_id AS cand_id,
                 {_COS.format(a='pl.qv', b='t.v')} AS sim
          FROM plists pl
          JOIN assigned t ON t.list_id = pl.list_id AND t.vec_id <> pl.query_id
        )
        SELECT query_id, cand_id, sim, rk FROM (
          SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rk
          FROM s
        ) WHERE rk <= {KNN_K}
    """,
    "dedup_incremental": rf"""
        WITH {_SHINGLES_CTE.strip()},
        sig AS (
          SELECT doc_id, {_MINHASH_AGGS}
          FROM sh GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id, 0 AS band, concat(h0, h1) AS bsig FROM sig
          UNION ALL SELECT doc_id, 1, concat(h2, h3) FROM sig
          UNION ALL SELECT doc_id, 2, concat(h4, h5) FROM sig
          UNION ALL SELECT doc_id, 3, concat(h6, h7) FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bsig = b.bsig
          WHERE a.doc_id % 10 = 9 AND b.doc_id % 10 <> 9
        ),
        counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.new_id, c.corpus_id, COUNT(*) AS n_common
          FROM cand c
          JOIN sh a ON a.doc_id = c.new_id
          JOIN sh b ON b.doc_id = c.corpus_id AND b.shingle = a.shingle
          GROUP BY 1, 2
        )
        SELECT * FROM (
          SELECT i.new_id, i.corpus_id,
                 ROUND(CAST(i.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - i.n_common), 6) AS jaccard
          FROM inter i
          JOIN counts ca ON ca.doc_id = i.new_id
          JOIN counts cb ON cb.doc_id = i.corpus_id
        ) WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    "sample_hash": f"""
        SELECT doc_id, source FROM documents
        WHERE {_HASH64.format(expr=f"concat('{SAMPLE_SEED}|', CAST(doc_id AS VARCHAR))")}
              < {int(SAMPLE_RATE * (1 << 60))}
    """,
    "sample_mix": f"""
        WITH hs AS (
          SELECT doc_id, source,
                 {_HASH64.format(expr=f"concat('{SAMPLE_SEED}|', CAST(doc_id AS VARCHAR))")} AS h_mix,
                 {_HASH64.format(expr=f"concat('{SAMPLE_SEED + 1}|', CAST(doc_id AS VARCHAR))")} AS h_split
          FROM documents
        )
        SELECT doc_id, source,
               CASE WHEN h_split < {int(EVAL_FRAC * (1 << 60))}
                    THEN 'eval' ELSE 'train' END AS split
        FROM hs
        WHERE h_mix < CASE source
          WHEN 'src0' THEN {int(MIX_RATES['src0'] * (1 << 60))}
          WHEN 'src1' THEN {int(MIX_RATES['src1'] * (1 << 60))}
          WHEN 'src2' THEN {int(MIX_RATES['src2'] * (1 << 60))}
          ELSE {int(MIX_DEFAULT_RATE * (1 << 60))} END
    """,
    "split_contamination": f"""
        WITH s AS (
          SELECT doc_id, md5(text) AS h,
                 CASE WHEN {_HASH64.format(expr=f"concat('{SAMPLE_SEED + 1}|', CAST(doc_id AS VARCHAR))")}
                           < {int(EVAL_FRAC * (1 << 60))}
                      THEN 'eval' ELSE 'train' END AS split
          FROM documents
        )
        SELECT e.doc_id, COUNT(*) AS n_train_copies, MIN(t.doc_id) AS first_train_id
        FROM s e JOIN s t ON e.h = t.h AND e.split = 'eval' AND t.split = 'train'
        GROUP BY 1
    """,
    "repetition_metrics": rf"""
        WITH b AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
          WHERE len({_TOKS}) >= 2
        ),
        dup AS (
          SELECT doc_id,
                 ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
                   AS dup_token_frac
          FROM b
        ),
        bc AS (
          SELECT doc_id, bigram, COUNT(*) AS n FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])) AS bigram
            FROM b
          ) GROUP BY 1, 2
        ),
        tb AS (
          SELECT doc_id, ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS top_bigram_frac
          FROM bc GROUP BY 1
        )
        SELECT doc_id, dup_token_frac, top_bigram_frac
        FROM dup JOIN tb USING (doc_id)
    """,
    "knn_ivf_kmeans": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c0 AS (
          SELECT CAST(rn - 1 AS INT) AS cid, v AS cv FROM (
            SELECT v, row_number() OVER (
              ORDER BY md5('{KMEANS_SEED}|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM e
          ) WHERE rn <= {KMEANS_K}
        ),
        {_kmeans_iter_ctes('c0', 1)},
        {_kmeans_iter_ctes('c1', 2)},
        assigned AS (
          SELECT e.vec_id, e.v, a.cid AS list_id
          FROM e, LATERAL (
            SELECT c.cid FROM c2 c
            ORDER BY {_COS.format(a='e.v', b='c.cv')} DESC, c.cid ASC LIMIT 1
          ) a
        ),
        p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {KNN_PROBES}),
        plists AS (
          SELECT p.query_id, p.qv, a.cid AS list_id
          FROM p, LATERAL (
            SELECT c.cid FROM c2 c
            ORDER BY {_COS.format(a='p.qv', b='c.cv')} DESC, c.cid ASC LIMIT 2
          ) a
        ),
        s AS (
          SELECT pl.query_id, t.vec_id AS cand_id,
                 {_COS.format(a='pl.qv', b='t.v')} AS sim
          FROM plists pl
          JOIN assigned t ON t.list_id = pl.list_id AND t.vec_id <> pl.query_id
        )
        SELECT query_id, cand_id, sim, rk FROM (
          SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rk
          FROM s
        ) WHERE rk <= {KNN_K}
    """,
    "udtf_bigrams": rf"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id, u.gram, u.pos FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(toks), 1)),
                        i -> struct_pack(gram := toks[i] || ' ' || toks[i + 1],
                                         pos := CAST(i - 1 AS INT)))) AS u
          FROM t WHERE len(toks) >= 2
        )
    """,
    "udaf_gmean": """
        SELECT source,
               ROUND(exp(AVG(ln(CAST(n_chars AS DOUBLE)))), 6) AS gmean_chars
        FROM documents GROUP BY source
    """,
    "source_stats_pandas": f"""
        SELECT source, n_docs,
               {_mean6_sql("s6", "n_docs")} AS mean_chars,
               median_chars
        FROM (
          SELECT source,
                 COUNT(*) AS n_docs,
                 {_sum6_sql("n_chars")} AS s6,
                 ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS median_chars
          FROM documents GROUP BY source
        )
    """,
    "text_normalize": f"SELECT doc_id, {_scrub_sql()} AS norm_text FROM documents",
    "text_quality": rf"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
        m AS (
          SELECT doc_id,
                 CAST(length(text) AS INT) AS n_chars,
                 CAST(len(toks) AS INT) AS n_tokens,
                 CAST(list_reduce(list_transform(toks, x -> len(x)), (a, b) -> a + b) AS DOUBLE)
                   / len(toks) AS avg_len,
                 CAST(len(list_filter(toks, x -> x IN ({_STOP['en']}))) AS DOUBLE)
                   / len(toks) AS stop_ratio
          FROM t
        )
        SELECT doc_id, n_chars, n_tokens,
               ROUND(avg_len, 4) AS avg_token_len,
               ROUND(stop_ratio, 4) AS stopword_ratio,
               ROUND(0.4 * ln(1.0 + CAST(n_chars AS DOUBLE))
                     + 0.3 * stop_ratio
                     + 0.3 * least(avg_len / 10.0, 1.0), 6) AS quality_score
        FROM m
    """,
    "text_langid": rf"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (
          SELECT doc_id,
   {_LANG_SCORES}
          FROM t
        )
        SELECT doc_id, score_de, score_en, score_es, score_fr,
               CASE
                 WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
                 WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                 WHEN score_es >= score_fr THEN 'es'
                 ELSE 'fr'
               END AS pred_lang
        FROM s
    """,
    "token_count": rf"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_ws_tokens,
               CAST(list_reduce(list_transform(toks, x -> (len(x) + 3) // 4),
                                (a, b) -> a + b) AS BIGINT) AS n_subword_tokens
        FROM t
    """,
    "tfidf": rf"""
        WITH t AS (
          SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2
        ),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
        SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
               ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 6) AS tfidf
        FROM tf JOIN dfq USING (term) CROSS JOIN n
        WHERE tf.tf >= 2
    """,
    "tfidf_cosine": rf"""
        WITH t AS (
          SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2
        ),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        wts AS (
          SELECT tf.doc_id AS id, tf.term,
                 ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 6) AS w
          FROM tf JOIN dfq USING (term) CROSS JOIN n
          WHERE tf.tf >= 2
        ),
        w2 AS (
          SELECT wts.*, concat(d.source, '|', d.lang) AS blk
          FROM wts JOIN documents d ON d.doc_id = wts.id
        ),
        norms AS (
          SELECT id, CAST(SUM(CAST(w * w AS DECIMAL(18,6))) AS DOUBLE) AS n2
          FROM w2 GROUP BY id
        ),
        dots AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 CAST(SUM(CAST(a.w * b.w AS DECIMAL(18,6))) AS DOUBLE) AS dp
          FROM w2 a JOIN w2 b ON a.blk = b.blk AND a.term = b.term AND a.id < b.id
          GROUP BY 1, 2
        )
        SELECT * FROM (
          SELECT id_a, id_b, ROUND(dp / sqrt(na.n2 * nb.n2), 6) AS sim
          FROM dots
          JOIN norms na ON na.id = dots.id_a
          JOIN norms nb ON nb.id = dots.id_b
        ) WHERE sim >= {TFIDF_COS_THRESHOLD}
    """,
    "contamination_ngram": rf"""
        WITH s AS (
          SELECT doc_id, text,
                 CASE WHEN {_HASH64.format(expr=f"concat('{SAMPLE_SEED + 1}|', CAST(doc_id AS VARCHAR))")}
                           < {int(EVAL_FRAC * (1 << 60))}
                      THEN 'eval' ELSE 'train' END AS split
          FROM documents
        ),
        c AS (
          SELECT doc_id, split,
                 list_transform(range(1, length(text) + 1),
                                p -> ascii(substring(text, p, 1))) AS codes
          FROM s WHERE length(text) >= 5
        ),
        g AS (
          SELECT doc_id, split,
                 unnest(list_transform(range(1, greatest(len(codes) - 3, 1)),
                        i -> struct_pack(pos := i - 1,
                                         gh := {" + ".join(f"codes[i + {j}] * CAST({131 ** (4 - j)} AS BIGINT)" for j in range(5))}))) AS u
          FROM c
        ),
        fp AS (
          SELECT doc_id, split, u.pos // 8 AS win_idx, MIN(u.gh) AS fingerprint
          FROM g GROUP BY 1, 2, 3
        ),
        ev AS (SELECT DISTINCT doc_id, fingerprint FROM fp WHERE split = 'eval'),
        tr AS (SELECT DISTINCT fingerprint FROM fp WHERE split = 'train')
        SELECT * FROM (
          SELECT e.doc_id, COUNT(*) AS n_fp, COUNT(t.fingerprint) AS n_shared,
                 ROUND(CAST(COUNT(t.fingerprint) AS DOUBLE) / COUNT(*), 6) AS overlap_frac
          FROM ev e LEFT JOIN tr t ON t.fingerprint = e.fingerprint
          GROUP BY 1
        ) WHERE overlap_frac >= {FP_OVERLAP_THRESHOLD}
    """,
    "pack_sequences": rf"""
        WITH tc AS (
          SELECT doc_id, source, len({_TOKS}) AS n FROM documents
        ),
        p AS (
          SELECT doc_id, source, n,
                 CAST(SUM(n) OVER (PARTITION BY source ORDER BY doc_id) - n AS BIGINT) AS pfx
          FROM tc
        )
        SELECT doc_id, source, CAST(n AS BIGINT) AS n_tokens,
               pfx // {PACK_BUDGET} AS seq_id,
               pfx % {PACK_BUDGET} AS seq_offset
        FROM p
    """,
    "lm_score": rf"""
        WITH tt AS (
          SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        t2 AS (SELECT doc_id, term FROM tt WHERE term <> ''),
        ctf AS (SELECT term, COUNT(*) AS ctf FROM t2 GROUP BY 1),
        tot AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS total FROM ctf),
        lp AS (
          SELECT term, ROUND(ln(CAST(ctf AS DOUBLE) / total), 6) AS lp
          FROM ctf CROSS JOIN tot
        )
        SELECT doc_id, n_tokens, -({_mean6_sql("s6", "n_tokens")}) AS nll FROM (
          SELECT doc_id, COUNT(*) AS n_tokens, {_sum6_sql("lp")} AS s6
          FROM t2 JOIN lp USING (term)
          GROUP BY 1
        )
    """,
    "doc_chunks": rf"""
        WITH t AS (
          SELECT doc_id, list_filter({_TOKS}, x -> x <> '') AS toks FROM documents
        ),
        b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        c AS (
          SELECT doc_id, toks, n,
                 1 + (greatest(n - {CHUNK_WINDOW}, 0) + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE} AS nc
          FROM b
        ),
        e AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS i FROM c)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               CAST(least({CHUNK_WINDOW}, n - i * {CHUNK_STRIDE}) AS INT) AS n_chunk_tokens,
               array_to_string(toks[(i * {CHUNK_STRIDE} + 1):(i * {CHUNK_STRIDE} + {CHUNK_WINDOW})], ' ') AS chunk_text
        FROM e
    """,
    "knn_quantized": rf"""
        WITH qz AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round(x * (CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0 END)) AS DOUBLE)) AS qv
          FROM (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(x))) AS amax
            FROM embeddings
          )
        ),
        n2 AS (
          SELECT vec_id, qv, list_dot_product(qv, qv) AS n2 FROM qz
        ),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 ROUND(list_dot_product(q.qv, c.qv) / sqrt(q.n2 * c.n2), 6) AS sim
          FROM n2 q JOIN n2 c
            ON q.vec_id < {KNN_PROBES} AND c.vec_id <> q.vec_id
           AND q.n2 > 0 AND c.n2 > 0
        )
        SELECT query_id, cand_id, sim, CAST(rk AS INT) AS rk FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, cand_id ASC) AS rk
          FROM scored
        ) WHERE rk <= {KNN_K}
    """,
    "doc_fingerprint": rf"""
        WITH c AS (
          SELECT doc_id,
                 list_transform(range(1, length(text) + 1),
                                p -> ascii(substring(text, p, 1))) AS codes
          FROM documents WHERE length(text) >= 5
        ),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(codes) - 3, 1)),
                        i -> struct_pack(pos := i - 1,
                                         gh := {" + ".join(f"codes[i + {j}] * CAST({131 ** (4 - j)} AS BIGINT)" for j in range(5))}))) AS u
          FROM c
        )
        SELECT doc_id,
               CAST(u.pos // 8 AS INT) AS win_idx,
               MIN(u.gh) AS fingerprint
        FROM g
        GROUP BY 1, 2
    """,
    "dedup_semantic": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {SEMANTIC_CENTROIDS}),
        assigned AS (
          SELECT e.vec_id, e.v, CAST(a.cid AS INT) AS list_id
          FROM e, LATERAL (
            SELECT c.cid FROM cent c
            ORDER BY {_COS.format(a='e.v', b='c.cv')} DESC, c.cid ASC
            LIMIT 1
          ) a
        ),
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b
            ON a.list_id = b.list_id AND a.vec_id < b.vec_id
          WHERE {_COS.format(a='a.v', b='b.v')} >= {SEMANTIC_THRESHOLD}
        )
        SELECT vec_id, list_id FROM assigned
        WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
    "boilerplate_strip": rf"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        vocab AS (
          SELECT token FROM (
            SELECT doc_id, unnest(list_distinct(tk)) AS token FROM toks
          )
          GROUP BY token
          HAVING COUNT(*) * 100 > {BOILERPLATE_MAX_DF_PCT} * (SELECT n_docs FROM n)
        ),
        kept AS (
          SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
                 COUNT(*) AS n_kept
          FROM (
            SELECT doc_id, unnest(tk) AS token,
                   unnest(range(1, len(tk) + 1)) AS pos
            FROM toks
          )
          WHERE token NOT IN (SELECT token FROM vocab)
          GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(k.clean_text, '') AS clean_text,
               CAST(len(t.tk) - coalesce(k.n_kept, 0) AS INT) AS n_removed
        FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
    """,
    "vocab_topk": rf"""
        WITH t AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
        c AS (
          SELECT token, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
          FROM t GROUP BY token
        )
        SELECT token, n_total, n_docs, rk FROM (
          SELECT *, CAST(row_number() OVER (ORDER BY n_total DESC, token ASC) AS INT) AS rk
          FROM c
        ) WHERE rk <= {VOCAB_TOP_K}
    """,
    "user_retention": """
        WITH days AS (
          SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
        ),
        first AS (SELECT user_id, MIN(day) AS cohort FROM days GROUP BY user_id)
        SELECT epoch_us(cohort) AS cohort_us,
               CAST(date_diff('day', cohort, day) AS INT) AS day_offset,
               COUNT(DISTINCT d.user_id) AS n_users
        FROM days d JOIN first f ON f.user_id = d.user_id
        GROUP BY 1, 2
    """,
    "event_funnel": """
        WITH v AS (SELECT user_id AS u, ts AS t_view FROM events WHERE event_type = 'view'),
        c AS (SELECT user_id AS u, ts AS t_click FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id AS u, ts AS t_buy FROM events WHERE event_type = 'purchase'),
        -- cp is MATERIALIZED to pin the two-stage hash-join shape: left
        -- as one 3-way, DuckDB 1.0's planner sometimes picks an
        -- inequality-driven order that evaluates the u-equality as a
        -- post-filter (observed mid-r12: 780s / 12 GB on the sf0.1
        -- fixture vs 0.05s staged; value-identical at every scale)
        cp AS MATERIALIZED (
          SELECT p.u, p.t_buy, c.t_click
          FROM p
          JOIN c ON c.u = p.u
           AND c.t_click < p.t_buy
           AND c.t_click >= p.t_buy - INTERVAL 24 HOUR
        ),
        chains AS (
          SELECT DISTINCT cp.u, cp.t_buy
          FROM cp
          JOIN v ON v.u = cp.u
           AND v.t_view < cp.t_click
           AND v.t_view >= cp.t_buy - INTERVAL 24 HOUR
        )
        SELECT u AS user_id, COUNT(*) AS n_funnels FROM chains GROUP BY u
    """,
    "embedding_drift": f"""
        WITH halves AS (
          SELECT label, CAST(vec_id % 2 AS INT) AS half,
                 unnest(range(0, len(embedding))) AS pos,
                 unnest(CAST(embedding AS DOUBLE[])) AS val
          FROM embeddings
        ),
        cents0 AS (
          SELECT label, half, pos, {_sum6_sql("val")} AS s6, COUNT(*) AS n
          FROM halves GROUP BY label, half, pos
        ),
        cents AS (
          SELECT label, half, pos, {_mean6_sql("s6", "n")} AS mval FROM cents0
        ),
        j AS (
          SELECT o.label, o.mval AS ov, n.mval AS nv
          FROM cents o JOIN cents n
            ON n.label = o.label AND n.pos = o.pos AND o.half = 0 AND n.half = 1
        )
        SELECT label,
               ROUND(CAST(SUM(CAST(ov AS DECIMAL(18,6)) * CAST(nv AS DECIMAL(18,6))) AS DOUBLE)
                     / sqrt(CAST(SUM(CAST(ov AS DECIMAL(18,6)) * CAST(ov AS DECIMAL(18,6))) AS DOUBLE)
                            * CAST(SUM(CAST(nv AS DECIMAL(18,6)) * CAST(nv AS DECIMAL(18,6))) AS DOUBLE)), 6)
                 AS centroid_cos
        FROM j GROUP BY label
    """,
    "budget_sample": rf"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(list_filter({_TOKS}, x -> x <> '')) AS BIGINT) AS n_tokens,
                 {_HASH64.format(expr=f"concat('{SAMPLE_SEED}|', CAST(doc_id AS VARCHAR))")} AS h
          FROM documents
        ),
        c AS (
          SELECT doc_id, source, n_tokens,
                 CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY h ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
          FROM t
        )
        SELECT doc_id, source, n_tokens, cum_tokens FROM c
        WHERE cum_tokens <= {TOKEN_BUDGET} OR cum_tokens = n_tokens
    """,
    "split_leakage_safe": rf"""
        WITH RECURSIVE {_MINHASH_PAIRS_CTES},
        sym AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs
        ),
        reach(id, lbl) AS (
          SELECT src, src FROM sym
          UNION
          SELECT s.src, r.lbl FROM sym s JOIN reach r ON r.id = s.dst
        ),
        comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
        keyed AS (
          SELECT d.doc_id, coalesce(c.component, d.doc_id) AS split_key
          FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        )
        SELECT doc_id, split_key,
               CASE WHEN {_HASH64.format(expr=f"concat('{SAMPLE_SEED + 1}|', CAST(split_key AS VARCHAR))")}
                         < {int(EVAL_FRAC * (1 << 60))}
                    THEN 'eval' ELSE 'train' END AS split
        FROM keyed
    """,
    "sample_weighted": rf"""
        WITH t AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents),
        m AS (
          SELECT doc_id, source,
                 ROUND(0.4 * ln(1.0 + CAST(length(text) AS DOUBLE))
                       + 0.3 * (CAST(len(list_filter(toks, x -> x IN ({_STOP['en']}))) AS DOUBLE) / len(toks))
                       + 0.3 * least((CAST(list_reduce(list_transform(toks, x -> len(x)), (a, b) -> a + b) AS DOUBLE) / len(toks)) / 10.0, 1.0), 6) AS q
          FROM t
        )
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 CAST({_HASH64.format(expr=f"concat('{SAMPLE_SEED}|', CAST(doc_id AS VARCHAR))")} AS DOUBLE) / 1152921504606846976.0 AS u,
                 least(1.0, greatest(0.0, (q - 2.0) / 1.0)) AS r
          FROM m
        ) WHERE u < r
    """,
    "dq_check": """
        WITH w AS (
          SELECT COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_custkey_null,
                 CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS v_status_domain,
                 CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price_nonpositive,
                 CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_priority_null
          FROM orders
        )
        SELECT rule, n_violations, n_rows FROM (
          SELECT 'custkey_null' AS rule, v_custkey_null AS n_violations, n_rows FROM w
          UNION ALL SELECT 'price_nonpositive', v_price_nonpositive, n_rows FROM w
          UNION ALL SELECT 'priority_null', v_priority_null, n_rows FROM w
          UNION ALL SELECT 'status_domain', v_status_domain, n_rows FROM w
        )
    """,
    "pmi_topk": rf"""
        WITH t AS (
          SELECT doc_id, list_filter({_TOKS}, x -> x <> '') AS toks FROM documents
        ),
        pairs AS (
          SELECT u.w1 AS w1, u.w2 AS w2 FROM (
            SELECT unnest(list_transform(range(1, len(toks)),
                          i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS u
            FROM t WHERE len(toks) >= 2
          )
        ),
        cu AS (
          SELECT w, COUNT(*) AS cw FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
        ),
        tot AS (SELECT COUNT(*) AS t FROM pairs),
        cb AS (
          SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY 1, 2
          HAVING COUNT(*) >= {PMI_MIN_COUNT}
        ),
        scored AS (
          SELECT cb.w1, cb.w2, cb.n_pair,
                 ROUND(ln(CAST(cb.n_pair * (SELECT t FROM tot) AS DOUBLE)
                          / CAST(u1.cw * u2.cw AS DOUBLE)), 6) AS pmi
          FROM cb
          JOIN cu u1 ON u1.w = cb.w1
          JOIN cu u2 ON u2.w = cb.w2
        )
        SELECT w1, w2, n_pair, pmi, rk FROM (
          SELECT *, CAST(row_number() OVER (
            ORDER BY pmi DESC, w1 ASC, w2 ASC) AS INT) AS rk
          FROM scored
        ) WHERE rk <= {PMI_TOP_K}
    """,
    "event_outliers": f"""
        WITH stats0 AS (
          SELECT event_type,
                 COUNT(*) AS n,
                 {_sum6_sql("value")} AS s6,
                 ROUND(sqrt(
                   (CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                    - CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                      * CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
                   / COUNT(*)), 6) AS std
          FROM events GROUP BY event_type
        ),
        stats AS (
          SELECT event_type, {_mean6_sql("s6", "n")} AS mean, std FROM stats0
        )
        SELECT event_id, event_type, value, z FROM (
          SELECT e.event_id, e.event_type, e.value,
                 ROUND((e.value - s.mean) / s.std, 6) AS z
          FROM events e JOIN stats s ON s.event_type = e.event_type
        ) WHERE abs(z) >= {Z_THRESHOLD}
    """,
    "corpus_delta": """
        WITH o AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END) AS oh
          FROM documents WHERE doc_id % 5 <> 0
        ),
        n AS (SELECT doc_id, md5(text) AS nh FROM documents)
        SELECT doc_id, change FROM (
          SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                 CASE WHEN o.oh IS NULL THEN 'added'
                      WHEN n.nh IS NULL THEN 'removed'
                      WHEN o.oh <> n.nh THEN 'changed' END AS change
          FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id
        ) WHERE change IS NOT NULL
    """,
    "lm_score_bigram": rf"""
        WITH t AS (
          SELECT doc_id, list_filter({_TOKS}, x -> x <> '') AS toks FROM documents
        ),
        pairs AS (
          SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                          i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS u
            FROM t WHERE len(toks) >= 2
          )
        ),
        cb AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY 1, 2),
        cu AS (SELECT w1, COUNT(*) AS cu FROM pairs GROUP BY 1),
        v AS (
          SELECT COUNT(DISTINCT term) AS v FROM (
            SELECT unnest(toks) AS term FROM t
          )
        ),
        lp AS (
          SELECT cb.w1, cb.w2,
                 ROUND(ln(CAST(2 * cb.cb + 1 AS DOUBLE)
                          / CAST(2 * cu.cu + (SELECT v FROM v) AS DOUBLE)), 6) AS lp
          FROM cb JOIN cu ON cu.w1 = cb.w1
        )
        SELECT doc_id, n_bigrams, -({_mean6_sql("s6", "n_bigrams")}) AS nll FROM (
          SELECT p.doc_id, COUNT(*) AS n_bigrams, {_sum6_sql("l.lp")} AS s6
          FROM pairs p JOIN lp l ON l.w1 = p.w1 AND l.w2 = p.w2
          GROUP BY p.doc_id
        )
    """,
    "chunk_dedup": rf"""
        WITH t AS (
          SELECT doc_id, list_filter({_TOKS}, x -> x <> '') AS toks FROM documents
        ),
        b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        c AS (
          SELECT doc_id, toks, n,
                 1 + (greatest(n - {PASSAGE_WINDOW}, 0) + {PASSAGE_WINDOW - 1}) // {PASSAGE_WINDOW} AS nc
          FROM b
        ),
        e AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS i FROM c),
        ch AS (
          SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                 md5(array_to_string(toks[(i * {PASSAGE_WINDOW} + 1):(i * {PASSAGE_WINDOW} + {PASSAGE_WINDOW})], ' ')) AS h
          FROM e
        ),
        occ AS (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rk
          FROM ch
        )
        SELECT doc_id, COUNT(*) AS n_chunks,
               CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        FROM occ GROUP BY doc_id
    """,
    "dedup_priority": rf"""
        WITH RECURSIVE {_MINHASH_PAIRS_CTES},
        sym AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs
        ),
        reach(id, lbl) AS (
          SELECT src, src FROM sym
          UNION
          SELECT s.src, r.lbl FROM sym s JOIN reach r ON r.id = s.dst
        ),
        comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
        member AS (
          SELECT c.component, c.id,
                 CASE d.source WHEN 'src3' THEN 0 WHEN 'src7' THEN 1 ELSE 99 END AS prio
          FROM comp c JOIN documents d ON d.doc_id = c.id
        )
        SELECT component, id AS canonical_id, n_members FROM (
          SELECT component, id,
                 COUNT(*) OVER (PARTITION BY component) AS n_members,
                 row_number() OVER (PARTITION BY component
                                    ORDER BY prio ASC, id ASC) AS rk
          FROM member
        ) WHERE rk = 1
    """,
    "sample_per_group": f"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_HASH64.format(expr=f"concat('{SAMPLE_SEED}|', CAST(doc_id AS VARCHAR))")} ASC,
                            doc_id ASC) AS rk
          FROM documents
        ) WHERE rk <= {GROUP_CAP_N}
    """,
    "label_centroids": """
        SELECT label, pos,
               -- exact integer half-away rounding of the scale-6 mean:
               -- double-side ROUND diverges between engines on quotient
               -- ties at the 7th decimal (see operators/similarity.py)
               CAST(CASE WHEN s6 >= 0 THEN (2 * s6 + n_vecs) // (2 * n_vecs)
                         ELSE -((2 * (-s6) + n_vecs) // (2 * n_vecs)) END
                    AS DOUBLE) / CAST(1000000 AS DOUBLE) AS mval,
               n_vecs
        FROM (
          SELECT label,
                 CAST(pos AS INT) AS pos,
                 CAST(SUM(CAST(CAST(val AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS s6,
                 COUNT(*) AS n_vecs
          FROM (
            SELECT label,
                   unnest(range(0, len(embedding))) AS pos,
                   unnest(CAST(embedding AS DOUBLE[])) AS val
            FROM embeddings
          )
          GROUP BY label, pos
        )
    """,
    "quality_buckets": rf"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
        m AS (
          SELECT doc_id,
                 CAST(length(text) AS INT) AS n_chars,
                 CAST(list_reduce(list_transform(toks, x -> len(x)), (a, b) -> a + b) AS DOUBLE)
                   / len(toks) AS avg_len,
                 CAST(len(list_filter(toks, x -> x IN ({_STOP['en']}))) AS DOUBLE)
                   / len(toks) AS stop_ratio
          FROM t
        ),
        scored AS (
          SELECT doc_id, n_chars,
                 ROUND(0.4 * ln(1.0 + CAST(n_chars AS DOUBLE))
                       + 0.3 * stop_ratio
                       + 0.3 * least(avg_len / 10.0, 1.0), 6) AS quality_score
          FROM m
        ),
        bucketed AS (
          SELECT *, CAST(ntile({QUALITY_N_BUCKETS}) OVER (
            ORDER BY quality_score ASC, doc_id ASC) AS INT) AS bucket
          FROM scored
        )
        SELECT bucket, n_docs, min_score, max_score,
               {_mean6_sql("s6", "n_docs")} AS avg_chars
        FROM (
          SELECT bucket, COUNT(*) AS n_docs,
                 MIN(quality_score) AS min_score,
                 MAX(quality_score) AS max_score,
                 {_sum6_sql("n_chars")} AS s6
          FROM bucketed GROUP BY bucket
        )
    """,
    "sample_temperature": rf"""
        WITH c AS (SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY lang),
        m AS (SELECT MIN(n_g) AS n_min FROM c),
        r AS (
          SELECT lang,
                 ROUND(power(CAST((SELECT n_min FROM m) AS DOUBLE)
                             / CAST(n_g AS DOUBLE), {1.0 - MIX_ALPHA}), 6) AS rate
          FROM c
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN r ON r.lang = d.lang
        WHERE CAST({_HASH64.format(expr=f"concat('{SAMPLE_SEED}|', CAST(doc_id AS VARCHAR))")} AS DOUBLE)
              / 1152921504606846976.0 < r.rate
    """,
    "winsorize": f"""
        WITH b AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value ASC, event_id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ),
        t AS (
          SELECT event_type, MIN(value) AS lo, MAX(value) AS hi FROM b
          WHERE rn = greatest(CAST(1 AS BIGINT),
                              (CAST({round(WINSOR_LO * 1_000_000)} AS HUGEINT) * n + 999999) // 1000000)
             OR rn = greatest(CAST(1 AS BIGINT),
                              (CAST({round(WINSOR_HI * 1_000_000)} AS HUGEINT) * n + 999999) // 1000000)
          GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               least(greatest(e.value, t.lo), t.hi) AS clipped
        FROM events e JOIN t ON t.event_type = e.event_type
    """,
    "canary_scan": f"""
        SELECT c.canary, d.source, COUNT(*) AS n_docs
        FROM documents d,
             (SELECT unnest([{", ".join(f"'{c}'" for c in CANARIES)}]) AS canary) c
        WHERE contains(d.text, c.canary)
        GROUP BY c.canary, d.source
    """,
    "source_kl": rf"""
        WITH toks AS (
          SELECT source AS grp, unnest(list_filter({_TOKS}, x -> x <> '')) AS w
          FROM documents
        ),
        cgw AS (SELECT grp, w, COUNT(*) AS c_gw FROM toks GROUP BY grp, w),
        cw AS (SELECT w, CAST(SUM(c_gw) AS BIGINT) AS c_w FROM cgw GROUP BY w),
        tg AS (SELECT grp, CAST(SUM(c_gw) AS BIGINT) AS t_g FROM cgw GROUP BY grp),
        tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS t FROM cw)
        SELECT cgw.grp AS source,
               MAX(t_g) AS n_tokens,
               ROUND(CAST(SUM(CAST(c_gw * ROUND(ln(
                         CAST(c_gw * (SELECT t FROM tot) AS DOUBLE)
                         / CAST(t_g * c_w AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / MAX(t_g), 6) AS kl
        FROM cgw JOIN cw USING (w) JOIN tg USING (grp)
        GROUP BY cgw.grp
    """,
    "rolling_avg": f"""
        SELECT event_id, user_id, ts_us, value,
               {_mean6_sql("s6", "n")} AS mean
        FROM (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
                 SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) OVER w AS s6,
                 COUNT(*) OVER w AS n
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC
                       RANGE BETWEEN {ROLLING_WINDOW_S * 1_000_000} PRECEDING
                             AND CURRENT ROW)
        )
    """,
    "activity_islands": """
        WITH days AS (
          SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events
        ),
        isl AS (
          SELECT user_id, d,
                 d - row_number() OVER (PARTITION BY user_id ORDER BY d ASC) AS island
          FROM days
        )
        SELECT user_id, MIN(d) AS start_day, COUNT(*) AS streak_days
        FROM isl GROUP BY user_id, island
    """,
    "token_entropy": rf"""
        WITH t AS (
          SELECT doc_id, unnest(list_filter({_TOKS}, x -> x <> '')) AS w
          FROM documents
        ),
        c AS (SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY doc_id, w),
        a AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(CAST(c * ROUND(ln(CAST(c AS DOUBLE)), 6)
                               AS DECIMAL(18,6))) AS DOUBLE) AS s
          FROM c GROUP BY doc_id
        )
        SELECT doc_id, n AS n_tokens,
               ROUND(ln(CAST(n AS DOUBLE)) - s / n, 6) AS entropy
        FROM a
    """,
    "dup_matrix": rf"""
        WITH {_MINHASH_PAIRS_CTES},
        lab AS (
          SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b
          FROM pairs p
          JOIN documents da ON da.doc_id = p.id_a
          JOIN documents db ON db.doc_id = p.id_b
        )
        SELECT source_a, source_b, COUNT(*) AS n_pairs
        FROM lab GROUP BY source_a, source_b
    """,
    "knn_two_stage": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        es AS (SELECT vec_id, v[1:{TWO_STAGE_COARSE_DIMS}] AS v FROM e),
        ps AS (SELECT * FROM es WHERE vec_id < {KNN_PROBES}),
        coarse AS (
          SELECT query_id, cand_id FROM (
            SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
                   row_number() OVER (
                     PARTITION BY p.vec_id
                     ORDER BY {_COS.format(a='p.v', b='c.v')} DESC, c.vec_id ASC) AS crk
            FROM ps p JOIN es c ON c.vec_id <> p.vec_id
          ) WHERE crk <= {TWO_STAGE_POOL}
        ),
        rescored AS (
          SELECT s.query_id, s.cand_id,
                 {_COS.format(a='q.v', b='c.v')} AS sim
          FROM coarse s
          JOIN e q ON q.vec_id = s.query_id
          JOIN e c ON c.vec_id = s.cand_id
        )
        SELECT query_id, cand_id, sim, rk FROM (
          SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rk
          FROM rescored
        ) WHERE rk <= {KNN_K}
    """,
    "bm25_topk": _bm25_oracle(BM25_QUERY, BM25_K),
    "dsir_topk": (
        "WITH raw_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),\n"
        "target_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),\n"
        + _DSIR_ORACLE_BODY.format(
            seed=0, B=DSIR_BUCKETS, prec=6, hash_space=1 << 60, k=DSIR_K
        )
    ),
    "rrf_fuse": f"""
        WITH bm AS (
          {_bm25_oracle(BM25_QUERY, RRF_LIST_K)}
        ),
        bmr AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rk
          FROM bm
        ),
        pri AS (
          SELECT doc_id, rk FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rk
            FROM documents
          ) WHERE rk <= {RRF_LIST_K}
        ),
        allc AS (
          SELECT doc_id,
                 ROUND(CAST(1.0 AS DOUBLE) / CAST(60 + rk AS DOUBLE), 6) AS contrib
          FROM bmr
          UNION ALL
          SELECT doc_id,
                 ROUND(CAST(1.0 AS DOUBLE) / CAST(60 + rk AS DOUBLE), 6) AS contrib
          FROM pri
        )
        SELECT doc_id,
          CAST(ROUND(CAST(SUM(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE), 6) AS DOUBLE) AS score
        FROM allc GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT {RRF_K}
    """,
    "lake_skipping_read": f"""
        SELECT doc_id, text, lang, source, n_chars
        FROM documents
        WHERE doc_id BETWEEN {LAKE_READ_RANGE[0]} AND {LAKE_READ_RANGE[1]}
    """,
    "bpe_train": _bpe_oracle(BPE_MERGES),
    "paragraph_dedup": _paragraph_dedup_oracle(PARA_SEP),
    "shard_assignments": _shard_oracle(SHARD_N, SHARD_SEED),
    "dedup_span": SPAN_DEDUP_ORACLE_TPL.format(k=SPAN_DEDUP_K),
    "quality_gopher": gopher_oracle_sql(GOPHER_Q_MIN_WORDS, GOPHER_Q_MIN_STOPS),
    "bm25_batch": bm25_batch_oracle_sql(
        "queries AS (SELECT doc_id AS query_id, text AS qtext FROM documents "
        f"WHERE doc_id % {BM25_BATCH_MOD} = 0)",
        BM25_BATCH_K,
    ),
    "corpus_sketch_counts": """
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_distinct,
               TRUE AS est_within_10pct,
               TRUE AS has_sketch
        FROM documents GROUP BY source
    """,
    "url_canonical": f"""
        WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
            || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
            || 'Ex' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM/'
            || source || '/Doc' || CAST(doc_id AS VARCHAR)
            || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
            || (CASE WHEN doc_id % 3 = 0
                  THEN '?utm_source=bench&id=' || CAST(doc_id % 50 AS VARCHAR)
                       || '&utm_medium=cpc'
                  ELSE '' END)
            || (CASE WHEN doc_id % 5 = 0 THEN '#Sec1' ELSE '' END) AS url
          FROM documents
        ), {_URL_CANON_CORE}
        SELECT doc_id, url_canon, host FROM (
          SELECT doc_id, url_canon, host,
                 row_number() OVER (
                   PARTITION BY host
                   ORDER BY {_HASH64.format(expr=f"concat('{SAMPLE_SEED}|', CAST(doc_id AS VARCHAR))")} ASC,
                            doc_id ASC) AS rk
          FROM canon
        ) WHERE rk <= {URL_CAP_N}
    """,
    "lm_staged": LM_STAGED_ORACLE,
    "pii_scan": PII_SCAN_ORACLE,
    "html_strip": HTML_STRIP_ORACLE,
    "classifier_serve": classifier_oracle_sql(),
    "bm25_staged": BM25_STAGED_ORACLE,
    "classifier_hashed": HASHED_CLASSIFIER_ORACLE,
    "contamination_semantic": SEM_CONTAM_ORACLE,
    "dedup_hamming64": HAMMING64_ORACLE,
    "badwords_gate": BADWORDS_ORACLE,
    "rollup_staged": ROLLUP_STAGED_ORACLE,
    "corpus_overlap": CORPUS_OVERLAP_ORACLE,
    "funnel_steps": FUNNEL_ORACLE,
    "gapfill": GAPFILL_ORACLE,
    "anomaly_flags": ANOMALY_ORACLE,
    "dedup_edit": EDIT_DIST_ORACLE,
    "cms_freq": CMS_FREQ_ORACLE,
    "substring_search": SUBSTR_SEARCH_ORACLE,
    "session_pairs": SESSION_PAIRS_ORACLE,
    "event_transitions": EVENT_TRANSITIONS_ORACLE,
    "exact_quantiles": EXACT_QUANTILES_ORACLE,
    "bloom_gate": BLOOM_GATE_ORACLE,
    "group_quantiles": GROUP_QUANTILES_ORACLE,
    "salted_join": SALTED_JOIN_ORACLE,
    "gate_attribution": GATE_ATTRIBUTION_ORACLE,
    "bloom_gate_table": BLOOM_GATE_TABLE_ORACLE,
    "score_percentile": SCORE_PERCENTILE_ORACLE,
    "robust_zscore": ROBUST_ZSCORE_ORACLE,
    "group_buckets": GROUP_BUCKETS_ORACLE,
    "pareto_frontier": PARETO_FRONTIER_ORACLE,
    "weighted_quantiles": WEIGHTED_QUANTILES_ORACLE,
    "scd2_versions": SCD2_ORACLE,
    "asof_nearest": ASOF_NEAREST_ORACLE,
}

QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_incremental": q_dedup_incremental,
    "dedup_clusters": q_dedup_clusters,
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "knn_brute_force": q_knn_brute_force,
    "knn_lsh": q_knn_lsh,
    "knn_ivf": q_knn_ivf,
    "knn_ivf_kmeans": q_knn_ivf_kmeans,
    "sample_hash": q_sample_hash,
    "sample_mix": q_sample_mix,
    "split_contamination": q_split_contamination,
    "repetition_metrics": q_repetition_metrics,
    "text_normalize": q_text_normalize,
    "source_stats_pandas": q_source_stats_pandas,
    "udtf_bigrams": q_udtf_bigrams,
    "udaf_gmean": q_udaf_gmean,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "token_count": q_token_count,
    "tfidf": q_tfidf,
    "tfidf_cosine": q_tfidf_cosine,
    "doc_fingerprint": q_doc_fingerprint,
    "contamination_ngram": q_contamination_ngram,
    "pack_sequences": q_pack_sequences,
    "lm_score": q_lm_score,
    "doc_chunks": q_doc_chunks,
    "knn_quantized": q_knn_quantized,
    "dedup_semantic": q_dedup_semantic,
    "label_centroids": q_label_centroids,
    "sample_per_group": q_sample_per_group,
    "dedup_priority": q_dedup_priority,
    "chunk_dedup": q_chunk_dedup,
    "lm_score_bigram": q_lm_score_bigram,
    "corpus_delta": q_corpus_delta,
    "event_outliers": q_event_outliers,
    "pmi_topk": q_pmi_topk,
    "dq_check": q_dq_check,
    "sample_weighted": q_sample_weighted,
    "split_leakage_safe": q_split_leakage_safe,
    "budget_sample": q_budget_sample,
    "embedding_drift": q_embedding_drift,
    "user_retention": q_user_retention,
    "event_funnel": q_event_funnel,
    "boilerplate_strip": q_boilerplate_strip,
    "vocab_topk": q_vocab_topk,
    "quality_buckets": q_quality_buckets,
    "sample_temperature": q_sample_temperature,
    "winsorize": q_winsorize,
    "canary_scan": q_canary_scan,
    "source_kl": q_source_kl,
    "knn_two_stage": q_knn_two_stage,
    "rolling_avg": q_rolling_avg,
    "activity_islands": q_activity_islands,
    "token_entropy": q_token_entropy,
    "dup_matrix": q_dup_matrix,
    "bm25_topk": q_bm25_topk,
    "rrf_fuse": q_rrf_fuse,
    "dsir_topk": q_dsir_topk,
    "lake_skipping_read": q_lake_skipping_read,
    "bpe_train": q_bpe_train,
    "paragraph_dedup": q_paragraph_dedup,
    "shard_assignments": q_shard_assignments,
    "dedup_span": q_dedup_span,
    "quality_gopher": q_quality_gopher,
    "bm25_batch": q_bm25_batch,
    "corpus_sketch_counts": q_corpus_sketch_counts,
    "url_canonical": q_url_canonical,
    "lm_staged": q_lm_staged,
    "pii_scan": q_pii_scan,
    "html_strip": q_html_strip,
    "classifier_serve": q_classifier_serve,
    "bm25_staged": q_bm25_staged,
    "classifier_hashed": q_classifier_hashed,
    "contamination_semantic": q_contamination_semantic,
    "dedup_hamming64": q_hamming64,
    "badwords_gate": q_badwords,
    "rollup_staged": q_rollup_staged,
    "corpus_overlap": q_corpus_overlap,
    "funnel_steps": q_funnel,
    "gapfill": q_gapfill,
    "anomaly_flags": q_anomaly,
    "dedup_edit": q_dedup_edit,
    "cms_freq": q_cms_freq,
    "substring_search": q_substring_search,
    "session_pairs": q_session_pairs,
    "event_transitions": q_event_transitions,
    "exact_quantiles": q_exact_quantiles,
    "bloom_gate": q_bloom_gate,
    "group_quantiles": q_group_quantiles,
    "salted_join": q_salted_join,
    "gate_attribution": q_gate_attribution,
    "bloom_gate_table": q_bloom_gate_table,
    "score_percentile": q_score_percentile,
    "robust_zscore": q_robust_zscore,
    "group_buckets": q_group_buckets,
    "pareto_frontier": q_pareto_frontier,
    "weighted_quantiles": q_weighted_quantiles,
    "scd2_versions": q_scd2,
    "asof_nearest": q_asof_nearest,
}


# --------------------------------------------------------------------------
# Budgeted corpus repetition, growth accounting, deterministic
# training-order interleave.
# --------------------------------------------------------------------------

#: Global char budget for the epoch-upsampling recipe — sized so every
#: allocation path is exercised across the fixture scales: at sf0.001/
#: sf0.01 (~7.5k chars/source) each source gets ~2 full epochs plus a
#: ~68% fractional pass; at sf0.1 (~74k chars/source) ep = 0 and the
#: fractional pass degrades to a ~27% hash subsample (the documented
#: over-budget boundary).
UPSAMPLE_BUDGET_CHARS = 400_000
UPSAMPLE_MAX_EPOCHS = 4
UPSAMPLE_SEED = 7
INTERLEAVE_SEED = 3


def q_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained corpus repetition (operators/sampling.py:
    upsample_epochs; Muennighoff et al. 2023, arXiv:2305.16264): an
    equal char budget per source, min(4, bpg div tot) full epochs each,
    remainder filled by a deterministic md5-ppm fractional epoch — the
    materialized training-mixture manifest, one (doc, epoch) row each.
    All-integer allocation (ANSI-safe), zero corpus shuffles (a
    |sources|-row plan broadcasts back; the explode is map-side).

    Exact value parity against UPSAMPLE_EPOCHS_ORACLE pinned in
    tests/test_r12_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import upsample_epochs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return upsample_epochs(
        docs,
        "doc_id",
        "n_chars",
        "source",
        budget=UPSAMPLE_BUDGET_CHARS,
        max_epochs=UPSAMPLE_MAX_EPOCHS,
        seed=UPSAMPLE_SEED,
    ).select("doc_id", "source", "epoch")


#: Canonical q_upsample_epochs oracle: the identical integer allocation in
#: SQL — equal split, floor epochs, ppm fractional membership via the
#: portable md5 hash, LATERAL generate_series as the epoch explode
#: (generate_series(1, 0) is empty on both engines after the CASE guard).
UPSAMPLE_EPOCHS_ORACLE = f"""
    WITH tot AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tot
      FROM documents GROUP BY source
    ),
    ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS ng FROM tot),
    plan AS (
      SELECT source, tot, CAST({UPSAMPLE_BUDGET_CHARS} AS BIGINT) // ng AS bpg
      FROM tot, ng
    ),
    e1 AS (
      SELECT source, tot, bpg,
             CASE WHEN tot > 0
                  THEN LEAST(CAST({UPSAMPLE_MAX_EPOCHS} AS BIGINT), bpg // tot)
                  ELSE CAST(0 AS BIGINT) END AS ep
      FROM plan
    ),
    e2 AS (
      SELECT source, ep,
             -- HUGEINT widening mirrors the Spark side's DECIMAL(38,0)
             -- ride: the remainder×10⁶ overflows BIGINT past ~9.2e12
             CASE WHEN tot > 0 AND ep < {UPSAMPLE_MAX_EPOCHS}
                  THEN CAST((CAST(bpg - ep * tot AS HUGEINT) * 1000000) // tot
                       AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS fppm
      FROM e1
    ),
    sel AS (
      SELECT d.doc_id, d.source,
             e2.ep + CASE WHEN {_HASH64.format(expr=f"concat('{UPSAMPLE_SEED}|', CAST(d.doc_id AS VARCHAR))")} % 1000000
                          < e2.fppm THEN 1 ELSE 0 END AS nep
      FROM documents d JOIN e2 USING (source)
    )
    SELECT sel.doc_id, sel.source, CAST(e.epoch AS INT) AS epoch
    FROM sel, LATERAL (
      SELECT unnest(generate_series(1, sel.nep)) AS epoch
    ) e
"""


def q_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new + cumulative distinct users (operators/relational.py:
    daily_user_growth): cumulative distinct WITHOUT running-distinct
    state — a day's cumulative count is the count of users whose FIRST
    day is <= it, so the plan is two keyed aggregations plus a cumsum
    over the calendar-bounded |days| frame (the offsets-cumsum class).

    Exact value parity against USER_GROWTH_ORACLE pinned in
    tests/test_r12_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import daily_user_growth

    ev = load_table(spark, sf_dir, "events")
    return daily_user_growth(ev, "user_id", "ts")


#: Canonical q_user_growth oracle — distinct (user, day) activity,
#: first-seen day per user, per-day counts, running sum (HUGEINT-cast;
#: day serialized as VARCHAR, the driver type allowlist has no DATE).
USER_GROWTH_ORACLE = """
    WITH act AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
      FROM events WHERE ts IS NOT NULL
    ),
    na AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_active FROM act GROUP BY d),
    fs AS (SELECT u, MIN(d) AS d FROM act GROUP BY u),
    nn AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_new FROM fs GROUP BY d),
    dd AS (
      SELECT na.d, na.n_active,
             CAST(COALESCE(nn.n_new, 0) AS BIGINT) AS n_new
      FROM na LEFT JOIN nn ON na.d = nn.d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n_active, n_new,
           CAST(SUM(n_new) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM dd
"""


def q_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin training order (operators/sampling.py:
    interleave_groups): per-source md5-order position ``seq`` and the
    interleaved global ``pos`` over (seq, source) — the reproducible
    data-mixing order a multi-source run consumes. Both ranks ride
    global_sort_rank (the distributed sort-rank skeleton — range
    repartition + broadcast offsets, never a single-partition window);
    both sort keys are unique, so every rank is exact and tie-free.

    Exact value parity against INTERLEAVE_ORACLE pinned in
    tests/test_r12_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import interleave_groups

    docs = load_table(spark, sf_dir, "documents")
    return interleave_groups(docs, "doc_id", "source", seed=INTERLEAVE_SEED)


#: Canonical q_interleave_sources oracle — the same two-rank composition
#: as window functions (DuckDB runs single-node, so plain row_numbers are
#: the honest spec the distributed plan must reproduce).
INTERLEAVE_ORACLE = f"""
    WITH h AS (
      SELECT doc_id, source,
             {_HASH64.format(expr=f"concat('{INTERLEAVE_SEED}|', CAST(doc_id AS VARCHAR))")} AS hh
      FROM documents
    ),
    s AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY hh, doc_id
             ) AS BIGINT) AS seq
      FROM h
    )
    SELECT doc_id, source, seq,
           CAST(row_number() OVER (ORDER BY seq, source) AS BIGINT) AS pos
    FROM s
"""


QUERIES.update(
    {
        "upsample_epochs": q_upsample_epochs,
        "user_growth": q_user_growth,
        "interleave_sources": q_interleave_sources,
    }
)
ORACLES.update(
    {
        "upsample_epochs": UPSAMPLE_EPOCHS_ORACLE,
        "user_growth": USER_GROWTH_ORACLE,
        "interleave_sources": INTERLEAVE_ORACLE,
    }
)


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source power-of-two length histogram (report.py:
    log2_length_histogram): the corpus-card size-distribution report,
    bucketed EXACTLY in the integer domain (bit length via the base-2
    digit string — no float log2, no drift at exact powers of two).
    One map-combined aggregation; (|sources| x ~64)-row output.

    Exact value parity against LENGTH_HISTOGRAM_ORACLE pinned in
    tests/test_r12_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.report import log2_length_histogram

    docs = load_table(spark, sf_dir, "documents")
    return log2_length_histogram(docs, "source", "n_chars")


#: Canonical q_length_histogram oracle — length(bin(x)) is DuckDB's bit
#: length, matching Spark's length(conv(x, 10, 2)) exactly for positive
#: BIGINTs; <= 0 / NULL sizes land in bucket 0 on both engines.
LENGTH_HISTOGRAM_ORACLE = """
    SELECT source,
           CAST(CASE WHEN n_chars > 0
                     THEN length(bin(CAST(n_chars AS BIGINT)))
                     ELSE 0 END AS INT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_size,
           CAST(MAX(n_chars) AS BIGINT) AS max_size,
           CAST(SUM(n_chars) AS BIGINT) AS sum_size
    FROM documents
    GROUP BY source, log2_bucket
"""


def q_shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard balance audit (operators/sampling.py:
    shard_balance_audit): per shard_assignments shard (same md5 layout
    and constants as the gated `shard_assignments` query), the doc
    count, char mass, and mass-vs-mean-shard ratio in exact integer
    millionths — the hot-shard detector for the curation-to-training
    handoff. One map-combined aggregate + a broadcast 1-row total;
    |shards| output rows at any corpus size.

    Exact value parity against SHARD_SKEW_ORACLE pinned in
    tests/test_r12_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import shard_balance_audit

    docs = load_table(spark, sf_dir, "documents")
    return shard_balance_audit(docs, "doc_id", "n_chars", SHARD_N, SHARD_SEED)


#: Canonical q_shard_skew oracle — the shard_assignments hash layout
#: collapsed to per-shard masses, ratio as floor millionths (// == div
#: for these non-negative operands).
SHARD_SKEW_ORACLE = f"""
    WITH h AS (
      SELECT CAST(
               CAST('0x' || substr(md5('{SHARD_SEED}|shuffle|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % {SHARD_N} AS INT) AS shard,
             CAST(n_chars AS BIGINT) AS sz
      FROM documents
    ),
    per AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(sz) AS BIGINT) AS size_mass
      FROM h GROUP BY shard
    ),
    t AS (SELECT CAST(SUM(size_mass) AS BIGINT) AS tot,
                 CAST(COUNT(*) AS BIGINT) AS ns FROM per)
    SELECT shard, n_docs, size_mass,
           -- HUGEINT widening mirrors the Spark side's DECIMAL(38,0)
           -- ride: BIGINT size_mass·ns·10⁶ overflows past ~9.2e12 mass
           CAST(CASE WHEN tot > 0
                     THEN (CAST(size_mass AS HUGEINT) * ns * 1000000) // tot
                     ELSE 0 END AS BIGINT) AS skew_ppm
    FROM per, t
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score comparability (operators/relational.py:
    quantile_normalize): every document's char-length mapped to BOTH its
    within-source and whole-corpus percent-rank in exact integer
    millionths — the quantile-normalization pass before mixing
    heterogeneous quality scales. Global rank rides global_sort_rank;
    group rank is one source-keyed window.

    Exact value parity against QUANTILE_NORMALIZE_ORACLE pinned in
    tests/test_r12_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.relational import quantile_normalize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("value")
    )
    return quantile_normalize(docs, "doc_id", "value", "source")


#: Canonical q_quantile_normalize oracle — both ranks as consecutive-tie
#: row_numbers (id tie-break), ppm = (rk-1)*10^6 // (n-1) with the N=1
#: convention; // == div on these non-negative operands.
QUANTILE_NORMALIZE_ORACLE = """
    WITH b AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS value FROM documents
    ),
    g AS (
      SELECT doc_id, source, value,
             row_number() OVER (ORDER BY value, doc_id) AS rk,
             COUNT(*) OVER () AS n,
             row_number() OVER (PARTITION BY source ORDER BY value, doc_id) AS grk,
             COUNT(*) OVER (PARTITION BY source) AS gn
      FROM b
    )
    SELECT doc_id, source, value,
           CAST(CASE WHEN n <= 1 THEN 0
                     ELSE (CAST(rk - 1 AS HUGEINT) * 1000000) // (n - 1) END AS BIGINT)
             AS global_pct_ppm,
           CAST(CASE WHEN gn <= 1 THEN 0
                     ELSE (CAST(grk - 1 AS HUGEINT) * 1000000) // (gn - 1) END AS BIGINT)
             AS group_pct_ppm
    FROM g
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the gated IVF path against the gated brute-force
    exact path (operators/similarity.py: ann_recall_report) — the
    MEASURED side of the nprobe cost/recall knob, as a first-class
    query: per probe, exact/approx/overlap set sizes and recall in
    integer millionths. Composes the two already-gated KNN queries; the
    join is on (query, candidate) identity only — no float similarity
    ever compared.

    Exact value parity against ANN_RECALL_ORACLE (built VERBATIM from the
    registered knn_brute_force / knn_ivf oracle texts as CTEs — the three
    definitions cannot drift) pinned in tests/test_r12_candidates.py at two
    scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import ann_recall_report

    exact = q_knn_brute_force(spark, sf_dir)
    approx = q_knn_ivf(spark, sf_dir)
    return ann_recall_report(approx, exact, "query_id", "cand_id")


#: Canonical q_ann_recall oracle — the REGISTERED brute/IVF oracle texts
#: wrapped verbatim as CTE subqueries (nested WITH is legal DuckDB), so
#: the recall audit's ground truths are definitionally the gated queries.
ANN_RECALL_ORACLE = f"""
    WITH brute AS ({ORACLES["knn_brute_force"]}),
    approx AS ({ORACLES["knn_ivf"]}),
    ne AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
           FROM brute GROUP BY query_id),
    na AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_approx
           FROM approx GROUP BY query_id),
    j AS (SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_common
          FROM brute b JOIN approx a
            ON a.query_id = b.query_id AND a.cand_id = b.cand_id
          GROUP BY b.query_id)
    SELECT ne.query_id, ne.n_exact,
           CAST(COALESCE(na.n_approx, 0) AS BIGINT) AS n_approx,
           CAST(COALESCE(j.n_common, 0) AS BIGINT) AS n_common,
           CAST((COALESCE(j.n_common, 0) * CAST(1000000 AS BIGINT))
                // ne.n_exact AS BIGINT) AS recall_ppm
    FROM ne
    LEFT JOIN na ON na.query_id = ne.query_id
    LEFT JOIN j ON j.query_id = ne.query_id
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit over the BPE path (functions/bpe.py:
    bpe_train + bpe_apply; fertility = subword tokens per whitespace
    word — the tokenizer-quality metric of Ács 2019 / the BLOOM
    tokenizer evaluation, public): train the gated BPE_MERGES-merge
    vocabulary, tokenize the corpus with it, and report per source the
    doc/word/token totals plus ``fertility_ppm`` = tokens·10⁶ div words
    in exact integer arithmetic (DECIMAL(38,0)-ridden, so a 100 TB
    per-source token count cannot overflow the ×10⁶). A high-fertility
    source is one the tokenizer fragments — the audit a multilingual
    mixture runs before committing a tokenizer.

    Plan: one corpus aggregation for the merge training (the gated
    bpe_train plan), one Arrow-batched bpe_apply pass producing per-doc
    token counts, one broadcast-joinable per-doc word count, one
    map-combined per-source aggregate. The oracle replays training
    through the shared _bpe_chain_ctes unroll and derives each word's
    token count from the final vocab state (= rank-priority apply for
    training-corpus words; see _bpe_chain_ctes).

    Exact value parity against TOKENIZER_FERTILITY_ORACLE pinned in
    tests/test_r13_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.bpe import bpe_apply, bpe_train
    from chess_lakehouse_spark.functions.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=BPE_MERGES)
    toks = bpe_apply(docs, "doc_id", "text", merges).select(
        "doc_id", F.size("tokens").cast("long").alias("__nt")
    )
    words = docs.select(
        "doc_id",
        "source",
        F.size(F.filter(ws_tokens(F.col("text")), lambda t: t != ""))
        .cast("long")
        .alias("__nw"),
    )
    per_source = (
        words.join(toks, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nw").alias("n_words"),
            F.sum("__nt").alias("n_tokens"),
        )
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_words",
        "n_tokens",
        F.when(
            F.col("n_words") > 0,
            F.expr(
                "CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000)"
                " div n_words AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("fertility_ppm"),
    )


TOKENIZER_FERTILITY_ORACLE = (
    "WITH "
    + _bpe_chain_ctes(BPE_MERGES)
    + f""",
    wt AS MATERIALIZED (
      SELECT w, CAST(list_count(syms) AS BIGINT) AS nt
      FROM vocab{BPE_MERGES + 1}
    ),
    dw AS (
      SELECT doc_id, source,
             unnest(list_filter(
               string_split_regex(text, '[ \\t\\n\\r\\f\\x0B]+'),
               x -> x <> '')) AS w
      FROM documents
    ),
    dt AS (
      SELECT dw.doc_id, CAST(SUM(wt.nt) AS BIGINT) AS nt,
             CAST(COUNT(*) AS BIGINT) AS nw
      FROM dw JOIN wt USING (w) GROUP BY 1
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(dt.nw), 0) AS BIGINT) AS n_words,
           CAST(COALESCE(SUM(dt.nt), 0) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN COALESCE(SUM(dt.nw), 0) > 0
                THEN (CAST(SUM(dt.nt) AS HUGEINT) * 1000000) // SUM(dt.nw)
                ELSE 0 END AS BIGINT) AS fertility_ppm
    FROM documents d LEFT JOIN dt ON d.doc_id = dt.doc_id
    GROUP BY 1
"""
)


def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SemDeDup recipe as ONE query (Abbas et al. 2023,
    arXiv:2303.09540 — public method; operators/similarity.py:
    kmeans_fit + semantic_dedup): k-means-TRAINED clusters (k=8, 2
    iterations, seed 0 — the exact trainer q_knn_ivf_kmeans gates, so
    the oracle reuses its unrolled-iteration CTEs), cosine near-pairs
    via the trained list_id equi-join only, keep the min-id
    representative of every within-cluster duplicate group. Returns
    survivors (vec_id, list_id) — what `dedup_semantic` gates with the
    lowest-id surrogate layout, here with the embedding-space
    clustering real pretraining pipelines run.

    Recall vs the UNBLOCKED all-pairs form (measured,
    tests/test_r13_candidates.py): blocking can only split ε-balls that
    straddle a cluster boundary, so the blocked form keeps a strict
    SUPERSET of the unblocked survivors — duplicate-detection recall on
    the fixtures is 4/7 (sf0.001) and 5/14 (sf0.01). The fixture
    embeddings are near-uniform random (the worst case for clustering);
    real corpora cluster semantically, which is why the paper accepts
    the trade as the price of never comparing all pairs (the 100 TB
    contract — cluster populations are bounded by k ∝
    corpus/target_cluster_size, and a larger k RAISES recall by
    shrinking each ball's boundary surface relative to its volume).

    Exact value parity against DEDUP_SEMDEDUP_ORACLE pinned in
    tests/test_r13_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(
        emb, "vec_id", "embedding", k=KMEANS_K, iters=KMEANS_ITERS, seed=KMEANS_SEED
    )
    return semantic_dedup(
        emb, "vec_id", "embedding",
        threshold=SEMANTIC_THRESHOLD, centroids=cents,
    )


DEDUP_SEMDEDUP_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (
      SELECT CAST(rn - 1 AS INT) AS cid, v AS cv FROM (
        SELECT v, row_number() OVER (
          ORDER BY md5('{KMEANS_SEED}|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM e
      ) WHERE rn <= {KMEANS_K}
    ),
    {_kmeans_iter_ctes('c0', 1)},
    {_kmeans_iter_ctes('c1', 2)},
    assigned AS (
      SELECT e.vec_id, e.v, CAST(a.cid AS INT) AS list_id
      FROM e, LATERAL (
        SELECT c.cid FROM c2 c
        ORDER BY {_COS.format(a='e.v', b='c.cv')} DESC, c.cid ASC LIMIT 1
      ) a
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE {_COS.format(a='a.v', b='b.v')} >= {SEMANTIC_THRESHOLD}
    )
    SELECT vec_id, list_id FROM assigned
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


#: Attribution window for the stream-stream interval join candidate: a
#: click attributes to a signup of the SAME user within this many
#: seconds. 30 minutes over the ~10-minute fixture event spacing keeps
#: both matched and unmatched cases populated at every scale.
STREAM_JOIN_WINDOW_S = 1800

def _ssjoin_dir(sf_dir: str) -> str:
    """q_stream_interval_join's per-process feed root (the _scratch_dir
    convention: SPARK_GRAFT_TMPDIR-overridable, removed at exit)."""
    return _scratch_dir("ssjoin", sf_dir)


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, END TO END through Structured
    Streaming (the one streaming op class that had pytest-only evidence
    until now): the fixture events split into two file FEEDS — signups
    (impressions) and clicks — each consumed as a watermarked stream,
    inner-joined on user with the time-bound attribution condition
    ``cts BETWEEN its AND its + 30 minutes`` (watermarks bound BOTH
    sides' join state — the property that makes the operator runnable
    forever at 100 TB/day), drained with availableNow into a parquet
    sink, and the sink read back as the result. The oracle is the
    equivalent BATCH interval join — stream == batch is exactly the
    semantics Structured Streaming promises for an inner join with
    complete input, so the hash certifies the streaming plan itself.

    Determinism: the matched-pair SET is a pure function of the events
    table; timestamps are emitted as epoch micros per the suite
    contract. Feeds stage once per process (overwrite; removed at
    exit); the checkpoint is fresh per invocation, so every run drains
    the complete feeds in one availableNow pass.

    Exact value parity against STREAM_INTERVAL_JOIN_ORACLE pinned in
    tests/test_r13_candidates.py at two scales + cold-JVM."""
    import tempfile

    apply_runtime_conf(spark)
    events = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    root = _ssjoin_dir(sf_dir)
    imp_dir, clk_dir = f"{root}/imps", f"{root}/clicks"
    _feed_once(
        imp_dir,
        lambda: events.where(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("i_user"),
            F.col("event_id").alias("imp_id"),
            F.col("ts").alias("its"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(imp_dir),
    )
    _feed_once(
        clk_dir,
        lambda: events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(clk_dir),
    )

    imps = (
        spark.readStream.schema("i_user long, imp_id long, its timestamp")
        .parquet(imp_dir)
        .withWatermark("its", "1 hour")
    )
    clks = (
        spark.readStream.schema("c_user long, click_id long, cts timestamp")
        .parquet(clk_dir)
        .withWatermark("cts", "1 hour")
    )
    joined = imps.join(
        clks,
        F.expr(
            "i_user = c_user AND cts BETWEEN its AND"
            f" its + INTERVAL {STREAM_JOIN_WINDOW_S} SECONDS"
        ),
    ).select(
        F.col("i_user").alias("user_id"),
        "imp_id",
        "click_id",
        F.unix_micros("its").alias("its_us"),
        F.unix_micros("cts").alias("cts_us"),
    )
    run = tempfile.mkdtemp(prefix="run_", dir=root)
    out_dir, ckpt = f"{run}/out", f"{run}/ckpt"
    with _stream_drain_conf(spark):
        q = (
            joined.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.schema(
        "user_id long, imp_id long, click_id long, its_us long, cts_us long"
    ).parquet(out_dir)


STREAM_INTERVAL_JOIN_ORACLE = f"""
    SELECT a.user_id,
           a.event_id AS imp_id,
           b.event_id AS click_id,
           epoch_us(a.ts) AS its_us,
           epoch_us(b.ts) AS cts_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL {STREAM_JOIN_WINDOW_S} SECONDS
    WHERE a.event_type = 'signup' AND b.event_type = 'click'
      AND a.ts IS NOT NULL AND b.ts IS NOT NULL
"""


#: Misra-Gries summary size for the heavy-hitters audit: k = 50 keeps
#: the retained-term guarantee threshold at N/51 (~2% of token mass) —
#: ~30 guaranteed heavy hitters on the fixture corpus at every scale.
MG_K = 50


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters over the corpus token stream via a MERGEABLE
    Misra-Gries summary (Agarwal et al., "Mergeable Summaries", PODS
    2012 — public; operators/sketches.py: mg_sketch), through the
    driver-checkable projection (the approx_stats pattern): summary
    counter VALUES are partitioning/order-dependent, so the gated
    columns are (a) the EXACT count of every term the sketch guarantees
    to retain (true_cnt > N/(k+1)) and (b) guarantee BOOLEANS —
    ``in_sketch`` (the term survived the merged summary) and
    ``within_bound`` (est <= true and (true - est)·(k+1) <= N in exact
    DECIMAL(38,0) arithmetic) — that are deterministically TRUE unless
    the sketch path actually breaks. The oracle pins the exact counts
    and the TRUE literals.

    100 TB shape: the sketch side touches the corpus once, map-side,
    with O(k) state per task and a k·|partitions|-row merge; the exact
    side is the AUDIT cost (run on a sample in production). The raw
    summary's bounds are additionally property-pinned in
    tests/test_r14_candidates.py across partitioning layouts.

    Exact value parity against HEAVY_HITTERS_ORACLE pinned in
    tests/test_r14_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import ws_tokens
    from chess_lakehouse_spark.operators.sketches import heavy_hitters_audit

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.filter(ws_tokens(F.col("text")), lambda t: t != "")).alias(
            "term"
        )
    )
    return heavy_hitters_audit(toks, "term", MG_K)


HEAVY_HITTERS_ORACLE = rf"""
    WITH tk AS (
      SELECT unnest(list_filter({_TOKS}, x -> x <> '')) AS term
      FROM documents
    ),
    cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS true_cnt
            FROM tk GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tk)
    SELECT term, true_cnt,
           TRUE AS in_sketch, TRUE AS within_bound
    FROM cnt, tot
    WHERE CAST(true_cnt AS HUGEINT) * {MG_K + 1} > n
"""


def q_heavy_hitters_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STAGED heavy-hitters lifecycle end to end, as one query (the
    rollup_staged / lm_staged stage-inside-query convention): the corpus
    token stream splits into three ingest batches (doc_id % 3), each
    batch stages its deterministic exact Misra-Gries partial via
    write_mg_batch (batch_id partition + rename-aside swap — the
    replay-safe frontier layout), the summary is SERVED from the staged
    partials alone (mg_from_batches: |batches|·k rows in, zero corpus
    rows), and the serve is audited with the same checked projection the
    single-pass query gates — exact counts of every guaranteed-retained
    term plus guarantee booleans, with N taken from mg_state_total (the
    mass-carrier contract). The oracle is HEAVY_HITTERS_ORACLE VERBATIM:
    staging the sketch may never change the audit verdict — exactly the
    bloom_gate_table discipline (same truth, different serving layout).

    Exact value parity pinned in tests/test_r14_candidates.py at two scales
    + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import ws_tokens
    from chess_lakehouse_spark.operators.sketches import (
        mg_batch_partial,
        mg_from_batches,
        mg_state_total,
        write_mg_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    state = _sklake_dir(sf_dir).rsplit("/", 1)[0] + "/mgstate"

    def _toks(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.explode(F.filter(ws_tokens(F.col("text")), lambda t: t != "")).alias(
                "term"
            )
        )

    # stage the three ingest batches once per process (pure function of
    # sf_dir — the bm25_staged r15 watchlist discipline; each batch_id
    # partition replays value-identically anyway, re-invocation parity
    # pinned in tests/test_r14_candidates.py)
    def stage() -> None:
        for b in range(3):
            batch = docs.where(F.col("doc_id") % 3 == b)
            write_mg_batch(mg_batch_partial(_toks(batch), "term", MG_K), state, b)

    _feed_once(state, stage)

    served = mg_from_batches(spark, state, MG_K).withColumnRenamed("est", "__est")
    n_total = mg_state_total(spark, state)
    nn = _toks(docs)
    exact = nn.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    kp1 = F.lit(MG_K + 1).cast("decimal(38,0)")
    n_lit = F.lit(n_total).cast("decimal(38,0)")
    hh = exact.where(F.col("true_cnt").cast("decimal(38,0)") * kp1 > n_lit)
    return hh.join(served, "term", "left").select(
        "term",
        "true_cnt",
        F.col("__est").isNotNull().alias("in_sketch"),
        (
            F.col("__est").isNotNull()
            & (F.col("__est") <= F.col("true_cnt"))
            & (
                (F.col("true_cnt") - F.col("__est")).cast("decimal(38,0)") * kp1
                <= n_lit
            )
        ).alias("within_bound"),
    )


#: Ground-truth Jaccard floor for the LSH recall audit. 0 = every pair
#: with ANY shared shingle (J > 0), so the measured S-curve covers its
#: whole domain: the low buckets report candidate LEAKAGE on
#: non-duplicate pairs (wasted verification work), the high buckets the
#: recall on true near-dups — both sides of the band-geometry trade.
LSH_RECALL_FLOOR_PPM = 0


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured MinHash-LSH S-curve: recall of the gated dedup
    path's CANDIDATE GENERATION (word 3-shingles → 8 minhashes → 4
    bands of 2 → bucket join, the exact stack `dedup_minhash_lsh`
    runs, default bucket cap included) against GROUND TRUTH — every
    pair with exact shingle Jaccard > 0, from the lossless shingle
    inverted index (operators/dedup.py: exact_jaccard_pairs_ppm) — per
    100k-ppm similarity bucket. Candidate generation is the ONLY lossy
    step (verification is exact Jaccard), so this curve IS the
    band/row-geometry audit: the dedup twin of the gated ann_recall
    query. The high buckets certify recall on true near-dups; the low
    buckets measure candidate LEAKAGE on non-duplicates — the wasted
    verification work the band geometry admits. All-integer output:
    (bucket_lo_ppm, n_exact, n_found, recall_ppm).

    The exact side costs sum(|posting|²)/2 over shingle postings — the
    AUDIT cost, paid on a sample at 100 TB; the found side is the
    production candidate plan unchanged. The oracle reuses the
    REGISTERED minhash pair CTEs verbatim (its `cand` stage) for the
    found side, so the production path and its audit cannot drift.

    Exact value parity against LSH_RECALL_ORACLE pinned in
    tests/test_r14_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.dedup import (
        exact_jaccard_pairs_ppm,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from chess_lakehouse_spark.operators.dedup import lsh_recall_report

    docs = load_table(spark, sf_dir, "documents")
    # ONE shingle frame feeds all three consumers (exact-side counts,
    # exact-side inverted-index pair expansion, minhash signatures) —
    # before r16 the scan → tokenize → explode → distinct chain executed
    # three times because each consumer prunes it differently and
    # ReuseExchange cannot dedupe across the prunings (guide §2.4). The
    # cache is owned by the returned frame (FrameScope.own, the
    # ngram_jaccard discipline); values are unchanged — the same
    # deterministic shingle set enters the same expressions.
    with FrameScope() as scope:
        sh = scope.cache(word_shingles(docs, "doc_id", "text", k=3))
        exact = exact_jaccard_pairs_ppm(
            docs, "doc_id", "text", k=3, threshold_ppm=LSH_RECALL_FLOOR_PPM, shingles=sh
        )
        sig = minhash_signatures(sh, "doc_id", num_hashes=8)
        bands = lsh_bands(sig, "doc_id", num_hashes=8, band_size=2)
        cand = lsh_candidate_pairs(bands, "doc_id", max_bucket_size=LSH_MAX_BUCKET_SIZE)
        return scope.own(lsh_recall_report(exact, cand, bucket_ppm=100_000))


LSH_RECALL_ORACLE = f"""
    WITH {_MINHASH_PAIRS_CTES},
    xc AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON b.shingle = a.shingle AND b.doc_id > a.doc_id
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT x.id_a, x.id_b,
             CAST((CAST(x.n_common AS HUGEINT) * 1000000)
                  // (ca.n_sh + cb.n_sh - x.n_common) AS BIGINT) AS jppm
      FROM xc x
      JOIN counts ca ON ca.doc_id = x.id_a
      JOIN counts cb ON cb.doc_id = x.id_b
    ),
    exx AS (SELECT * FROM ex WHERE jppm >= {LSH_RECALL_FLOOR_PPM}),
    fnd AS (SELECT id_a, id_b, 1 AS hit FROM cand)
    SELECT (e.jppm // 100000) * 100000 AS bucket_lo_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COALESCE(SUM(f.hit), 0) AS BIGINT) AS n_found,
           CAST((CAST(COALESCE(SUM(f.hit), 0) AS HUGEINT) * 1000000)
                // COUNT(*) AS BIGINT) AS recall_ppm
    FROM exx e
    LEFT JOIN fnd f ON f.id_a = e.id_a AND f.id_b = e.id_b
    GROUP BY 1
"""


#: Inactivity gap for the streaming sessionization candidate — the same
#: 30 minutes the gated batch `sessionize` query uses, so the two
#: definitions of "session" cannot drift.
STREAM_SESSION_GAP_S = 1800

#: Sentinel user for the end-of-feed watermark flush. Fixture user_ids
#: are non-negative; the sentinel's own (never-emitted) session is
#: filtered from the sink read-back.
_SSESS_SENTINEL_USER = -1


def _ssess_dir(sf_dir: str) -> str:
    """q_stream_sessionize / q_stream_dedup_watermark's per-process feed
    root (the _scratch_dir convention: SPARK_GRAFT_TMPDIR-overridable,
    removed at exit)."""
    return _scratch_dir("ssess", sf_dir)


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window aggregation END TO END through Structured
    Streaming (``F.session_window`` — the one built-in streaming window
    class the gated surface didn't exercise yet): the fixture events
    feed a watermarked file stream, sessions close after a 30-minute
    inactivity gap, and per (user, session) the count plus the window
    bounds drain through an append-mode parquet sink (availableNow),
    then read back as the result. Watermark bounds the session state —
    the property that keeps per-user session state finite at 100
    TB/day. The oracle is the equivalent BATCH gaps-and-islands
    sessionization (stream == batch for complete input).

    Boundary semantics measured and pinned (tests): an event exactly
    ``gap`` after the previous one EXTENDS the session (Spark merges
    touching-inclusive session ranges), matching the gated batch
    `sessionize` query's ``diff > gap`` new-session rule; window end =
    last event + gap. Emission of the final sessions relies on the
    end-of-stream no-data batch after a far-future SENTINEL row
    (user -1, max ts + 365 days) advances the watermark past every real
    session; the sentinel's own session stays in (discarded) state and
    is additionally filtered from the read-back.

    Exact value parity against STREAM_SESSIONIZE_ORACLE pinned in
    tests/test_r14_candidates.py at two scales + cold-JVM."""
    import tempfile

    apply_runtime_conf(spark)
    events = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    root = _ssess_dir(sf_dir)
    feed = f"{root}/feed"
    sentinel = events.agg(F.max("ts").alias("__mx")).select(
        F.lit(_SSESS_SENTINEL_USER).cast("long").alias("user_id"),
        (F.col("__mx") + F.expr("INTERVAL 365 DAYS")).alias("ts"),
    )
    _feed_once(
        feed,
        lambda: events.select("user_id", "ts")
        .unionByName(sentinel)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(feed),
    )

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(feed)
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", f"{STREAM_SESSION_GAP_S} seconds").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            F.unix_micros("sw.end").alias("session_end_us"),
            "n_events",
        )
    )
    run = tempfile.mkdtemp(prefix="run_", dir=root)
    out_dir, ckpt = f"{run}/out", f"{run}/ckpt"
    with _stream_drain_conf(spark):
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.schema(
            "user_id long, session_start_us long, session_end_us long,"
            " n_events long"
        )
        .parquet(out_dir)
        .where(F.col("user_id") != F.lit(_SSESS_SENTINEL_USER))
    )


STREAM_SESSIONIZE_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us
      FROM events WHERE ts IS NOT NULL
    ),
    d AS (
      SELECT user_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w
                       > {STREAM_SESSION_GAP_S} * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    s AS (
      SELECT user_id, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + {STREAM_SESSION_GAP_S} * 1000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
"""


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion dedup via the BUILT-IN
    ``dropDuplicatesWithinWatermark`` operator, end to end (the one
    built-in streaming dedup class the gated surface didn't exercise —
    the custom loops in streaming/jobs.py implement the same contract by
    hand over staged state): the fixture events DOUBLED (union with
    itself — the at-least-once delivery shape every real ingest has)
    feed a watermarked file stream, duplicates collapse on the unique
    event_id with state bounded by the 1-hour watermark (the
    run-forever property), and the stream drains availableNow through
    an append parquet sink. No sentinel needed: the operator is a
    stateful FILTER, not an aggregation — first-seen rows emit
    immediately; watermark only EVICTS state. The oracle is the plain
    batch projection of the original events (stream == batch because
    every duplicate arrives inside the watermark window — here the same
    micro-batch — and duplicate copies are value-identical, so survivor
    choice cannot matter).

    Exact value parity against STREAM_DEDUP_WATERMARK_ORACLE pinned in
    tests/test_r14_candidates.py at two scales + cold-JVM."""
    import tempfile

    apply_runtime_conf(spark)
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "user_id", "ts", "event_type", "value")
    )
    root = _ssess_dir(sf_dir)
    feed = f"{root}/ddw_feed"
    _feed_once(
        feed,
        lambda: events.unionByName(events)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(feed),
    )

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string,"
            " value double"
        )
        .parquet(feed)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            "value",
        )
    )
    run = tempfile.mkdtemp(prefix="ddw_run_", dir=root)
    out_dir, ckpt = f"{run}/out", f"{run}/ckpt"
    with _stream_drain_conf(spark):
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.schema(
        "event_id long, user_id long, ts_us long, event_type string,"
        " value double"
    ).parquet(out_dir)


STREAM_DEDUP_WATERMARK_ORACLE = """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
    FROM events WHERE ts IS NOT NULL
"""


#: Weighted-reservoir constants: k docs per source, weighted by
#: n_chars (longer docs proportionally likelier), distinct seed so the
#: sample is uncorrelated with the other gated hash samples.
RESERVOIR_K = 5
RESERVOIR_SEED = 11


def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample per source (operators/sampling.py:
    weighted_reservoir_per_group — algorithm A-ES, Efraimidis & Spirakis
    2006, public): the k=5 docs per source with the largest
    deterministic key u^(1/w), u = md5-millionths, w = n_chars — exact
    weighted sampling without replacement as ONE keyed window shuffle,
    reproducible across runs/partitionings/engines. The rank key is the
    monotone ln(u)/w ROUNDed to 6 with the doc_id tie-break (the
    documented ROUND-of-a-transcendental accepted-risk class the gated
    lm_score already rides; ln parity is sweep-tested).

    Exact value parity against SAMPLE_RESERVOIR_ORACLE pinned in
    tests/test_r15_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sampling import (
        weighted_reservoir_per_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    return weighted_reservoir_per_group(
        docs, "doc_id", "source", "n_chars", RESERVOIR_K, seed=RESERVOIR_SEED
    )


SAMPLE_RESERVOIR_ORACLE = f"""
    WITH keyed AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
             ROUND(ln((({_HASH64.format(expr=f"concat('{RESERVOIR_SEED}|', CAST(doc_id AS VARCHAR))")}
                        % 1000000) + 1) / 1000000.0)
                   / n_chars, 6) AS r
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, source, weight, rk FROM (
      SELECT doc_id, source, weight,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY r DESC, doc_id ASC
             ) AS BIGINT) AS rk
      FROM keyed
    ) WHERE rk <= {RESERVOIR_K}
"""


#: Curriculum constants: three quality phases (top third first),
#: distinct interleave seed.
CURRICULUM_PHASES = 3
CURRICULUM_SEED = 5


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curriculum ordering (operators/sampling.py:
    curriculum_order): the quality-descending training order a
    curriculum run consumes — exact descending-quality terciles of the
    gated composite quality score (the quality_buckets formula), sources
    round-robin-interleaved within each phase in deterministic md5
    order, and an EXACT global cumulative token count via the
    distributed prefix-sum skeleton (operators/relational.py:
    global_prefix_sum — range partition + per-partition running window +
    broadcast offsets, never a single-partition global window), so a
    trainer cuts the best-first prefix at any token budget.

    Exact value parity against CURRICULUM_ORDER_ORACLE pinned in
    tests/test_r15_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.functions.text import quality_score, ws_tokens
    from chess_lakehouse_spark.operators.sampling import curriculum_order

    docs = load_table(spark, sf_dir, "documents")
    slim = docs.select(
        "doc_id",
        "source",
        quality_score(F.col("text")).alias("q"),
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    return curriculum_order(
        slim, "doc_id", "source", "q", "n_toks",
        CURRICULUM_PHASES, seed=CURRICULUM_SEED,
    )


CURRICULUM_ORDER_ORACLE = rf"""
    WITH t AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, source,
             CAST(length(text) AS INT) AS n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_reduce(list_transform(toks, x -> len(x)), (a, b) -> a + b) AS DOUBLE)
               / len(toks) AS avg_len,
             CAST(len(list_filter(toks, x -> x IN ({_STOP['en']}))) AS DOUBLE)
               / len(toks) AS stop_ratio
      FROM t
    ),
    scored AS (
      SELECT doc_id, source, n_tokens,
             ROUND(0.4 * ln(1.0 + CAST(n_chars AS DOUBLE))
                   + 0.3 * stop_ratio
                   + 0.3 * least(avg_len / 10.0, 1.0), 6) AS q
      FROM m
    ),
    ph AS (
      SELECT doc_id, source, n_tokens,
             CAST({CURRICULUM_PHASES} + 1 - ntile({CURRICULUM_PHASES}) OVER (
               ORDER BY q ASC, doc_id ASC) AS INT) AS phase
      FROM scored WHERE q IS NOT NULL
    ),
    sq AS (
      SELECT doc_id, source, n_tokens, phase,
             CAST(row_number() OVER (
               PARTITION BY phase, source
               ORDER BY {_HASH64.format(expr=f"concat('{CURRICULUM_SEED}|', CAST(doc_id AS VARCHAR))")} ASC,
                        doc_id ASC
             ) AS BIGINT) AS seq
      FROM ph
    )
    SELECT doc_id, source, phase, seq, n_tokens,
           CAST(row_number() OVER (ORDER BY phase, seq, source) AS BIGINT) AS pos,
           CAST(SUM(n_tokens) OVER (
             ORDER BY phase, seq, source ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_tokens
    FROM sq
"""


def q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-rollup STREAMING twin, gated end to end (the last
    streaming loop with pytest-only evidence — the gap class the r12
    stream trio closed for the built-in operators): build the hourly
    continuous aggregate over the historical slice
    (event_id % {ROLLUP_DELTA_MOD} != 0, the registered rollup_staged
    split), then the delta arrives as a watermark-free file STREAM in
    two micro-batches (maxFilesPerTrigger=1 over a two-file feed) that
    streaming/jobs.py: stream_rollup folds — each batch its own
    agg/batch_id= partition, structurally replay-idempotent — and serve
    with ZERO raw-table access. The oracle is ROLLUP_STAGED_ORACLE
    VERBATIM (the bloom_gate_table discipline: an ingestion path may
    never change the served truth — batch fold and stream fold must be
    indistinguishable at serve time).

    Exact value parity pinned in tests/test_r15_candidates.py at two scales
    + cold-JVM."""
    import tempfile

    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.rollup import (
        build_rollup,
        serve_rollup,
        time_bucket,
    )
    from chess_lakehouse_spark.streaming.jobs import stream_rollup

    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_epoch", time_bucket(F.col("ts"), 3600)
    )
    root = _scratch_dir("sroll", sf_dir)
    run = tempfile.mkdtemp(prefix="run_", dir=root)
    rdir, ckpt = f"{run}/rollup", f"{run}/ckpt"
    feed = f"{root}/feed"
    build_rollup(
        ev.where(F.col("event_id") % ROLLUP_DELTA_MOD != 0),
        ["hour_epoch", "event_type"],
        [
            ("n", "count", None),
            ("n_value", "countnn", "value"),
            ("sum_value", "sum6", "value"),
            ("min_value", "min", "value"),
            ("max_value", "max", "value"),
        ],
        rdir,
    )
    _feed_once(
        feed,
        lambda: ev.where(F.col("event_id") % ROLLUP_DELTA_MOD == 0)
        .select("hour_epoch", "event_type", "value")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(feed),
    )
    stream = (
        spark.readStream.schema("hour_epoch long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    with _stream_drain_conf(spark):
        stream_rollup(stream, rdir, ckpt)
    return serve_rollup(spark, rdir, avg6=[("avg_value", "sum_value", "n_value")])


def q_qc_card_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-command QC card's integer-valued signal COMPOSITION as a
    single tall gated frame (report.py: qc_card_signals_tall, built from
    the same qc_signal_frames the qc_report_bundle/CLI stage renders —
    one definition, the bm25 shared-template discipline): source
    summary (+ the sorted langs string), ordered gate attribution over
    the registered len/lang/stop battery, the power-of-two length
    histogram, the training-shard balance audit, and the exact top-50
    tokens — |sources|+|gates|+|cells|+|shards|+50 rows, each signal one
    corpus scan. The double-valued source_kl and the pair-matrix
    corpus_overlap stay in their own gated queries (stated split, not a
    silent drop).

    Exact value parity against QC_CARD_SIGNALS_ORACLE (built from the
    REGISTERED gate_attribution / length_histogram / shard_skew / vocab_topk
    oracle texts as CTEs — the definitions cannot drift) pinned in
    tests/test_r15_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.report import qc_card_signals_tall

    docs = load_table(spark, sf_dir, "documents")
    gates = {
        "len": F.col("n_chars") >= GATE_ATTR_MIN_CHARS,
        "lang": F.col("lang") == "en",
        "stop": F.col("text").contains(" the "),
    }
    return qc_card_signals_tall(
        docs, n_shards=SHARD_N, gates=gates, top_k=50
    )


#: Product-quantization constants: 2 slices x 8 codes, one
#: unrolled k-means iteration (the oracle unrolls each slice's chain).
PQ_M = 2
PQ_K = 8
PQ_ITERS = 1
PQ_SEED = 0


def q_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN serve, end to end (operators/similarity.py:
    pq_train / pq_encode / pq_adc_topk — Jégou, Douze, Schmid TPAMI 2011,
    public; spherical variant riding the gated kmeans_fit trainer): train
    one codebook per vector slice (shared seeded init ids), encode the
    corpus as m codes per vector (map-side argmax over the codebook
    literals, zero shuffle), then ADC top-k — RAW probe vectors scored
    against the RECONSTRUCTION (sum of per-slice query·centroid dots,
    ROUND 6, cand-id tie-break), never the raw corpus vector: the serve
    reads m small codes per doc, which is PQ's memory story at 100 TB
    (compose with the IVF partition-pruned index + exact re-rank in
    production). Probes are the same vec_id < {probes} rows the knn
    family uses; self-pairs excluded.

    Exact value parity against KNN_PQ_ADC_ORACLE (each slice's k-means chain
    unrolled on the sliced vectors — the knn_ivf_kmeans oracle discipline)
    pinned in tests/test_r15_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import (
        pq_adc_topk,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train(
        emb, "vec_id", "embedding", m=PQ_M, k=PQ_K, iters=PQ_ITERS, seed=PQ_SEED
    )
    probes = emb.where(F.col("vec_id") < KNN_PROBES)
    return pq_adc_topk(
        emb, probes, "vec_id", "embedding", books, n=KNN_K
    ).select("query_id", "cand_id", "sim", "rk")


q_knn_pq_adc.__doc__ = q_knn_pq_adc.__doc__.format(probes=KNN_PROBES)


def _pq_sub_ctes(sub: int, lo: int, hi: int) -> str:
    """One PQ slice's unrolled chain (cites _kmeans_iter_ctes — the same
    assignment/update arithmetic on the sliced vectors): es{sub} slice,
    c0_{sub} init from the shared ``ids`` draw, one iteration to
    c1_{sub}, enc_{sub} argmax codes."""
    cos0 = _COS.format(a="s.v", b="c.cv")
    return f"""es{sub} AS (
      SELECT vec_id, v[{lo}:{hi}] AS v FROM e
    ),
    c0_{sub} AS (
      SELECT i.cid, s.v AS cv FROM ids i JOIN es{sub} s USING (vec_id)
    ),
    a1_{sub} AS (
      SELECT s.vec_id, s.v, l.cid AS code
      FROM es{sub} s, LATERAL (
        SELECT c.cid FROM c0_{sub} c
        ORDER BY {cos0} DESC, c.cid ASC LIMIT 1
      ) l
    ),
    m1_{sub} AS (
      SELECT code AS cid, pos,
             ROUND(CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS mval
      FROM (SELECT code, generate_subscripts(v, 1) AS pos, unnest(v) AS val
            FROM a1_{sub})
      GROUP BY 1, 2
    ),
    c1_{sub} AS (
      SELECT i.cid, COALESCE(mm.cv, i.cv) AS cv
      FROM c0_{sub} i LEFT JOIN
        (SELECT cid, list(mval ORDER BY pos) AS cv FROM m1_{sub} GROUP BY cid)
        mm USING (cid)
    ),
    enc_{sub} AS (
      SELECT s.vec_id, l.cid AS code
      FROM es{sub} s, LATERAL (
        SELECT c.cid FROM c1_{sub} c
        ORDER BY {cos0} DESC, c.cid ASC LIMIT 1
      ) l
    )"""


def _pq_oracle_sql() -> str:
    dim = 64
    d = dim // PQ_M
    slices = ",\n    ".join(
        _pq_sub_ctes(s, s * d + 1, (s + 1) * d) for s in range(PQ_M)
    )
    enc_joins = "\n      ".join(
        f"JOIN enc_{s} t{s} ON t{s}.vec_id = t0.vec_id" for s in range(1, PQ_M)
    )
    cb_joins = "\n      ".join(
        f"JOIN c1_{s} cs{s} ON cs{s}.cid = t{s}.code" for s in range(PQ_M)
    )
    sim_terms = " + ".join(
        f"list_dot_product(q.qv[{s * d + 1}:{(s + 1) * d}], cs{s}.cv)"
        for s in range(PQ_M)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ids AS (
      SELECT vec_id, CAST(rn - 1 AS INT) AS cid FROM (
        SELECT vec_id, row_number() OVER (
          ORDER BY md5('{PQ_SEED}|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM e
      ) WHERE rn <= {PQ_K}
    ),
    {slices},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {KNN_PROBES}),
    s AS (
      SELECT q.query_id, t0.vec_id AS cand_id,
             ROUND({sim_terms}, 6) AS sim
      FROM q
      JOIN enc_0 t0 ON t0.vec_id <> q.query_id
      {enc_joins}
      {cb_joins}
    )
    SELECT query_id, cand_id, sim, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rk
      FROM s
    ) WHERE rk <= {KNN_K}
"""


KNN_PQ_ADC_ORACLE = _pq_oracle_sql()


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the staged PQ-ADC path against the gated
    brute-force exact path (operators/similarity.py: ann_recall_report
    — the ann_recall discipline applied to the quantized serve): per
    probe, exact/approx/overlap set sizes and recall in integer
    millionths. This is the number that prices PQ's memory compression
    (m codes per vector) in recall — the audit a production IVF-PQ
    deployment runs per (m, k) choice. Composes q_knn_pq_adc and the
    registered q_knn_brute_force; the join is on (query, candidate)
    identity only, no float similarity ever compared. Expect LOW
    fixture recall (measured 0-200000 ppm at sf0.01): the synthetic
    near-uniform random embeddings are PQ's worst case — 8 codes per
    32-dim slice carry little signal without cluster structure — which
    is exactly what the audit exists to surface; real embedding
    corpora cluster and the same audit prices (m, k) against them.

    Exact value parity against PQ_RECALL_ORACLE (built VERBATIM from
    KNN_PQ_ADC_ORACLE and the registered knn_brute_force oracle text as CTEs
    — the three definitions cannot drift) pinned in
    tests/test_r15_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import ann_recall_report

    exact = q_knn_brute_force(spark, sf_dir)
    approx = q_knn_pq_adc(spark, sf_dir)
    return ann_recall_report(approx, exact, "query_id", "cand_id")


#: Canonical q_pq_recall oracle — KNN_PQ_ADC_ORACLE and the REGISTERED
#: brute-force oracle text wrapped verbatim as CTE subqueries (the
#: ann_recall discipline), so the audit's ground truths are
#: definitionally the gated/staged queries.
PQ_RECALL_ORACLE = f"""
    WITH brute AS ({ORACLES["knn_brute_force"]}),
    approx AS ({KNN_PQ_ADC_ORACLE}),
    ne AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
           FROM brute GROUP BY query_id),
    na AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_approx
           FROM approx GROUP BY query_id),
    j AS (SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_common
          FROM brute b JOIN approx a
            ON a.query_id = b.query_id AND a.cand_id = b.cand_id
          GROUP BY b.query_id)
    SELECT ne.query_id, ne.n_exact,
           CAST(COALESCE(na.n_approx, 0) AS BIGINT) AS n_approx,
           CAST(COALESCE(j.n_common, 0) AS BIGINT) AS n_common,
           CAST((COALESCE(j.n_common, 0) * CAST(1000000 AS BIGINT))
                // ne.n_exact AS BIGINT) AS recall_ppm
    FROM ne
    LEFT JOIN na ON na.query_id = ne.query_id
    LEFT JOIN j ON j.query_id = ne.query_id
"""


#: Record-linkage constants: bucket cap per blocking pass, and
#: the name-similarity floor for the emitted comparison vectors (ppm).
LINKAGE_MAX_BUCKET = 10_000
LINKAGE_NAME_PPM = 700_000


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage comparison vectors over the customer dimension
    (operators/linkage.py — the Fellegi-Sunter pipeline, blocking +
    per-field comparison, never all-pairs): candidate pairs from TWO
    independent blocking passes OR-unioned (same (segment, nation,
    1000-unit balance band); same 3-char name suffix — the banded-LSH
    recall-amplification pattern on record keys), each pass bucket-capped;
    then the exact per-field vector — character-trigram name Jaccard in
    integer ppm, segment/nation equality booleans, absolute balance
    difference in exact integer cents — filtered to name similarity >=
    {ppm} ppm. The TPC-H-ish customer names carry genuine near-dup
    structure (Customer#000000111 vs #000001111 are trigram-identical),
    so the output exercises the full similarity range at every scale.

    Exact value parity against RECORD_LINKAGE_ORACLE pinned in
    tests/test_r15_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.linkage import (
        blocking_pairs,
        pair_field_jaccard_ppm,
    )

    cust = load_table(spark, sf_dir, "customer")
    blocks = {
        "seg_nation_bal": [
            F.col("c_mktsegment"),
            F.col("c_nationkey"),
            # band the EXACT integer cents (the bal_diff_cents pillar),
            # never CAST(double AS INT): DuckDB rounds that cast
            # (half-even), Spark truncates, and the divergent balk keys
            # produced a real sf0.1 row-set mismatch (r14 find) —
            # integer div after half-away ROUND is portable
            F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 100000"),
        ],
        "name_suffix": [F.substring("c_name", -3, 3)],
    }
    pairs = blocking_pairs(
        cust, "c_custkey", blocks, max_bucket_size=LINKAGE_MAX_BUCKET
    )
    scored = pair_field_jaccard_ppm(
        pairs, cust, "c_custkey", "c_name", q=3, out_col="name_jac_ppm"
    )
    attrs = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("__bal_c"),
    )
    a = attrs.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_mktsegment").alias("__seg_a"),
        F.col("c_nationkey").alias("__nat_a"),
        F.col("__bal_c").alias("__bal_a"),
    )
    b = attrs.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_mktsegment").alias("__seg_b"),
        F.col("c_nationkey").alias("__nat_b"),
        F.col("__bal_c").alias("__bal_b"),
    )
    return (
        scored.where(F.col("name_jac_ppm") >= LINKAGE_NAME_PPM)
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "name_jac_ppm",
            (F.col("__seg_a") == F.col("__seg_b")).alias("seg_match"),
            (F.col("__nat_a") == F.col("__nat_b")).alias("nation_match"),
            F.abs(F.col("__bal_a") - F.col("__bal_b")).alias("bal_diff_cents"),
        )
    )


q_record_linkage.__doc__ = q_record_linkage.__doc__.format(ppm=LINKAGE_NAME_PPM)


#: The linkage oracle mirrors both blocking passes as capped self-joins
#: (the okb-guard pattern the LSH oracles use: a bucket over the cap
#: contributes no pairs), the trigram Jaccard via the unnested distinct
#: gram sets, and the same integer-cents balance arithmetic.
RECORD_LINKAGE_ORACLE = f"""
    WITH recs AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS balk,
             substr(c_name, length(c_name) - 2, 3) AS sfx
      FROM customer
    ),
    k1 AS (
      SELECT c_mktsegment, c_nationkey, balk
      FROM recs
      WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL
            AND balk IS NOT NULL
      GROUP BY 1, 2, 3
      HAVING COUNT(DISTINCT c_custkey) <= {LINKAGE_MAX_BUCKET}
    ),
    p1 AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM recs a
      JOIN k1 USING (c_mktsegment, c_nationkey, balk)
      JOIN recs b
        ON a.c_mktsegment = b.c_mktsegment
       AND a.c_nationkey = b.c_nationkey
       AND a.balk = b.balk
       AND a.c_custkey < b.c_custkey
    ),
    k2 AS (
      SELECT sfx FROM recs WHERE sfx IS NOT NULL
      GROUP BY 1 HAVING COUNT(DISTINCT c_custkey) <= {LINKAGE_MAX_BUCKET}
    ),
    p2 AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM recs a JOIN k2 USING (sfx)
      JOIN recs b ON a.sfx = b.sfx AND a.c_custkey < b.c_custkey
    ),
    cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT * FROM p1 UNION ALL SELECT * FROM p2
      )
    ),
    glists AS (
      -- one DISTINCT trigram LIST per record: the intersection is then a
      -- per-PAIR list op, never a gram-level join — a shared gram like
      -- '000' sits in nearly every customer name, so joining gram rows
      -- (the first oracle form) exploded toward |corpus|^2 at sf0.1
      SELECT c_custkey AS id,
             CASE WHEN length(c_name) >= 3
                  THEN list_distinct(list_transform(
                         range(1, length(c_name) - 1),
                         i -> substr(c_name, CAST(i AS INT), 3)))
                  ELSE [] END AS gl
      FROM recs
    ),
    vec AS (
      SELECT c.id_a, c.id_b,
             CASE WHEN len(ga.gl) + len(gb.gl)
                       - len(list_intersect(ga.gl, gb.gl)) > 0
                  THEN CAST((CAST(len(list_intersect(ga.gl, gb.gl))
                                  AS HUGEINT) * 1000000)
                       // (len(ga.gl) + len(gb.gl)
                           - len(list_intersect(ga.gl, gb.gl))) AS BIGINT)
             END AS name_jac_ppm
      FROM cand c
      JOIN glists ga ON ga.id = c.id_a
      JOIN glists gb ON gb.id = c.id_b
    )
    SELECT v.id_a, v.id_b, v.name_jac_ppm,
           a.c_mktsegment = b.c_mktsegment AS seg_match,
           a.c_nationkey = b.c_nationkey AS nation_match,
           abs(a.bal_c - b.bal_c) AS bal_diff_cents
    FROM vec v
    JOIN recs a ON a.c_custkey = v.id_a
    JOIN recs b ON b.c_custkey = v.id_b
    WHERE v.name_jac_ppm >= {LINKAGE_NAME_PPM}
"""


#: The tall QC-card oracle composes the REGISTERED signal oracles
#: verbatim as CTEs (nested-WITH subqueries — DuckDB allows a CTE body
#: to open its own WITH), so the card's per-signal truth can never
#: drift from the individually gated queries. Only source_summary is
#: new SQL (a plain per-source aggregate; langs via ordered
#: string_agg == Spark's concat_ws-of-sorted-set).
QC_CARD_SIGNALS_ORACLE = f"""
    WITH ga AS ({GATE_ATTRIBUTION_ORACLE}),
    lh AS ({LENGTH_HISTOGRAM_ORACLE}),
    sb AS ({SHARD_SKEW_ORACLE}),
    tt AS ({ORACLES["vocab_topk"]}),
    ss AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             COALESCE(string_agg(DISTINCT lang, ' ' ORDER BY lang), '') AS langs
      FROM documents GROUP BY source
    )
    SELECT 'source_summary' AS signal, source AS k1, '' AS k2,
           'n_docs' AS metric, n_docs AS value,
           CAST(NULL AS VARCHAR) AS value_str FROM ss
    UNION ALL SELECT 'source_summary', source, '', 'n_chars', n_chars, NULL FROM ss
    UNION ALL SELECT 'source_summary', source, '', 'langs',
                     CAST(NULL AS BIGINT), langs FROM ss
    UNION ALL SELECT 'gate_attribution', gate, '', 'n_fail', n_fail, NULL FROM ga
    UNION ALL SELECT 'gate_attribution', gate, '', 'n_first_fail', n_first_fail, NULL FROM ga
    UNION ALL SELECT 'gate_attribution', gate, '', 'n_only_fail', n_only_fail, NULL FROM ga
    UNION ALL SELECT 'gate_attribution', gate, '', 'n_pass_all', n_pass_all, NULL FROM ga
    UNION ALL SELECT 'length_histogram', source, CAST(log2_bucket AS VARCHAR),
                     'n_docs', n_docs, NULL FROM lh
    UNION ALL SELECT 'length_histogram', source, CAST(log2_bucket AS VARCHAR),
                     'min_size', min_size, NULL FROM lh
    UNION ALL SELECT 'length_histogram', source, CAST(log2_bucket AS VARCHAR),
                     'max_size', max_size, NULL FROM lh
    UNION ALL SELECT 'length_histogram', source, CAST(log2_bucket AS VARCHAR),
                     'sum_size', sum_size, NULL FROM lh
    UNION ALL SELECT 'shard_balance', CAST(shard AS VARCHAR), '', 'n_docs', n_docs, NULL FROM sb
    UNION ALL SELECT 'shard_balance', CAST(shard AS VARCHAR), '', 'size_mass', size_mass, NULL FROM sb
    UNION ALL SELECT 'shard_balance', CAST(shard AS VARCHAR), '', 'skew_ppm', skew_ppm, NULL FROM sb
    UNION ALL SELECT 'top_tokens', token, '', 'n_total', CAST(n_total AS BIGINT), NULL FROM tt
    UNION ALL SELECT 'top_tokens', token, '', 'n_docs', CAST(n_docs AS BIGINT), NULL FROM tt
    UNION ALL SELECT 'top_tokens', token, '', 'rk', CAST(rk AS BIGINT), NULL FROM tt
"""



#: Rank-sketch constants: per-group retained-sample target k
#: (16 puts the sampling level above 0 at BOTH parity scales — 25
#: docs/source at sf0.01 -> lvl 1, 250 at sf0.1 -> lvl 4, so the gate
#: exercises real subsampling, not the degenerate keep-everything
#: sketch), the deterministic coin seed, and the served quantile probes.
RSK_K = 16
RSK_SEED = 0
RSK_PROBES_PPM = [250_000, 500_000, 750_000, 900_000]


def q_rank_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable rank/quantile sketch, built + served + audited
    (operators/sketches.py: rank_sketch_build/quantiles — the
    random-sampling quantile summary of Agarwal et al., "Mergeable
    Summaries", PODS 2012, the quantile complement of the gated MG/CMS
    sketch family; KLL FOCS'16 is the compactor-hierarchy refinement of
    the same family): per source, retain the ~k docs whose md5-geometric
    level clears the group's sampling level, then serve quantile
    estimates at {probes} ppm as exact index cuts into the retained
    sample. The audit columns measure the sketch's true rank error
    exactly — per (source, probe): the estimate's exact rank in the
    FULL group, the target rank ceil(q*n), and |exact - target| in ppm
    of n — the number that prices k against accuracy, the
    heavy_hitters/ann_recall audit discipline. Deterministic md5 coins
    make the retained set engine-reproducible (the CMS discipline), so
    every served value is oracle-gated; merge == rebuild is EXACT
    (nested levels) and pinned in tests. 100 TB shape: one map-side
    level computation + one |groups|-row broadcast meta join + one
    window over the ~k-per-group retained state; the audit join
    broadcasts |groups|*|probes| rows against one corpus scan.

    Exact value parity against RANK_SKETCH_ORACLE pinned in
    tests/test_r16_candidates.py at two scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sketches import (
        rank_sketch_build,
        rank_sketch_quantiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    state = rank_sketch_build(
        docs, "doc_id", "n_chars", k=RSK_K, by=["source"], seed=RSK_SEED
    )
    return _rank_sketch_audit(docs, state)


q_rank_sketch.__doc__ = q_rank_sketch.__doc__.format(probes=RSK_PROBES_PPM)


#: Canonical q_rank_sketch oracle: the md5-geometric level, the integer
#: sampling-level formula, the retained-sample index cut and the exact
#: rank audit all recomputed in DuckDB (portable-hash pillar:
#: CAST('0x'||substr(md5,1,15) AS BIGINT) == Spark conv(...,16,10);
#: bit-length via length(bin(x)) == Spark length(conv(x,10,2))).
RANK_SKETCH_ORACLE = f"""
    WITH d AS (
      SELECT source, doc_id, n_chars,
             CAST('0x' || substr(md5('{RSK_SEED}|rsk|' ||
                  CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM documents WHERE n_chars IS NOT NULL
    ),
    lv AS (
      SELECT source, doc_id, n_chars,
             CASE WHEN (h % 1099511627776) = 0 THEN 40
                  ELSE length(bin((h % 1099511627776)
                                  & -(h % 1099511627776))) - 1 END AS level
      FROM d
    ),
    meta AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
             CASE WHEN (COUNT(*) + {RSK_K - 1}) // {RSK_K} <= 1 THEN 0
                  ELSE length(bin((COUNT(*) + {RSK_K - 1}) // {RSK_K} - 1))
             END AS lvl
      FROM lv GROUP BY source
    ),
    ret AS (
      SELECT lv.source, lv.doc_id, lv.n_chars, m.n_total, m.lvl
      FROM lv JOIN meta m ON lv.source IS NOT DISTINCT FROM m.source
      WHERE lv.level >= m.lvl
    ),
    r AS (
      SELECT source, doc_id, n_chars, n_total, lvl,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars ASC, doc_id ASC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_ret
      FROM ret
    ),
    est AS (
      SELECT r.source, p.q_ppm, r.n_chars AS est_value, r.n_total,
             r.n_ret AS n_retained, r.lvl
      FROM r CROSS JOIN (
        SELECT CAST(unnest([{", ".join(str(q) for q in RSK_PROBES_PPM)}])
                    AS BIGINT) AS q_ppm) p
      WHERE r.rn = greatest(1, (p.q_ppm * r.n_ret + 999999) // 1000000)
    ),
    ex AS (
      SELECT e.source, e.q_ppm,
             CAST(COUNT(*) FILTER (WHERE lv.n_chars <= e.est_value)
                  AS BIGINT) AS exact_rank
      FROM est e JOIN lv ON lv.source IS NOT DISTINCT FROM e.source
      GROUP BY 1, 2
    )
    SELECT e.source, e.q_ppm, e.est_value, e.n_total, e.n_retained,
           CAST(e.lvl AS INT) AS lvl, ex.exact_rank,
           CAST((e.q_ppm * e.n_total + 999999) // 1000000 AS BIGINT)
             AS target_rank,
           CAST(abs(ex.exact_rank
                    - (e.q_ppm * e.n_total + 999999) // 1000000)
                * 1000000 // e.n_total AS BIGINT) AS rank_err_ppm
    FROM est e
    JOIN ex ON ex.source IS NOT DISTINCT FROM e.source
           AND ex.q_ppm = e.q_ppm
"""


def _rank_sketch_audit(docs, state):
    """The serve + exact-rank-error audit tail SHARED by q_rank_sketch
    and q_rank_sketch_staged (one definition — the qc_signal_frames
    discipline: a serving layout may never change the audit), from a
    built/merged sketch state: quantile estimates at RSK_PROBES_PPM,
    then the broadcast audit join measuring each estimate's true rank
    against its target in exact ppm."""
    from chess_lakehouse_spark.operators.sketches import rank_sketch_quantiles

    est = rank_sketch_quantiles(
        state, "doc_id", "n_chars", RSK_PROBES_PPM, by=["source"]
    )
    e = F.broadcast(
        est.select(
            F.col("source").alias("__g"),
            "q_ppm",
            "est_value",
            "n_total",
            "n_retained",
            "lvl",
        )
    )
    audited = (
        docs.where(F.col("n_chars").isNotNull())
        .join(e, F.col("source").eqNullSafe(F.col("__g")))
        .groupBy("__g", "q_ppm", "est_value", "n_total", "n_retained", "lvl")
        .agg(
            F.sum(
                F.when(F.col("n_chars") <= F.col("est_value"), 1).otherwise(0)
            )
            .cast("long")
            .alias("exact_rank")
        )
    )
    target = F.expr("(q_ppm * n_total + 999999) div 1000000")
    return audited.select(
        F.col("__g").alias("source"),
        "q_ppm",
        "est_value",
        "n_total",
        "n_retained",
        F.col("lvl").cast("int").alias("lvl"),
        "exact_rank",
        target.cast("long").alias("target_rank"),
        F.expr(
            "abs(exact_rank - ((q_ppm * n_total + 999999) div 1000000))"
            " * 1000000 div n_total"
        )
        .cast("long")
        .alias("rank_err_ppm"),
    )


def q_rank_sketch_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged-lifecycle twin of q_rank_sketch (operators/sketches.py:
    write_rank_sketch_batch + rank_sketch_from_batches — the
    heavy_hitters_staged discipline): three disjoint ingest batches each
    stage their OWN rank-sketch partial as a ``batch_id=`` partition
    (rename-aside swap, crash-replay value-identical), the serve merges
    the staged partials with ZERO raw-table access for the sketch state
    (the audit tail still scans the corpus — that is the audit's job),
    and the output passes the SAME oracle VERBATIM as the single-pass
    build: the nesting property makes merge == rebuild an equality, so
    a serving layout can never change the served quantiles — the
    bloom_gate_table discipline, machine-enforced by the shared oracle.

    Exact value parity against RANK_SKETCH_ORACLE (verbatim — the layout may
    never change the verdict) pinned in tests/test_r16_candidates.py at two
    scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.sketches import (
        rank_sketch_build,
        rank_sketch_from_batches,
        write_rank_sketch_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = _scratch_dir("rsketch", sf_dir)
    state_dir = f"{root}/state"
    def stage() -> None:
        for i in range(3):
            part = rank_sketch_build(
                docs.where(F.col("doc_id") % 3 == i),
                "doc_id",
                "n_chars",
                k=RSK_K,
                by=["source"],
                seed=RSK_SEED,
            )
            write_rank_sketch_batch(part, state_dir, f"b{i}")

    _feed_once(root, stage)
    state = rank_sketch_from_batches(spark, state_dir, k=RSK_K, by=["source"])
    return _rank_sketch_audit(docs, state)


#: Fellegi-Sunter constants: per-field (m, u) agreement
#: probabilities in ppm — name trigram similarity is the discriminative
#: field, segment/nation/balance carry the block structure — the
#: integer log2-weights they derive (fs_weights_ppm, baked host-side so
#: both engines consume the same literals), the name-agreement floor,
#: the balance-agreement band, and the two decision thresholds.
from chess_lakehouse_spark.operators.linkage import fs_weights_ppm

FS_NAME_W = fs_weights_ppm(950_000, 50_000)
FS_SEG_W = fs_weights_ppm(900_000, 200_000)
FS_NAT_W = fs_weights_ppm(900_000, 40_000)
FS_BAL_W = fs_weights_ppm(800_000, 100_000)
FS_NAME_AGREE_PPM = 850_000
FS_BAL_AGREE_CENTS = 50_000
FS_LOWER_PPM = 0
FS_UPPER_PPM = 6_000_000


def q_linkage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter match scoring over the staged record-linkage
    comparison vectors (operators/linkage.py: fs_match_score — the
    decision stage of Fellegi & Sunter JASA 1969, completing the r13
    blocking + comparison pipeline): each field votes its integer-ppm
    log2 likelihood-ratio weight (agreement weight when its predicate
    holds, disagreement weight when it fails, 0 when incomparable), the
    sum cuts into match / possible / nonmatch at the two thresholds.
    Weights derive from per-field (m, u) probabilities via
    fs_weights_ppm HOST-SIDE, so the distributed plan and the oracle
    consume identical integer literals — zero float drift surface. Pure
    column arithmetic over q_record_linkage's gated output: the
    decision stage adds zero shuffles at any scale.

    Exact value parity against LINKAGE_SCORE_ORACLE (built on
    RECORD_LINKAGE_ORACLE verbatim as a CTE — the vectors cannot drift from
    the registered query) pinned in tests/test_r16_candidates.py at two
    scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.linkage import fs_match_score

    base = q_record_linkage(spark, sf_dir)
    return fs_match_score(
        base,
        [
            (F.col("name_jac_ppm") >= FS_NAME_AGREE_PPM, *FS_NAME_W),
            (F.col("seg_match"), *FS_SEG_W),
            (F.col("nation_match"), *FS_NAT_W),
            (F.col("bal_diff_cents") <= FS_BAL_AGREE_CENTS, *FS_BAL_W),
        ],
        lower_ppm=FS_LOWER_PPM,
        upper_ppm=FS_UPPER_PPM,
    )


def _fs_case(pred: str, w: tuple[int, int]) -> str:
    return (
        f"CASE WHEN {pred} THEN CAST({w[0]} AS BIGINT)"
        f" WHEN NOT ({pred}) THEN CAST({w[1]} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
    )


#: Canonical q_linkage_score oracle — RECORD_LINKAGE_ORACLE verbatim as
#: the vector CTE (the qc_card_signals composition discipline), the
#: same baked integer weights, the same three-region cut.
LINKAGE_SCORE_ORACLE = f"""
    WITH base AS ({{record_linkage}}),
    scored AS (
      SELECT *,
             {_fs_case(f"name_jac_ppm >= {FS_NAME_AGREE_PPM}", FS_NAME_W)}
           + {_fs_case("seg_match", FS_SEG_W)}
           + {_fs_case("nation_match", FS_NAT_W)}
           + {_fs_case(f"bal_diff_cents <= {FS_BAL_AGREE_CENTS}", FS_BAL_W)}
             AS score_ppm
      FROM base
    )
    SELECT id_a, id_b, name_jac_ppm, seg_match, nation_match,
           bal_diff_cents, score_ppm,
           CASE WHEN score_ppm >= {FS_UPPER_PPM} THEN 'match'
                WHEN score_ppm <= {FS_LOWER_PPM} THEN 'nonmatch'
                ELSE 'possible' END AS decision
    FROM scored
"""
LINKAGE_SCORE_ORACLE = LINKAGE_SCORE_ORACLE.format(
    record_linkage=RECORD_LINKAGE_ORACLE
)


def q_linkage_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END TO END — the full Fellegi-Sunter pipeline
    closed with the fuse stage (blocking -> per-field comparison ->
    match scoring -> transitive entity fusion): the staged
    q_linkage_score's 'match' pairs feed the gated connected-components
    operator (min-label canonical, operators/graph.py — the
    dedup_clusters machinery reused on the ER graph), every customer
    gets its entity id (component representative, own id for
    singletons), plus the entity's member count and a canonical flag.
    At sf0.001 the match graph is empty — the zero-edge serve is a
    stated parity case (all singletons); sf0.01 carries real
    multi-member entities. 100 TB shape: the edge list is match-pruned
    (far below the corpus), components are the LSH-family hybrid
    (driver union-find under the bound, distributed min-label loop
    past it), membership is one groupBy + one keyed join.

    Exact value parity against LINKAGE_ENTITIES_ORACLE (LINKAGE_SCORE_ORACLE
    embedded verbatim + the recursive-CTE reachability oracle the
    dedup_clusters gate uses) pinned in tests/test_r16_candidates.py at two
    scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.graph import connected_components

    matches = (
        q_linkage_score(spark, sf_dir)
        .where(F.col("decision") == "match")
        .select("id_a", "id_b")
    )
    comp = connected_components(matches)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ent = cust.join(
        comp.select(F.col("id").alias("c_custkey"), "component"),
        "c_custkey",
        "left",
    ).select(
        "c_custkey",
        F.coalesce("component", F.col("c_custkey")).alias("entity_id"),
    )
    sizes = ent.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        ent.join(sizes, "entity_id")
        .select(
            "c_custkey",
            "entity_id",
            "n_members",
            (F.col("c_custkey") == F.col("entity_id")).alias("is_canonical"),
        )
    )


#: Canonical q_linkage_entities oracle — LINKAGE_SCORE_ORACLE verbatim
#: as the scored CTE, match-filtered edges, the recursive reachability
#: fold the dedup_clusters gate uses, singleton fill + member counts.
LINKAGE_ENTITIES_ORACLE = f"""
    WITH RECURSIVE scored AS ({LINKAGE_SCORE_ORACLE}),
    m AS (SELECT id_a, id_b FROM scored WHERE decision = 'match'),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM m
      UNION
      SELECT id_b, id_a FROM m
    ),
    reach(id, lbl) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.src, r.lbl FROM sym s JOIN reach r ON r.id = s.dst
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    ent AS (
      SELECT c.c_custkey,
             COALESCE(p.component, c.c_custkey) AS entity_id
      FROM customer c LEFT JOIN comp p ON p.id = c.c_custkey
    ),
    sizes AS (
      SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM ent GROUP BY entity_id
    )
    SELECT e.c_custkey, e.entity_id, s.n_members,
           e.c_custkey = e.entity_id AS is_canonical
    FROM ent e JOIN sizes s USING (entity_id)
"""




#: IVF+PQ composed-serving constants: probe list fan-out and
#: the ADC shortlist size (the exact re-rank pool — TWO_STAGE_POOL, the
#: same knob the gated two-stage serve uses).
IVFPQ_NPROBE = 2


def _ivfpq_dir(sf_dir: str) -> str:
    return _scratch_dir("ivfpq", sf_dir)


def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ANN read path, staged end to end
    (operators/similarity.py: publish_ivfpq_index + search_ivfpq_index —
    the IVFADC system of Jégou-Douze-Schmid TPAMI 2011): k-means-trained
    IVF lists (the gated knn_ivf_kmeans trainer) + per-slice PQ
    codebooks (the gated knn_pq_adc trainer) publish as ONE lake index
    — Hive-partitioned by list_id with the m-int codes column beside
    the raw vector — and the serve composes all three 100 TB cost cuts:
    partition-prune to the probes' {nprobe} ranked lists, ADC-score the
    survivors reading ONLY the codes column (column pruning — the scan
    never materializes raw vectors), shortlist {pool} per query, exact
    cosine re-rank for the final top-{k}. The index publishes once per
    process under the _scratch_dir root (pure function of sf_dir — the
    _feed_once discipline); every serve reads the published sidecar
    models, never the in-session trainers, so build and serve cannot
    drift.

    Exact value parity against KNN_IVFPQ_ORACLE (the knn_ivf_kmeans chain
    and each PQ slice chain unrolled in one SQL — assignment, codes, ADC
    shortlist, exact re-rank) pinned in tests/test_r16_candidates.py at two
    scales + cold-JVM."""
    apply_runtime_conf(spark)
    from chess_lakehouse_spark.operators.similarity import (
        kmeans_fit,
        pq_train,
        publish_ivfpq_index,
        search_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    root = _ivfpq_dir(sf_dir)
    idx = f"{root}/index"
    def stage() -> None:
        cents = kmeans_fit(
            emb, "vec_id", "embedding",
            k=KMEANS_K, iters=KMEANS_ITERS, seed=KMEANS_SEED,
        )
        books = pq_train(
            emb, "vec_id", "embedding",
            m=PQ_M, k=PQ_K, iters=PQ_ITERS, seed=PQ_SEED,
        )
        publish_ivfpq_index(
            emb, idx, "vec_id", "embedding", cents, books, batch_id="base"
        )

    _feed_once(root, stage)
    probes = emb.where(F.col("vec_id") < KNN_PROBES)
    return search_ivfpq_index(
        spark, idx, probes, "vec_id", "embedding",
        nprobe=IVFPQ_NPROBE, pool=TWO_STAGE_POOL, k=KNN_K,
    )


q_knn_ivfpq.__doc__ = q_knn_ivfpq.__doc__.format(
    nprobe=IVFPQ_NPROBE, pool=TWO_STAGE_POOL, k=KNN_K
)


def _ivfpq_oracle_sql() -> str:
    """The composed IVFADC oracle: the knn_ivf_kmeans centroid chain
    (c0 -> c1 -> c2, assignment, probe lists) and every PQ slice chain
    (_pq_sub_ctes — shared generator, the definitions cannot drift)
    unrolled in ONE statement, then the engine's exact serve algebra:
    candidates = probed lists minus self, ADC = ROUND(sum of slice
    dots, 6) with (ADC DESC, cand ASC) shortlist of TWO_STAGE_POOL,
    exact-cosine re-rank top KNN_K."""
    dim = 64
    d = dim // PQ_M
    slices = ",\n    ".join(
        _pq_sub_ctes(s, s * d + 1, (s + 1) * d) for s in range(PQ_M)
    )
    enc_joins = "\n      ".join(
        f"JOIN enc_{s} t{s} ON t{s}.vec_id = c.cand_id" for s in range(PQ_M)
    )
    cb_joins = "\n      ".join(
        f"JOIN c1_{s} cs{s} ON cs{s}.cid = t{s}.code" for s in range(PQ_M)
    )
    adc_terms = " + ".join(
        f"list_dot_product(c.qv[{s * d + 1}:{(s + 1) * d}], cs{s}.cv)"
        for s in range(PQ_M)
    )
    cos = _COS.format(a="sh.qv", b="sh.cv")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (
      SELECT CAST(rn - 1 AS INT) AS cid, v AS cv FROM (
        SELECT v, row_number() OVER (
          ORDER BY md5('{KMEANS_SEED}|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM e
      ) WHERE rn <= {KMEANS_K}
    ),
    {_kmeans_iter_ctes("c0", 1)},
    {_kmeans_iter_ctes("c1", 2)},
    assigned AS (
      SELECT e.vec_id, e.v, a.cid AS list_id
      FROM e, LATERAL (
        SELECT c.cid FROM c2 c
        ORDER BY {_COS.format(a="e.v", b="c.cv")} DESC, c.cid ASC LIMIT 1
      ) a
    ),
    ids AS (
      SELECT vec_id, CAST(rn - 1 AS INT) AS cid FROM (
        SELECT vec_id, row_number() OVER (
          ORDER BY md5('{PQ_SEED}|' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM e
      ) WHERE rn <= {PQ_K}
    ),
    {slices},
    p AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {KNN_PROBES}),
    plists AS (
      SELECT p.query_id, p.qv, a.cid AS list_id
      FROM p, LATERAL (
        SELECT c.cid FROM c2 c
        ORDER BY {_COS.format(a="p.qv", b="c.cv")} DESC, c.cid ASC
        LIMIT {IVFPQ_NPROBE}
      ) a
    ),
    cand AS (
      SELECT pl.query_id, pl.qv, t.vec_id AS cand_id, t.v AS cv
      FROM plists pl
      JOIN assigned t ON t.list_id = pl.list_id AND t.vec_id <> pl.query_id
    ),
    adc AS (
      SELECT c.query_id, c.qv, c.cand_id, c.cv,
             ROUND({adc_terms}, 6) AS sim_adc
      FROM cand c
      {enc_joins}
      {cb_joins}
    ),
    sh AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY sim_adc DESC, cand_id ASC) AS crk
        FROM adc
      ) WHERE crk <= {TWO_STAGE_POOL}
    ),
    s AS (SELECT sh.query_id, sh.cand_id, {cos} AS sim FROM sh)
    SELECT query_id, cand_id, sim, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS INT) AS rk
      FROM s
    ) WHERE rk <= {KNN_K}
"""


KNN_IVFPQ_ORACLE = _ivfpq_oracle_sql()


QUERIES.update(
    {
        "length_histogram": q_length_histogram,
        "shard_skew": q_shard_skew,
        "quantile_normalize": q_quantile_normalize,
        "ann_recall": q_ann_recall,
        "dedup_semdedup": q_dedup_semdedup,
        "tokenizer_fertility": q_tokenizer_fertility,
        "stream_interval_join": q_stream_interval_join,
        "heavy_hitters": q_heavy_hitters,
        "lsh_recall": q_lsh_recall,
    }
)
ORACLES.update(
    {
        "length_histogram": LENGTH_HISTOGRAM_ORACLE,
        "shard_skew": SHARD_SKEW_ORACLE,
        "quantile_normalize": QUANTILE_NORMALIZE_ORACLE,
        "ann_recall": ANN_RECALL_ORACLE,
        "dedup_semdedup": DEDUP_SEMDEDUP_ORACLE,
        "tokenizer_fertility": TOKENIZER_FERTILITY_ORACLE,
        "stream_interval_join": STREAM_INTERVAL_JOIN_ORACLE,
        "heavy_hitters": HEAVY_HITTERS_ORACLE,
        "lsh_recall": LSH_RECALL_ORACLE,
    }
)


# stream_rollup serves ROLLUP_STAGED_ORACLE verbatim — the
# bloom_gate_table discipline: an ingestion path may never change the
# served truth.
QUERIES.update(
    {
        "sample_reservoir": q_sample_reservoir,
        "curriculum_order": q_curriculum_order,
        "stream_rollup": q_stream_rollup,
        "qc_card_signals": q_qc_card_signals,
        "record_linkage": q_record_linkage,
        "knn_pq_adc": q_knn_pq_adc,
    }
)
ORACLES.update(
    {
        "sample_reservoir": SAMPLE_RESERVOIR_ORACLE,
        "curriculum_order": CURRICULUM_ORDER_ORACLE,
        "stream_rollup": ROLLUP_STAGED_ORACLE,
        "qc_card_signals": QC_CARD_SIGNALS_ORACLE,
        "record_linkage": RECORD_LINKAGE_ORACLE,
        "knn_pq_adc": KNN_PQ_ADC_ORACLE,
    }
)


# heavy_hitters_staged serves HEAVY_HITTERS_ORACLE verbatim and
# rank_sketch_staged serves RANK_SKETCH_ORACLE verbatim — the
# bloom_gate_table discipline: a serving layout may never change the
# audit verdict.
QUERIES.update(
    {
        "stream_sessionize": q_stream_sessionize,
        "heavy_hitters_staged": q_heavy_hitters_staged,
        "stream_dedup_watermark": q_stream_dedup_watermark,
        "pq_recall": q_pq_recall,
        "rank_sketch": q_rank_sketch,
        "linkage_score": q_linkage_score,
        "knn_ivfpq": q_knn_ivfpq,
        "rank_sketch_staged": q_rank_sketch_staged,
        "linkage_entities": q_linkage_entities,
    }
)
ORACLES.update(
    {
        "stream_sessionize": STREAM_SESSIONIZE_ORACLE,
        "heavy_hitters_staged": HEAVY_HITTERS_ORACLE,
        "stream_dedup_watermark": STREAM_DEDUP_WATERMARK_ORACLE,
        "pq_recall": PQ_RECALL_ORACLE,
        "rank_sketch": RANK_SKETCH_ORACLE,
        "linkage_score": LINKAGE_SCORE_ORACLE,
        "knn_ivfpq": KNN_IVFPQ_ORACLE,
        "rank_sketch_staged": RANK_SKETCH_ORACLE,
        "linkage_entities": LINKAGE_ENTITIES_ORACLE,
    }
)
