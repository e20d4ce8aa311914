"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (north-star extension, SURVEY.md §7 step 8):
exact dedup, MinHash+LSH near-dup, SimHash near-dup, and n-gram Jaccard —
each designed so the only shuffles are key-partitioned aggregations/joins
that AQE can coalesce and skew-split at 100 TB.

Portability contract with the DuckDB oracle: every hash is derived from
``md5`` of a string (identical hex in any engine); engine-integer hashes
(xxhash64, DuckDB ``hash()``) are never used because their values differ
across engines. A 60-bit integer form is obtained via the first 15 hex
chars (``conv(hex,16,10)`` in Spark == ``CAST('0x'||hex AS BIGINT)`` in
DuckDB — parity-tested in tests/test_llm_ops.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chess_lakehouse_spark.session import FrameScope


def md5_hash64(col: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: Default LSH band-bucket cap (see ``cooccur_pairs``). Named so the suite
#: oracles mirror the exact same value in their cand CTE (suite/llm.py
#: ``_MINHASH_PAIRS_CTES``) — a cap applied by the engine but not the
#: oracle would silently diverge the moment a corpus produces an
#: oversized bucket.
LSH_MAX_BUCKET_SIZE = 10_000


def regex_quote(s: str) -> str:
    """Quote a string as a literal Java regex (``Pattern.quote``
    semantics: wrap in ``\\Q...\\E``, splicing any embedded ``\\E``).
    Used wherever a user-supplied separator feeds a regex-taking function
    (``F.split``) but must behave as a literal."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def tokens(text: Column) -> Column:
    r"""Whitespace tokenization — the explicit class shared with the oracle
    (see functions/text.py:WS_SPLIT for why not ``\s``)."""
    from chess_lakehouse_spark.functions.text import WS_SPLIT

    return F.split(text, WS_SPLIT)


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document: (id, shingle).

    The shingle array is built with ``transform(sequence(...))`` so the whole
    stage stays inside WholeStageCodegen — no Python in the hot path. Guarded
    with a CASE because Spark's ``sequence(1, 0)`` counts *down* ([1, 0])
    rather than returning an empty array.
    """
    from chess_lakehouse_spark.session import spread

    toks = tokens(F.col(text_col))
    shingled = (
        # spread: tokenize + shingle explode is map-side work inheriting the
        # scan's partitioning — ONE task on the single-file fixtures (guide
        # §2.5; measured 1.8 s → 1.0 s through minhash_signatures).
        spread(df.select(id_col, toks.alias("toks")), id_col)
        .where(F.size("toks") >= k)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.size("toks") - (k - 1))).alias("i"),
            "toks",
        )
        .select(id_col, F.concat_ws(" ", *[F.element_at(F.col("toks"), F.col("i") + j) for j in range(k)]).alias("shingle"))
        .distinct()
    )
    return shingled


def minhash_signatures(shingles: DataFrame, id_col: str, num_hashes: int = 8) -> DataFrame:
    """One row per doc with columns h0..h{n-1}: lexicographic-min of
    ``md5(i || '|' || shingle)`` per hash index.

    min-of-md5-with-salt is a valid MinHash family; using the hex *string*
    min (not an int) keeps it bit-identical across engines. All ``num_hashes``
    signatures come from ONE map-side-combined groupBy over the exploded
    shingles — a single shuffle keyed by doc id, no per-hash pass.
    """
    aggs = [F.min(_salted_md5(h)(F.col("shingle"))).alias(f"h{h}") for h in range(num_hashes)]
    return shingles.groupBy(id_col).agg(*aggs)


def _salted_md5(h: int):
    """Hash ``h`` of the MinHash family. A factory, not ``lambda x, h=h``:
    ``F.transform`` counts a lambda's parameters and would pass the element
    index as a second one."""
    return lambda x: F.md5(F.concat(F.lit(f"{h}|"), x))


def lsh_bands(signatures: DataFrame, id_col: str, num_hashes: int = 8, band_size: int = 2) -> DataFrame:
    """Unpivot signatures into (id, band, bsig): band signature = concat of
    ``band_size`` consecutive minhashes. Narrow (no shuffle)."""
    n_bands = num_hashes // band_size
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat(*[F.col(f"h{b * band_size + j}") for j in range(band_size)]).alias("bsig"),
        )
        for b in range(n_bands)
    ]
    return signatures.select(
        id_col, F.explode(F.array(*entries)).alias("x")
    ).select(id_col, F.col("x.band").alias("band"), F.col("x.bsig").alias("bsig"))


_PAIR_EXPANSION = (
    "flatten(transform(ds, (x, i) -> "
    "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS id_a, y AS id_b))))"
)


def cooccur_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All unordered id pairs (id_a < id_b) co-occurring under the same key.

    One scan + one groupBy: ids are collected into a sorted set per key, and
    pairs expand in the array domain. A self-join on the key would compute
    the (often expensive) input subtree twice AND shuffle both copies; this
    computes it once.

    Bucket skew = one large array + B²/2 pairs in a single task; AQE can't
    split it, so ``max_bucket_size`` DROPS buckets holding more than that
    many ids — deterministically, before pair expansion. At >~10⁴ members
    a bucket is non-discriminative for dedup anyway (a band signature
    shared by that many documents carries no similarity signal), so the cap
    is a quality filter as much as an OOM guard. Pass ``None`` for
    unlimited (primitive default); end-to-end operators default the cap on.
    Audit what a cap would drop with :func:`oversized_buckets`.
    """
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError(
            f"cooccur_pairs: max_bucket_size must be >= 2, got {max_bucket_size}"
        )
    grouped = df.groupBy(*key_cols).agg(
        F.sort_array(F.collect_set(id_col)).alias("ds")
    )
    if max_bucket_size is not None:
        grouped = grouped.where(F.size("ds") <= max_bucket_size)
    return (
        grouped.select(F.explode(F.expr(_PAIR_EXPANSION)).alias("p"))
        .select("p.id_a", "p.id_b")
    )


def oversized_buckets(
    df: DataFrame, key_cols: list[str], id_col: str, max_bucket_size: int
) -> DataFrame:
    """Accounting companion to ``cooccur_pairs(max_bucket_size=...)``: the
    buckets a cap drops, as (key_cols..., n_ids) — run it on the same
    inputs to log/monitor what the guarded pass skipped. Output is bounded
    by the number of pathological keys (tiny), never the corpus."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count_distinct(F.col(id_col)).alias("n_ids"))
        .where(F.col("n_ids") > max_bucket_size)
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket."""
    return cooccur_pairs(
        bands, ["band", "bsig"], id_col, max_bucket_size=max_bucket_size
    ).distinct()


def _shingle_sets(shingles: DataFrame, id_col: str) -> DataFrame:
    """(id, shingles): each id's distinct shingles as one array."""
    return shingles.groupBy(id_col).agg(F.collect_set("shingle").alias("shingles"))


def _verify_sets(pairs, sets_a, sets_b, id_col, threshold, precision=6) -> DataFrame:
    sa = sets_a.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sa"))
    sb = sets_b.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sb"))
    n_common, n_a, n_b = F.col("n_common"), F.size("sa"), F.size("sb")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sa", "sb")))
        .where(n_common > 0)
        .select(
            "id_a",
            "id_b",
            F.round(n_common.cast("double") / (n_a + n_b - n_common), precision).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_verify(
    pairs: DataFrame, shingles: DataFrame, id_col: str, threshold: float, precision: int = 6
) -> DataFrame:
    """Exact shingle-set Jaccard for each candidate pair; keeps pairs with
    ``jaccard >= threshold``. Returns (id_a, id_b, jaccard).

    ``pairs`` holds distinct (id_a, id_b); an id's shingle set is the union
    of its ``shingles`` rows, each shingle once. One groupBy makes a set per
    id, each pair joins its two sets on id_a and id_b, |A∩B| is the size of
    their ``array_intersect`` and the union |A|+|B|-|A∩B|: no join on the
    shingle. A pair sharing no shingle yields no row, whatever the
    threshold. Jaccard is a ratio of integers, so double division is
    bit-identical across engines; rounded only for output stability.
    """
    sets = _shingle_sets(shingles, id_col)
    return _verify_sets(pairs, sets, sets, id_col, threshold, precision)


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 1,
    threshold: float = 0.5,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup: shingle → minhash → band →
    bucket-join → exact-Jaccard verify. Returns (id_a, id_b, jaccard).

    The shingle frame feeds the signatures and the verify's one set per
    document, which serves both sides of every pair; it is recomputed per
    use rather than persisted (scan+explode pipelines inside codegen, while
    persist forces a materialization barrier). At 100 TB the shingle frame
    would instead be a checkpointed staging table between pipeline stages.

    ``max_bucket_size`` (default 10k) deterministically drops band buckets
    too popular to be discriminative — the single-task B²/2 expansion
    guard (see ``cooccur_pairs``); audit candidates it would skip with
    ``oversized_buckets(bands, ["band", "bsig"], id_col, cap)``.
    """
    sh = word_shingles(df, id_col, text_col, k=k)
    sig = minhash_signatures(sh, id_col, num_hashes=num_hashes)
    bands = lsh_bands(sig, id_col, num_hashes=num_hashes, band_size=band_size)
    cand = lsh_candidate_pairs(bands, id_col, max_bucket_size=max_bucket_size)
    return jaccard_verify(cand, sh, id_col, threshold=threshold)


def incremental_near_dups(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dups of a NEW batch against an existing corpus — the daily-ingest
    shape of dedup at 100 TB, where re-running the full self-join every day
    is the scale-killer. ``corpus_sigs`` is the staged signatures table
    (written once by ``minhash_signatures``, appended per batch); this job
    pays signature cost ONLY for the new batch, joins new bands against
    staged corpus bands (an equi-join, never the corpus self-join), and
    re-shingles only the corpus docs that appear as candidates (semi-join
    pushdown on id). Returns (new_id, corpus_id, jaccard >= threshold).

    Cost model per batch: O(|new|) shingling + one band equi-join against
    the staged table + verification bounded by candidate count — fully
    incremental; the corpus text is touched only for candidates.

    Execution: the batch is shingled once, into one set per doc, which
    gives its signatures (``array_min`` of the salted md5s in each row: the
    :func:`minhash_signatures` values, no second groupBy) and the new side
    of the verify, a per-candidate set intersection (:func:`jaccard_verify`).
    Each side's set holds that side's rows only, so an id in both inputs is
    two sets. ``cand`` is not cached: under its two readers (the corpus
    semi-join and the pair list) the executed plan reuses the new batch's
    exchanges, and the uncached plan measured faster.
    """
    new_sets = _shingle_sets(word_shingles(new_docs, id_col, text_col, k=k), id_col)
    new_sigs = new_sets.select(id_col, *[
        F.array_min(F.transform("shingles", _salted_md5(h))).alias(f"h{h}")
        for h in range(num_hashes)
    ])
    nb = lsh_bands(new_sigs, id_col, num_hashes=num_hashes, band_size=band_size).select(
        F.col(id_col).alias("id_a"), "band", "bsig"
    )
    cb = lsh_bands(corpus_sigs, id_col, num_hashes=num_hashes, band_size=band_size).select(
        F.col(id_col).alias("id_b"), "band", "bsig"
    )
    cand = (
        nb.join(cb, on=["band", "bsig"])
        # Self-pair guard: an id present in BOTH inputs (an at-least-once
        # replay re-offering a doc whose signatures already staged) would
        # otherwise match itself at jaccard=1.0 and be dropped as a "dup
        # of the corpus" — i.e. of itself. Defense in depth alongside the
        # current-batch partition filter in streaming/jobs.py.
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cand_corpus = corpus_docs.join(
        cand.select(F.col("id_b").alias(id_col)).distinct(), id_col, "semi"
    )
    corpus_sets = _shingle_sets(word_shingles(cand_corpus, id_col, text_col, k=k), id_col)
    return _verify_sets(cand, new_sets, corpus_sets, id_col, threshold).select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"), "jaccard"
    )


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document over frequency-weighted whitespace tokens.

    Token hash = portable 60-bit md5 int; bit i of the signature is set when
    the sum over tokens of ±1 (per the token hash's bit i) is positive.
    All 32 bit-sums come from ONE map-side-combined groupBy (single doc-keyed
    shuffle); the per-bit CASE expressions are codegen'd JVM-side.
    """
    tok = df.select(id_col, F.explode(tokens(F.col(text_col))).alias("tok")).where(
        F.col("tok") != ""
    )
    hashed = tok.select(id_col, md5_hash64(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum(F.expr(f"CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END")).alias(f"s{i}")
        for i in range(32)
    ]
    sums = hashed.groupBy(id_col).agg(*bit_sums)
    sim = sums.select(
        id_col,
        sum(
            [F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(0) for i in range(32)],
            F.lit(0),
        )
        .cast("long")
        .alias("simhash"),
    )
    return sim


def hamming_near_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    n_bits: int,
    max_hamming: int,
    band_bits: int = 8,
    persist_signatures: bool = False,
) -> DataFrame:
    """Near-dup pairs for ANY integer bit-signature column by LSH
    banding: the ``n_bits`` signature splits into ``n_bits / band_bits``
    blocks; two signatures within hamming distance ``max_hamming`` must
    agree exactly on at least one block when ``max_hamming < n_bands``
    (pigeonhole); the bands only PRUNE — every surviving candidate is
    verified with ``bit_count``. Blocking on (band_idx, band_val) keeps
    the join equi-keyed — no cross join, AQE splits hot buckets.

    One implementation serves every signature in the repo: 32-bit text
    SimHash (:func:`simhash_near_pairs`, 4×8-bit bands) and the 64-bit
    image perceptual hash (operators/multimodal.py: ``phash64``) — the
    band-dedup trick below is shared, so the widths cannot drift.

    ``band_bits`` is the measured cost/recall knob (SCALE.md): a band
    collides on unrelated signatures with probability ~2^-band_bits per
    band, so candidate volume grows ~ n_bands * n² / 2^band_bits — with
    8-bit bands that term bends the curve at ~20k UNIFORM signatures
    (x8/x1 = 2.5 measured on md5 noise, the no-clusters worst case);
    16-bit bands push the quadratic knee 256× out (measured flat) at the
    price of guaranteed recall only to ``max_hamming < n_bands = 4``.
    At 100 TB image scale use band_bits >= 16; real pHash corpora also
    cluster far more than the md5 worst case.

    ``persist_signatures=True`` caches the signature frame so the self-join's
    two sides compute it once (warm-session min-of-2 at sf0.1: persist 1.4s
    vs no-persist 2.1s; AQE does NOT reuse the exchange here because the two
    sides' shuffles carry different projections). The cache is OWNED
    by the returned frame (``FrameScope.own``): it is released when the
    result is garbage-collected, so long-lived sessions
    don't accumulate cached RDDs and the caller's later action still hits
    cache. Default False keeps the operator side-effect-free for callers
    that manage their own staging; at 100 TB, stage signatures to a table
    between jobs instead. Returns (id_a, id_b, hamming).
    """
    with FrameScope() as scope:
        if persist_signatures:
            sig = scope.cache(sig)
        a = _signature_bands(sig, id_col, hash_col, n_bits, band_bits, "id_a", "sim_a")
        b = _signature_bands(sig, id_col, hash_col, n_bits, band_bits, "id_b", "sim_b")
        return scope.own(
            a.join(b, on=["bi", "bv"])
            .where(F.col("id_a") < F.col("id_b"))
            .where(_no_earlier_band(n_bits, band_bits))
            .select(
                "id_a", "id_b", F.expr("bit_count(sim_a ^ sim_b)").cast("int").alias("hamming")
            )
            .where(F.col("hamming") <= max_hamming)
        )


def _signature_bands(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    n_bits: int,
    band_bits: int,
    id_alias: str,
    sig_alias: str,
) -> DataFrame:
    """Explode one signature frame into its LSH band rows:
    (id_alias, sig_alias, bi, bv) with one row per band — the shared
    blocking stage of :func:`hamming_near_pairs` and :func:`hamming_join`."""
    if n_bits % band_bits != 0:
        raise ValueError(
            f"signature bands: band_bits {band_bits} must divide n_bits {n_bits}"
        )
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1
    return sig.select(
        F.col(id_col).alias(id_alias),
        F.col(hash_col).alias(sig_alias),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.expr(f"(`{hash_col}` >> {band_bits * b}) & {mask}").alias(
                            "band_val"
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("x"),
    ).select(
        id_alias, sig_alias, F.col("x.band_idx").alias("bi"), F.col("x.band_val").alias("bv")
    )


def _no_earlier_band(n_bits: int, band_bits: int):
    """The band-join dedup trick: a pair agreeing on k bands would surface
    k times from the band equi-join; instead of a distinct (a full shuffle
    of every candidate pair), keep each pair only where it matched its
    FIRST agreeing band — bi is canonical because both full signatures
    ride in the joined row (sim_a / sim_b), so "no earlier band agrees"
    is a map-side predicate. Zero post-join shuffles."""
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1
    return F.expr(
        "CASE bi WHEN 0 THEN true ELSE "
        + " AND ".join(
            f"(bi <= {j} OR ((sim_a >> {band_bits * j}) & {mask}) != "
            f"((sim_b >> {band_bits * j}) & {mask}))"
            for j in range(n_bands - 1)
        )
        + " END"
    )


def hamming_join(
    new_sig: DataFrame,
    corpus_sig: DataFrame,
    id_col: str,
    hash_col: str,
    n_bits: int,
    max_hamming: int,
    band_bits: int = 8,
) -> DataFrame:
    """Banded hamming join BETWEEN two signature frames — the cross-batch
    form of :func:`hamming_near_pairs` (same pigeonhole guarantee for
    ``max_hamming < n_bits / band_bits``, same prune-then-``bit_count``
    verification, same first-agreeing-band dedup so no candidate-pair
    distinct): one row per (new, corpus) signature pair within
    ``max_hamming``. Both frames carry ``(id_col, hash_col)``; ids are
    NOT compared, so the frames may overlap — callers that need
    self-pair exclusion (e.g. a replayed streaming batch) filter or
    partition upstream. 100 TB: the staged corpus side shuffles once on
    (band, value); per-batch cost tracks the NEW side plus matching
    band buckets, never the corpus. Returns (new_id, corpus_id, hamming).
    """
    a = _signature_bands(new_sig, id_col, hash_col, n_bits, band_bits, "new_id", "sim_a")
    b = _signature_bands(
        corpus_sig, id_col, hash_col, n_bits, band_bits, "corpus_id", "sim_b"
    )
    return (
        a.join(b, on=["bi", "bv"])
        .where(_no_earlier_band(n_bits, band_bits))
        .select(
            "new_id",
            "corpus_id",
            F.expr("bit_count(sim_a ^ sim_b)").cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    sim: DataFrame,
    id_col: str,
    max_hamming: int = 6,
    persist_signatures: bool = False,
) -> DataFrame:
    """Near-dup pairs by 32-bit SimHash banding — the 4-byte instance of
    :func:`hamming_near_pairs` (pigeonhole guarantees recall for distance
    <= 3 over 4 blocks, not for the default 6; the bands only prune and
    every candidate is bit_count-verified). Returns (id_a, id_b, hamming).
    """
    return hamming_near_pairs(
        sim,
        id_col,
        "simhash",
        n_bits=32,
        max_hamming=max_hamming,
        persist_signatures=persist_signatures,
    )


def choose_ngram_strategy(
    grams: DataFrame,
    id_col: str,
    threshold: float,
    margin: float = 2.0,
) -> str:
    """Pick ``exhaustive`` vs ``prefix`` for :func:`ngram_jaccard_pairs` from
    a cheap cost estimate, so callers don't have to know their corpus.

    Cost model (all terms estimated from a df-value histogram whose driver
    collect is bounded by the number of DISTINCT df values, never corpus
    size, plus one distinct-id count):

    - exhaustive = Σ_g df(g)·(df(g)-1)/2 — the pair instances the
      gram-equality join generates (df(df-1)/2, NOT df²: a df=1 gram
      generates zero pairs, which is exactly why rare tails are cheap).
    - prefix = 2·postings (the df-rank + per-doc-count windows)
      + prefix_pairs (the join over each doc's rarest ≈(1-t)·n_g grams,
      approximated as the globally-rarest (1-t) posting mass, boundary
      level pro-rated)
      + 2·avg_n_g·prefix_pairs (the verification join: every surviving
      candidate pair re-touches both docs' full gram sets — the term the
      naive Σ df² comparison misses, and the reason prefix loses on
      shared-vocab corpora where pruning is weak even though its own join
      is small).

    ``prefix`` is chosen only when exhaustive > ``margin``× the prefix
    estimate, absorbing model error toward the strategy with bounded
    downside. Measured at sf0.1 (shared-vocab synthetic corpus): model says
    exhaustive, matching the 7.9s-vs-16s reality; on a Zipfian corpus the
    head grams carry Σ df(df-1)/2, fall outside the rare-prefix mass, and
    the df=1 tail generates no candidate pairs at all, so prefix wins by
    construction.
    """
    hist = (
        grams.groupBy("blk", "gram")
        .agg(F.count(F.lit(1)).alias("gdf"))
        .groupBy("gdf")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        # Piggyback the doc count onto the SAME action as a sentinel row
        # (gdf = -1) so the selector costs one job, not two; approximate
        # distinct is plenty for a 2×-margin cost model.
        .unionAll(
            grams.agg(F.approx_count_distinct(id_col).alias("n_grams")).select(
                F.lit(-1).cast("long").alias("gdf"), F.col("n_grams")
            )
        )
        .collect()
    )
    levels = sorted((r["gdf"], r["n_grams"]) for r in hist if r["gdf"] > 0)
    n_docs = sum(r["n_grams"] for r in hist if r["gdf"] == -1)
    postings = sum(df_ * n_ for df_, n_ in levels)
    exh_cost = sum(df_ * (df_ - 1) / 2 * n_ for df_, n_ in levels)
    if postings == 0 or exh_cost == 0:
        return "exhaustive"
    avg_n_g = postings / max(n_docs, 1)
    # Rarest-first cumulative walk over the (1-t) posting-mass budget.
    budget = (1.0 - threshold) * postings
    prefix_pairs = 0.0
    for df_, n_ in levels:
        mass = df_ * n_
        take = min(1.0, budget / mass) if mass > 0 else 0.0
        prefix_pairs += take * df_ * (df_ - 1) / 2 * n_
        budget -= take * mass
        if budget <= 0:
            break
    prefix_cost = 2.0 * postings + prefix_pairs + 2.0 * avg_n_g * prefix_pairs
    return "prefix" if exh_cost > margin * prefix_cost else "exhaustive"


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.5,
    strategy: str = "auto",
) -> DataFrame:
    """n-gram Jaccard near-dup within a blocking key (e.g. source), scored
    |A∩B| / (|A|+|B|-|A∩B|). Returns (id_a, id_b, jaccard >= threshold).

    ``strategy="auto"`` (default) picks between the two lossless plans via
    :func:`choose_ngram_strategy` — a cost estimate computed on the SAME
    persisted gram frame both strategies consume (so the selector's only
    marginal cost is one df-histogram aggregation over the cache, not a
    separate corpus scan; measured: the earlier sampled-rescan selector
    added ~1.5 s at sf0.1, this one ~0.3 s) — because the right plan
    depends on the corpus's gram-frequency shape, which callers shouldn't
    have to know. Both plans return identical rows (equivalence
    pytest-pinned), so the choice affects cost only.

    Grams are collapsed to 64-bit ``xxhash64`` values before the distinct
    and all joins: set sizes and intersections are preserved up to hash
    collisions (P[any collision] ≈ (distinct grams)²/2⁶⁴ ≈ 1e-7 here),
    while the shuffled rows become fixed-width longs instead of strings —
    measured 7.2s → 6.1s at sf0.1. This is deliberately EXEMPT from the
    module's md5 portability contract: the hashes never leave the plan (only
    counts derived from them do), so no engine-parity requirement applies.
    The gram-set frame feeds three consumers (counts + both join sides)
    and is persisted in its COMPACT array form — one row per doc, exploded
    per consumer — owned by the returned frame (``FrameScope.own``); at
    100 TB, stage the same array-form grams to a table.

    Two lossless strategies (measured at sf0.1, both oracle-verified equal):

    - ``exhaustive``: gram-equality self-join within the block (never a
      cross join; AQE splits hot grams), count co-occurrences per pair.
      Cost ∝ Σ_g df(g)·(df(g)-1)/2 — fine when blocks are bounded (the
      synthetic corpus: ~6 s for 38 M pair instances).
    - ``prefix``: ppjoin-style prefix filtering (Xiao et al., WWW'08 —
      public algorithm): rank each doc's grams by global document frequency
      (rarest first, gram tie-break), self-join only the
      ``n_g - ceil(t·n_g) + 1`` rarest grams per doc — any pair with
      Jaccard >= t must share a prefix gram (pigeonhole, valid under any
      consistent total gram order), so recall is exact — then verify
      candidates. Wins on Zipfian real-text corpora where the rare tail is
      discriminative; on this synthetic shared-vocab corpus it prunes <10%
      of pairs and the verify join + ranking windows make it ~2× slower,
      which is exactly what the selector's cost model predicts.
    """

    # Per-doc gram SET built map-side: array_distinct inside the row, never
    # an explode+distinct shuffle — the set and its size n_g (the Jaccard
    # denominator term) both materialize with ZERO exchanges, so every
    # doc-length lookup downstream is a carried column instead of a join.
    # Persist the COMPACT array form (one row per doc), not the exploded
    # posting list: storing |docs| rows instead of |postings| rows cuts the
    # materialization cost ~40% (measured 5.9s -> 3.4s at sf0.1) while the
    # per-consumer explode is narrow codegen on top of the cache (+0.4s
    # once, net -2.3s on the standalone query). At 100 TB the same choice
    # is what makes the staged-grams table compact on the lake.
    from chess_lakehouse_spark.session import spread

    garr = (
        # spread: the per-char xxhash64 gram extraction is the heavy map
        # stage and inherits the scan's single fixture-file partition
        # without it (guide §2.5; measured 4.3 s → 3.2 s end-to-end).
        spread(
            df.select(
                id_col, F.col(block_col).alias("blk"), F.col(text_col).alias("t")
            ),
            id_col,
        )
        .where(F.length("t") >= n)
        .select(
            id_col,
            "blk",
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(t) - {n - 1}),"
                    f" i -> xxhash64(substring(t, i, {n})))"
                )
            ).alias("garr"),
        )
        .select(id_col, "blk", F.size("garr").alias("n_g"), "garr")
    )
    with FrameScope() as scope:
        garr = scope.cache(garr)
        grams = garr.select(id_col, "blk", "n_g", F.explode("garr").alias("gram"))

        if strategy == "auto":
            strategy = choose_ngram_strategy(grams, id_col, threshold)

        if strategy == "prefix":
            from pyspark.sql.window import Window

            dfreq = grams.groupBy("blk", "gram").agg(F.count(F.lit(1)).alias("gdf"))
            w = Window.partitionBy(id_col).orderBy(F.col("gdf").asc(), F.col("gram").asc())
            ranked = grams.join(dfreq, on=["blk", "gram"]).withColumn("r", F.row_number().over(w))
            prefix = ranked.where(
                F.col("r") <= F.col("n_g") - F.ceil(F.lit(threshold) * F.col("n_g")) + 1
            ).select(id_col, "blk", "gram")
            a = prefix.select(F.col(id_col).alias("id_a"), "blk", "gram")
            b = prefix.select(F.col(id_col).alias("id_b"), "blk", "gram")
            cand = (
                a.join(b, on=["blk", "gram"])
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            return scope.own(
                jaccard_verify(
                    cand, grams.select(id_col, F.col("gram").alias("shingle")), id_col,
                    threshold,
                )
            )

        # Exhaustive: gram-equality self-join with set sizes CARRIED on each
        # posting row. The length band (min(n_a,n_b)/max(n_a,n_b) >= t is
        # necessary for Jaccard >= t) prunes pair instances inside the join's
        # codegen stage, BEFORE the pair-aggregation shuffle; grouping by
        # (id_a, id_b, n_a, n_b) — sizes are functionally dependent on the ids —
        # means no post-aggregation join is needed at all.
        a = grams.select(F.col(id_col).alias("id_a"), "blk", "gram", F.col("n_g").alias("n_a"))
        b = grams.select(F.col(id_col).alias("id_b"), "blk", "gram", F.col("n_g").alias("n_b"))
        # Pin the pair join to sort-merge: both sides are the corpus-scale
        # exploded gram postings, so a broadcast is wrong BY CONSTRUCTION at
        # any real scale — and when the cached gram frame's column-pruned size
        # estimate drifts under autoBroadcastJoinThreshold, AQE builds a
        # multi-million-row hash relation and fences 3× SLOWER even at sf0.1
        # (r16 measured: 10-12 s BHJ vs 3.4 s SMJ on the same cache).
        inter = (
            a.hint("merge").join(b, on=["blk", "gram"])
            .where(F.col("id_a") < F.col("id_b"))
            .where(
                (F.col("n_a") >= F.lit(threshold) * F.col("n_b"))
                & (F.col("n_b") >= F.lit(threshold) * F.col("n_a"))
            )
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        out = (
            inter.select(
                "id_a",
                "id_b",
                F.round(
                    F.col("n_common").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                    6,
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
        return scope.own(out)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content with the
    canonical (min) id and the copy count. Single map-side-combined shuffle
    on the md5 — the 100 TB-scale exact-dedup primitive."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_chars: int = 1,
    scope: str = "corpus",
) -> DataFrame:
    """First-occurrence paragraph dedup (the C4/RefinedWeb line-level
    pass, Raffel et al. 2020 / Penedo et al. 2023): split every document
    on the LITERAL separator ``sep`` (regex metacharacters are quoted —
    split and rebuild use the same literal string, so the round-trip is
    exact), and remove each repeated paragraph except its first
    occurrence — "first" under the total order (doc id, position), so the
    result is independent of partitioning and engine.
    Complements :func:`exact_dedup_groups` (whole-document) and
    ``strip_boilerplate`` (token-level): this is the granularity that
    catches shared headers/footers/navigation blocks pasted across
    millions of pages.

    ``scope`` picks the dedup universe: ``"corpus"`` (default) removes a
    repeated paragraph EVERYWHERE but its corpus-first occurrence — the
    boilerplate killer; ``"document"`` dedups only WITHIN each document
    (RefinedWeb's intra-document line pass — navigation repeated inside
    one page goes, content legitimately shared across pages stays). The
    document scope adds the doc id to the hash-group key, so its shuffle
    keys are finer and never hot.

    Paragraphs shorter than ``min_chars`` (after trim) are structural —
    blank lines, separators — and are always kept, never treated as
    duplicates.

    Plan shape: one posexplode, ONE map-combined groupBy(md5(paragraph))
    computing the min-(id, pos) struct (the canonical occurrence), a
    keyed join back on the hash, and one per-document rebuild aggregate —
    two shuffles plus one join, all hash-keyed on bounded keys; nothing is
    pairwise and nothing is corpus-global beyond the paragraph-hash table.
    At 100 TB the hash table is the distinct-paragraph count — large but
    shuffled, never broadcast or collected.

    Returns (id, clean_text, n_paras, n_removed); every input document is
    present (a fully-duplicated document comes back with the structural
    lines only, or empty).
    """
    # ``sep`` is a LITERAL on both sides of the round-trip: F.split takes a
    # Java regex, so the separator is Pattern.quote'd before splitting,
    # matching the verbatim concat_ws rebuild (a raw '.' or '|' separator
    # would otherwise split on the regex meaning and reassemble differently
    # than it was split). NULL text coalesces to '' FIRST — split(NULL)
    # is NULL and posexplode(NULL) yields no rows, which would silently
    # DROP the document instead of returning it stripped (the oracle's
    # COALESCE(text, '') mirrors this).
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), regex_quote(sep))
        ).alias("pos", "para"),
    )
    if scope not in ("corpus", "document"):
        raise ValueError(
            f"paragraph_dedup: scope must be 'corpus' or 'document', got {scope!r}"
        )
    eligible = paras.where(F.length(F.trim(F.col("para"))) >= min_chars)
    if scope == "document":
        first = (
            eligible.groupBy(
                F.col("id").alias("fid"), F.md5(F.col("para")).alias("h")
            )
            .agg(F.min(F.struct("id", "pos")).alias("first_occ"))
        )
        join_cond = (F.md5(F.col("para")) == F.col("h")) & (
            F.col("id") == F.col("fid")
        )
    else:
        first = (
            eligible.groupBy(F.md5(F.col("para")).alias("h"))
            .agg(F.min(F.struct("id", "pos")).alias("first_occ"))
        )
        join_cond = F.md5(F.col("para")) == F.col("h")
    flagged = paras.join(
        first,
        join_cond,
        "left",
    ).select(
        "id",
        "pos",
        "para",
        # structural (<min_chars) paragraphs never join: md5 equality
        # implies equal text and no short text is on the build side, so
        # their first_occ is NULL and the coalesce keeps them everywhere
        F.coalesce(
            F.col("first_occ") == F.struct(F.col("id"), F.col("pos")),
            F.lit(True),
        ).alias("keep"),
    )
    rebuilt = flagged.groupBy("id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("n_paras"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("int").alias("n_removed"),
    )
    return rebuilt.select(
        F.col("id").alias(id_col), "clean_text", "n_paras", "n_removed"
    )


def span_shingle_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    order_col: str | None = None,
) -> DataFrame:
    """Every k-token window's md5 hash with its (id, pos) anchor — the
    shingle projection :func:`duplicate_span_dedup` dedups on, exposed so
    the streaming mirror (streaming/jobs.py:span_dedup_batch) can stage
    per-batch first-occurrence hashes without reimplementing the
    tokenize/slice chain. Returns (id, [ord,] pos, h); documents shorter
    than k tokens contribute no rows."""
    if k < 2:
        raise ValueError(f"span_shingle_hashes: k must be >= 2, got {k}")
    from chess_lakehouse_spark.functions.text import ws_tokens

    toks_arr = df.select(
        F.col(id_col).alias("id"),
        *([F.col(order_col).alias("ord")] if order_col is not None else []),
        F.filter(ws_tokens(F.col(text_col)), lambda t: t != "").alias("toks"),
    )
    return (
        toks_arr.where(F.size("toks") >= k)
        .select(
            "id",
            *(["ord"] if order_col is not None else []),
            F.explode(F.sequence(F.lit(1), F.size("toks") - (k - 1))).alias("i"),
            "toks",
        )
        .select(
            "id",
            *(["ord"] if order_col is not None else []),
            (F.col("i") - 1).alias("pos"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), k))
            ).alias("h"),
        )
    )


def duplicate_span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    order_col: str | None = None,
    seen_hashes: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide duplicate-SPAN removal — the ExactSubstr pass of Lee et
    al. 2021 ("Deduplicating Training Data Makes Language Models Better")
    at token-shingle granularity: any k-token window whose exact content
    occurred earlier in the corpus has all k of its tokens removed; the
    first occurrence keeps its tokens. "Earlier" means ``(id, position)``
    struct order — for STRING ids that is lexicographic, NOT ingestion
    order; pass ``order_col`` (e.g. an ingest timestamp or sequence
    number) to make first-occurrence follow ``(order, id, position)``
    instead. Which occurrence survives changes, but the set of duplicated
    span contents (and each doc's token counts against a fixed winner set)
    does not. This is
    the granularity BETWEEN ``paragraph_dedup`` (separator-delimited
    blocks) and ``exact_dedup_groups`` (whole documents), and catches
    templated sentences pasted mid-paragraph that neither of those sees.
    (The paper finds duplicate substrings with a corpus suffix array —
    inherently sequential; the k-token rolling window is the
    shuffle-partitionable approximation, same spirit as winnowing
    fingerprints vs full suffix structures.)

    Semantics: tokens are non-empty WS_SPLIT words; output text is
    whitespace-NORMALIZED (single spaces) because the rebuild is a token
    join. A position is removed iff covered by ANY duplicate window
    (including windows overlapping a first occurrence). Every input
    document is returned; a fully-duplicated document comes back empty.

    Plan shape — all keyed, nothing pairwise: one posexplode (tokens),
    one shingle projection in the array domain, ONE map-combined
    groupBy(md5(shingle)) for first occurrences, a hash join back, one
    bounded explode (k rows per duplicate window = the duplicated volume,
    not the corpus), one anti-join on (id, pos), and a per-doc rebuild
    aggregate. At 100 TB the shingle-hash table is shuffled, never
    broadcast; the coverage explode is proportional to duplicated text.

    ``seen_hashes`` (a DataFrame with an ``h`` column) marks shingle
    hashes already seen in an EARLIER corpus slice: every window in
    ``df`` matching one is a duplicate outright (no occurrence here can
    be "first"), which is exactly the cross-batch contract the streaming
    mirror (streaming/jobs.py:span_dedup_batch) needs. With
    ``seen_hashes=None`` the plan is byte-identical to the gated
    ``dedup_span`` form.

    Returns (id, clean_text, n_tokens, n_removed_tokens).
    """
    if k < 2:
        raise ValueError(f"duplicate_span_dedup: k must be >= 2, got {k}")
    from chess_lakehouse_spark.functions.text import ws_tokens

    order_keys = (["ord"] if order_col is not None else []) + ["id", "pos"]
    toks_arr = df.select(
        F.col(id_col).alias("id"),
        *([F.col(order_col).alias("ord")] if order_col is not None else []),
        F.filter(ws_tokens(F.col(text_col)), lambda t: t != "").alias("toks"),
    )
    tok = toks_arr.select("id", F.posexplode("toks").alias("pos", "tok"))
    sh = span_shingle_hashes(df, id_col, text_col, k=k, order_col=order_col)
    first = sh.groupBy("h").agg(F.min(F.struct(*order_keys)).alias("first_occ"))
    if seen_hashes is None:
        marked = (
            sh.join(first, "h")
            .where(F.struct(*order_keys) != F.col("first_occ"))
            .select("id", "pos")
        )
    else:
        # hashes staged earlier can have no first occurrence HERE: drop
        # them from the local-first table, then a left join marks every
        # window as duplicate when its hash is staged (no match) OR it
        # is not the local first occurrence
        first_new = first.join(seen_hashes.select("h"), "h", "left_anti")
        marked = (
            sh.join(first_new, "h", "left")
            .where(
                F.col("first_occ").isNull()
                | (F.struct(*order_keys) != F.col("first_occ"))
            )
            .select("id", "pos")
        )
    covered = marked.select(
        F.col("id").alias("cid"),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("cpos"),
    ).distinct()
    flagged = tok.join(
        covered,
        (tok["id"] == covered["cid"]) & (tok["pos"] == covered["cpos"]),
        "left",
    ).select(
        tok["id"].alias("id"),
        tok["pos"].alias("pos"),
        "tok",
        covered["cpos"].isNotNull().alias("dup"),
    )
    rebuilt = flagged.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("dup"), F.struct("pos", "tok"))
                    )
                ),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0)).cast("int").alias(
            "n_removed_tokens"
        ),
    )
    # zero-token documents never reach the rebuild aggregate — restore them
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        all_ids.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_removed_tokens", F.lit(0)).alias("n_removed_tokens"),
        )
    )


def corpus_overlap_matrix(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Pairwise k-shingle-set overlap between corpus SLICES (sources,
    crawl snapshots, pipeline stages) — the corpus-grain audit the
    doc-grain dedup/contamination family doesn't answer: "how much of
    snapshot B is already in snapshot A?" before committing an ingest.
    Shingles ride the exact :func:`span_shingle_hashes` projection (one
    tokenize/window/md5 chain for span dedup, the streaming mirror, and
    this audit — no drift), deduplicated to per-group SETS, so a
    100×-duplicated page counts once.

    Returns the complete pair grid ``(g1, g2, n1, n2, shared, jaccard)``
    for ``g1 < g2`` — zero-overlap pairs included with ``shared = 0``;
    ``jaccard`` is the exact half-away 6-decimal rounding of
    ``shared / (n1 + n2 - shared)`` in pure integer arithmetic (the
    functions/exact.py contract), NULL when both slices have no
    shingles.

    Scale shape: distinct-(group, shingle) is ONE map-combined shuffle
    over the corpus; the shared-count self-join is keyed on the shingle
    hash, and per-hash bucket size is bounded by |groups| (this operator
    is for LOW-cardinality slice labels — sources/snapshots, never doc
    ids), so the join never expands beyond |groups|² per hash. The pair
    grid itself is a |groups|²-row crossJoin of two aggregate frames —
    driver-bounded by construction. Nothing here is all-pairs in
    documents."""
    sh = (
        span_shingle_hashes(df, group_col, text_col, k=k)
        .select(F.col("id").alias("g"), "h")
        .distinct()
    )
    # group universe from the RAW table, so a slice whose every document
    # is shorter than k (or NULL) still appears in the grid with n = 0
    sizes = (
        df.select(F.col(group_col).alias("g"))
        .distinct()
        .join(sh.groupBy("g").agg(F.count(F.lit(1)).alias("n")), "g", "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    )
    shared = (
        sh.alias("a")
        .join(sh.alias("b"), "h")
        .where(F.col("a.g") < F.col("b.g"))
        .groupBy(F.col("a.g").alias("g1"), F.col("b.g").alias("g2"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    grid = (
        sizes.alias("x")
        .crossJoin(sizes.alias("y"))
        .where(F.col("x.g") < F.col("y.g"))
        .select(
            F.col("x.g").alias("g1"),
            F.col("y.g").alias("g2"),
            F.col("x.n").alias("n1"),
            F.col("y.n").alias("n2"),
        )
    )
    out = (
        grid.join(shared, ["g1", "g2"], "left")
        .withColumn("shared", F.coalesce(F.col("shared"), F.lit(0)))
        .withColumn("u", F.col("n1") + F.col("n2") - F.col("shared"))
    )
    # 2e6·shared rides DECIMAL(38,0): a slice holding > ~4.6e12 distinct
    # shingles would abort the BIGINT form under ANSI (the r11-ADVICE
    # overflow class; Spark DIV returns BIGINT for decimal operands, so
    # the cast chain is unchanged); oracle mirrors via HUGEINT
    jaccard = F.expr(
        "CAST((2 * CAST(1000000 AS DECIMAL(38,0)) * shared + u)"
        " DIV (2 * u) AS DOUBLE) "
        "/ CAST(1000000 AS DOUBLE)"
    )
    return out.select(
        "g1", "g2", "n1", "n2", "shared",
        F.when(F.col("u") > 0, jaccard).alias("jaccard"),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int,
    q: int = 4,
    stop_gram_min_df: int | None = None,
) -> DataFrame:
    """All pairs within Levenshtein edit distance ``max_dist`` — exact and
    COMPLETE (no lossy blocking), the record-linkage / metadata-dedup
    primitive the near-dup family lacked (MinHash/SimHash/Jaccard are all
    set-similarity; edit distance is the order-sensitive complement for
    titles, names, short keys). Returns (id_a, id_b, dist) with
    ``id_a < id_b`` and ``dist <= max_dist``. NULL texts are excluded.

    Candidate generation is the positional q-gram COUNT filter of Gravano
    et al., VLDB'01 ("Approximate string joins in a database (almost) for
    free" — public algorithm): if ``ed(a, b) <= d`` then the positional
    q-gram multisets of a and b share at least
    ``T = max(|a|, |b|) - q + 1 - q*d`` elements within position offset
    ``<= d`` (each edit destroys at most q grams and shifts positions by
    at most 1 each). The plan:

    - strings with ``len >= q`` explode to (id, len, pos, gram) rows with
      the gram collapsed to ``xxhash64`` (same in-plan-only exemption from
      the module's md5 contract as :func:`ngram_jaccard_pairs` — counts,
      never hash values, leave the plan);
    - ONE gram-keyed equi self-join (never a cross join; AQE splits hot
      grams) with ``|pos_a - pos_b| <= d``, ``|len_a - len_b| <= d`` and
      ``id_a < id_b`` as join filters, then a map-combined count per pair
      thresholded at T. This covers every qualifying pair whose LONGER
      string has ``len >= q*(d+1)`` (T >= 1 there; the partner always has
      grams because ``|len diff| <= d < q*d`` forces ``len >= q``).
    - pairs where BOTH strings are shorter than ``q*(d+1)`` get a
      length-bucket path: bucket ``len DIV (d+1)``; each string probes its
      own bucket and the next (``|len diff| <= d`` implies bucket distance
      <= 1), pairs are normalized to (least, greatest) and deduped. Within
      a bucket this is all-pairs — bounded by the short-string population
      per ~d-char length band, the same documented worst case as the LSH
      bucket caps.
    - the union of both (disjoint by the greatest-length split) is
      verified with Spark's threshold form ``levenshtein(a, b, d)``
      (early-exit DP, returns -1 above d) after two id-keyed joins back to
      the texts.

    ``stop_gram_min_df``: optionally drop grams occurring in more than
    that many STRINGS from the count join (the hot-gram skew knob at
    100 TB). Soundness is preserved two ways: the per-pair threshold
    weakens to ``T - least(dropped_a, dropped_b)`` (the matched
    correspondence loses at most the smaller side's dropped occurrences),
    and strings left DEGENERATE by the drop (non-stop gram count
    ``<= q*d``, i.e. ``dropped >= len - q + 1 - q*d``) are ALSO routed
    through the bucket path — a pair can evade the count filter only when
    BOTH sides are degenerate (if either side keeps ``> q*d`` non-stop
    grams, ``least(dropped) < T`` so the weakened threshold stays >= 1),
    and both-degenerate pairs meet in their length bucket. Recall stays
    exact — pinned against the unfiltered plan in tests/test_edit_join.py
    on a corpus whose strings are ~90% stop grams. The candidate union is
    deduped because the two paths overlap once degenerate long strings
    enter the buckets.

    100 TB shape: every shuffle is keyed (gram join, pair count, bucket
    join, id verify joins); driver state is zero. Skew: hot grams are the
    one hot key class — AQE skew-join plus the stop-gram knob; the count
    filter itself is what keeps the verify join (the expensive DP) fed
    with candidates instead of the O(n²) grid. The oracle's brute-force
    form stays tractable only through the implied ``|len diff| <= d``
    predicate — at lake scale the oracle class is sampled audits, not a
    full join (same contract as the other near-dup oracles).
    """
    if max_dist < 1:
        raise ValueError(f"edit_distance_pairs: max_dist must be >= 1, got {max_dist}")
    if q < 2:
        raise ValueError(f"edit_distance_pairs: q must be >= 2, got {q}")
    if stop_gram_min_df is not None and stop_gram_min_df < 1:
        raise ValueError(
            f"edit_distance_pairs: stop_gram_min_df must be >= 1, got {stop_gram_min_df}"
        )
    d = int(max_dist)
    l_min = q * (d + 1)

    base = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .where(F.col("t").isNotNull())
        .withColumn("len", F.length("t"))
    )

    # ---- gram path: pairs whose longer string has len >= l_min ----------
    # single-sourced gram definition: the SAME edit_signatures expression
    # the staged/incremental path consumes, so the self-join and the
    # incremental form cannot drift on the (unhashable-to-check) gram
    # hash (marker rows for len < q are dropped — the bucket path below
    # covers those strings)
    grams = edit_signatures(df, id_col, text_col, q=q).where(
        F.col("pos").isNotNull()
    )

    if stop_gram_min_df is not None:
        hot = (
            grams.groupBy("gram")
            .agg(F.count_distinct("id").alias("df_g"))
            .where(F.col("df_g") > stop_gram_min_df)
            .select("gram")
        )
        # occurrences dropped per string — carried into the threshold AND
        # into the degeneracy routing below
        drop_by_id = (
            grams.join(hot, "gram")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("dropped"))
        )
        grams = (
            grams.join(hot, "gram", "left_anti")
            .join(drop_by_id, "id", "left")
            .withColumn("dropped", F.coalesce("dropped", F.lit(0)))
        )
        routed = base.join(drop_by_id, "id", "left").withColumn(
            "dropped", F.coalesce("dropped", F.lit(0))
        )
    else:
        grams = grams.withColumn("dropped", F.lit(0))
        routed = base.withColumn("dropped", F.lit(0))

    a, b = grams.alias("a"), grams.alias("b")
    gram_candidates = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.pos") - F.col("b.pos")) <= d)
            & (F.abs(F.col("a.len") - F.col("b.len")) <= d)
            & (F.greatest(F.col("a.len"), F.col("b.len")) >= l_min),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.len").alias("len_a"),
            F.col("b.len").alias("len_b"),
            F.col("a.dropped").alias("drop_a"),
            F.col("b.dropped").alias("drop_b"),
        )
        .agg(F.count(F.lit(1)).alias("matches"))
        .where(
            F.col("matches")
            >= F.greatest("len_a", "len_b") - F.lit(q - 1) - F.lit(q * d)
            - F.least("drop_a", "drop_b")
        )
        .select("id_a", "id_b")
    )

    # ---- bucket path: strings shorter than l_min, plus strings the
    # stop-gram drop left degenerate (len < l_min is the dropped == 0
    # special case of the same predicate: len - (q-1) - q*d <= 0)
    shorts = routed.where(
        F.col("len") - F.lit(q - 1) - F.lit(q * d) <= F.col("dropped")
    ).select("id", "len", (F.col("len") / (d + 1)).cast("long").alias("bucket"))
    probes = shorts.select(
        "id",
        "len",
        F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("probe"),
    )
    short_candidates = (
        probes.alias("p")
        .join(
            shorts.alias("s"),
            (F.col("p.probe") == F.col("s.bucket"))
            & (F.col("p.id") != F.col("s.id"))
            & (F.abs(F.col("p.len") - F.col("s.len")) <= d),
        )
        .select(
            F.least(F.col("p.id"), F.col("s.id")).alias("id_a"),
            F.greatest(F.col("p.id"), F.col("s.id")).alias("id_b"),
        )
        .distinct()
    )

    # distinct: the two paths overlap when degenerate long strings enter
    # the buckets (and gram candidates can repeat nothing, but the union
    # dedup is one cheap shuffle over the already-filtered candidate set)
    candidates = gram_candidates.unionByName(short_candidates).distinct()

    texts = base.select("id", "t")
    verified = (
        candidates.join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("t", "t_a"), "id_a")
        .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("t", "t_b"), "id_b")
        .withColumn("dist", F.levenshtein("t_a", "t_b", d))
        .where(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )
    return verified


def edit_distance_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int,
    q: int = 4,
    stop_gram_min_df: int | None = None,
) -> DataFrame:
    """End-to-end edit-distance deduplication: :func:`edit_distance_pairs`
    → connected components → keep ONE canonical member (the minimum id)
    per edit-cluster, drop the rest — the record-linkage analogue of
    ``phash_dedup``/``minhash_lsh_dedup``, for title/name/short-key
    corpora where near-duplicates differ by a few character edits.

    Plan shape mirrors the other dedup-keep operators: the pair list is
    already count-filter-pruned, the component step rides the bounded
    driver union-find (distributed min-label propagation beyond), and the
    final drop is a LEFT ANTI join against the loser ids — losers are
    bounded by the duplicated volume, never the corpus. Rows with NULL
    text produce no pairs and always survive.

    Returns the surviving rows of ``df``, all columns intact.
    """
    from chess_lakehouse_spark.operators.graph import connected_components

    pairs = edit_distance_pairs(
        df, id_col, text_col, max_dist, q=q, stop_gram_min_df=stop_gram_min_df
    )
    comps = connected_components(pairs)
    losers = comps.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def edit_signatures(
    df: DataFrame, id_col: str, text_col: str, q: int = 4
) -> DataFrame:
    """The stageable artifact of the edit-distance join: positional q-gram
    rows (id, len, pos, gram) for strings with ``len >= q``, plus ONE
    marker row (pos NULL, gram NULL) per shorter string so the staged
    table carries every document's length (the bucket path needs lengths
    for strings that have no grams). Written once per admitted batch by
    the streaming loop; ``incremental_edit_dups`` joins new-batch grams
    against this table instead of re-gramming the corpus.

    Grams are ``xxhash64`` longs — this table is a Spark-only staged
    artifact (never compared cross-engine), so the compact engine hash is
    fine under the same exemption as the in-plan grams of
    :func:`edit_distance_pairs`; lake bytes are ~8 per character instead
    of q strings."""
    if q < 2:
        raise ValueError(f"edit_signatures: q must be >= 2, got {q}")
    from chess_lakehouse_spark.session import spread

    base = (
        # spread: the positional-gram explode is the heavy map stage and
        # inherits the scan's single fixture-file partition (guide §2.5).
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")), "id")
        .where(F.col("t").isNotNull())
        .withColumn("len", F.length("t"))
    )
    grams = base.where(F.col("len") >= q).select(
        "id",
        "len",
        F.explode(
            F.expr(
                f"transform(sequence(1, len - {q - 1}),"
                f" i -> struct(i AS pos, xxhash64(substring(t, i, {q})) AS gram))"
            )
        ).alias("g"),
    ).select("id", "len", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    markers = base.where(F.col("len") < q).select(
        "id",
        "len",
        F.lit(None).cast("int").alias("pos"),
        F.lit(None).cast("long").alias("gram"),
    )
    return grams.unionByName(markers)


def incremental_edit_dups(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int,
    q: int = 4,
    stop_gram_min_df: int | None = None,
    corpus_gram_df: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance near-dups of a NEW batch against an existing corpus —
    the daily-ingest shape of :func:`edit_distance_pairs` (same count
    filter, same completeness argument, asymmetric): gram cost is paid
    ONLY for the new batch, the count-filter join runs new grams against
    the STAGED signature table (``edit_signatures``, appended per batch),
    and corpus text is touched only for candidate ids (semi-join
    pushdown). Returns (new_id, corpus_id, dist <= max_dist); self-pairs
    (an id present in both inputs — the at-least-once replay shape) are
    dropped as defense in depth alongside the streaming loop's
    current-batch partition filter.

    Completeness mirrors the self-join form with the bucket probes made
    asymmetric: the new side probes buckets {b-1, b, b+1} (the self-join
    covers b-1 via the OTHER side's probe; here only the new side
    probes). The staged parameters (q — baked into the gram hashes) must
    match the loop that staged them; there is no schema-level check
    possible on hashed grams, so the loop owns that contract.

    ``stop_gram_min_df``: drop grams whose CORPUS document frequency
    exceeds the cap from the candidate join — the hot-gram cost control
    that matters here, since join rows grow as batch_occ(g) x
    corpus_occ(g) per gram (measured: the fixed-batch probe falls 18s ->
    ~3s at x1, SCALE.md). The bookkeeping is BATCH-SIDE ONLY and sound
    for ANY stop set: each removed positional match consumes a distinct
    batch-side occurrence of a stop gram, so the matched correspondence
    keeps >= T - dropped_batch(x) non-stop matches regardless of the
    corpus side; the per-pair threshold weakens by exactly that, and
    batch strings left DEGENERATE by the drop (non-stop grams <= q*d)
    reroute through length-bucket probes against ALL staged corpus
    lengths (a pair can evade the weakened count filter only when the
    BATCH string is degenerate — if drop_n(x) < len_x - q + 1 - q*d <= T
    the threshold stays >= 1). Recall stays exact, pytest-pinned. The
    corpus gram-df aggregate is one map-combined pass over the staged
    table per call; pass a precomputed/staged (gram, df) frame via
    ``corpus_gram_df`` to avoid even that at 100 TB."""
    if max_dist < 1:
        raise ValueError(
            f"incremental_edit_dups: max_dist must be >= 1, got {max_dist}"
        )
    d = int(max_dist)
    l_min = q * (d + 1)

    new_sigs = edit_signatures(new_docs, id_col, text_col, q=q)

    ng = new_sigs.where(F.col("pos").isNotNull()).select(
        F.col("id").alias("new_id"),
        F.col("len").alias("len_n"),
        F.col("pos").alias("pos_n"),
        "gram",
    )
    cg = corpus_sigs.where(F.col("pos").isNotNull()).select(
        F.col("id").alias("corpus_id"),
        F.col("len").alias("len_c"),
        F.col("pos").alias("pos_c"),
        "gram",
    )

    if stop_gram_min_df is not None:
        if stop_gram_min_df < 1:
            raise ValueError(
                "incremental_edit_dups: stop_gram_min_df must be >= 1, "
                f"got {stop_gram_min_df}"
            )
        gdf = corpus_gram_df
        if gdf is None:
            gdf = cg.groupBy("gram").agg(
                F.count_distinct("corpus_id").alias("df")
            )
        hot = gdf.where(F.col("df") > stop_gram_min_df).select("gram")
        drop_n = (
            ng.join(hot, "gram")
            .groupBy("new_id")
            .agg(F.count(F.lit(1)).alias("dropped"))
        )
        ng = (
            ng.join(hot, "gram", "left_anti")
            .join(drop_n, "new_id", "left")
            .withColumn("dropped", F.coalesce("dropped", F.lit(0)))
        )
        cg = cg.join(hot, "gram", "left_anti")
    else:
        drop_n = None
        ng = ng.withColumn("dropped", F.lit(0))

    gram_candidates = (
        ng.join(
            cg,
            (ng["gram"] == cg["gram"])
            & (F.col("new_id") != F.col("corpus_id"))
            & (F.abs(F.col("pos_n") - F.col("pos_c")) <= d)
            & (F.abs(F.col("len_n") - F.col("len_c")) <= d)
            & (F.greatest(F.col("len_n"), F.col("len_c")) >= l_min),
        )
        .groupBy("new_id", "corpus_id", "len_n", "len_c", "dropped")
        .agg(F.count(F.lit(1)).alias("matches"))
        .where(
            F.col("matches")
            >= F.greatest("len_n", "len_c") - F.lit(q - 1) - F.lit(q * d)
            - F.col("dropped")
        )
        .select("new_id", "corpus_id")
    )

    def _shorts(sigs, out_id):
        return (
            sigs.select(F.col("id").alias(out_id), "len")
            .distinct()
            .where(F.col("len") < l_min)
            .withColumn("bucket", (F.col("len") / (d + 1)).cast("long"))
        )

    n_short = _shorts(new_sigs, "new_id")
    c_short = _shorts(corpus_sigs, "corpus_id")

    def _bucket_probe(left, right):
        probes = left.select(
            "new_id",
            F.col("len").alias("len_n"),
            F.explode(
                F.array(F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1)
            ).alias("probe"),
        )
        return (
            probes.join(
                right,
                (F.col("probe") == right["bucket"])
                & (F.col("new_id") != F.col("corpus_id"))
                & (F.abs(F.col("len_n") - right["len"]) <= d),
            )
            .select("new_id", "corpus_id")
            .distinct()
        )

    short_candidates = _bucket_probe(n_short, c_short)
    candidates = gram_candidates.unionByName(short_candidates)

    if drop_n is not None:
        # batch strings left degenerate by the stop-gram drop (non-stop
        # grams <= q*d) can evade the weakened count filter entirely —
        # probe them against ALL staged corpus lengths; the corpus-side
        # bucket population within +-d of a degenerate string's length is
        # the documented worst case (the self-join form's analogue
        # reroutes through c_short only because there BOTH sides carry
        # drop counts; here only the batch side does)
        n_deg = (
            new_sigs.select(F.col("id").alias("new_id"), "len")
            .distinct()
            .join(drop_n, "new_id", "left")
            .withColumn("dropped", F.coalesce("dropped", F.lit(0)))
            .where(
                F.col("len") - F.lit(q - 1) - F.lit(q * d) <= F.col("dropped")
            )
            .withColumn("bucket", (F.col("len") / (d + 1)).cast("long"))
            .select("new_id", "len", "bucket")
        )
        c_all = (
            corpus_sigs.select(F.col("id").alias("corpus_id"), "len")
            .distinct()
            .withColumn("bucket", (F.col("len") / (d + 1)).cast("long"))
        )
        candidates = candidates.unionByName(_bucket_probe(n_deg, c_all))

    candidates = candidates.distinct()

    new_texts = new_docs.select(
        F.col(id_col).alias("new_id"), F.col(text_col).alias("t_n")
    ).where(F.col("t_n").isNotNull())
    cand_corpus = corpus_docs.join(
        candidates.select(F.col("corpus_id").alias(id_col)).distinct(),
        id_col,
        "semi",
    ).select(F.col(id_col).alias("corpus_id"), F.col(text_col).alias("t_c"))
    return (
        candidates.join(new_texts, "new_id")
        .join(cand_corpus, "corpus_id")
        .withColumn("dist", F.levenshtein("t_n", "t_c", d))
        .where(F.col("dist") >= 0)
        .select("new_id", "corpus_id", F.col("dist").cast("long").alias("dist"))
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int,
    q: int = 4,
    stop_gram_min_df: int | None = None,
) -> DataFrame:
    """Two-table fuzzy join on edit distance — the record-linkage form
    (match a scraped title list against a catalog, a new dump against a
    registry): every (left, right) pair within ``max_dist``, as
    (new_id, corpus_id, dist) with left ids in ``new_id``. A thin
    composition: gram the right side once (:func:`edit_signatures`) and
    run the asymmetric count-filter join (:func:`incremental_edit_dups`)
    — for repeated probing of the same right side, stage the signatures
    yourself and call ``incremental_edit_dups`` directly so the gram pass
    isn't repaid per call. Ids sharing a value across the two inputs are
    treated as the same record and excluded (the self-pair guard)."""
    return incremental_edit_dups(
        left,
        edit_signatures(right, id_col, text_col, q=q),
        right,
        id_col,
        text_col,
        max_dist,
        q=q,
        stop_gram_min_df=stop_gram_min_df,
    )


def exact_jaccard_pairs_ppm(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold_ppm: int = 500_000,
    max_pairs: int | None = None,
    sample_rate: float | None = None,
    sample_seed: int = 0,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """GROUND-TRUTH near-dup pairs: every unordered pair (id_a < id_b)
    whose EXACT word-k-shingle Jaccard reaches ``threshold_ppm``
    (integer millionths, floor division — fully deterministic, no float
    round anywhere). Returns (id_a, id_b, jaccard_ppm).

    Blocking is the shingle inverted index itself (:func:`cooccur_pairs`
    on the shingle key, no bucket cap): any pair with Jaccard > 0 shares
    at least one shingle, so the candidate set is LOSSLESS — this is the
    exact side, so unlike the LSH path nothing may be dropped. The pair
    expansion already emits one row per SHARED SHINGLE per pair (the
    shingles are distinct per doc), so the exact intersection size is a
    single map-combined count over the expansion — no re-join of the
    pair set back against the shingle frame (measured 13.6s → ~4s at
    sf0.1 x1 vs the candidate-join formulation). Cost is sum over
    shingles of |posting|^2/2; that makes this an AUDIT-side operator:
    at 100 TB you run it on a sample (or a stratum) to measure the
    production LSH path's recall (:func:`lsh_recall_report`), never on
    the full corpus. The integer ppm rides DECIMAL(38,0) so shingle
    counts near the BIGINT/1e6 cliff cannot abort under ANSI.

    The "run it on a sample" note is ENFORCEABLE, not just advisory
    (pair expansion is genuinely super-linear in duplicated corpora —
    measured 2.9x cost at x8 corpus scale, SCALE.md):

    - ``sample_rate``: deterministic doc-level hash sample
      (:func:`~chess_lakehouse_spark.operators.sampling.hash_sample`)
      applied BEFORE shingling — the sampled stratum's ground truth
      stays exact (both docs of a pair survive together or not at all;
      pairs survive at ~rate², the standard pair-sampling discount),
      and samples at different rates are nested, so staged scale-ups
      compare.
    - ``max_pairs``: a hard pair-expansion budget. When set, one extra
      map-combined aggregation over the shingle postings measures the
      EXACT expansion size sum(C(|posting|, 2)) up front and raises
      ``ValueError`` — loudly, before any pair is materialized — if it
      exceeds the budget, naming the measured size and the sample rate
      that would fit. The guard job costs one shingle scan (cheap
      relative to the expansion it refuses); the shingle subtree is
      recomputed by the main job, the documented price of an opt-in
      guard without an implicit persist.
    - ``shingles``: a caller-supplied (id, shingle) frame — MUST be
      exactly ``word_shingles(df, id_col, text_col, k=k)`` (possibly
      persisted); lets an audit that also runs the LSH path share one
      shingle computation across both sides (r16: q_lsh_recall). When
      given, ``sample_rate`` must already be applied by the caller.
    """
    if sample_rate is not None:
        from chess_lakehouse_spark.operators.sampling import hash_sample

        df = hash_sample(df, id_col, sample_rate, seed=sample_seed)
    sh = shingles if shingles is not None else word_shingles(df, id_col, text_col, k=k)
    if max_pairs is not None:
        if max_pairs < 0:
            raise ValueError(
                f"exact_jaccard_pairs_ppm: max_pairs must be >= 0, got {max_pairs}"
            )
        est_row = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.sum(
                    F.expr("(CAST(n AS DECIMAL(38,0)) * (n - 1)) div 2")
                ).alias("p")
            )
            .collect()[0]
        )
        est = int(est_row["p"] or 0)
        if est > max_pairs:
            hint = (max_pairs / est) ** 0.5 * (sample_rate or 1.0)
            raise ValueError(
                f"exact_jaccard_pairs_ppm: the shingle-posting pair "
                f"expansion is {est} pairs, over the max_pairs budget of "
                f"{max_pairs} — run the audit on a sample "
                f"(sample_rate~={hint:.4f} would fit; pairs scale ~rate²) "
                f"or raise the budget"
            )
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cooccur_pairs(sh, ["shingle"], id_col, max_bucket_size=None)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jppm = F.expr(
        "CAST((CAST(n_common AS DECIMAL(38,0)) * 1000000)"
        " div (n_a + n_b - n_common) AS BIGINT)"
    )
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select("id_a", "id_b", jppm.alias("jaccard_ppm"))
        .where(F.col("jaccard_ppm") >= F.lit(int(threshold_ppm)))
    )


def lsh_recall_report(
    exact_pairs: DataFrame,
    found_pairs: DataFrame,
    bucket_ppm: int = 100_000,
) -> DataFrame:
    """The measured LSH S-curve: recall of a candidate-generation path
    against ground truth, AS A FUNCTION OF true similarity — the audit
    that tells you whether your band/row geometry actually catches the
    similarity range your dedup threshold targets (banding recall rises
    steeply with Jaccard; the interesting number is recall just above
    the threshold, which a single aggregate recall hides).

    ``exact_pairs`` carries (id_a, id_b, jaccard_ppm) ground truth
    (:func:`exact_jaccard_pairs_ppm`); ``found_pairs`` carries the pairs
    the production path emitted (e.g. :func:`minhash_lsh_dedup`). Output
    one row per ``bucket_ppm``-wide similarity bucket: (bucket_lo_ppm,
    n_exact, n_found, recall_ppm) — all exact integers; found pairs
    outside the ground-truth set are ignored (they answer precision, a
    different audit). The join is on pair identity only; |exact| rows,
    never corpus rows.

    Pair orientation is normalized on BOTH inputs (least/greatest over
    (id_a, id_b)) before the join: a found frame carrying (id_a > id_b)
    rows — trivially producible by a caller that built pairs the other
    way around — would otherwise score every such pair as missed,
    silently understating recall with no error."""
    if bucket_ppm < 1:
        raise ValueError(f"lsh_recall_report: bucket_ppm must be >= 1, got {bucket_ppm}")

    def _oriented(pairs: DataFrame, *extra: str) -> DataFrame:
        return pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            *extra,
        )

    f = (
        _oriented(found_pairs)
        .distinct()
        .withColumn("__found", F.lit(1).cast("long"))
    )
    joined = _oriented(exact_pairs, "jaccard_ppm").join(f, ["id_a", "id_b"], "left")
    return (
        joined.groupBy(
            F.expr(f"(jaccard_ppm div {int(bucket_ppm)}) * {int(bucket_ppm)}").alias(
                "bucket_lo_ppm"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("__found"), F.lit(0))).cast("long").alias("n_found"),
        )
        .select(
            "bucket_lo_ppm",
            "n_exact",
            "n_found",
            F.expr(
                "CAST((CAST(n_found AS DECIMAL(38,0)) * 1000000)"
                " div n_exact AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )
