"""Portable Bloom-filter membership gate (Bloom 1970).

The 100 TB pattern this serves: a blocklist / already-seen set that is
too large to broadcast raw (billions of keys) but whose MEMBERSHIP test
must run map-side against a huge corpus without a shuffle join. A Bloom
filter compresses the set to ``m`` bits with a bounded false-positive
rate and NO false negatives; the bitmap broadcasts as ONE row, and the
gate is a pure column expression — zero shuffle, zero Python, rides the
scan.

Unlike Spark's built-in ``bloom_filter_agg``/``might_contain`` (whose
bit layout is engine-private), this filter's bit positions come from the
repo's portable md5 hash chain (``operators/dedup.py:md5_hash64`` — the
same ``conv(substr(md5(x),1,15),16,10)`` == DuckDB
``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` contract every sampling /
dedup membership decision already rests on), so the EXACT bit pattern —
including which non-members false-positive — is reproducible in ANSI SQL
and therefore oracle-checkable. Words are 63 bits wide (bit index 0..62)
so no shift ever touches the sign bit, whose overflow semantics differ
across engines.

Determinism: position ``i`` of key ``x`` is ``md5_hash64(i || ':' || x)
% m_bits`` — no seed, no RNG, no partition dependence.

Sizing (standard Bloom math): for ``n`` keys and target FP rate ``p``,
``m = -n ln p / (ln 2)^2`` and ``k = (m/n) ln 2``. This module's
single-array-row layout is capped at m = 2^31 bits (a ~268 MB broadcast
row) — about 180M keys at 1% FP, or 450M at 10%; a larger set needs the
word-TABLE layout (keys join their word index against the (widx, word)
frame instead of indexing one array row) at the cost of one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chess_lakehouse_spark.operators.dedup import md5_hash64
from chess_lakehouse_spark.operators.publish import swap_publish

#: Bits used per bitmap word. 63 (not 64) so ``1 << bit`` never reaches
#: the sign bit — Spark and DuckDB agree on every shift this emits.
WORD_BITS = 63


def _positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions of a key — the portable md5 chain, i-prefixed."""
    s = key.cast("string")
    return [
        md5_hash64(F.concat(F.lit(f"{i}:"), s)) % F.lit(m_bits).cast("long")
        for i in range(k)
    ]


def _validate(m_bits: int, k: int) -> None:
    # Upper bound is honest about THIS layout: the bitmap lives as one
    # array<long> row (2^31 bits = a 260 MB row — the practical ceiling
    # for a single broadcast row). Bigger filters need the word-TABLE
    # layout (join on word index) instead of the single-row array.
    if not WORD_BITS <= m_bits <= 1 << 31:
        raise ValueError(
            f"build_bloom: m_bits must be in [{WORD_BITS}, 2^31], got {m_bits}"
        )
    if not 1 <= k <= 16:
        raise ValueError(f"build_bloom: k must be in [1, 16], got {k}")


#: Hard ceiling for the word-TABLE layout: the word index is an INT32
#: (``widx`` casts to int), so ``m_bits div 63`` must fit in 2^31 words
#: — 63 * 2^31 bits ≈ 1.35e11 (a ~16.9 GB sparse bitmap, ~9.4e10 keys
#: at 1% FP). Past the cap the ``cast('int')`` overflows: a job abort
#: under ANSI, silent bit collisions without it — so it is validated
#: loudly at both table-layout entry points.
TABLE_MAX_BITS = WORD_BITS * (1 << 31)


def _validate_table(m_bits: int, k: int, op: str) -> None:
    if not 1 <= k <= 16:
        raise ValueError(f"{op}: k must be in [1, 16], got {k}")
    if not WORD_BITS <= m_bits <= TABLE_MAX_BITS:
        raise ValueError(
            f"{op}: m_bits must be in [{WORD_BITS}, 63*2^31], got {m_bits}"
        )


def build_bloom(
    df: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 7
) -> DataFrame:
    """Build the bitmap: ONE row ``(words array<long>, m_bits long,
    k int, n_keys long)`` with ``words[w]`` holding bits
    ``w*63 .. w*63+62`` of the filter.

    Plan: the shared :func:`build_bloom_table` word aggregation (ONE
    map-combined ``groupBy`` on the word index — ≤ m/63 groups regardless
    of key count, hot words combine map-side) → one bounded
    ``map_from_entries`` assembly into the single bitmap row. NULL keys
    are excluded (a NULL is not a set member). Cost is one aggregation
    over k·|keys| rows; the corpus is never touched.

    ``n_keys`` counts non-null key INSTANCES, not distinct keys — an
    upper bound on distinct keys (duplicate input keys double-count; the
    bits are exact either way, a duplicate just re-sets set bits). Kept
    as an instance count deliberately so it folds additively through
    :func:`merge_blooms` / :func:`append_bloom` without a distinct pass;
    FP-rate estimates derived from it are therefore conservative
    (over-estimate) under duplicate-heavy input."""
    _validate(m_bits, k)
    n_words = -(-m_bits // WORD_BITS)
    words = build_bloom_table(df, key_col, m_bits, k)
    n_keys = (
        df.select(F.col(key_col).cast("string").alias("__key"))
        .where(F.col("__key").isNotNull())
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    )
    return (
        words.agg(
            F.map_from_entries(
                F.collect_list(F.struct("widx", "word"))
            ).alias("__mp")
        )
        .crossJoin(F.broadcast(n_keys))
        .select(
            F.expr(
                f"transform(sequence(0, {n_words - 1}), "
                f"i -> coalesce(element_at(__mp, i), CAST(0 AS LONG)))"
            ).alias("words"),
            F.lit(m_bits).cast("long").alias("m_bits"),
            F.lit(k).cast("int").alias("k"),
            "n_keys",
        )
    )


def build_bloom_table(
    df: DataFrame, key_col: str, m_bits: int, k: int = 7
) -> DataFrame:
    """The word-TABLE layout for filters past the single-row cap: returns
    the sparse ``(widx int, word long)`` frame (absent words are zero) —
    no assembly into one row, so ``m_bits`` is bounded only by storage.
    Same md5 bit math as :func:`build_bloom`; gate with
    :func:`bloom_might_contain_table`. One map-combined groupBy on the
    word index, ≤ m/63 groups."""
    _validate_table(m_bits, k, "build_bloom_table")
    keys = (
        df.select(F.col(key_col).cast("string").alias("__key"))
        .where(F.col("__key").isNotNull())
    )
    pos = keys.select(
        F.explode(F.array(*_positions(F.col("__key"), m_bits, k))).alias("p")
    )
    return (
        pos.select(
            F.expr(f"p div {WORD_BITS}").cast("int").alias("widx"),
            (F.col("p") % WORD_BITS).cast("int").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS LONG), bit))").alias("word"))
    )


def bloom_might_contain_table(
    df: DataFrame,
    key_col: str,
    id_col: str,
    words: DataFrame,
    m_bits: int,
    k: int = 7,
    out_col: str = "might_contain",
) -> DataFrame:
    """Gate through the word-TABLE layout: each key's k positions join
    the sparse (widx, word) frame and a row passes when ALL k bits are
    set — identical verdicts to the array form (pinned in tests), at the
    cost of ONE shuffle (the per-row k-position explode grouped back on
    ``id_col``, map-combined). Use when the bitmap outgrows the ~268 MB
    single-row cap; below it, :func:`bloom_might_contain` is the
    zero-shuffle plan. ``id_col`` must be unique per row; NULL keys test
    false. Returns (id_col, key_col, out_col)."""
    _validate_table(m_bits, k, "bloom_might_contain_table")
    key = F.col(key_col)
    pos = df.select(
        id_col,
        key_col,
        F.explode(F.array(*_positions(key, m_bits, k))).alias("p"),
    ).select(
        id_col,
        key_col,
        F.expr(f"p div {WORD_BITS}").cast("int").alias("widx"),
        (F.col("p") % WORD_BITS).cast("int").alias("bit"),
    )
    hit = F.coalesce(
        F.expr("(shiftright(word, bit) & 1) = 1"), F.lit(False)
    )
    return (
        pos.join(words, "widx", "left")
        .select(id_col, key_col, hit.cast("int").alias("__b"))
        .groupBy(id_col, key_col)
        .agg((F.min("__b") == 1).alias(out_col))
        .withColumn(
            out_col,
            F.when(F.col(key_col).isNull(), F.lit(False)).otherwise(
                F.col(out_col)
            ),
        )
    )


def merge_blooms(*blooms: DataFrame) -> DataFrame:
    """OR bitmaps built with IDENTICAL (m_bits, k) into one filter — the
    property that makes Bloom filters the right seen-set for incremental
    ingest: per-batch filters build independently (even on different
    clusters/days) and fold with pure bitwise OR, no rebuild. Mismatched
    dimensions raise loudly (ORing differently-hashed bitmaps is silent
    corruption). ``n_keys`` sums the folded key INSTANCES — an upper
    bound on distinct keys (cross-batch duplicates double-count; the
    bits are exact either way). One posexplode + a ≤ m/63-group
    aggregation; never touches any corpus."""
    from functools import reduce

    if not blooms:
        raise ValueError("merge_blooms: at least one bloom required")
    u = reduce(lambda a, b: a.unionByName(b), blooms)
    return _merge_bloom_rows(u, "merge_blooms")


def _merge_bloom_rows(u: DataFrame, op: str) -> DataFrame:
    """OR a frame of bloom ROWS (words, m_bits, k, n_keys) into one —
    shared by :func:`merge_blooms` and the batch-partitioned state
    readers. Returns None-shaped nothing; raises on mixed dimensions."""
    metas = u.select("m_bits", "k").distinct().collect()  # bounded: |rows|
    if len(metas) != 1:
        raise ValueError(
            f"{op}: mismatched dimensions {sorted(map(tuple, metas))}"
        )
    m_bits, k = int(metas[0]["m_bits"]), int(metas[0]["k"])
    merged = (
        u.select(
            F.posexplode("words").alias("i", "w"),
        )
        .groupBy("i")
        .agg(F.expr("bit_or(w)").alias("w"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, w))), s -> s.w)"
            ).alias("words")
        )
    )
    n_keys = u.agg(F.sum("n_keys").cast("long").alias("n_keys"))
    return merged.crossJoin(F.broadcast(n_keys)).select(
        "words",
        F.lit(m_bits).cast("long").alias("m_bits"),
        F.lit(k).cast("int").alias("k"),
        "n_keys",
    )


def write_bloom_batch(bloom: DataFrame, state_dir: str, batch_id) -> None:
    """Stage one batch's bitmap as its own ``batch_id=<id>`` partition —
    the replay-safe state layout: a crash-replayed batch republishes its
    own partition byte-identically, and readers can exclude the in-flight
    batch (bits merged into one bitmap could never be un-ORed).

    Publish is the package's rename-aside swap (``publish.swap_publish``),
    not an in-place overwrite: the bitmap writes to a dot-prefixed staging
    sibling (hidden from Spark's file listing, so a concurrent
    :func:`read_bloom_merged` never sees it) and renames into place — a
    crash mid-write leaves only the hidden staging dir plus at worst a
    hidden ``.batch_id=<id>.old`` rollback copy holding the byte-identical
    previous replay, never a half-written live partition."""
    swap_publish(
        bloom.sparkSession, f"{state_dir.rstrip('/')}/batch_id={batch_id}",
        bloom.coalesce(1).write.mode("overwrite").parquet, "write_bloom_batch",
    )


def read_bloom_merged(
    spark, state_dir: str, exclude_batch=None
) -> DataFrame | None:
    """OR every staged batch bitmap (optionally excluding one batch id —
    the streaming replay-hole guard) into a single filter row; None when
    no state (or none left after the exclusion). O(#batches) rows of
    m/63 longs — compact state regardless of how many keys ever passed."""
    df = spark.read.parquet(state_dir)
    if exclude_batch is not None:
        df = df.where(
            F.col("batch_id").cast("string") != F.lit(str(exclude_batch))
        )
    rows = df.select("words", "m_bits", "k", "n_keys")
    if rows.isEmpty():
        return None
    return _merge_bloom_rows(rows, "read_bloom_merged")


def compact_bloom_state(spark, state_dir: str) -> None:
    """Fold every staged batch bitmap into one ``batch_id=base``
    partition — bounded state forever, crash-safe via the rename-aside
    swap (mirrors ``compact_rollup`` / ``compact_stream_state``). The
    merged bits are identical to the multi-batch OR, so gating before
    and after compaction agrees exactly."""
    merged = _merge_bloom_rows(
        spark.read.parquet(state_dir).select("words", "m_bits", "k", "n_keys"),
        "compact_bloom_state",
    )
    swap_publish(
        spark, state_dir,
        lambda tmp: merged.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/batch_id=base"),
        "compact_bloom_state",
    )


def append_bloom(delta_df: DataFrame, key_col: str, bloom: DataFrame) -> DataFrame:
    """Fold NEW keys into an existing filter: build a delta bitmap with
    the existing filter's own (m_bits, k) — read from its row, so append
    and build cannot disagree — and OR the two. O(k·|delta|); the prior
    key set is never re-read."""
    meta = bloom.select("m_bits", "k").first()
    if meta is None:
        raise ValueError("append_bloom: empty bloom frame")
    delta = build_bloom(
        delta_df, key_col, m_bits=int(meta["m_bits"]), k=int(meta["k"])
    )
    return merge_blooms(bloom, delta)


def bloom_might_contain(
    df: DataFrame, key_col: str, bloom: DataFrame, out_col: str = "might_contain"
) -> DataFrame:
    """Gate a corpus by the bitmap: the input columns plus ``out_col``
    (boolean) — true iff all k bits of the key are set. NO false
    negatives (every built key tests true); false positives at the
    filter's designed rate, IDENTICALLY in Spark and the SQL oracle
    (same md5 bit math). NULL keys test false.

    Plan: the 1-row bitmap crossJoins in as a broadcast
    (BroadcastNestedLoopJoin over one build row), and the k bit tests
    are plain column expressions on the array — map-side, zero shuffle,
    whole-stage codegen. m/k are read from the bitmap row (one bounded
    1-row driver fetch) so gate and build cannot disagree."""
    meta = bloom.select("m_bits", "k").first()
    if meta is None:
        raise ValueError("bloom_might_contain: empty bloom frame")
    m_bits, k = int(meta["m_bits"]), int(meta["k"])
    _validate(m_bits, k)
    # Reserved-name clash check (the global_sort_rank convention): the
    # staging columns and out_col would silently OVERWRITE same-named
    # input columns through withColumn/crossJoin — raise loudly instead.
    reserved = {"__bloom_words", out_col, *(f"__bp{i}" for i in range(k))}
    clashes = sorted(reserved & set(df.columns))
    if clashes:
        raise ValueError(
            f"bloom_might_contain: input columns clash with reserved "
            f"staging names {clashes}; rename them or pick another out_col"
        )
    key = F.col(key_col)
    staged = df.crossJoin(
        F.broadcast(bloom.select(F.col("words").alias("__bloom_words")))
    )
    pos_names = []
    for i, p in enumerate(_positions(key, m_bits, k)):
        staged = staged.withColumn(f"__bp{i}", p)
        pos_names.append(f"__bp{i}")
    cond = None
    for name in pos_names:
        # word index via integer div (SQL form — the pyspark shift
        # wrappers only take literal shift amounts)
        t = F.expr(
            f"(shiftright(element_at(__bloom_words, "
            f"CAST({name} div {WORD_BITS} AS INT) + 1), "
            f"CAST({name} % {WORD_BITS} AS INT)) & 1) = 1"
        )
        cond = t if cond is None else (cond & t)
    return (
        staged.withColumn(
            out_col, F.when(key.isNull(), F.lit(False)).otherwise(cond)
        )
        .drop("__bloom_words", *pos_names)
    )
