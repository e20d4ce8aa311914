"""Text-analysis column functions for training-data pipelines.

North-star extension (SURVEY.md §7 step 8): language-ID (marker-token
heuristic), quality scoring (length/stopword/word-shape ratios), token
counting (whitespace + BPE-ish subword estimate), and winnowing document
fingerprints. Everything is pure Column expressions (WholeStageCodegen,
zero Python in the executor path) and every float output is either a ratio
of integers (bit-identical across engines) or rounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chess_lakehouse_spark.session import FrameScope, local_df, spread

from chess_lakehouse_spark.operators.dedup import md5_hash64

#: Small marker-token lists per language for the n-gram/stopword heuristic.
#: Deterministic and mirrored literally into the oracle SQL.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "ist", "nicht"),
    "en": ("the", "and", "of", "is", "a"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "est", "les"),
}


#: Whitespace as an EXPLICIT character class, not ``\s``: Java regex
#: ``\s`` is ``[ \t\n\x0B\f\r]`` but RE2 (DuckDB, Go, the oracle side)
#: defines ``\s`` as ``[ \t\n\f\r]`` — NO vertical tab — so a corpus
#: containing U+000B tokenizes differently between a query and its
#: oracle (found by the cross-engine codepoint sweep in
#: tests/test_tokenization_parity.py, which pins that the divergence set
#: of ``\s`` is exactly {U+000B} and that this class agrees everywhere).
#: The class below parses identically in both engines.
WS_SPLIT = r"[ \t\n\r\f\x0B]+"

#: The same pattern as it must appear inside a Spark SQL string literal
#: (backslashes doubled once more for the SQL parser's escape pass).
WS_SPLIT_SQL = r"[ \\t\\n\\r\\f\\x0B]+"


def ws_tokens(text: Column) -> Column:
    return F.split(text, WS_SPLIT)


def token_lengths_sum(toks: Column) -> Column:
    """Sequential int fold of token lengths (order-independent: ints)."""
    return F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    )


def stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def quality_score(text: Column) -> Column:
    """The composite quality score as a reusable column expression —
    identical math whether applied batch (`quality_metrics`) or on a
    stream (`corpus_ingest_clean`).

    score = 0.4·ln(1+n_chars) + 0.3·stopword_ratio + 0.3·min(avg_len/10, 1)
    — all inputs are exact int ratios, ln/± are IEEE-identical, rounded at
    the end. Narrow (per-row) — no shuffle at any scale.
    """
    toks = ws_tokens(text)
    n_tokens = F.size(toks)
    avg_len = token_lengths_sum(toks).cast("double") / n_tokens
    stop_ratio = stopword_hits(toks, LANG_MARKERS["en"]).cast("double") / n_tokens
    return F.round(
        0.4 * F.log(F.lit(1.0) + F.length(text).cast("double"))
        + 0.3 * stop_ratio
        + 0.3 * F.least(avg_len / 10.0, F.lit(1.0)),
        6,
    )


def quality_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality metrics + the composite `quality_score`."""
    from chess_lakehouse_spark.session import spread

    t = F.col(text_col)
    toks = ws_tokens(t)
    n_tokens = F.size(toks)
    sum_len = token_lengths_sum(toks)
    stop = stopword_hits(toks, LANG_MARKERS["en"])
    avg_len = sum_len.cast("double") / n_tokens
    stop_ratio = stop.cast("double") / n_tokens
    return spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(avg_len, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        quality_score(t).alias("quality_score"),
    )


def langid_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-token language-ID: score per language = marker hits / n_tokens;
    predicted = argmax with alphabetical tie-break (deterministic). Narrow."""
    toks = ws_tokens(F.col(text_col))
    n_tokens = F.size(toks)
    score_cols = {
        lang: F.round(stopword_hits(toks, words).cast("double") / n_tokens, 6)
        for lang, words in sorted(LANG_MARKERS.items())
    }
    # argmax with (score DESC, lang ASC) tie-break via greatest over structs:
    # encode as struct(score, negated-rank-by-lang) — simpler: iterate.
    pred = None
    best = None
    for lang in sorted(LANG_MARKERS):  # alphabetical ⇒ first wins ties via strict >
        s = score_cols[lang]
        if pred is None:
            pred, best = F.lit(lang), s
        else:
            pred = F.when(s > best, F.lit(lang)).otherwise(pred)
            best = F.when(s > best, s).otherwise(best)
    return df.select(
        F.col(id_col),
        *[score_cols[lang].alias(f"score_{lang}") for lang in sorted(LANG_MARKERS)],
        pred.alias("pred_lang"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate:
    ceil(len(token)/4) summed over tokens (≈ byte-pair units for 4-char
    average merges). Integer arithmetic only — exact. Narrow."""
    toks = ws_tokens(F.col(text_col))
    subwords = F.expr(
        f"aggregate(transform(split({text_col}, '{WS_SPLIT_SQL}'), "
        "t -> CAST((length(t) + 3) div 4 AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_ws_tokens"),
        subwords.alias("n_subword_tokens"),
    )


def tfidf(df: DataFrame, id_col: str, text_col: str, min_tf: int = 2) -> DataFrame:
    """Per-(doc, term) TF-IDF over whitespace tokens:
    ``tf · ln(N / df)`` with raw counts (exact integer inputs to ln/division,
    so scores are bit-identical across engines), rounded to 6 decimals.

    Two map-side-combined shuffles (term counts by (doc, term); document
    frequency by term) and one keyed join of the per-term idf. The df table
    is vocabulary-sized — far below the corpus, but NOT bounded on
    web-scale noisy text, so no forced broadcast hint: AQE broadcasts it
    when its runtime size fits, and falls back to a shuffled hash join when
    a 100 TB crawl's vocabulary doesn't (a forced hint would override the
    size threshold and OOM instead). ``min_tf`` prunes the
    long unigram tail before the join (output-size control at 100 TB).

    ``N`` (distinct doc count) is part of the SAME plan: a scalar subquery
    (``DataFrame.scalar()``) over the corpus, the DataFrame-API analog of
    the oracle's ``CROSS JOIN n`` (suite/llm.py). Building this frame
    launches zero jobs and one action computes everything — no separate
    full-corpus ``count()`` pre-scan per invocation (a full extra corpus
    read at 100 TB).
    """
    from chess_lakehouse_spark.session import spread

    terms = spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("n")).scalar()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.where(F.col("tf") >= min_tf)
        .join(dfreq, "term")
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.col("df"),
            F.round(
                F.col("tf") * F.log(n_docs.cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unigram-LM negative log-likelihood per document — the CCNet/KenLM-style
    in-distribution quality score (Wenzek et al. 2020, public): fit p(token)
    on the corpus itself (count / total), score each doc by the mean
    ``-ln p(token)``. Outliers (boilerplate, non-language noise, wrong-domain
    text) score high and get filtered before pretraining.

    Plan: one explode + map-combined term-count groupBy (vocabulary-sized
    result), the total-token count as a 1-row aggregate of that frame
    cross-joined back onto it (no separate corpus-scanning action per
    invocation), a keyed join of per-term log-probs back onto the token
    stream (AQE broadcasts the vocabulary table when its runtime size
    fits; on web-scale noisy text it is NOT bounded, so no forced hint —
    same rationale as ``bigram_logprob``), then one per-doc groupBy. Two
    shuffles, both map-combined — the same shape as ``tfidf``, linear at
    100 TB.

    Determinism: per-term logp = ROUND(ln(ctf / total), 6) over exact
    integer inputs; the per-doc sum goes through DECIMAL(18,6) so summation
    order cannot perturb bits (suite-wide contract). Returns
    (id, n_tokens, nll) with nll rounded to 6 decimals.
    """
    terms = df.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    ctf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    logp = ctf.crossJoin(ctf.agg(F.sum("ctf").alias("__t"))).select(
        "term",
        F.round(
            F.log(F.col("ctf").cast("double") / F.col("__t").cast("double")), 6
        ).alias("lp"),
    )
    from chess_lakehouse_spark.functions.exact import mean6, sum6_long

    return (
        terms.join(logp, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            sum6_long(F.col("lp")).alias("_s6"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            # exact integer mean rounding (functions/exact.py) — the
            # double-quotient ROUND diverges between engines on 7th-decimal
            # ties; half-away is odd-symmetric so negate after
            (-mean6("_s6", "n_tokens")).alias("nll"),
        )
    )


def build_lm(df: DataFrame, text_col: str, lm_dir: str) -> None:
    """Stage a unigram LM to the lake — the CCNet shape (Wenzek et al.
    2020): the LM is trained ONCE on a reference corpus and then scores
    every candidate batch/stream without touching the training corpus
    again (:func:`unigram_logprob` is the self-scored form; this is the
    train/serve split). One corpus pass writes:

    - ``terms/``  (term, ctf) — vocabulary-sized exact counts;
    - ``stats/``  one row (total tokens, vocab size).

    Counts, not probabilities, are staged: every downstream score stays
    an exact-integer rational until the final ROUND(ln(·), 6), the
    engine-portability contract all LM scoring here rides.
    """
    terms = df.select(F.explode(ws_tokens(F.col(text_col))).alias("term")).where(
        F.col("term") != ""
    )
    ctf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    ctf.write.mode("overwrite").parquet(f"{lm_dir}/terms")
    staged = terms.sparkSession.read.parquet(f"{lm_dir}/terms")
    staged.agg(
        F.sum("ctf").alias("total"), F.count(F.lit(1)).alias("vocab")
    ).write.mode("overwrite").parquet(f"{lm_dir}/stats")


def append_lm(delta_df: DataFrame, text_col: str, lm_dir: str) -> None:
    """Fold a corpus DELTA into a staged :func:`build_lm` model — unigram
    counts are mergeable, so the update costs one delta pass plus one
    vocabulary-sized merge, never a full-corpus retrain (the daily-ingest
    counterpart of the staged-LM lifecycle). The merged terms table is
    written aside and atomically swapped in (the crash-safe
    rename-aside swap of operators/publish.py:swap_publish); stats
    rebuild from the merged table. Exact equivalence with a full rebuild
    — ``build_lm(A ∪ B) == build_lm(A); append_lm(B)`` — is pytest-pinned
    (integer counts merge losslessly)."""
    from chess_lakehouse_spark.operators.publish import swap_publish

    spark = delta_df.sparkSession
    delta_terms = delta_df.select(
        F.explode(ws_tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    delta_ctf = delta_terms.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    merged = (
        spark.read.parquet(f"{lm_dir}/terms")
        .unionByName(delta_ctf)
        .groupBy("term")
        .agg(F.sum("ctf").alias("ctf"))
    )
    swap_publish(
        spark, f"{lm_dir}/terms", merged.write.mode("overwrite").parquet, "append_lm"
    )
    spark.read.parquet(f"{lm_dir}/terms").agg(
        F.sum("ctf").alias("total"), F.count(F.lit(1)).alias("vocab")
    ).write.mode("overwrite").parquet(f"{lm_dir}/stats")


def lm_score_from(
    spark,
    lm_dir: str,
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Score documents against a staged :func:`build_lm` model — zero
    training-corpus access, and (unlike the self-scored
    :func:`unigram_logprob`, where every token is in-vocabulary by
    construction) defined on OUT-OF-VOCABULARY tokens via add-1/2
    smoothing in exact-integer rational form:

        p(w) = (2·c(w) + 1) / (2·total + V)      (c(w) = 0 when unseen)

    so per-term ``lp = ROUND(ln(int/int), 6)`` stays engine-identical and
    the per-doc mean rides the integer-exact rounding contract
    (functions/exact.py). The token stream LEFT-joins the staged
    vocabulary (keyed; AQE broadcasts it when it fits — no forced hint,
    web-scale vocabularies are unbounded) — unseen tokens keep flowing
    with c=0 instead of silently dropping.

    Returns (id, n_tokens, n_oov, nll); high nll = out-of-distribution,
    the CCNet filtering signal.
    """
    from chess_lakehouse_spark.functions.exact import mean6, sum6_long

    terms_tbl = spark.read.parquet(f"{lm_dir}/terms")
    stats = spark.read.parquet(f"{lm_dir}/stats")
    # The staged stats table is ONE row by construction (build_lm writes a
    # single global aggregate): read it on the driver and inline the two
    # integers as plan literals — the bounded-literal-probe discipline
    # (same r16 fix as bm25_from_index; the .scalar() form planned one
    # subquery job per reference).
    stats_row = stats.head()
    total = F.lit(int(stats_row["total"])).cast("bigint")
    vocab = F.lit(int(stats_row["vocab"])).cast("bigint")
    doc_terms = df.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    lp = F.round(
        F.log(
            (2 * F.coalesce(F.col("ctf"), F.lit(0)) + 1).cast("double")
            / (2 * total + vocab).cast("double")
        ),
        6,
    )
    return (
        doc_terms.join(terms_tbl, "term", "left")
        .select(id_col, F.col("ctf"), lp.alias("lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("ctf").isNull()).alias("n_oov"),
            sum6_long(F.col("lp")).alias("_s6"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "n_oov",
            (-mean6("_s6", "n_tokens")).alias("nll"),
        )
    )


def chunk_tokens(
    df: DataFrame, id_col: str, text_col: str, window: int = 64, stride: int = 48
) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    ``window``-token chunks every ``stride`` tokens — the step that turns a
    cleaned corpus into trainable sequences (and RAG indexing units).

    Entirely in the array domain (filtered token array → per-chunk ``slice``
    inside one ``transform`` → ``posexplode``): narrow and shuffle-free at
    any scale; the only row growth is the ~n/stride output fan-out itself.

    Chunk count is exact integer arithmetic (``1 + max(n-window,0) ceil-div
    stride`` with non-negative operands, so truncating and flooring division
    agree across engines). The last chunk is short rather than padded;
    ``n_chunk_tokens`` records its true length. Returns
    (id, chunk_idx, n_chunk_tokens, chunk_text).
    """
    if window < 1 or stride < 1:
        raise ValueError(f"chunk_tokens: window/stride must be >= 1, got {window}/{stride}")
    base = df.select(
        F.col(id_col),
        F.filter(ws_tokens(F.col(text_col)), lambda t: t != "").alias("toks"),
    ).where(F.size("toks") > 0)
    n_chunks_expr = f"(1 + (greatest(size(toks) - {window}, 0) + {stride - 1}) div {stride})"
    return base.select(
        F.col(id_col),
        F.size("toks").alias("n"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_chunks_expr} - 1), "
                f"i -> concat_ws(' ', slice(toks, i * {stride} + 1, {window})))"
            )
        ).alias("chunk_idx", "chunk_text"),
    ).select(
        F.col(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(F.lit(window), F.col("n") - F.col("chunk_idx") * stride)
        .cast("int")
        .alias("n_chunk_tokens"),
        "chunk_text",
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 8
) -> DataFrame:
    """Winnowing document fingerprints (MOSS-style): hash every char k-gram
    (portable md5 int), bucket positions into fixed windows of ``window``
    grams, keep the min hash per window — the per-window min makes the
    fingerprint set robust to local edits. Returns one row per (id, win_idx).

    Entirely in the array domain (hash array → per-window ``array_min`` via
    ``slice`` → posexplode of one value per window): a narrow, shuffle-free
    plan that explodes ``n_grams / window`` rows instead of shuffling every
    gram through a groupBy — the property that matters at 100 TB.

    The gram hash is the classical winnowing polynomial over codepoints
    (``Σ code(c_j)·B^(k-1-j)``, exact BIGINT, no modulus needed: max
    codepoint 0x10FFFF × B^4 × k < 2^63 for k=5) — ~5 integer mults per
    gram in codegen where an md5-based hash costs a full digest, and
    portable because both engines compute identical integer arithmetic.

    The codes array comes from ONE ``split(t, '')`` pass, not a
    per-position ``substring(t, p, 1)``: UTF8String.substring walks from
    byte 0 to find the p-th codepoint boundary, so the transform-over-
    positions form is O(len²) per document (r16 measured: 2.1× slower on
    the fixture corpus at avg 297 chars — worse the longer the docs).
    Spark 4's ``split`` on the empty pattern is codepoint-aware and drops
    the trailing empty match (``split('a😀b','')`` = ['a','😀','b']), so
    ``ascii`` over its elements is value-identical to the substring form
    for every input — equivalence pinned in tests.
    """
    base = 131
    poly = " + ".join(
        f"element_at(codes, i + {j}) * CAST({base ** (k - 1 - j)} AS BIGINT)"
        for j in range(k)
    )
    hashes = F.expr(f"transform(sequence(1, size(codes) - {k - 1}), i -> {poly})")
    from chess_lakehouse_spark.session import spread

    return (
        # spread: the whole winnow chain is map-side, so it inherits the
        # scan's partitioning — ONE task on the single-file fixtures
        # (guide §2.5; measured 2.0 s → 0.4 s at sf0.1/local[32]).
        spread(df.select(id_col, F.col(text_col).alias("t")), id_col)
        .where(F.length("t") >= k)
        .select(
            id_col,
            F.expr("transform(split(t, ''), c -> ascii(c))").alias(
                "codes"
            ),
        )
        .select(id_col, hashes.alias("hs"))
        .select(
            F.col(id_col),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, CAST((size(hs) - 1) div {window} AS INT)), "
                    f"w -> array_min(slice(hs, w * {window} + 1, {window})))"
                )
            ).alias("win_idx", "fingerprint"),
        )
        .select(F.col(id_col), F.col("win_idx").cast("int").alias("win_idx"), "fingerprint")
    )


#: PII scrub patterns — deliberately simple expressions that parse
#: identically under Java regex (Spark) and RE2 (DuckDB): no backreferences,
#: no lookaround, no possessive quantifiers. Order matters (emails before
#: bare domains would, e.g., otherwise leak the local part).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # \b digit guards (supported by both Java regex and RE2) stop the
    # pattern matching the middle of longer digit runs — without them
    # '91234-567-89012' would partially redact to '9<PHONE>2'.
    #
    # Portability boundary (found by the r8 adversarial sweep): the two
    # engines DEFINE \b over different word-char sets — RE2's is ASCII
    # ([0-9A-Za-z_]) while Java's \b is Unicode-aware (JDK quirk: \b uses
    # Unicode word chars even though \w stays ASCII) — so a digit run
    # DIRECTLY abutting a non-ASCII word character ('é10.1.2.3') redacts
    # under RE2 but not under Java. They agree exactly whenever the
    # adjacent character is ASCII or the string edge — the domain
    # tests/test_tokenization_parity.py sweeps — and every suite fixture
    # and synthesized gating input is ASCII-adjacent. RE2 has no
    # lookaround, so there is no portable rewrite of the guard; this
    # comment IS the contract.
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def normalize_text(text: Column) -> Column:
    """Canonical text form for dedup/tokenization: lowercase, collapse all
    whitespace runs to single spaces, trim. Pure codegen column expression
    — narrow, zero shuffle, byte-identical across engines (ASCII-safe
    lower + regexp on the explicit whitespace class)."""
    return F.trim(F.regexp_replace(F.lower(text), WS_SPLIT, " "))


def scrub_pii(text: Column) -> Column:
    """Replace emails / phone numbers / IPv4 addresses with typed
    placeholder tokens — the redaction pass a training corpus gets before
    publication. Patterns are the portable subset shared by Java regex and
    RE2 (see PII_PATTERNS); replacement is global in both engines (Spark
    regexp_replace replaces all matches; the oracle passes the 'g' flag)."""
    out = text
    for pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


#: strip_html patterns — Java-regex ∩ RE2 portable: inline (?is) flags,
#: non-greedy spans, no ``$`` anchors. Script/style/comment SPANS drop
#: with their content; every other tag becomes a space (so ``a<br>b``
#: keeps a token boundary). An UNCLOSED script/style tag degrades
#: gracefully: the span pattern needs the closing tag, so only the
#: opening tag is stripped (by HTML_TAG_RE) and the content survives.
HTML_SCRIPT_STYLE_RE = r"(?is)<(?:script|style)[^>]*>.*?</(?:script|style)>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
HTML_TAG_RE = r"<[^>]*>"
#: The handful of entities that dominate web text, decoded literally
#: (order matters: ``&amp;`` LAST, so ``&amp;lt;`` decodes exactly once,
#: to ``&lt;`` — the standard single-pass contract).
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_html(text: Column) -> Column:
    """Markup strip for HTML-sourced corpora (the C4-class preprocessing
    step upstream of every quality/dedup pass): drop script/style/comment
    spans WITH their content, replace remaining tags with spaces, decode
    the dominant entities, and collapse whitespace runs (the explicit
    WS_SPLIT class) to single spaces. Pure codegen column chain — rides
    the scan, zero Python — and a deliberate regex HEURISTIC, not an HTML5
    parser: good for corpus text extraction, not for adversarial markup.
    Case is preserved (unlike normalize_text); newlines collapse, so
    paragraph structure must be taken (paragraph_dedup) BEFORE this pass
    or from the source format."""
    out = F.regexp_replace(text, HTML_SCRIPT_STYLE_RE, " ")
    out = F.regexp_replace(out, HTML_COMMENT_RE, " ")
    out = F.regexp_replace(out, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, WS_SPLIT, " "))


def pii_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII hit counts for the three :data:`PII_PATTERNS`
    classes plus the redacted text length — the AUDIT face of
    :func:`scrub_pii` (how much PII a corpus carries, per source/doc,
    before publication). Counts are non-overlapping left-to-right matches
    (Java and RE2 agree); ``redacted_len`` pins the full replacement
    chain with one hash-checkable scalar. Pure column expressions.
    Returns (id, n_emails, n_phones, n_ips, redacted_len)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    names = ("n_emails", "n_phones", "n_ips")
    return df.select(
        F.col(id_col),
        *[
            F.regexp_count(t, F.lit(pat)).alias(name)
            for name, (pat, _) in zip(names, PII_PATTERNS)
        ],
        F.length(scrub_pii(t)).alias("redacted_len"),
    )


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, public): the
    duplicate-token fraction and the most-frequent-bigram fraction per
    document — high values flag boilerplate/spam for corpus filtering.

    dup_token_frac stays in the array domain (size vs array_distinct size —
    narrow, no shuffle); top_bigram_frac needs the per-doc modal bigram, one
    explode + two map-combined groupBys keyed by doc id. Both ratios of
    integers, rounded — engine-portable. Docs with < 2 tokens are excluded
    (no bigram is defined). Returns (id, dup_token_frac, top_bigram_frac).
    """
    from chess_lakehouse_spark.session import spread

    toks = ws_tokens(F.col(text_col))
    base = (
        # spread: tokenize + the bigram explode below are map-side on the
        # scan's single fixture-file partition (guide §2.5; 1.05 s → 0.61 s).
        spread(df.select(id_col, toks.alias("toks")), id_col)
        .where(F.size("toks") >= 2)
    )
    dup = base.select(
        id_col,
        F.round(
            1.0 - F.size(F.array_distinct("toks")).cast("double") / F.size("toks"), 6
        ).alias("dup_token_frac"),
    )
    bigram_counts = (
        base.select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                )
            ).alias("bigram"),
        )
        .groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(id_col)
        .agg(
            F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("top_bigram_frac")
        )
    )
    return dup.join(bigram_counts, id_col)


def high_df_vocab(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df_pct: int = 60,
    max_vocab_rows: int = 100_000,
) -> list[str]:
    """Tokens whose document frequency exceeds ``max_df_pct`` percent of the
    corpus — the boilerplate/stopword vocabulary for
    :func:`strip_boilerplate`.

    ONE action: per-doc distinct tokens (array_distinct, map-side) feed a
    token-df groupBy with the corpus row count crossJoined in as a 1-row
    aggregate — no separate count job. The threshold compares integers
    (``df·100 > pct·n_docs``) so Spark and the SQL oracle select the
    identical vocabulary with no float edge.

    The result is bounded BY CONSTRUCTION, independent of corpus size: at
    most Σ tokens-per-doc · 100 / max_df_pct distinct tokens can exceed the
    bar (each high-df token consumes ≥ pct·n_docs/100 postings), i.e.
    ~avg_doc_tokens·100/pct entries — driver-collect and literal-array
    safe at 100 TB. The ``max_vocab_rows`` guard raises if a degenerate
    corpus (tiny n_docs) breaks the assumption rather than silently
    collecting unbounded rows.
    """
    toks = df.select(
        F.explode(F.array_distinct(ws_tokens(F.col(text_col)))).alias("token")
    )
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    vocab_df = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .crossJoin(n)
        .where(F.col("dfreq") * 100 > F.lit(int(max_df_pct)) * F.col("n_docs"))
        .select("token")
    )
    rows = vocab_df.limit(max_vocab_rows + 1).collect()
    if len(rows) > max_vocab_rows:
        raise ValueError(
            f"high_df_vocab: >{max_vocab_rows} tokens above {max_df_pct}% df — "
            "raise max_df_pct or max_vocab_rows"
        )
    return sorted(r["token"] for r in rows)


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df_pct: int = 60,
    max_vocab_rows: int = 100_000,
) -> DataFrame:
    """Remove ubiquitous (document frequency > ``max_df_pct``%) tokens from
    every document, preserving the order of the survivors — the
    vocabulary-driven boilerplate strip of a training-data pipeline.

    Two-phase shape: the vocabulary is ONE bounded aggregation
    (:func:`high_df_vocab`), then the strip itself is a pure map-side
    array filter against the vocabulary as a literal array — the document
    table is scanned once with ZERO shuffle, the same
    bounded-dim-as-literal pattern as the openings argmax enrich and the
    IVF centroid assignment. Returns (id, clean_text, n_removed).
    """
    vocab = high_df_vocab(df, id_col, text_col, max_df_pct, max_vocab_rows)
    vocab_arr = (
        F.lit(vocab) if vocab else F.array().cast("array<string>")
    )
    toks = ws_tokens(F.col(text_col))
    kept = F.filter(toks, lambda t: ~F.array_contains(vocab_arr, t))
    return df.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size(toks) - F.size(kept)).cast("int").alias("n_removed"),
    )


def vocab_top_k(df: DataFrame, id_col: str, text_col: str, k: int = 50) -> DataFrame:
    """Global token-frequency table, top-``k`` by total occurrences — vocab
    building / corpus inspection. One groupBy shuffle (the distinct-doc
    count rides in the same aggregate), then a TakeOrderedAndProject for
    the top-k (count DESC, token ASC tie-break); the rank window runs over
    only the k surviving rows, never the full vocabulary.
    Returns (token, n_total, n_docs, rk)."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("did"),
        F.explode(ws_tokens(F.col(text_col))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("did").alias("n_docs"),
    )
    topk = counts.orderBy(F.col("n_total").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("n_total").desc(), F.col("token").asc())
    return topk.withColumn("rk", F.row_number().over(w).cast("int"))


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Bigram-LM negative log-likelihood per document with add-1/2
    smoothing — the order-2 upgrade of :func:`unigram_logprob` (CCNet-style
    LM quality filtering, Wenzek et al. 2020, public method):

        p(w2|w1) = (c(w1,w2) + 1/2) / (c(w1·) + V/2)
                 = (2·c(w1,w2) + 1) / (2·c(w1·) + V)

    The rational form keeps every model input an exact integer (bigram
    count, context count, vocabulary size), so per-bigram
    ``lp = ROUND(ln(int/int), 6)`` is engine-identical, and the per-doc
    sum rides the DECIMAL(18,6) exactness contract.

    Plan: one explode + two map-combined groupBys (bigram and context
    tables — both vocabulary-sized), the vocab-size scalar as a scalar
    subquery in the same plan, one equi-join of the bigram stream against
    the log-prob table (AQE broadcasts it when it fits; at 100 TB a
    web-scale bigram table stays a shuffled table — the join is keyed,
    never all-pairs), then one per-doc groupBy.
    Returns (id, n_bigrams, nll).
    """
    toks = df.select(
        F.col(id_col),
        F.filter(ws_tokens(F.col(text_col)), lambda t: t != "").alias("toks"),
    )
    pairs = toks.where(F.size("toks") >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    vocab = (
        toks.select(F.explode("toks").alias("term"))
        .agg(F.countDistinct("term").alias("v"))
        .scalar()
    )
    cb = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    lp = cb.join(cu, "w1").select(
        "w1",
        "w2",
        F.round(
            F.log(
                (2 * F.col("cb") + 1).cast("double")
                / (2 * F.col("cu") + vocab).cast("double")
            ),
            6,
        ).alias("lp"),
    )
    from chess_lakehouse_spark.functions.exact import mean6, sum6_long

    return (
        pairs.join(lp, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            sum6_long(F.col("lp")).alias("_s6"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            (-mean6("_s6", "n_bigrams")).alias("nll"),
        )
    )


def pmi_top_k(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    ``PMI(w1,w2) = ln(c12·T / (c1·c2))`` over adjacent token pairs, with a
    ``min_count`` support floor (PMI is noise without it).

    Every ln input is a ratio of exact integer products, so scores are
    engine-identical; ranking carries a (PMI DESC, w1, w2) total order.
    One explode + two map-combined groupBys (pair + unigram tables), the
    pair total as a 1-row aggregate of the pair counts cross-joined back
    onto them, a keyed join of pair counts to the two unigram rows, then
    TakeOrdered top-k. At web scale the integer
    products c12·T / c1·c2 outgrow BIGINT — subtract logs instead
    (ln c12 + ln T - ln c1 - ln c2) and accept float associativity; the
    plan shape is unchanged. Returns (w1, w2, n_pair, pmi, rk).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.filter(ws_tokens(F.col(text_col)), lambda t: t != "").alias("toks"),
    )
    pairs = toks.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    uni = toks.select(F.explode("toks").alias("w"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    # total_pairs = Σ n_pair over the PRE-filter bigram counts
    cb = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    cb = cb.where(F.col("n_pair") >= min_count).crossJoin(
        cb.agg(F.sum("n_pair").alias("__t"))
    )
    total_pairs = F.col("__t")
    c1 = cu.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    c2 = cu.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    # unigram tables are vocabulary-sized: keyed joins, no forced broadcast
    # hint (unbounded on web-scale text — AQE picks broadcast when it fits)
    scored = (
        cb.join(c1, "w1")
        .join(c2, "w2")
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") * total_pairs).cast("double")
                    / (F.col("c1") * F.col("c2")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    topk = scored.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()).limit(k)
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
    return topk.withColumn("rk", F.row_number().over(w).cast("int"))


def canary_hits(
    df: DataFrame,
    text_col: str,
    canaries: tuple[str, ...],
    group_col: str | None = None,
) -> DataFrame:
    """Eval-canary contamination scan: count documents whose text contains
    each literal canary string (benchmark canaries, GUID tripwires,
    honeypot sentences), optionally broken down by a group column — the
    audit a release pipeline runs before shipping a corpus that must not
    contain its own eval set.

    Plan shape: the canary list is a literal array exploded per row (no
    join, no second scan), the containment test is a JVM substring search,
    and the only shuffle is the final |canaries| x |groups|-row count
    aggregate — one corpus pass regardless of canary count. Canaries with
    zero hits produce no row (count them from the returned frame's
    complement against the input list).

    Returns (canary[, group], n_docs) — deterministic, fully
    SQL-expressible.
    """
    if not canaries:
        raise ValueError("canary_hits: need at least one canary string")
    exploded = df.select(
        *( [F.col(group_col).alias("grp")] if group_col else [] ),
        F.col(text_col).alias("_t"),
        F.explode(F.array(*[F.lit(c) for c in canaries])).alias("canary"),
    ).where(F.contains(F.col("_t"), F.col("canary")))
    keys = ["canary"] + (["grp"] if group_col else [])
    out = exploded.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_docs"))
    if group_col:
        out = out.withColumnRenamed("grp", group_col)
    return out


def source_unigram_kl(
    df: DataFrame,
    group_col: str,
    text_col: str,
    precision: int = 6,
) -> DataFrame:
    """Per-group unigram-distribution KL divergence against the whole
    corpus: KL(P_g || P) = (1/T_g) * sum_w c_gw * ln((c_gw * T)/(T_g * c_w))
    — the domain-skew monitor a mixture pipeline tracks per source (a
    rising KL means a source drifted away from the corpus mixture).

    Exactness contract: each ln() input is a ratio of exact integer
    products (token counts; both engines compute the identical double
    quotient), the per-word ln is ROUNDed to ``precision``, multiplied by
    the integer count and summed as DECIMAL(18,6) — exact, order-free —
    with the single double division + ROUND at the end. Plan shape: one
    explode + map-combined (group, word) count; word totals and group
    totals derive from that count frame — its shuffle output is deduped at
    runtime by AQE exchange/stage reuse (verified: the executed plan shows
    a ReusedQueryStage, not a second corpus explode); at 100 TB a pipeline
    stages the (group, word) count table to the lake once and derives all
    three aggregates from it. The word-total join is hash-partitioned on
    word, group totals ride a broadcast. Everything after the explode is
    bounded by vocab x groups.

    Returns (group, n_tokens, kl).
    """
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")).alias("w"),
    )
    cgw = toks.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("c_gw"))
    cw = cgw.groupBy("w").agg(F.sum("c_gw").alias("c_w"))
    tg = cgw.groupBy("grp").agg(F.sum("c_gw").alias("t_g"))
    total = cw.agg(F.sum("c_w").alias("t")).scalar()
    term = F.round(
        F.log(
            (F.col("c_gw") * total).cast("double")
            / (F.col("t_g") * F.col("c_w")).cast("double")
        ),
        precision,
    )
    return (
        cgw.join(cw, "w")
        .join(F.broadcast(tg), "grp")
        .groupBy("grp")
        .agg(
            F.max("t_g").alias("n_tokens"),
            F.round(
                F.sum((F.col("c_gw") * term).cast("decimal(18,6)")).cast("double")
                / F.max("t_g"),
                precision,
            ).alias("kl"),
        )
        .select(F.col("grp").alias(group_col), "n_tokens", "kl")
    )


def token_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    precision: int = 6,
) -> DataFrame:
    """Per-document token Shannon entropy (nats): H = ln(n) - (1/n) *
    sum_w c_w ln(c_w) — the repetition/diversity quality signal (low
    entropy = templated or repetitive text) complementing
    :func:`repetition_metrics`' exact-duplication fractions.

    The second form keeps the sum integer-weighted: each ln(c_w) is
    ROUNDed to ``precision``, multiplied by the integer count and summed
    as DECIMAL(18,6) (exact, order-free); the ln(n) correction and the
    single division happen once per document. Plan: one explode +
    map-combined (doc, token) count + one map-combined per-doc aggregate —
    the same two-shuffle shape as any unigram statistic; nothing is
    corpus-global, so documents stream through independently at 100 TB.
    Empty documents produce no row (no tokens to explode).

    Returns (id, n_tokens, entropy).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")).alias("w"),
    )
    counts = toks.groupBy("id", "w").agg(F.count(F.lit(1)).alias("c"))
    term = F.round(F.log(F.col("c").cast("double")), precision)
    agg = counts.groupBy("id").agg(
        F.sum("c").alias("n"),
        F.sum((F.col("c") * term).cast("decimal(18,6)")).cast("double").alias("s"),
    )
    return agg.select(
        F.col("id").alias(id_col),
        F.col("n").alias("n_tokens"),
        F.round(F.log(F.col("n").cast("double")) - F.col("s") / F.col("n"), precision).alias(
            "entropy"
        ),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    precision: int = 6,
) -> DataFrame:
    """Ad-hoc query retrieval: top-``k`` documents by Okapi BM25 — the
    query->document companion to :func:`tfidf` / ``sparse_cosine_pairs``
    (which serve document<->document similarity).

    ``score(d) = sum_t idf(t) * tf / (tf + k1*(1 - b + b*|d|/avgdl))`` over
    the query's distinct terms, with the non-negative idf variant
    ``ln(1 + (N - df + 0.5)/(df + 0.5)) = ln((2N + 2)/(2df + 1))`` — the
    half-counts fold into an exact INTEGER ratio (x2 trick), so the ln
    input is engine-identical, per-term contributions are ROUNDed to
    ``precision``, the per-doc sum goes through DECIMAL(18,6), and the
    final order is the (score DESC, id ASC) total order.

    Scale shape: document lengths are one map-combined aggregate; term
    statistics are computed ONLY for the query's terms (map-side literal-
    array filter BEFORE any shuffle, so the posting shuffle carries the
    query's postings, not the corpus vocabulary); avgdl and N are a 1-row
    aggregate cross-joined onto the query-term df table, which is
    broadcast; the result is TakeOrdered(k). Documents containing
    no query term score 0 and are not returned.
    """
    terms = sorted({t for t in query.split() if t})
    if not terms:
        raise ValueError("bm25_topk: query must contain at least one term")
    if k < 1:
        raise ValueError(f"bm25_topk: k must be >= 1, got {k}")

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")).alias("t"),
    )
    # Map-side per-doc length (see bm25_batch: identical to the former
    # explode+groupBy count under unique ids; n_d >= 1 matches explode's
    # empty/NULL drop; cast keeps the BIGINT type).
    lengths = df.select(
        F.col(id_col).alias("id"),
        F.size(F.filter(ws_tokens(F.col(text_col)), lambda t: t != ""))
        .cast("bigint")
        .alias("n_d"),
    ).where(F.col("n_d") >= 1)
    term_arr = F.array(*[F.lit(t) for t in terms])
    postings = (
        toks.where(F.array_contains(term_arr, F.col("t")))
        .groupBy("id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        postings.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(_bm25_corpus_stats(lengths))
    )

    n_docs = F.col("__n_docs")
    total_len = F.col("__total_len")
    idf = F.round(
        F.log((2 * n_docs + F.lit(2)).cast("double") / (2 * F.col("df") + 1).cast("double")),
        precision,
    )
    # avgdl = total_len / n_docs, folded in exactly:
    # k1*(1 - b + b*n_d/avgdl) = k1*((1-b) + b*n_d*n_docs/total_len)
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b)
        * (F.col("n_d") * n_docs).cast("double")
        / total_len.cast("double")
    )
    contrib = F.round(idf * F.col("tf").cast("double") / denom, precision)
    scored = (
        postings.join(F.broadcast(dfreq), "t")
        .join(lengths, "id")
        .groupBy("id")
        .agg(
            F.round(
                F.sum(contrib.cast("decimal(18,6)")).cast("double"), precision
            ).alias("score")
        )
    )
    return (
        scored.select(F.col("id").alias(id_col), "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str,
    k: int = 10,
    c: int = 60,
    rank_col: str = "rk",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of any number of ranked
    candidate lists — the standard hybrid-search combiner (e.g. BM25
    lexical + embedding kNN): ``score(d) = sum_lists 1/(c + rank_d)``.

    Inputs are the small per-query result frames (each bounded by its own
    top-k), each carrying ``id_col`` and a 1-based integer ``rank_col`` —
    the ANN operators return ``rk`` already; rank a score-ordered frame
    first if needed. Every 1/(c + rk) term has an exact integer
    denominator, is ROUNDed to 6 decimals, and sums through DECIMAL(18,6);
    ties break on the id — fully deterministic, k-row output, and the
    whole fusion runs over candidate-list-sized frames (never the corpus).
    """
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked frame")
    if k < 1 or c < 1:
        raise ValueError(f"rrf_fuse: need k >= 1 and c >= 1, got k={k}, c={c}")
    parts = [
        df.select(
            F.col(id_col).alias("id"),
            F.round(F.lit(1.0) / (F.lit(c) + F.col(rank_col)).cast("double"), 6).alias(
                "contrib"
            ),
        )
        for df in ranked
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    return (
        allc.groupBy("id")
        .agg(F.round(F.sum(F.col("contrib").cast("decimal(18,6)")).cast("double"), 6).alias("score"))
        .select(F.col("id").alias(id_col), "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_batch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    precision: int = 6,
) -> DataFrame:
    """Batch BM25: score EVERY query in ``queries`` against the corpus in
    one pass — the 100 TB form of :func:`bm25_topk`, which rescans the
    corpus per query. Identical scoring contract (same idf integer ratio,
    rounding chain, and total order; equivalence pytest-pinned), different
    plan shape: corpus statistics (doc lengths, avgdl, per-term df) are
    computed ONCE, the query set explodes to DISTINCT (query, term) pairs
    and joins corpus postings BY TERM — a hash shuffle on the term key —
    and per-(query, doc) scores aggregate from there. Cost is one corpus
    pass plus joins bounded by matching postings, independent of query
    count; at scale you'd additionally stage the postings/lengths tables
    to the lake and serve every batch from them.

    Returns (query_id, doc_id, score, rk) with rk = 1..k per query.

    The "stage to the lake" form of this plan exists as
    :func:`build_bm25_index` / :func:`bm25_from_index`; all three BM25
    paths score through the ONE expression builder
    :func:`_bm25_score_rank`, so the staged path cannot drift from this
    oracle-gated one.
    """
    if k < 1:
        raise ValueError(f"bm25_batch: k must be >= 1, got {k}")
    from chess_lakehouse_spark.session import spread

    # spread: the tokenize/explode pass (and the lengths projection below,
    # which shares it) is map-side on the corpus scan's partitioning —
    # ONE task on the single-file fixtures (guide §2.5).
    df = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")).alias("t"),
    )
    # Per-doc length MAP-SIDE: n_d is the size of the (filtered) token
    # array — no explode, no shuffle. Identical to the former
    # explode+groupBy count because ids are unique per row (the engine-wide
    # contract) and a doc appears in the exploded count iff it has >= 1
    # token, which is exactly the n_d >= 1 guard (empty/NULL text sizes to
    # 0/-1 and is excluded, matching explode's drop). Cast keeps the
    # former BIGINT count type. Removes one full corpus-scan → explode →
    # shuffle chain from the plan (guide §2.4).
    lengths = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(ws_tokens(F.col(text_col)), lambda t: t != ""))
        .cast("bigint")
        .alias("n_d"),
    ).where(F.col("n_d") >= 1)
    q_terms = _bm25_query_terms(queries, query_id_col, query_text_col)
    # postings restricted to terms ANY query uses (semi-join, term-keyed)
    wanted = q_terms.select("t").distinct()
    postings = (
        toks.join(wanted, "t", "left_semi")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # dfreq=None: df is derived with a count-window over the SAME
    # postings frame inside _bm25_score_rank. A separate
    # postings.groupBy("t") subtree here is column-pruned differently
    # by Catalyst, so ReuseExchange cannot dedupe it and the whole
    # corpus-scan → explode → semi-join → aggregate chain executes
    # TWICE (r15 plan audit: 7 corpus scans / 14 exchanges → 4 / 8).
    stats = _bm25_corpus_stats(lengths)
    return _bm25_score_rank(
        q_terms.crossJoin(stats), postings, None, lengths,
        F.col("__n_docs"), F.col("__total_len"), k, k1, b, precision,
    )


def _bm25_corpus_stats(lengths: DataFrame) -> DataFrame:
    """(__n_docs, __total_len): one row, a map-combined aggregate of the
    per-doc lengths. Cross-join it onto the query-term side of the scoring
    join, never onto the lengths or postings chain: there it puts a
    nested-loop join under the corpus-sized term chain (2-8x slower,
    OPTIMIZATION_r15.md §3)."""
    return lengths.agg(
        F.count(F.lit(1)).alias("__n_docs"), F.sum("n_d").alias("__total_len")
    )


def _bm25_query_terms(
    queries: DataFrame, query_id_col: str, query_text_col: str
) -> DataFrame:
    """(query_id, t) pairs — DISTINCT terms per query."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(
                F.filter(ws_tokens(F.col(query_text_col)), lambda t: t != "")
            )
        ).alias("t"),
    )


def _bm25_score_rank(
    q_terms: DataFrame,
    postings: DataFrame,
    dfreq: DataFrame,
    lengths: DataFrame,
    n_docs,
    total_len,
    k: int,
    k1: float,
    b: float,
    precision: int,
) -> DataFrame:
    """The single scoring/ranking tail shared by :func:`bm25_batch` and
    :func:`bm25_from_index`: same idf integer-ratio log, per-term
    ROUND(·,precision), DECIMAL-exact sum, and (score DESC, doc_id) total
    order as the oracle template. ``n_docs``/``total_len`` are Columns:
    the batch path's :func:`_bm25_corpus_stats` row cross-joined onto
    ``q_terms``, or the staged path's literals from its 1-row stats
    table. ``dfreq=None`` derives the per-term document
    frequency with a count-window over ``postings`` itself (identical
    value: df(t) = number of postings rows for t) — the batch path's
    choice, where a separate postings.groupBy("t") subtree would be
    column-pruned differently and recompute the whole postings chain;
    the staged path passes its materialized ``dfreq`` table instead."""
    from pyspark.sql.window import Window

    idf = F.round(
        F.log((2 * n_docs + F.lit(2)).cast("double") / (2 * F.col("df") + 1).cast("double")),
        precision,
    )
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * (F.col("n_d") * n_docs).cast("double") / total_len.cast("double")
    )
    contrib = F.round(idf * F.col("tf").cast("double") / denom, precision)
    # dfreq is bounded by the query BATCH's vocabulary, not one query's
    # terms — a 10^6-query bulk-scoring batch makes a forced broadcast
    # here the unbounded-hint class removed from tfidf/LM/PMI in r6, so
    # no hint: AQE's size estimate picks broadcast when it actually fits
    # (the per-query bm25_topk keeps its hint — one query's terms).
    if dfreq is None:
        postings = postings.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("t"))
        )
        with_df = q_terms.join(postings, "t")
    else:
        with_df = q_terms.join(postings, "t").join(dfreq, "t")
    scored = (
        with_df
        .join(lengths, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(contrib.cast("decimal(18,6)")).cast("double"), precision
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def build_bm25_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    n_posting_files: int | None = None,
) -> None:
    """Materialize the BM25 corpus tables to the lake — ONE corpus pass,
    after which any number of query batches score without touching the
    corpus again (the serving layout :func:`bm25_batch`'s docstring
    promises at 100 TB):

    - ``postings/``  (t, doc_id, tf) — TERM-CLUSTERED via
      operators/publish.py:write_clustered, so the files cover disjoint
      term ranges and a query batch's term predicate skips every file
      whose footer [min,max] can't match;
    - ``dfreq/``     (t, df) — vocabulary-sized;
    - ``lengths/``   (doc_id, n_d);
    - ``stats/``     one row (n_docs, total_len).

    ``n_posting_files`` None writes one postings file per core.
    Rebuild on corpus change (append-only corpora can instead union a
    delta index and re-aggregate postings/dfreq — same keyed shapes).
    """
    from chess_lakehouse_spark.operators.publish import write_clustered

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")).alias("t"),
    )
    # Map-side per-doc length (see bm25_batch: identical values to the
    # former explode+groupBy count under unique ids; same BIGINT schema).
    lengths = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(ws_tokens(F.col(text_col)), lambda t: t != ""))
        .cast("bigint")
        .alias("n_d"),
    ).where(F.col("n_d") >= 1)
    lengths.write.mode("overwrite").parquet(f"{index_dir}/lengths")
    postings = toks.groupBy("t", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    write_clustered(postings, f"{index_dir}/postings", ["t"], n_files=n_posting_files)
    postings_staged = toks.sparkSession.read.parquet(f"{index_dir}/postings")
    postings_staged.groupBy("t").agg(F.count(F.lit(1)).alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/dfreq")
    lengths_staged = toks.sparkSession.read.parquet(f"{index_dir}/lengths")
    lengths_staged.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_d").alias("total_len")
    ).write.mode("overwrite").parquet(f"{index_dir}/stats")


def append_bm25_index(
    delta_df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    n_posting_files: int | None = None,
) -> None:
    """Fold NEW documents into a staged :func:`build_bm25_index` layout —
    the append-only lifecycle. Every merged table is UPSERT-shaped and
    atomically swapped: the staged rows are anti-joined on the delta's
    doc ids before the union, so retrying a crashed append (r8 ADVICE:
    the old blind ``mode('append')`` to lengths/ committed before the
    postings swap, and a retry double-appended — silently over-counting
    n_docs/total_len and corrupting every served score) is IDEMPOTENT at
    any crash point: postings merge+swap, then lengths merge+swap, then
    dfreq/stats rebuild from the swapped tables. The anti-join is keyed
    and index-sized — the same order of work as the re-cluster the merge
    already pays. Double-append == single append == full rebuild is
    pytest-pinned. (A crash INSIDE a swap's one-rename window leaves the
    directory aside as ``.old`` — the documented
    :func:`operators.publish.vacuum_lake` recovery, loud not silent.)"""
    from chess_lakehouse_spark.operators.publish import (
        swap_publish,
        write_clustered,
    )

    spark = delta_df.sparkSession
    toks = delta_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")).alias("t"),
    )
    delta_ids = delta_df.select(F.col(id_col).alias("doc_id")).distinct()

    new_postings = toks.groupBy("t", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    merged = (
        spark.read.parquet(f"{index_dir}/postings")
        .join(delta_ids, "doc_id", "left_anti")
        .select("t", "doc_id", "tf")  # the equi-join moved the key first
        .unionByName(new_postings)
    )
    swap_publish(
        spark, f"{index_dir}/postings",
        lambda tmp: write_clustered(merged, tmp, ["t"], n_files=n_posting_files),
        "append_bm25_index",
    )

    # Map-side per-doc length (see bm25_batch) — identical values/schema.
    new_lengths = delta_df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(ws_tokens(F.col(text_col)), lambda t: t != ""))
        .cast("bigint")
        .alias("n_d"),
    ).where(F.col("n_d") >= 1)
    merged_lengths = (
        spark.read.parquet(f"{index_dir}/lengths")
        .join(delta_ids, "doc_id", "left_anti")
        .select("doc_id", "n_d")
        .unionByName(new_lengths)
    )
    swap_publish(
        spark, f"{index_dir}/lengths",
        merged_lengths.write.mode("overwrite").parquet, "append_bm25_index",
    )

    # dfreq/stats also publish via rename-aside swap (never overwrite in
    # place): a reader between the postings swap and here must still find
    # COMPLETE dfreq/stats tables — stale-but-consistent-per-table, per
    # the documented append/serve coordination contract (SCALE.md).
    dfreq = (
        spark.read.parquet(f"{index_dir}/postings")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    swap_publish(
        spark, f"{index_dir}/dfreq",
        dfreq.write.mode("overwrite").parquet, "append_bm25_index",
    )
    stats = spark.read.parquet(f"{index_dir}/lengths").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_d").alias("total_len")
    )
    swap_publish(
        spark, f"{index_dir}/stats",
        stats.write.mode("overwrite").parquet, "append_bm25_index",
    )


def bm25_from_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    precision: int = 6,
    max_pushdown_terms: int = 1_000,
) -> DataFrame:
    """Score a query batch from a staged :func:`build_bm25_index` layout —
    zero corpus access; identical results to :func:`bm25_batch` on the
    indexed corpus (same contract, pytest-pinned equality) because both
    paths end in :func:`_bm25_score_rank`.

    Term restriction is adaptive, the same bounded-literal discipline as
    the jaccard cost-model selector: when the batch's distinct-term count
    is ≤ ``max_pushdown_terms``, the terms become an ``isin`` literal that
    PUSHES to the postings Parquet scan — with the term-clustered layout,
    footer min/max skipping turns the read into O(matching files). A
    larger batch (bulk scoring, unbounded vocabulary) falls back to the
    term-keyed semi-join: one shuffle, no driver-side literal of unbounded
    size.

    Returns (query_id, doc_id, score, rk), rk = 1..k per query.
    """
    if k < 1:
        raise ValueError(f"bm25_from_index: k must be >= 1, got {k}")
    postings = spark.read.parquet(f"{index_dir}/postings")
    dfreq = spark.read.parquet(f"{index_dir}/dfreq")
    lengths = spark.read.parquet(f"{index_dir}/lengths")
    stats = spark.read.parquet(f"{index_dir}/stats")

    q_terms = _bm25_query_terms(queries, query_id_col, query_text_col)
    wanted = q_terms.select("t").distinct()
    # bounded-literal probe: LIMIT max+1 caps what ever reaches the driver
    term_rows = wanted.limit(max_pushdown_terms + 1).collect()
    if len(term_rows) <= max_pushdown_terms:
        terms = [r["t"] for r in term_rows]
        postings = postings.where(F.col("t").isin(terms))
        dfreq = dfreq.where(F.col("t").isin(terms))
    else:
        postings = postings.join(wanted, "t", "left_semi")
        dfreq = dfreq.join(wanted, "t", "left_semi")
    # The materialized stats table is ONE row by construction
    # (build_bm25_index writes a single global aggregate) — read it on
    # the driver and inline the two integers as plan literals: the same
    # bounded-literal-probe discipline as the term pushdown above. The
    # .scalar() form planned THREE scalar-subquery instances (n_docs is
    # referenced twice), each a separate subquery job; the r15 1-row
    # crossJoin attempt planted a BroadcastNestedLoopJoin under the term
    # chain and fenced 2-8× worse (OPTIMIZATION_r15.md §3), and a r16
    # literal-key broadcast equi-join probe constant-folded back into the
    # same BNLJ (plans/r16). Literals keep every value identical (the
    # same integers enter the same expressions) with zero extra plan
    # nodes.
    stats_row = stats.head()
    n_docs = F.lit(int(stats_row["n_docs"])).cast("bigint")
    total_len = F.lit(int(stats_row["total_len"])).cast("bigint")
    return _bm25_score_rank(
        q_terms, postings, dfreq, lengths, n_docs, total_len, k, k1, b, precision
    )


def substring_grams(text: Column, q: int = 3) -> Column:
    """Distinct character q-grams of a string as an array column —
    CASE-guarded empty below length q (Spark's ``sequence(1, 0)`` counts
    DOWN rather than returning empty). NULL text also grams to the empty
    array, NOT NULL (the CASE's NULL condition falls through to the
    otherwise branch) — callers that must distinguish NULL from
    too-short filter NULLs first, as every caller here does. Plain
    strings, not hashes: the postings stay range-clusterable (footer
    min/max pruning works on string ranges) and the staged table is
    self-describing."""
    n = F.length(text)
    return F.when(
        n >= q,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (q - 1)),
                lambda i: text.substr(i, F.lit(q)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def gram_postings(base: DataFrame, q: int) -> DataFrame:
    """(doc_id, g) postings of a (doc_id, t) frame: one row per distinct
    q-gram of each text. The explode runs after :func:`session.spread`, so
    a one-partition scan still grams on every core."""
    return spread(base, "doc_id").select(
        "doc_id", F.explode(substring_grams(F.col("t"), q)).alias("g")
    )


def substring_index_meta(
    spark, q: int, n_docs: int | None, fold_case: bool
) -> DataFrame:
    """The one-row ``meta/`` table (q, n_docs, fold_case), made in the JVM:
    a row list would need a Python task to unpickle it."""
    return spark.range(0, 1, 1, 1).select(
        F.lit(q).cast("int").alias("q"),
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(bool(fold_case)).alias("fold_case"),
    )


def read_substring_index_meta(spark, index_dir: str):
    """The staged ``meta/`` row. The schema is known, so the read starts
    no schema-inference job."""
    return (
        spark.read.schema("q int, n_docs long, fold_case boolean")
        .parquet(f"{index_dir}/meta")
        .first()
    )


def write_gram_postings(
    postings: DataFrame, out_dir: str, n_files: int | None = None
) -> None:
    """Gram-clustered postings write (``write_clustered`` on ``g``) that
    computes ``postings`` once: the range exchange runs its input twice,
    once to sample the boundaries and once to shuffle, so the frame is
    cached across both. ``n_files`` None means the core count."""
    from chess_lakehouse_spark.operators.publish import write_clustered

    with FrameScope() as scope:
        write_clustered(scope.cache(postings), out_dir, ["g"], n_files=n_files)


def build_substring_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    q: int = 3,
    n_posting_files: int | None = None,
    fold_case: bool = False,
) -> None:
    """Materialize a trigram-class SUBSTRING-SEARCH index to the lake —
    the pg_trgm / codesearch pattern (Cox 2012, "Regular Expression
    Matching with a Trigram Index", public): a document can contain a
    query string only if it contains EVERY q-gram of that query, so any
    one gram's posting list is a complete candidate set for a lookup
    (serve reads the rarest) and the corpus is never scanned. ONE corpus
    pass builds:

    - ``postings/``  DISTINCT (g, doc_id) — GRAM-CLUSTERED via
      :func:`write_gram_postings` into ``n_posting_files`` files (None:
      one per core), so a query batch's gram predicate skips every file
      whose footer [min, max] cannot match;
    - ``meta/``      one row (q, n_docs, fold_case) — serve DERIVES q and
      the case mode from the staged layout rather than taking them as
      parameters, so build and serve cannot drift (contrast the hashed
      edit-signature table, where q is baked into hashes and the loop
      owns the contract). ``fold_case=True`` lowercases text at index
      time and queries at serve time — case-insensitive search with the
      same single postings table.

    Rebuild on corpus change; for append-only corpora union a delta's
    postings the same way (distinct (g, doc_id) rows are upsert-trivial).
    NULL texts index nothing; docs shorter than q have no grams and are
    reachable only through the short-query scan fallback in
    :func:`substring_search_from_index` — consistent, since any query
    they can contain is itself shorter than q."""
    if q < 2:
        raise ValueError(f"build_substring_index: q must be >= 2, got {q}")
    t = F.col(text_col)
    if fold_case:
        t = F.lower(t)
    base = df.select(F.col(id_col).alias("doc_id"), t.alias("t")).where(
        F.col("t").isNotNull()
    )
    write_gram_postings(
        gram_postings(base, q), f"{index_dir}/postings", n_posting_files
    )
    # n_docs = INDEXED documents (>= 1 gram, i.e. len >= q) — the same
    # value append_substring_index recomputes from the merged postings
    # (it has no full-corpus frame to count). Here the full corpus IS in
    # hand, so count the doc frame directly instead of re-reading and
    # re-distincting the ~|total chars| exploded postings: lower() never
    # changes length, so len(t) >= q selects exactly the docs that emit
    # >= 1 gram, and the distinct guards duplicate input ids the same
    # way the postings-side distinct did.
    n_docs = (
        base.where(F.length("t") >= q).select("doc_id").distinct().count()
    )
    substring_index_meta(base.sparkSession, q, n_docs, fold_case).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/meta")


def append_substring_index(
    delta_df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    n_posting_files: int | None = None,
) -> None:
    """Fold NEW documents into a staged :func:`build_substring_index`
    layout — the append-only lifecycle, with the same crash-safety
    discipline as :func:`append_bm25_index`: the staged postings are
    anti-joined on the delta's doc ids before the union (so a retried
    append is idempotent at any crash point), merged gram-clustered into
    a staging dir and atomically swapped, then meta/ rebuilt
    LAST from the swapped postings (q is read from the existing meta —
    the append cannot change the gram width). Double-append == single
    append == full rebuild is pytest-pinned."""
    from chess_lakehouse_spark.operators.publish import swap_publish

    spark = delta_df.sparkSession
    meta = read_substring_index_meta(spark, index_dir)
    q, fold_case = int(meta["q"]), bool(meta["fold_case"])
    t = F.col(text_col)
    if fold_case:
        t = F.lower(t)
    base = delta_df.select(
        F.col(id_col).alias("doc_id"), t.alias("t")
    ).where(F.col("t").isNotNull())
    delta_ids = base.select("doc_id").distinct()
    merged = (
        spark.read.parquet(f"{index_dir}/postings")
        .join(delta_ids, "doc_id", "left_anti")
        .select("doc_id", "g")  # keep the build layout's column order
        .unionByName(gram_postings(base, q))
    )
    swap_publish(
        spark, f"{index_dir}/postings",
        lambda tmp: write_gram_postings(merged, tmp, n_posting_files),
        "append_substring_index",
    )
    n_docs = (
        spark.read.parquet(f"{index_dir}/postings")
        .select("doc_id")
        .distinct()
        .count()
    )
    # meta/ swaps too: a straddling reader sees old-or-new meta, never a
    # deleted or half-written one (see the SCALE.md coordination contract)
    new_meta = substring_index_meta(spark, q, n_docs, fold_case)
    swap_publish(
        spark, f"{index_dir}/meta",
        new_meta.write.mode("overwrite").parquet, "append_substring_index",
    )


def _substring_candidates(
    postings: DataFrame, long_q: DataFrame, q: int, max_pushdown_grams: int
) -> DataFrame:
    """Candidates for queries at least q long: (qid, qt, n_rows, doc_id),
    one row per distinct (qid, qt) and document on that query's RAREST
    gram's posting list. ``n_rows`` counts the query rows carrying that
    (qid, qt).

    Any document containing qt holds every gram of qt, so one gram's list
    is a complete candidate set; the rarest one is the smallest. Posting
    sizes are counted per wanted gram (combined map-side, a few rows per
    gram), the rarest gram is kept per query, ties broken by the gram, and
    only that gram's list is joined. A gram with no postings counts 0 and
    yields no candidates. Duplicate (g, doc_id) postings (the streaming
    layout re-admits documents) collapse in the final distinct."""
    g = F.explode(substring_grams(F.col("qt"), q)).alias("g")
    qg = long_q.groupBy("qid", "qt").agg(F.count(F.lit(1)).alias("n_rows")).select(
        "qid", "qt", "n_rows", g
    )
    wanted = long_q.select(g).distinct()
    gram_rows = wanted.limit(max_pushdown_grams + 1).collect()
    if len(gram_rows) <= max_pushdown_grams:
        postings = postings.where(F.col("g").isin([r["g"] for r in gram_rows]))
    else:
        postings = postings.join(wanted, "g", "left_semi")
    sizes = postings.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    by_size = F.struct(F.coalesce("n", F.lit(0)).alias("n"), "g")
    rarest = (
        qg.join(sizes, "g", "left")
        .groupBy("qid", "qt", "n_rows")
        .agg(F.min(by_size)["g"].alias("g"))
    )
    return (
        rarest.join(postings.select("g", "doc_id"), "g")
        .select("qid", "qt", "n_rows", "doc_id")
        .distinct()
    )


def substring_search_from_index(
    spark,
    index_dir: str,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    qid_col: str,
    qtext_col: str,
    max_pushdown_grams: int = 1_000,
) -> DataFrame:
    """Exact substring search (LIKE '%s%' at corpus scale) THROUGH a
    staged :func:`build_substring_index` layout. A document containing a
    query holds every q-gram of it, so each query's candidates are the
    posting list of ONE of its grams: the rarest, picked from posting
    sizes counted at serve time (see :func:`_substring_candidates`). A
    ``contains`` verify on the candidates then returns exactly the brute
    scan's rows, and the corpus is joined only on candidate ids. Serve
    cost follows the rarest list per query, not the sum of the lists.

    Gram restriction follows the bm25_from_index bounded-literal
    discipline: a batch with ≤ ``max_pushdown_grams`` distinct grams
    becomes an ``isin`` literal that pushes to the gram-clustered
    postings scan (footer skipping → O(matching files)); larger batches
    fall back to the gram-keyed semi-join. Queries SHORTER than the
    indexed q (after dropping NULL/empty) take the documented corpus-scan
    fallback — the same contract as real trigram engines, where the
    index cannot discriminate below gram width. Returns (qid, doc_id),
    one row per query row and matching document, as the brute join
    gives; a qid may carry several texts.
    """
    meta = read_substring_index_meta(spark, index_dir)
    q, fold_case = int(meta["q"]), bool(meta["fold_case"])
    qt = F.col(qtext_col)
    t = F.col(text_col)
    if fold_case:
        qt, t = F.lower(qt), F.lower(t)
    qs = queries.select(
        F.col(qid_col).alias("qid"), qt.alias("qt")
    ).where(F.col("qt").isNotNull() & (F.length("qt") >= 1))
    corpus = corpus_df.select(
        F.col(id_col).alias("doc_id"), t.alias("t")
    ).where(F.col("t").isNotNull())

    cand = _substring_candidates(
        spark.read.parquet(f"{index_dir}/postings"),
        qs.where(F.length("qt") >= q), q, max_pushdown_grams,
    )
    # one row per query row, as the brute join gives
    per_row = F.array_repeat("qid", F.col("n_rows").cast("int"))
    long_hits = (
        cand.join(corpus, "doc_id")
        .where(F.contains(F.col("t"), F.col("qt")))
        .select(F.explode(per_row).alias("qid"), "doc_id")
    )

    short_q = qs.where(F.length("qt") < q)
    short_hits = (
        corpus.join(F.broadcast(short_q), F.contains(F.col("t"), F.col("qt")))
        .select("qid", "doc_id")
    )
    return long_hits.unionByName(short_hits)


#: The Gopher quality-rule stopword set (Rae et al. 2021, Appendix A):
#: a document must contain at least GOPHER_MIN_STOP_HITS of these.
GOPHER_STOPS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_MIN_STOP_HITS = 2
#: Line-start characters counted as bullets and the ellipsis suffixes,
#: per the paper's repetition/format rules.
GOPHER_BULLETS: tuple[str, ...] = ("-", "*", "•")
GOPHER_ELLIPSES: tuple[str, ...] = ("...", "…")
#: Stop-hit token normalization: ASCII-only lowercasing (an explicit
#: translate table, NOT lower() — Java and DuckDB agree on Unicode simple
#: case mapping almost everywhere, but translate is identical by
#: construction) plus edge-punctuation trim, so 'The' and 'with,' count
#: toward the required-stopword rule as they do in reference
#: Gopher/FineWeb implementations. Only the stopword MEMBERSHIP test is
#: normalized; every other metric sees raw tokens.
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
GOPHER_EDGE_PUNCT = ".,;:!?()'\""


def _gopher_metric_cols(text: Column) -> dict[str, Column]:
    """The eight Gopher rule metrics as reusable column expressions over a
    text column (NULL-coalesced to ''). Shared verbatim by the batch
    projection (:func:`gopher_rules`) and the streaming/pushdown boolean
    (:func:`gopher_passes`), so the two paths cannot drift."""
    from functools import reduce
    from operator import or_

    t = F.coalesce(text, F.lit(""))
    toks = F.filter(ws_tokens(t), lambda x: x != "")
    n_words = F.size(toks)

    def per_word(num: Column) -> Column:
        # CASE-guarded: a whitespace-only doc has n_words = 0 and under
        # ANSI mode (Spark 4 default, incl. the driver's vanilla session)
        # an unguarded /0 is a runtime ERROR, not NULL
        return F.when(n_words > 0, F.round(num.cast("double") / n_words, 6))

    hash_count = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ell_count = sum(
        [
            (
                (F.length(t) - F.length(F.replace(t, F.lit(e), F.lit(""))))
                / F.lit(len(e))
            ).cast("long")
            for e in GOPHER_ELLIPSES
        ],
        F.lit(0),
    )
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda ln: reduce(
                or_, [F.ltrim(ln).startswith(b) for b in GOPHER_BULLETS]
            ),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda ln: reduce(
                or_, [F.rtrim(ln).endswith(e) for e in GOPHER_ELLIPSES]
            ),
        )
    )
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    stop_toks = F.transform(
        toks,
        lambda x: F.btrim(
            F.translate(x, _ASCII_UPPER, _ASCII_LOWER), F.lit(GOPHER_EDGE_PUNCT)
        ),
    )
    return {
        "n_words": n_words,
        "mean_word_len": per_word(token_lengths_sum(toks)),
        "symbol_ratio": per_word(hash_count + ell_count),
        "bullet_line_frac": F.round(bullet_lines.cast("double") / n_lines, 6),
        "ellipsis_line_frac": F.round(
            ellipsis_lines.cast("double") / n_lines, 6
        ),
        "alpha_word_frac": per_word(alpha_words),
        "stop_hits": F.size(
            F.filter(
                F.array(*[F.lit(w) for w in GOPHER_STOPS]),
                lambda w: F.array_contains(stop_toks, w),
            )
        ),
    }


def _gopher_pass_expr(
    m: dict[str, Column],
    min_words: int,
    max_words: int,
    min_mean_len: float,
    max_mean_len: float,
    max_symbol_ratio: float,
    max_bullet_frac: float,
    max_ellipsis_frac: float,
    min_alpha_frac: float,
    min_stop_hits: int,
) -> Column:
    return (
        (m["n_words"] >= min_words)
        & (m["n_words"] <= max_words)
        & (m["mean_word_len"] >= min_mean_len)
        & (m["mean_word_len"] <= max_mean_len)
        & (m["symbol_ratio"] <= max_symbol_ratio)
        & (m["bullet_line_frac"] <= max_bullet_frac)
        & (m["ellipsis_line_frac"] <= max_ellipsis_frac)
        & (m["alpha_word_frac"] >= min_alpha_frac)
        & (m["stop_hits"] >= min_stop_hits)
    )


def gopher_passes(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = GOPHER_MIN_STOP_HITS,
) -> Column:
    """The Gopher gate as ONE boolean column expression — the form a
    STREAM (or a filter pushed under a wider plan) needs: zero state, no
    join, applied with a plain ``.where``. Identical math to
    :func:`gopher_rules` (both build on ``_gopher_metric_cols``)."""
    return _gopher_pass_expr(
        _gopher_metric_cols(text),
        min_words, max_words, min_mean_len, max_mean_len,
        max_symbol_ratio, max_bullet_frac, max_ellipsis_frac,
        min_alpha_frac, min_stop_hits,
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = GOPHER_MIN_STOP_HITS,
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, Appendix A) — the
    widely-reused heuristic filter set (Gopher, MassiveText, FineWeb's
    baseline): word-count bounds, mean-word-length bounds, symbol-to-word
    ratio (# and ellipses), bullet-started / ellipsis-ended line
    fractions, alphabetic-word fraction, and required-stopword presence.
    Complements ``quality_metrics`` (this repo's composite score): that
    ranks, this GATES, with per-rule evidence columns so a pipeline can
    report WHICH rule rejected a document (use :func:`gopher_passes` when
    only the boolean is needed — streams, pushdown filters).

    Pure Column expressions — narrow, zero shuffle, whole-stage codegen;
    at 100 TB this is a free rider on whatever scan feeds it. Every float
    is a ratio of integers ROUND(·,6) (cross-engine bit-identical);
    tokenization is the explicit WS_SPLIT class; `replace` counting is
    left-to-right non-overlapping in both engines; NULL text behaves as
    '' (n_words 0, passes false — matching the oracle's COALESCE).

    Returns (id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
    ellipsis_line_frac, alpha_word_frac, stop_hits, passes_gopher).
    Rule comparisons use the ROUNDED ratios, so the boolean is a function
    of the emitted values — identical in any engine.
    """
    m = _gopher_metric_cols(F.col(text_col))
    staged = df.select(
        F.col(id_col),
        *[m[name].alias(name) for name in (
            "n_words", "mean_word_len", "symbol_ratio", "bullet_line_frac",
            "ellipsis_line_frac", "alpha_word_frac", "stop_hits",
        )],
    )
    named = {name: F.col(name) for name in (
        "n_words", "mean_word_len", "symbol_ratio", "bullet_line_frac",
        "ellipsis_line_frac", "alpha_word_frac", "stop_hits",
    )}
    passes = _gopher_pass_expr(
        named,
        min_words, max_words, min_mean_len, max_mean_len,
        max_symbol_ratio, max_bullet_frac, max_ellipsis_frac,
        min_alpha_frac, min_stop_hits,
    )
    return staged.withColumn("passes_gopher", passes)


def badwords_gate(text: Column, badwords) -> Column:
    """C4 word-blocklist gate (Raffel et al. 2020 §2.2 — the public
    blocklist filter): keep = TRUE iff NO whitespace token of ``text``
    matches a blocked word. Token normalization is EXACTLY the Gopher
    stop-hit chain (ASCII translate-lowercase + edge-punctuation trim,
    see ``_gopher_metric_cols``) so 'Word' and 'word,' both match their
    blocklist entry — one normalization for both vocab gates, no drift.
    Membership is ``arrays_overlap`` against the literal list: pure
    codegen, rides the scan, zero shuffle — at 100 TB this is a free
    predicate on the ingest pass. The blocklist is a bounded literal
    (hundreds of words, the C4 regime); a corpus-scale blocklist belongs
    in a broadcast anti-join instead. NULL text → keep (the gate never
    invents a reason to drop what it cannot read)."""
    t = F.coalesce(text, F.lit(""))
    toks = F.filter(ws_tokens(t), lambda x: x != "")
    norm = F.transform(
        toks,
        lambda x: F.btrim(
            F.translate(x, _ASCII_UPPER, _ASCII_LOWER), F.lit(GOPHER_EDGE_PUNCT)
        ),
    )
    normed = normalize_badwords(badwords)
    if not normed:
        return F.lit(True)
    blocked = F.array(*[F.lit(w) for w in normed])
    return F.coalesce(~F.arrays_overlap(norm, blocked), F.lit(True))


def normalize_badwords(badwords) -> list[str]:
    """Blocklist entries through the SAME chain document tokens get
    (lowercase + edge-punctuation trim): an entry like ``'bad!'`` could
    otherwise never match — every document token has its edge punctuation
    trimmed before membership, so the un-trimmed entry is a silent no-op.
    Shared by :func:`badwords_gate` and the suite oracle generator so the
    two lists cannot diverge."""
    out = []
    for w in badwords:
        w = (w or "").strip().lower().strip(GOPHER_EDGE_PUNCT)
        if w and w not in out:
            out.append(w)
    return out


def regex_required_literals(pattern: str, q: int) -> list[str] | None:
    """Extract the literal runs a regex FORCES every match to contain —
    the index side of Cox 2012 (trigram-accelerated regex search), for a
    SAFE pattern subset: literal characters, ``\\``-escaped punctuation,
    the wildcards ``.``, ``.*``, ``.+``, and the anchors ``^``/``$``.
    Returns the literal runs of length >= q (each is an AND-requirement:
    a matching document must contain every run, hence every q-gram of
    every run), or ``None`` when the pattern uses anything outside the
    subset (classes, alternation, groups, quantifiers on literals) — the
    caller must then fall back to the full scan, because a wrong
    "required" literal silently loses matches. Empty list = supported
    pattern but no run long enough to index (also a scan)."""
    runs: list[str] = []
    cur: list[str] = []
    i, n = 0, len(pattern)

    def flush():
        if cur:
            runs.append("".join(cur))
            cur.clear()

    while i < n:
        c = pattern[i]
        if c == "^" and i == 0:
            i += 1
            continue
        if c == "$" and i == n - 1:
            i += 1
            continue
        if c == "\\":
            if i + 1 >= n:
                return None
            nxt = pattern[i + 1]
            if nxt.isalnum():  # \d \w \S ... — class shorthand
                return None
            # escaped punctuation is a literal — unless a quantifier
            # follows, which would make it optional/repeated
            if i + 2 < n and pattern[i + 2] in "*+?{":
                return None
            cur.append(nxt)
            i += 2
            continue
        if c == ".":
            flush()
            if i + 1 < n and pattern[i + 1] in "*+":
                i += 2
            else:
                i += 1
            if i < n and pattern[i] in "*+?{":
                return None  # e.g. ".**" — outside the subset
            continue
        if c in "*+?{}()[]|^$":
            return None
        if i + 1 < n and pattern[i + 1] in "*+?{":
            return None  # quantified literal: not required
        cur.append(c)
        i += 1
    flush()
    return [r for r in runs if len(r) >= q]


def regex_search_from_index(
    spark,
    index_dir: str,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    pattern: str,
    max_pushdown_grams: int = 1_000,
) -> DataFrame:
    """Regex search accelerated by the staged substring index — Cox 2012
    end to end: extract the pattern's REQUIRED literal runs
    (:func:`regex_required_literals`), take the posting list of their
    rarest q-gram as the candidate set (the rule of
    :func:`substring_search_from_index`), verify candidates with
    ``rlike`` — exactly
    the rows a full ``rlike`` scan returns (required-literal extraction
    is a necessary condition, pytest-pinned). Patterns outside the safe
    subset (or with no literal run >= q) take the honest full-scan
    fallback — correct, just not index-pruned. Returns (doc_id).

    The verify uses Spark's JAVA regex semantics; this is a Spark-side
    serving path with no cross-engine oracle claim (rows-only class —
    Java vs RE2 divergences are the documented suite boundary). Requires
    a case-SENSITIVE index (``fold_case=False``): a lowered postings
    table would demand case-insensitive regex verify, which the safe
    subset does not model."""
    meta = read_substring_index_meta(spark, index_dir)
    q, fold_case = int(meta["q"]), bool(meta["fold_case"])
    if fold_case:
        raise ValueError(
            "regex_search_from_index needs a case-sensitive index "
            "(fold_case=False): lowered postings would require "
            "case-insensitive verify semantics"
        )
    corpus = corpus_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")
    ).where(F.col("t").isNotNull())

    runs = regex_required_literals(pattern, q)
    if not runs:
        return corpus.where(F.col("t").rlike(pattern)).select("doc_id")

    # the runs are driver-known strings — their grams come from a set
    # comprehension, not Spark jobs (a pattern cannot carry more grams
    # than its own length, so this is always tiny)
    need = sorted({r[i : i + q] for r in runs for i in range(len(r) - q + 1)})
    postings = spark.read.parquet(f"{index_dir}/postings")
    if len(need) <= max_pushdown_grams:
        wanted = postings.where(F.col("g").isin(need))
    else:  # a pathological generated pattern: keyed semi-join instead of
        # an oversized isin literal
        need_df = local_df(spark, [(g,) for g in need], "g string")
        wanted = postings.join(need_df, "g", "left_semi")
    # every match holds every needed gram, so the rarest gram's list is a
    # complete candidate set; the sizes are at most len(need) rows
    sizes = dict(wanted.groupBy("g").agg(F.count(F.lit(1))).collect())
    rarest = min(need, key=lambda g: (sizes.get(g, 0), g))
    cand = postings.where(F.col("g") == rarest).select("doc_id")
    return (
        corpus.join(cand, "doc_id", "semi")
        .where(F.col("t").rlike(pattern))
        .select("doc_id")
    )


def substring_match_snippets(
    spark,
    index_dir: str,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    qid_col: str,
    qtext_col: str,
    context: int = 30,
    max_pushdown_grams: int = 1_000,
) -> DataFrame:
    """KWIC companion to :func:`substring_search_from_index`: the same
    exact hit set, enriched per hit with the FIRST match position
    (1-based chars), the total occurrence count, and a ±``context``-char
    snippet around the first match — the human-inspection surface of the
    search index (keyword-in-context). Returns
    (qid, doc_id, pos, n_matches, snippet).

    All enrichment is pure column arithmetic over the candidate-pruned
    hits (locate for the position, a length-difference quotient for the
    count — no per-row Python), so the added cost is O(hits). Under a
    ``fold_case`` index, positions/counts are computed on the folded
    text and the snippet is sliced from the ORIGINAL at those offsets —
    exact for any text whose lowercasing preserves length (all of ASCII;
    the documented drift case is locale-class mappings like 'İ' whose
    lowering adds a combining mark). Each matching doc is paired with the
    query rows of its qid whose text it contains, so the output has one
    row per query row and matching doc, as the search itself."""
    meta = read_substring_index_meta(spark, index_dir)
    fold_case = bool(meta["fold_case"])
    hits = substring_search_from_index(
        spark, index_dir, corpus_df, id_col, text_col, queries, qid_col,
        qtext_col, max_pushdown_grams=max_pushdown_grams,
    )
    texts = corpus_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")
    )
    qs = queries.select(
        F.col(qid_col).alias("qid"), F.col(qtext_col).alias("qt")
    ).where(F.col("qt").isNotNull() & (F.length("qt") >= 1))
    # the search emits one row per query row: back to distinct (qid, doc)
    # pairs, then one row per query row of the qid whose text matches
    out = hits.distinct().join(texts, "doc_id").join(qs, "qid")
    mt = F.lower(F.col("t")) if fold_case else F.col("t")
    mq = F.lower(F.col("qt")) if fold_case else F.col("qt")
    out = (
        out.withColumn("mt_c", mt)
        .withColumn("mq_c", mq)
        .where(F.contains(F.col("mt_c"), F.col("mq_c")))
    )
    out = (
        out.withColumn("pos", F.expr("locate(mq_c, mt_c)"))
        .withColumn(
            "n_matches",
            (
                (F.length("mt_c") - F.length(F.replace(F.col("mt_c"), F.col("mq_c"))))
                / F.length("mq_c")
            ).cast("long"),
        )
        .withColumn("snip_start", F.greatest(F.lit(1), F.col("pos") - context))
        .withColumn(
            "snippet",
            F.col("t").substr(
                F.col("snip_start"),
                F.length("qt") + F.lit(2 * context),
            ),
        )
    )
    return out.select("qid", "doc_id", "pos", "n_matches", "snippet")
