"""Distributed BPE (byte-pair-encoding) vocabulary induction.

The tokenizer-training step of an LLM data pipeline, expressed Spark-first.
The classic algorithm (Sennrich et al. 2016) iterates: count adjacent symbol
pairs, merge the most frequent pair, repeat. The scale-critical observation
is that BPE statistics live on the DISTINCT-WORD frequency table, not the
corpus: a 100 TB corpus collapses to a ~10-100M-row (word, count) frame in
one map-combined aggregation, and every merge round after that is a small
job over that frame — pair counting is an explode over per-word symbol
arrays weighted by the word count, the winning pair is a TakeOrdered(1)
with a total order, and the merge itself is a JVM-side array fold. The
driver holds only the merge list (bounded by n_merges).

Reference surface parity note: the reference has no tokenizer (its text
functions are the chess extension scalars, src/read-pgn.ts:48); this is
part of the training-data extension surface (SURVEY.md §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chess_lakehouse_spark.session import FrameScope, local_df

from chess_lakehouse_spark.functions.text import WS_SPLIT as _WS_SPLIT

#: End-of-word marker appended to each word's final symbol, so merges can
#: distinguish word-final from word-internal contexts (classic BPE).
EOW = "</w>"

#: Truncate the iterative lineage every this many merge rounds: each round
#: rewrites the symbol arrays on top of the previous round's plan, and an
#: unbounded plan stack is the classic iterative-algorithm failure mode
#: (same pattern as operators/graph.py: connected_components).
_CHECKPOINT_EVERY = 8


def _word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> distinct (word, n, syms) with syms = chars + EOW marker on
    the last char. One explode + one map-combined count; everything after
    operates on this vocabulary-bounded frame."""
    from chess_lakehouse_spark.session import spread

    words = (
        # spread: the tokenize/explode map inherits the scan's single
        # fixture-file partition without it (guide §2.5).
        spread(df.select(F.col(text_col)))
        .select(
            F.explode(
                F.filter(
                    F.split(F.col(text_col), _WS_SPLIT), lambda w: w != ""
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    syms = F.expr(
        "transform("
        "  transform(sequence(1, length(w)), i -> substring(w, i, 1)),"
        f" (c, i) -> IF(i = length(w) - 1, c || '{EOW}', c))"
    )
    return words.select("w", "n", syms.alias("syms"))


def _merge_expr(pa: str, pb: str):
    """Array fold replacing every adjacent (pa, pb) with the concatenation —
    left-to-right, non-overlapping (matches the sequential reference scan).

    The fold carries (acc, pending) where ``pending`` is a 1-element buffer
    holding a candidate ``pa`` that may still pair with the next symbol.
    """
    # backslash FIRST (it is the SQL escape char — escaping it after the
    # quote pass would re-escape the quote's own backslash), then quotes;
    # corpora with code/Windows paths hit both routinely
    qa, qb = (
        s.replace("\\", "\\\\").replace("'", "\\'") for s in (pa, pb)
    )
    return F.expr(
        "aggregate(syms,"
        " named_struct('acc', CAST(array() AS array<string>), 'pend', CAST(NULL AS string)),"
        " (s, x) -> CASE"
        f"   WHEN s.pend = '{qa}' AND x = '{qb}'"
        f"     THEN named_struct('acc', concat(s.acc, array('{qa}{qb}')), 'pend', CAST(NULL AS string))"
        f"   WHEN x = '{qa}'"
        "      THEN named_struct('acc', CASE WHEN s.pend IS NULL THEN s.acc ELSE concat(s.acc, array(s.pend)) END,"
        f"                        'pend', x)"
        "    ELSE named_struct('acc', concat(CASE WHEN s.pend IS NULL THEN s.acc ELSE concat(s.acc, array(s.pend)) END, array(x)),"
        "                      'pend', CAST(NULL AS string)) END,"
        " s -> CASE WHEN s.pend IS NULL THEN s.acc ELSE concat(s.acc, array(s.pend)) END)"
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus. Deterministic:
    the winning pair has the total order (count DESC, pa ASC, pb ASC), so
    any engine/partitioning learns the identical merge list (pinned against
    a pure-Python reference implementation in tests/test_bpe.py).

    Plan per round: adjacent pairs via a zip of the symbol array with its
    tail (map-side), weighted count (map-combined partial agg), winner via
    TakeOrderedAndProject(1); merge applied as a JVM array fold. Stops
    early when the best pair's count falls below ``min_pair_count``.
    """
    if n_merges < 1:
        raise ValueError(f"bpe_train: n_merges must be >= 1, got {n_merges}")
    # Lazy persist, not eager localCheckpoint: materialization rides round
    # 1's TakeOrdered job (the kmeans_fit/pq_train r16 discipline); the
    # mid-loop lineage-truncation checkpoints below stay, lazily. A lazy
    # checkpoint is materialized by the next round's job, and only then is
    # the frame it was taken over (``stale``) released.
    merges: list[tuple[str, str]] = []
    with FrameScope() as scope:
        held = vocab = scope.cache(_word_symbols(df, text_col))
        stale = None
        for r in range(n_merges):
            pairs = vocab.select(
                "n",
                F.explode(
                    F.expr("zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1),"
                           " (a, b) -> named_struct('pa', a, 'pb', b))")
                ).alias("p"),
            )
            best = (
                pairs.groupBy("p.pa", "p.pb")
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("pa").asc(), F.col("pb").asc())
                .limit(1)
                .collect()
            )
            if stale is not None:
                scope.release(stale)
                stale = None
            if not best or best[0]["cnt"] < min_pair_count:
                break
            pa, pb = best[0]["pa"], best[0]["pb"]
            merges.append((pa, pb))
            vocab = vocab.select("w", "n", _merge_expr(pa, pb).alias("syms"))
            if (r + 1) % _CHECKPOINT_EVERY == 0:
                stale, held = held, scope.checkpoint(vocab, eager=False)
                vocab = held
    return merges


def bpe_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list: (id, tokens).

    This is one of the package's documented Arrow-batched Python
    boundaries (alongside PGN parse and movetext normalize): applying
    hundreds of merges as nested column expressions would stack n_merges
    plan nodes per row, while a pandas UDF runs the standard
    rank-priority merge loop per word with a per-batch word cache —
    vectorized transfer, no per-row Python call overhead, embarrassingly
    parallel over documents at 100 TB.
    """
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @pandas_udf("array<string>")
    def _tok(texts):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def word_tokens(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            syms = [c for c in w]
            if syms:
                syms[-1] = syms[-1] + EOW
            while len(syms) > 1:
                cand = [
                    (ranks[(a, b)], i)
                    for i, (a, b) in enumerate(zip(syms, syms[1:]))
                    if (a, b) in ranks
                ]
                if not cand:
                    break
                rk, i = min(cand)
                pa, pb = merges[rk]
                out = []
                j = 0
                while j < len(syms):
                    if j < len(syms) - 1 and syms[j] == pa and syms[j + 1] == pb:
                        out.append(pa + pb)
                        j += 2
                    else:
                        out.append(syms[j])
                        j += 1
                syms = out
            cache[w] = syms
            return syms

        return pd.Series(
            [
                [t for w in (s.split() if s else []) for t in word_tokens(w)]
                for s in texts
            ]
        )

    return df.select(F.col(id_col), _tok(F.col(text_col)).alias("tokens"))


def build_token_vocab(
    tokens_df: DataFrame, tokens_col: str = "tokens", unk: str = "<unk>"
) -> DataFrame:
    """Deterministic token vocabulary from a tokenized corpus: (token,
    token_id) with ids assigned by LEXICOGRAPHIC token order starting at
    1 — id 0 is reserved for ``unk`` — so the same corpus always yields
    the same table on any partitioning (no monotonically_increasing_id,
    whose values depend on partition layout). One distinct + the
    DISTRIBUTED sort-rank (operators/relational.py:global_sort_rank —
    range repartition + per-partition row_number + broadcast offsets):
    ids stay lexicographic and partition-invariant, but a web-scale
    vocabulary (hundreds of millions of distinct tokens at 100 TB) never
    funnels through the single-partition window Spark plans for a bare
    row_number-over-order-by. A corpus token EQUAL to
    the ``unk`` sentinel is excluded from the minted rows (it would
    otherwise appear twice — once as the reserved id 0, once minted — and
    the token-keyed encode join would duplicate every occurrence); such
    tokens encode to id 0 and decode back to the sentinel, the only
    consistent reading of a corpus that already carries unk markers."""
    from chess_lakehouse_spark.operators.relational import global_sort_rank

    toks = (
        tokens_df.select(F.explode(F.col(tokens_col)).alias("token"))
        .where(
            F.col("token").isNotNull()
            & (F.col("token") != "")
            & (F.col("token") != unk)
        )
        .distinct()
    )
    vocab = global_sort_rank(toks, ["token"]).select(
        "token", F.col("__rank").cast("long").alias("token_id")
    )
    unk_row = local_df(
        tokens_df.sparkSession, [(unk, 0)], "token string, token_id long"
    )
    return unk_row.unionByName(vocab)


def encode_token_ids(
    tokens_df: DataFrame,
    id_col: str,
    vocab: DataFrame,
    tokens_col: str = "tokens",
    unk_id: int = 0,
) -> DataFrame:
    """Token strings → integer ids, the export step between
    :func:`bpe_apply` and sequence packing: returns (id, ids
    array<long>, n_tokens, n_oov) with in-document order preserved and
    out-of-vocabulary tokens mapped to ``unk_id``. Documents with empty
    (or NULL) token arrays survive with ``ids = []``.

    Plan: posexplode → ONE vocabulary-keyed join (the vocab side is
    bounded, AQE broadcasts it) → one doc-keyed groupBy that re-sorts by
    position in the ARRAY domain (sort_array over (pos, id) structs —
    no per-group window) → an arrays-restoring left join back to the
    input ids. Everything is keyed; the only corpus-sized shuffle is the
    doc-keyed reassembly, which is output-sized by definition."""
    base = tokens_df.select(F.col(id_col).alias("id"), F.col(tokens_col).alias("toks"))
    pos = base.select(
        "id", F.posexplode(F.coalesce(F.col("toks"), F.array())).alias("pos", "token")
    )
    joined = pos.join(vocab, "token", "left").select(
        "id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).alias("tid"),
        F.col("token_id").isNull().alias("oov"),
    )
    packed = (
        joined.groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s["tid"],
            ).alias("ids"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("oov").cast("long")).alias("n_oov"),
        )
    )
    return (
        base.select("id")
        .join(packed, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("ids", F.array().cast("array<bigint>")).alias("ids"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        )
    )


def decode_token_ids(
    ids_df: DataFrame,
    id_col: str,
    vocab: DataFrame,
    ids_col: str = "ids",
    unk: str = "<unk>",
) -> DataFrame:
    """Integer ids → text, the inverse of :func:`encode_token_ids` for
    audit/inspection of packed exports: ids join back to tokens, tokens
    re-assemble in the array domain, the ``</w>`` end-of-word markers
    become word boundaries. Returns (id, text). Round-trips exactly up to
    whitespace normalization (tokenization splits on whitespace runs, so
    the reconstruction joins words with single spaces) — pinned in
    tests/test_bpe.py. Ids PRESENT in the vocab decode to their token
    (id 0 therefore surfaces the vocab's own unk sentinel); ids absent
    from the vocab entirely fall back to ``unk`` — pass the same sentinel
    the vocab was minted with, or the fallback diverges from the
    encoder's. Same plan shape as the encoder: posexplode → bounded vocab
    join → doc-keyed array reassembly."""
    base = ids_df.select(F.col(id_col).alias("id"), F.col(ids_col).alias("ids"))
    pos = base.select(
        "id", F.posexplode(F.coalesce(F.col("ids"), F.array())).alias("pos", "token_id")
    )
    joined = pos.join(vocab, "token_id", "left").select(
        "id", "pos", F.coalesce("token", F.lit(unk)).alias("token")
    )
    from chess_lakehouse_spark.operators.dedup import regex_quote

    assembled = joined.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.split(
                F.concat_ws(
                    "",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "token"))),
                        lambda s: s["token"],
                    ),
                ),
                # the EOW marker is a literal, not a regex — Pattern.quote
                regex_quote(EOW),
            ),
        ).alias("joined")
    )
    return (
        base.select("id")
        .join(assembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.rtrim(F.coalesce("joined", F.lit(""))).alias("text"),
        )
    )
