"""Unit tests for the training-data-pipeline operators (dedup, similarity,
text analysis) on tiny inline frames — the oracle harness covers the
sf0.01 hash-match; these pin the semantics on readable examples."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row
from pyspark.sql import functions as F

from chess_lakehouse_spark.operators.dedup import (
    exact_dedup_groups,
    md5_hash64,
    minhash_lsh_dedup,
    simhash32,
    simhash_near_pairs,
    word_shingles,
)
from chess_lakehouse_spark.operators.similarity import (
    cosine,
    hyperplane_signs,
    knn_brute_force,
)
from chess_lakehouse_spark.functions.text import quality_metrics, token_counts, winnow_fingerprints


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_md5_hash64_matches_python(spark):
    df = spark.createDataFrame([Row(s="abc")])
    got = df.select(md5_hash64(F.col("s")).alias("h")).collect()[0].h
    want = int(hashlib.md5(b"abc").hexdigest()[:15], 16)
    assert got == want


def test_exact_dedup_groups(spark):
    df = _docs(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    rows = {r.canonical_id: r.n_copies for r in exact_dedup_groups(df, "doc_id", "text").collect()}
    assert rows == {1: 2, 3: 1}


def test_word_shingles_short_doc_empty(spark):
    df = _docs(spark, [(1, "only two")])
    assert word_shingles(df, "doc_id", "text", k=3).count() == 0


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(29)) + " zz"
    far = " ".join(f"x{i}" for i in range(30))
    df = _docs(spark, [(1, base), (2, near), (3, far)])
    pairs = minhash_lsh_dedup(df, "doc_id", "text", threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.85


def test_simhash_near_pairs_identical_docs(spark):
    df = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e f"), (3, "q r s t u v")])
    sim = simhash32(df, "doc_id", "text")
    vals = {r.doc_id: r.simhash for r in sim.collect()}
    assert vals[1] == vals[2]
    pairs = simhash_near_pairs(sim, "doc_id", max_hamming=0).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_cosine_orthogonal_and_identical(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 0.0], b=[0.0, 1.0]), Row(a=[2.0, 0.0], b=[3.0, 0.0])]
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert [r.c for r in got] == [0.0, 1.0]


def test_knn_brute_force_ranks_by_similarity(spark):
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
        ]
    )
    probes = emb.where(F.col("vec_id") == 0)
    got = knn_brute_force(emb, probes, "vec_id", "embedding", k=2).collect()
    assert [(r.cand_id, r.rk) for r in got] == [(1, 1), (2, 2)]


def test_hyperplane_signs_deterministic():
    a = hyperplane_signs(4, 8)
    b = hyperplane_signs(4, 8)
    assert a == b
    assert all(s in (1.0, -1.0) for row in a for s in row)


def test_quality_and_token_counts(spark):
    df = _docs(spark, [(1, "the cat sat")])
    q = quality_metrics(df, "doc_id", "text").collect()[0]
    assert q.n_chars == 11 and q.n_tokens == 3
    assert q.avg_token_len == 3.0
    assert q.stopword_ratio == round(1 / 3, 4)
    t = token_counts(df, "doc_id", "text").collect()[0]
    assert t.n_ws_tokens == 3 and t.n_subword_tokens == 3  # ceil(3/4)=1 each


def test_winnow_fingerprint_stable_under_suffix_edit(spark):
    base = "abcdefghijklmnopqrstuvwxyz0123456789"
    df = _docs(spark, [(1, base), (2, base + "EDITED")])
    fp = winnow_fingerprints(df, "doc_id", "text", k=5, window=8)
    by_doc = {
        d: {(r.win_idx, r.fingerprint) for r in rows}
        for d, rows in [(1, fp.where("doc_id=1").collect()), (2, fp.where("doc_id=2").collect())]
    }
    # early windows (away from the edit) are identical
    shared = by_doc[1] & by_doc[2]
    assert len(shared) >= 3


def test_ngram_prefix_strategy_matches_exhaustive(spark):
    from chess_lakehouse_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "s1"),
        (2, "the quick brown fox jumps over the lazy cat", "s1"),
        (3, "entirely different content with no overlap here", "s1"),
        (4, "the quick brown fox jumps over the lazy dog", "s2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    kw = dict(id_col="doc_id", text_col="text", block_col="source", n=3, threshold=0.5)
    exhaustive = {tuple(r) for r in ngram_jaccard_pairs(df, **kw).collect()}
    prefix = {tuple(r) for r in ngram_jaccard_pairs(df, strategy="prefix", **kw).collect()}
    assert exhaustive == prefix
    assert (1, 2) in {(a, b) for a, b, _ in exhaustive}


def test_ngram_prefix_matches_exhaustive_zipfian(spark):
    """Prefix-filter equivalence on a Zipfian-skewed corpus — the regime the
    prefix strategy is designed for (rare-tail grams are discriminative),
    unlike the shared-vocab fixture above where it prunes almost nothing."""
    import random

    from chess_lakehouse_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(42)
    # Zipf-ish vocabulary: token i drawn with weight 1/(i+1).
    vocab = [f"w{i}" for i in range(50)]
    weights = [1.0 / (i + 1) for i in range(50)]

    def doc():
        return " ".join(rng.choices(vocab, weights=weights, k=12))

    rows = []
    for i in range(40):
        text = doc()
        rows.append((2 * i, text, f"s{i % 2}"))
        # near-duplicate partner: same text with a small suffix edit
        rows.append((2 * i + 1, text + (" zz" if i % 3 == 0 else ""), f"s{i % 2}"))
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    kw = dict(id_col="doc_id", text_col="text", block_col="source", n=3, threshold=0.6)
    exhaustive = {tuple(r) for r in ngram_jaccard_pairs(df, **kw).collect()}
    prefix = {tuple(r) for r in ngram_jaccard_pairs(df, strategy="prefix", **kw).collect()}
    assert exhaustive == prefix
    assert len(exhaustive) >= 40  # every identical/near-dup partner pair found


def test_ngram_strategy_selector_both_fixture_shapes(spark):
    """choose_ngram_strategy: flat/shared-vocab df histograms (prefix prunes
    little, ranking overhead dominates) must select exhaustive; Zipfian
    histograms (head grams carry Σ df², fall outside the rare-prefix mass)
    must select prefix."""
    from chess_lakehouse_spark.operators.dedup import choose_ngram_strategy

    # Shared-vocab shape: every gram appears in ~all 20 docs (flat df=20).
    flat = spark.createDataFrame(
        [(d, "s", f"g{g}") for d in range(20) for g in range(30)],
        ["doc_id", "blk", "gram"],
    )
    assert choose_ngram_strategy(flat, "doc_id", 0.5) == "exhaustive"

    # Zipfian shape: 5 head grams in all 200 docs (df=200 dominates Σ df²),
    # plus a discriminative df=1 tail that covers the (1-t) rare-prefix mass.
    head = [(d, "s", f"h{g}") for d in range(200) for g in range(5)]
    tail = [(d, "s", f"t{d}_{g}") for d in range(200) for g in range(10)]
    zipf = spark.createDataFrame(head + tail, ["doc_id", "blk", "gram"])
    assert choose_ngram_strategy(zipf, "doc_id", 0.5) == "prefix"


def test_ngram_auto_matches_exhaustive(spark):
    """strategy='auto' (the default) returns the same rows as both explicit
    strategies — the selector affects cost only, never the result set."""
    from chess_lakehouse_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "s1"),
        (2, "the quick brown fox jumps over the lazy cat", "s1"),
        (3, "entirely different content with no overlap here", "s1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    kw = dict(id_col="doc_id", text_col="text", block_col="source", n=3, threshold=0.5)
    auto = {tuple(r) for r in ngram_jaccard_pairs(df, **kw).collect()}
    exhaustive = {
        tuple(r) for r in ngram_jaccard_pairs(df, strategy="exhaustive", **kw).collect()
    }
    assert auto == exhaustive


def test_tfidf_cosine_blocking_loses_no_recall(spark):
    """Recall pin for the tfidf_cosine blocking parameters: on a corpus with
    no cross-block near-pairs, the blocked inverted-index result must equal
    the unblocked (brute-force) one — blocking may only prune pair
    GENERATION, never drop a true near-pair. (The unblocked inverted-index
    join is itself exact: a pair sharing zero terms has cosine 0.)"""
    from chess_lakehouse_spark.functions.text import tfidf
    from chess_lakehouse_spark.operators.similarity import sparse_cosine_pairs

    rows = [
        (1, "apple banana cherry apple banana cherry", "s1"),
        (2, "apple banana cherry apple banana date date", "s1"),
        (3, "mango papaya kiwi grape lime melon", "s1"),
        (4, "xray yankee zulu xray yankee zulu", "s2"),
        (5, "xray yankee zulu xray yankee whiskey whiskey", "s2"),
        (6, "golf hotel india juliet echo fox", "s2"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    wts = tfidf(docs, "doc_id", "text", min_tf=2).join(
        docs.select("doc_id", F.col("source").alias("blk")), "doc_id"
    )
    kw = dict(id_col="doc_id", term_col="term", weight_col="tfidf", threshold=0.5)
    blocked = {(r.id_a, r.id_b, r.sim) for r in sparse_cosine_pairs(wts, block_col="blk", **kw).collect()}
    brute = {(r.id_a, r.id_b, r.sim) for r in sparse_cosine_pairs(wts, block_col=None, **kw).collect()}
    assert blocked == brute
    assert {(a, b) for a, b, _ in blocked} == {(1, 2), (4, 5)}


def test_contamination_fingerprint_recall_vs_python_reference(spark):
    """Recall pin for the contamination fingerprint parameters (char-5-gram
    winnowing, window 8, overlap >= 0.8): per-doc overlap fractions must
    match an independent pure-Python winnowing implementation, an exact
    train copy must score 1.0, a suffix-edited copy must still clear the
    0.8 gate (winnowing's local-edit robustness), and an unrelated doc must
    score ~0 — guarding k/window/threshold against silent recall loss."""
    from chess_lakehouse_spark.functions.text import winnow_fingerprints

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank today "
        "while the tall grey heron watches from the reeds and a cold north wind "
        "bends the willow branches over the slow clear water below the old stone bridge"
    )
    train_texts = {101: base, 102: "completely separate training material about spark plans"}
    eval_texts = {
        1: base,                      # exact copy -> overlap 1.0
        2: base[:-5] + "XYZWQ",       # local suffix edit -> high overlap
        3: "unrelated evaluation text with its own fresh vocabulary entirely",
    }

    def py_winnow(text, k=5, window=8):
        if len(text) < k:
            return set()
        hs = [
            sum(ord(text[i + j]) * 131 ** (k - 1 - j) for j in range(k))
            for i in range(len(text) - k + 1)
        ]
        return {min(hs[w : w + window]) for w in range(0, len(hs), window)}

    train_fps = set().union(*(py_winnow(t) for t in train_texts.values()))
    expect = {
        d: round(len(py_winnow(t) & train_fps) / len(py_winnow(t)), 6)
        for d, t in eval_texts.items()
    }

    tr = spark.createDataFrame(list(train_texts.items()), ["doc_id", "text"])
    ev = spark.createDataFrame(list(eval_texts.items()), ["doc_id", "text"])
    tr_fp = (
        winnow_fingerprints(tr, "doc_id", "text", k=5, window=8)
        .select("fingerprint").distinct().withColumn("__hit", F.lit(1))
    )
    ev_fp = (
        winnow_fingerprints(ev, "doc_id", "text", k=5, window=8)
        .select("doc_id", "fingerprint").distinct()
    )
    got = {
        r.doc_id: r.frac
        for r in ev_fp.join(tr_fp, "fingerprint", "left")
        .groupBy("doc_id")
        .agg(
            F.round(F.count("__hit").cast("double") / F.count(F.lit(1)), 6).alias("frac")
        )
        .collect()
    }
    assert got == expect
    assert got[1] == 1.0
    assert got[2] >= 0.8  # FP_OVERLAP_THRESHOLD: edited copy still flagged
    assert got[3] < 0.2


def _persistent_ids(spark) -> set[int]:
    """Ids of currently persisted RDDs. Tests compare DELTAS of this set,
    never global emptiness: the session is shared suite-wide and other
    operators' localCheckpoint frames legitimately linger until the JVM
    ContextCleaner collects them."""
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_dedup_operators_leave_no_cached_rdds(spark):
    """Hygiene sweep: dedup operators must not leak persisted RDDs into a
    long-lived session (they are invoked per-query by the suite and have no
    safe point to unpersist a lazily returned frame)."""
    before = _persistent_ids(spark)
    df = _docs(
        spark,
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "q r s t u v w y")],
    )
    sim = simhash32(df, "doc_id", "text")
    simhash_near_pairs(sim, "doc_id").count()
    minhash_lsh_dedup(df, "doc_id", "text").count()
    from chess_lakehouse_spark.operators.dedup import ngram_jaccard_pairs

    src = df.withColumn("source", F.lit("s"))
    for strategy in ("exhaustive", "prefix"):
        ngram_jaccard_pairs(
            df=src, id_col="doc_id", text_col="text", block_col="source", strategy=strategy
        ).count()
    assert _persistent_ids(spark) <= before


def test_salted_join_matches_plain_join(spark):
    from chess_lakehouse_spark.operators.relational import salted_join

    left = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", f"k{i % 5}")], ["key", "val"]
    )
    right = spark.createDataFrame(
        [("hot", "H"), ("k0", "A"), ("k3", "B"), ("missing", "X")], ["key", "attr"]
    )
    for how in ("inner", "left"):
        plain = {tuple(r) for r in left.join(right, "key", how).collect()}
        salted = {tuple(r) for r in salted_join(left, right, "key", n_salts=4, how=how).collect()}
        assert salted == plain


def test_asof_join_semantics(spark):
    from chess_lakehouse_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 200, "e2"), (2, 50, "e3")], ["k", "t", "event"]
    )
    right = spark.createDataFrame(
        # k=1: two rows at t=100 (tie -> greater v wins), one later at t=150
        [(1, 90, 10), (1, 100, 11), (1, 100, 12), (1, 150, 13), (3, 10, 99)],
        ["k", "t", "v"],
    )
    out = asof_join(
        left, right, key_cols=["k"], left_ts="t", right_ts="t",
        payload_cols=["v"], tiebreak_cols=["v"],
    )
    got = {(r.k, r.t, r.asof_v) for r in out.collect()}
    assert got == {
        (1, 100, 12),  # boundary inclusive + tie -> max v at t=100
        (1, 200, 13),  # latest at-or-before
        (2, 50, None),  # no right rows for key -> NULL
    }


def test_asof_join_null_payload_not_skipped(spark):
    """The most recent right row must win even when its payload is NULL —
    last(col, ignorenulls) directly would fall back to the older non-NULL
    row, diverging from LATERAL ... ORDER BY ts DESC LIMIT 1 semantics."""
    from chess_lakehouse_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 200, "e1")], ["k", "t", "event"])
    right = spark.createDataFrame(
        [(1, 90, 10), (1, 150, None)], ["k", "t", "v"]
    )
    out = asof_join(
        left, right, key_cols=["k"], left_ts="t", right_ts="t",
        payload_cols=["v"], tiebreak_cols=[],
    )
    assert [(r.k, r.t, r.asof_v) for r in out.collect()] == [(1, 200, None)]


def test_connected_components_chain_and_island(spark):
    from chess_lakehouse_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter 3) + separate pair 10-11
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    # driver union-find fast path and the distributed iterative loop must agree
    fast = {(r.id, r.component) for r in connected_components(edges).collect()}
    dist = {
        (r.id, r.component)
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert fast == want and dist == want


def test_incremental_near_dups_matches_full_self_join(spark):
    """The staged-signatures incremental path must find exactly the
    cross-batch pairs the full self-join finds (restricted to new×corpus),
    with identical jaccard values, at one input partition and at five.
    Corpus id 2 spans two rows (its set is their union); ids 7 and 59 have
    fewer than k tokens."""
    from chess_lakehouse_spark.operators.dedup import (
        incremental_near_dups,
        minhash_signatures,
        word_shingles,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta"),
        (2, "gamma delta epsilon eta"),
        (3, "one two three four five six"),
        (7, "too short"),
        (19, "alpha beta gamma delta epsilon zeta"),  # new: dup of 1, near 2
        (29, "completely unrelated text goes here now"),  # new: no match
        (59, "short"),  # new: no shingle
    ]
    for n_parts in (1, 5):
        docs = _docs(spark, rows).repartition(n_parts)
        new = docs.where("doc_id % 10 = 9")
        corpus = docs.where("doc_id % 10 <> 9")
        sigs = minhash_signatures(word_shingles(corpus, "doc_id", "text"), "doc_id")
        got = {
            (r.new_id, r.corpus_id, r.jaccard)
            for r in incremental_near_dups(
                new, sigs, corpus, "doc_id", "text", band_size=2, threshold=0.3
            ).collect()
        }
        full = {
            (max(r.id_a, r.id_b), min(r.id_a, r.id_b), r.jaccard)
            for r in minhash_lsh_dedup(
                docs, "doc_id", "text", band_size=2, threshold=0.3
            ).collect()
            # keep only cross-split pairs (new id is always the larger here)
            if (max(r.id_a, r.id_b) % 10 == 9) != (min(r.id_a, r.id_b) % 10 == 9)
        }
        assert got == full, n_parts
        assert (19, 1, 1.0) in got and (19, 2, 0.6) in got


def _py_shingles(text: str, k: int = 3) -> list[str]:
    toks = text.split(" ")
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


def _py_round6(x: float) -> float:
    # Spark's round: HALF_UP on the double's shortest decimal form
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _py_jaccard(pairs, set_a: dict, set_b: dict, threshold: float) -> set:
    out = set()
    for a, b in pairs:
        sa, sb = set_a.get(a, set()), set_b.get(b, set())
        common = len(sa & sb)
        if common and _py_round6(common / len(sa | sb)) >= threshold:
            out.add((a, b, _py_round6(common / len(sa | sb))))
    return out


def test_jaccard_verify_matches_python_sets(spark):
    """Planted pairs against brute-force Python sets. The shingle rows
    repeat (within an id, and an id over two text rows), so an id's set is
    the union of its rows with each shingle once; id 9 has no shingle
    (fewer than k tokens); (1, 4) is 2/3, which rounds onto the 0.666667
    threshold; (1, 5) share nothing and stay out at any threshold."""
    from chess_lakehouse_spark.operators.dedup import jaccard_verify

    w = [f"w{i}" for i in range(40)]
    texts = {
        1: [" ".join(w[:12]), " ".join(w[8:22])],  # one id, two overlapping rows
        2: [" ".join(w[:22]) + " x1 x2"],
        3: [" ".join(w[2:22]) + " y1", "w3 w4 w5 w3 w4 w5 w3 w4 w5"],
        4: [" ".join(w[:18]), "z1 z2 z3 z4 z5 z6"],  # 16 of 1's 20, plus 4
        5: [" ".join(w[30:40])],
        9: ["w0 w1"],
    }
    rows = [(i, sh) for i, ts in texts.items() for t in ts for sh in _py_shingles(t)]
    sets = {i: {sh for j, sh in rows if j == i} for i in texts}
    assert len(rows) > sum(len(v) for v in sets.values())  # repeats are planted
    pairs = [(1, 2), (1, 3), (2, 3), (1, 4), (1, 5), (4, 5), (1, 9), (9, 2)]
    want_exact = _py_jaccard(pairs, sets, sets, 0.666667)
    assert (1, 4, 0.666667) in want_exact  # raw 16/24 is below the threshold
    for n_parts in (1, 4):
        sh = spark.createDataFrame(rows, "doc_id long, shingle string").repartition(n_parts)
        pf = spark.createDataFrame(pairs, "id_a long, id_b long").repartition(n_parts)
        for threshold in (0.666667, 0.3, 0.0, -1.0):
            got = {tuple(r) for r in jaccard_verify(pf, sh, "doc_id", threshold).collect()}
            assert got == _py_jaccard(pairs, sets, sets, threshold), (n_parts, threshold)
            assert not any(p[:2] in {(1, 5), (4, 5), (1, 9), (9, 2)} for p in got)


def _py_minhash_candidates(new_sets: dict, corpus_sets: dict, num_hashes=8, band_size=2):
    def bands(sset):
        sig = [
            min(hashlib.md5(f"{h}|{s}".encode()).hexdigest() for s in sset)
            for h in range(num_hashes)
        ]
        return {(b, "".join(sig[b * band_size:(b + 1) * band_size]))
                for b in range(num_hashes // band_size)}

    cb = {c: bands(s) for c, s in corpus_sets.items()}
    return {
        (n, c)
        for n, s in new_sets.items()
        for c in corpus_sets
        if n != c and bands(s) & cb[c]
    }


def test_incremental_near_dups_matches_python_sets(spark):
    """The whole incremental path against a Python MinHash + LSH + set
    Jaccard, at one input partition and at four. Id 5 is in the new batch
    AND the corpus, with an edited text: it never pairs with itself, and
    each side's set is that side's text only, also where corpus 5 is new
    69's candidate. New id 39 spans
    two rows; new 49 and corpus 7 have fewer than k tokens; (29, 6) is 2/3
    and rounds onto the 0.666667 threshold."""
    from chess_lakehouse_spark.operators.dedup import (
        incremental_near_dups,
        minhash_signatures,
        word_shingles,
    )

    w = [f"w{i}" for i in range(40)]
    corpus_rows = [
        (1, " ".join(w[:20])),
        (2, " ".join(w[20:34])),
        (2, " ".join(w[30:40])),  # one corpus id over two rows
        (5, "p0 p1 p2 p3 p4 p5 p6 p7 p8"),
        (6, " ".join(f"v{i}" for i in range(32))),
        (7, "a b"),
    ]
    new_rows = [
        (5, "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9"),  # re-offered, edited: also in the corpus
        (19, " ".join(w[:19]) + " zz"),
        (29, " ".join(f"v{i}" for i in range(22))),
        (39, " ".join(w[20:30])),
        (39, " ".join(w[28:40])),
        (49, "c d"),
        (59, "unrelated words only here in this doc"),
        (69, "p0 p1 p2 p3 p4 p5 p6 p7 q8"),
    ]

    def py_sets(rows):
        return {i: {sh for j, t in rows if j == i for sh in _py_shingles(t)} for i, _ in rows}

    new_sets = {i: s for i, s in py_sets(new_rows).items() if s}
    corpus_sets = {i: s for i, s in py_sets(corpus_rows).items() if s}
    threshold = 0.666667
    cand = _py_minhash_candidates(new_sets, corpus_sets)
    want = _py_jaccard(cand, new_sets, corpus_sets, threshold)
    assert (29, 6, 0.666667) in want and (39, 2, 1.0) in want and (69, 5) in cand
    assert not any(p[0] == p[1] for p in cand)
    for n_parts in (1, 4):
        new = _docs(spark, new_rows).repartition(n_parts)
        corpus = _docs(spark, corpus_rows).repartition(n_parts)
        sigs = minhash_signatures(word_shingles(corpus, "doc_id", "text"), "doc_id")
        got = {
            tuple(r)
            for r in incremental_near_dups(
                new, sigs, corpus, "doc_id", "text", band_size=2, threshold=threshold
            ).collect()
        }
        assert got == want, n_parts


def test_sparse_cosine_pairs_inverted_index(spark):
    from chess_lakehouse_spark.functions.text import tfidf
    from chess_lakehouse_spark.operators.similarity import sparse_cosine_pairs

    # doc1 ≡ doc3; doc2 shares only the zero-idf term 'x' with them
    df = _docs(spark, [(1, "x x q q"), (2, "x x r r"), (3, "x x q q")])
    wts = tfidf(df, "doc_id", "text", min_tf=2)
    got = sparse_cosine_pairs(wts, "doc_id", "term", "tfidf", threshold=0.3).collect()
    assert [(r.id_a, r.id_b, r.sim) for r in got] == [(1, 3, 1.0)]
    # pruning the corpus-wide term 'x' (df=3) must not change the result —
    # high-df terms carry join fan-out, not cosine signal
    pruned = sparse_cosine_pairs(
        wts, "doc_id", "term", "tfidf", threshold=0.3, max_df=2
    ).collect()
    assert [(r.id_a, r.id_b, r.sim) for r in pruned] == [(1, 3, 1.0)]


def test_sparse_cosine_pairs_block_scoped(spark):
    import pyspark.sql.functions as F
    from chess_lakehouse_spark.functions.text import tfidf
    from chess_lakehouse_spark.operators.similarity import sparse_cosine_pairs

    df = _docs(spark, [(1, "q q z z"), (2, "r r z z"), (3, "q q z z"), (4, "q q z z")])
    wts = tfidf(df, "doc_id", "text", min_tf=2).withColumn(
        "blk", (F.col("doc_id") % 2).cast("int")
    )
    got = sorted(
        (r.id_a, r.id_b, r.sim)
        for r in sparse_cosine_pairs(
            wts, "doc_id", "term", "tfidf", threshold=0.3, block_col="blk"
        ).collect()
    )
    # identical docs 1,3 share block 1 -> kept; identical pair (1,4)/(3,4)
    # crosses blocks (4%2=0) -> suppressed by blocking
    assert got == [(1, 3, 1.0)]
    # unblocked keeps all three identical pairs — blocking only changes
    # which pairs are generated, not the cosine values
    full = sorted(
        (r.id_a, r.id_b, r.sim)
        for r in sparse_cosine_pairs(
            wts, "doc_id", "term", "tfidf", threshold=0.3
        ).collect()
    )
    assert full == [(1, 3, 1.0), (1, 4, 1.0), (3, 4, 1.0)]


def test_kmeans_fit_deterministic_and_separates_clusters(spark):
    from pyspark.sql import Row

    from chess_lakehouse_spark.operators.similarity import kmeans_fit

    # two tight direction clusters on the 4-sphere
    rows = [Row(vec_id=i, embedding=[1.0, 0.02 * i, 0.0, 0.0]) for i in range(5)]
    rows += [Row(vec_id=10 + i, embedding=[0.0, 0.0, 1.0, 0.02 * i]) for i in range(5)]
    df = spark.createDataFrame(rows)
    cents = kmeans_fit(df, "vec_id", "embedding", k=2, iters=3, seed=0)
    assert cents == kmeans_fit(df, "vec_id", "embedding", k=2, iters=3, seed=0)
    assert len(cents) == 2 and all(len(v) == 4 for _, v in cents)
    # each trained centroid points into exactly one cluster's dominant axis
    axes = sorted((0 if v[0] > v[2] else 2) for _, v in cents)
    assert axes == [0, 2]
    for _, v in cents:
        dom, off = (v[0], v[2]) if v[0] > v[2] else (v[2], v[0])
        assert dom > 0.9 and off == 0.0


def test_ivf_trained_centroids_beat_surrogate_recall(spark):
    """recall@5 vs brute force on probes DISJOINT from the surrogate's
    centroid ids (probes that double as centroids get cells centered on
    themselves — an unfair advantage). Deterministic data + seeded trainer
    → fixed recalls (measured 0.56 trained vs 0.39 surrogate at sf0.01)."""
    from chess_lakehouse_spark.operators.similarity import (
        kmeans_fit,
        knn_brute_force,
        knn_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    probes = emb.where("vec_id >= 100 AND vec_id < 120")
    args = (emb, probes, "vec_id", "embedding")
    bf = {(r.query_id, r.cand_id) for r in knn_brute_force(*args, k=5).collect()}
    surr = {
        (r.query_id, r.cand_id)
        for r in knn_ivf(*args, n_centroids=8, nprobe=2, k=5).collect()
    }
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2, seed=0)
    trained = {
        (r.query_id, r.cand_id)
        for r in knn_ivf(*args, nprobe=2, k=5, centroids=cents).collect()
    }
    assert len(trained & bf) / len(bf) >= 0.5
    assert len(trained & bf) > len(surr & bf)


def test_hash_sample_deterministic_nested_and_unbiased(spark):
    from chess_lakehouse_spark.operators.sampling import hash_sample

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    s25 = {r.doc_id for r in hash_sample(df, "doc_id", 0.25).collect()}
    assert s25 == {r.doc_id for r in hash_sample(df, "doc_id", 0.25).collect()}
    # nested: lower-rate sample is a subset of the higher-rate one (same seed)
    s10 = {r.doc_id for r in hash_sample(df, "doc_id", 0.10).collect()}
    assert s10 <= s25
    # unbiased within binomial tolerance
    assert abs(len(s25) / 2000 - 0.25) < 0.04
    # a different seed draws a materially different sample
    other = {r.doc_id for r in hash_sample(df, "doc_id", 0.25, seed=7).collect()}
    assert other != s25


def test_stratified_sample_and_split(spark):
    from pyspark.sql import functions as SF

    from chess_lakehouse_spark.operators.sampling import (
        split_assign,
        stratified_hash_sample,
    )

    df = spark.range(3000).select(
        SF.col("id").alias("doc_id"),
        SF.concat(SF.lit("src"), (SF.col("id") % 3).cast("string")).alias("source"),
    )
    out = stratified_hash_sample(
        df, "doc_id", "source", {"src0": 1.0, "src1": 0.5}, default_rate=0.0
    )
    by_src = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    assert by_src["src0"] == 1000  # rate 1.0 keeps everything
    assert "src2" not in by_src  # default_rate 0.0 drops the stratum
    assert abs(by_src["src1"] / 1000 - 0.5) < 0.06
    # membership hashes only the id: same ids survive under a renamed stratum
    relabeled = df.withColumn("source", SF.regexp_replace("source", "src1", "srcX"))
    out2 = stratified_hash_sample(
        relabeled, "doc_id", "source", {"src0": 1.0, "srcX": 0.5}, default_rate=0.0
    )
    assert {r.doc_id for r in out2.collect()} == {r.doc_id for r in out.collect()}

    split = split_assign(df, "doc_id", eval_frac=0.1)
    frac = split.where("split = 'eval'").count() / 3000
    assert abs(frac - 0.1) < 0.03
    assert split.count() == 3000  # projection only, no rows dropped


def test_normalize_and_scrub_pii(spark):
    from chess_lakehouse_spark.functions.text import normalize_text, scrub_pii

    df = _docs(
        spark,
        [
            (1, "  Hello\t WORLD \n again "),
            (2, "mail a.user+tag@example.co.uk or call 555-867-5309 now"),
            (3, "server at 192.168.1.100 port 80"),
            (4, "version 1.2.3.4.5 is not an ip boundary-wise... but 10.0.0.1 is"),
            (5, "id 91234-567-89012 is not a phone; 123-456-7890 is"),
        ],
    )
    out = {
        r.doc_id: r.t
        for r in df.select(
            "doc_id", scrub_pii(normalize_text(F.col("text"))).alias("t")
        ).collect()
    }
    assert out[1] == "hello world again"
    assert out[2] == "mail <EMAIL> or call <PHONE> now"
    assert out[3] == "server at <IP> port 80"
    # a dotted run longer than 4 octets gets its 4-octet prefix redacted
    # ("4→." is a word boundary) — accepted over-redaction, same in RE2
    assert out[4] == "version <IP>.5 is not an ip boundary-wise... but <IP> is"
    # \b digit guards: no partial redaction inside longer digit runs
    assert out[5] == "id 91234-567-89012 is not a phone; <PHONE> is"


def test_repetition_metrics_values(spark):
    from chess_lakehouse_spark.functions.text import repetition_metrics

    df = _docs(spark, [(1, "a a a a"), (2, "a b c d"), (3, "solo")])
    out = {r.doc_id: r for r in repetition_metrics(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2}  # single-token doc has no bigram
    assert out[1].dup_token_frac == 0.75 and out[1].top_bigram_frac == 1.0
    assert out[2].dup_token_frac == 0.0 and out[2].top_bigram_frac == round(1 / 3, 6)


def test_split_contamination_finds_exact_dupes_across_split(spark):
    from chess_lakehouse_spark.operators.sampling import split_assign

    # many ids sharing one text guarantees both splits get copies
    df = _docs(spark, [(i, "identical content") for i in range(200)])
    split = {r.doc_id: r.split for r in split_assign(df, "doc_id", 0.1).collect()}
    ev = {i for i, s in split.items() if s == "eval"}
    tr = {i for i, s in split.items() if s == "train"}
    assert ev and tr

    e = split_assign(df, "doc_id", 0.1)
    eh = e.where("split = 'eval'").select("doc_id", F.md5("text").alias("h"))
    th = e.where("split = 'train'").select(F.col("doc_id").alias("train_id"), F.md5("text").alias("h"))
    got = {
        r.doc_id: (r.n_train_copies, r.first_train_id)
        for r in eh.join(th, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_train_copies"), F.min("train_id").alias("first_train_id"))
        .collect()
    }
    assert set(got) == ev
    for n, first in got.values():
        assert n == len(tr) and first == min(tr)


def test_approx_stats_close_to_exact(spark):
    """The raw approximate values (kept OUT of the gated projection —
    engine-private) stay within tight bands of exact, and the gated
    checked projection's booleans are all TRUE with exact counts."""
    from chess_lakehouse_spark.suite.core import q_approx_stats

    sf = "/root/testdata/sf0.01"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    exact_orders = li.select("l_orderkey").distinct().count()
    raw = li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)"
        ).alias("ps"),
    ).collect()[0]
    assert abs(raw.approx_orders - exact_orders) / exact_orders < 0.05
    exact_median = li.approxQuantile("l_extendedprice", [0.5], 0.0)[0]
    assert abs(raw.ps[0] - exact_median) / exact_median < 0.05
    exact_p95 = li.approxQuantile("l_extendedprice", [0.95], 0.0)[0]
    assert abs(raw.ps[1] - exact_p95) / exact_p95 < 0.05

    row = q_approx_stats(spark, sf).collect()[0]
    assert row.n_rows == li.count()
    assert row.exact_orders == exact_orders
    assert row.approx_orders_within_10pct is True
    assert row.p50_within_bounds is True
    assert row.p95_within_bounds is True


def test_chunk_tokens_overlap_and_tail(spark):
    from chess_lakehouse_spark.functions.text import chunk_tokens

    toks = " ".join(f"t{i}" for i in range(10))
    df = _docs(spark, [(1, toks), (2, "short doc")])
    got = sorted(
        (r.doc_id, r.chunk_idx, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_tokens(df, "doc_id", "text", window=4, stride=3).collect()
    )
    # doc1: 10 tokens -> chunks at offsets 0,3,6; the last one ends exactly
    # at the document end (offset 6 + window 4 = 10), so no short tail
    assert [(c[1], c[2]) for c in got if c[0] == 1] == [(0, 4), (1, 4), (2, 4)]
    assert got[0][3] == "t0 t1 t2 t3"
    assert got[1][3] == "t3 t4 t5 t6"
    assert got[2][3] == "t6 t7 t8 t9"
    # doc2 fits one window
    assert [(c[1], c[2], c[3]) for c in got if c[0] == 2] == [(0, 2, "short doc")]
    # stride == window -> disjoint chunks cover every token exactly once
    flat = " ".join(
        r.chunk_text
        for r in chunk_tokens(df.where("doc_id = 1"), "doc_id", "text", window=5, stride=5)
        .orderBy("chunk_idx")
        .collect()
    )
    assert flat == toks


def test_pack_sequences_concat_and_cut(spark):
    from chess_lakehouse_spark.operators.sampling import pack_sequences

    rows = [
        Row(doc_id=1, src="a", n=600),
        Row(doc_id=2, src="a", n=600),
        Row(doc_id=3, src="a", n=600),
        Row(doc_id=4, src="b", n=50),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.doc_id: (r.seq_id, r.seq_offset)
        for r in pack_sequences(df, "doc_id", "src", "n", budget=1000).collect()
    }
    # prefix sums in src a: 0, 600, 1200 -> seqs 0, 0, 1; src b restarts at 0
    assert got == {1: (0, 0), 2: (0, 600), 3: (1, 200), 4: (0, 0)}


def test_unigram_logprob_rare_tokens_score_higher(spark):
    from chess_lakehouse_spark.functions.text import unigram_logprob

    df = _docs(spark, [(1, "a a a a"), (2, "a a a rare")])
    got = {r.doc_id: r for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert got[1].n_tokens == 4 and got[2].n_tokens == 4
    # doc2 contains the corpus-rare token -> higher NLL (lower likelihood)
    assert got[2].nll > got[1].nll
    # doc1 is all modal tokens: nll = -ln(7/8)
    import math

    assert abs(got[1].nll - (-round(math.log(7 / 8), 6))) < 1e-9


def test_knn_quantized_agrees_with_brute_force(spark):
    from chess_lakehouse_spark.operators.similarity import knn_quantized

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.where("vec_id < 5")
    exact = {
        (r.query_id, r.cand_id)
        for r in knn_brute_force(emb, probes, "vec_id", "embedding", k=5).collect()
    }
    quant = {
        (r.query_id, r.cand_id)
        for r in knn_quantized(emb, probes, "vec_id", "embedding", k=5).collect()
    }
    # int8 quantization keeps cosine ranks nearly intact: recall@5 >= 0.8
    assert len(exact & quant) / len(exact) >= 0.8


def test_knn_quantized_zero_vector_excluded(spark):
    from chess_lakehouse_spark.operators.similarity import knn_quantized

    rows = [
        Row(vec_id=0, v=[1.0, 0.0]),
        Row(vec_id=1, v=[2.0, 0.0]),
        Row(vec_id=2, v=[0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    got = knn_quantized(df, df.where("vec_id = 0"), "vec_id", "v", k=5).collect()
    # the zero vector can't be scored (undefined cosine) and must not crash
    assert [(r.cand_id, r.sim) for r in got] == [(1, 1.0)]


def test_semantic_dedup_drops_within_cluster_only(spark):
    from chess_lakehouse_spark.operators.similarity import semantic_dedup

    # Two orthogonal clusters; ids 0/1 are the surrogate centroids. 0 and 2
    # are near-identical (same cluster -> 2 dropped, 0 kept as min id);
    # 1 and 3 are opposite-ish directions but 3 still lands on centroid 1's
    # cluster only if similar — make 3 near-dup of 1 (dropped). 4 is alone.
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0]),   # ~= 0
        Row(vec_id=3, embedding=[0.01, 0.999, 0.0]),   # ~= 1
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0]),      # own direction
    ]
    df = spark.createDataFrame(rows)
    out = semantic_dedup(df, "vec_id", "embedding", n_centroids=2, threshold=0.95)
    survivors = {r.vec_id for r in out.collect()}
    assert survivors == {0, 1, 4}


def test_semantic_dedup_cross_cluster_pair_survives(spark):
    from chess_lakehouse_spark.operators.similarity import semantic_dedup

    # 2 and 3 are identical vectors but get assigned to the SAME cluster
    # (same argmax), so one drops. But a pair split by clustering survives:
    # with centroids 0=[1,0], 1=[0,1], vectors at 45 degrees tie -> both go
    # to cid 0 (tie-break), still same cluster. Instead verify: near-dup of
    # centroid 0 in cluster 0 vs near-dup of centroid 1 in cluster 1 are
    # NOT compared even if similar to each other (they aren't here).
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.0, 1.0]),
        Row(vec_id=2, embedding=[0.9, 0.436]),  # cluster 0, not >=0.99 to 0
        Row(vec_id=3, embedding=[0.436, 0.9]),  # cluster 1, not >=0.99 to 1
    ]
    df = spark.createDataFrame(rows)
    out = semantic_dedup(df, "vec_id", "embedding", n_centroids=2, threshold=0.99)
    # sim(2,3) = 0.785 < .99 anyway; all survive — and list assignment is
    # the argmax cluster
    got = {r.vec_id: r.list_id for r in out.collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[2] == 0 and got[3] == 1


def test_strip_boilerplate_removes_high_df_preserving_order(spark):
    from chess_lakehouse_spark.functions.text import strip_boilerplate

    df = _docs(
        spark,
        [
            (1, "the quick fox the"),
            (2, "the lazy dog"),
            (3, "the cat naps"),
        ],
    )
    # 'the' df=3/3 > 60%; all others df=1/3
    out = {r.doc_id: (r.clean_text, r.n_removed) for r in
           strip_boilerplate(df, "doc_id", "text", max_df_pct=60).collect()}
    assert out[1] == ("quick fox", 2)
    assert out[2] == ("lazy dog", 1)
    assert out[3] == ("cat naps", 1)


def test_strip_boilerplate_all_removed_yields_empty(spark):
    from chess_lakehouse_spark.functions.text import strip_boilerplate

    df = _docs(spark, [(1, "a a"), (2, "a"), (3, "a b")])
    out = {r.doc_id: (r.clean_text, r.n_removed) for r in
           strip_boilerplate(df, "doc_id", "text", max_df_pct=60).collect()}
    assert out[1] == ("", 2)
    assert out[2] == ("", 1)
    assert out[3] == ("b", 1)


def test_high_df_vocab_guard_raises(spark):
    import pytest

    from chess_lakehouse_spark.functions.text import high_df_vocab

    df = _docs(spark, [(1, "x y z"), (2, "x y z")])
    with pytest.raises(ValueError, match="high_df_vocab"):
        high_df_vocab(df, "doc_id", "text", max_df_pct=60, max_vocab_rows=2)


def test_vocab_top_k_counts_and_tiebreak(spark):
    from chess_lakehouse_spark.functions.text import vocab_top_k

    df = _docs(spark, [(1, "b a b"), (2, "a b c")])
    rows = {r.token: (r.n_total, r.n_docs, r.rk) for r in
            vocab_top_k(df, "doc_id", "text", k=2).collect()}
    # a:3? no — a appears 1+1=2, b appears 2+1=3, c once. top2 = b(3), a(2)
    assert rows == {"b": (3, 2, 1), "a": (2, 2, 2)}


def test_quality_buckets_partition_docs(spark):
    from chess_lakehouse_spark.suite.llm import q_quality_buckets

    out = q_quality_buckets(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 10
    assert sum(r.n_docs for r in out) == 500
    by_bucket = {r.bucket: r for r in out}
    # decile boundaries are monotone in score
    for b in range(1, 10):
        assert by_bucket[b].max_score <= by_bucket[b + 1].min_score


def test_label_centroids_exact_means(spark):
    from chess_lakehouse_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            Row(label=0, embedding=[1.0, 2.0]),
            Row(label=0, embedding=[3.0, 4.0]),
            Row(label=1, embedding=[5.0, 6.0]),
        ]
    )
    got = {(r.label, r.pos): (r.mval, r.n_vecs) for r in
           label_centroids(df, "label", "embedding").collect()}
    assert got == {
        (0, 0): (2.0, 2), (0, 1): (3.0, 2),
        (1, 0): (5.0, 1), (1, 1): (6.0, 1),
    }


def test_label_centroids_honors_precision(spark):
    """precision != 6 regression (r6 advice): the element cast is
    DECIMAL(18, precision), so the scale matches the integer multiplier —
    each element HALF-ROUNDS at the requested precision instead of
    truncating the residual fraction before the sum."""
    import pytest

    from chess_lakehouse_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [Row(label=0, embedding=[0.335]), Row(label=0, embedding=[0.335])]
    )
    got = {
        r.pos: r.mval
        for r in label_centroids(df, "label", "embedding", precision=2).collect()
    }
    # 0.335 at scale 2 is 0.34 exactly (HALF_UP decimal cast); the old
    # decimal(18,6)*100 long cast truncated 33.5 -> 33, yielding 0.33
    assert got == {0: 0.34}
    with pytest.raises(ValueError, match="precision"):
        label_centroids(df, "label", "embedding", precision=13)


def test_rolling_time_mean_honors_precision(spark):
    """precision != 6 regression (r6 advice): the integer-exact rewrite
    must round at the REQUESTED scale, not hardcoded scale 6."""
    import datetime as dt

    from chess_lakehouse_spark.operators.relational import rolling_time_mean

    t0 = dt.datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [(1, 7, t0, 10.0), (2, 7, t0 + dt.timedelta(seconds=5), 10.5)],
        ["id", "k", "ts", "v"],
    )
    got = {
        r.id: r.mean
        for r in rolling_time_mean(
            df, "id", "k", "ts", "v", window_s=60, precision=1
        ).collect()
    }
    # mean of (10.0, 10.5) = 10.25 -> half-away-from-zero at scale 1 = 10.3
    assert got == {1: 10.0, 2: 10.3}


def test_top_n_per_group_caps_and_nests(spark):
    from chess_lakehouse_spark.operators.sampling import top_n_per_group

    rows = [(i, f"t{i}", f"s{i % 2}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    small = top_n_per_group(df, "doc_id", "source", n=3)
    big = top_n_per_group(df, "doc_id", "source", n=6)
    per_group = {r.source: 0 for r in small.collect()}
    for r in small.collect():
        per_group[r.source] += 1
    assert all(v == 3 for v in per_group.values())
    # nested caps: n=3 selection is a subset of n=6
    assert {r.doc_id for r in small.collect()} <= {r.doc_id for r in big.collect()}
    # deterministic across runs
    assert {r.doc_id for r in small.collect()} == {
        r.doc_id for r in top_n_per_group(df, "doc_id", "source", n=3).collect()
    }


def test_priority_canonical_prefers_trusted_source(spark):
    from chess_lakehouse_spark.operators.graph import priority_canonical

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)], ["id", "component"]
    )
    # doc 3 is from the trusted source (rank 0) despite the highest id;
    # component 5 ties on rank -> min id wins
    attrs = spark.createDataFrame(
        [(1, 99), (2, 99), (3, 0), (5, 99), (6, 99)], ["doc_id", "prio_rank"]
    )
    got = {
        r.component: (r.canonical_id, r.n_members)
        for r in priority_canonical(comp, attrs, "doc_id", "prio_rank").collect()
    }
    assert got == {1: (3, 3), 5: (5, 2)}


def test_bigram_logprob_small_example(spark):
    import math

    from chess_lakehouse_spark.functions.text import bigram_logprob

    # corpus: doc1 "a b a b", doc2 "a b". bigrams: d1 [ab, ba, ab], d2 [ab]
    # c(a,b)=3, c(b,a)=1; c(a·)=3, c(b·)=1; V=2
    df = _docs(spark, [(1, "a b a b"), (2, "a b")])
    got = {r.doc_id: (r.n_bigrams, r.nll) for r in bigram_logprob(df, "doc_id", "text").collect()}
    lp_ab = round(math.log((2 * 3 + 1) / (2 * 3 + 2)), 6)
    lp_ba = round(math.log((2 * 1 + 1) / (2 * 1 + 2)), 6)
    assert got[2] == (1, round(-lp_ab, 6))
    assert got[1][0] == 3
    assert abs(got[1][1] - round(-(2 * lp_ab + lp_ba) / 3, 6)) < 1e-9


def test_snapshot_delta_classifies(spark):
    from chess_lakehouse_spark.operators.relational import snapshot_delta

    old = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"])
    new = spark.createDataFrame([(2, "b"), (3, "C"), (4, "d")], ["doc_id", "text"])
    got = {r.id: r.change for r in snapshot_delta(old, new, "doc_id", "text").collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_zscore_outliers_flags_extreme_value(spark):
    from chess_lakehouse_spark.operators.relational import zscore_outliers

    rows = [(i, "t", 10.0) for i in range(9)] + [(9, "t", 100.0)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    got = zscore_outliers(df, "event_id", "event_type", "value", z_threshold=2.0).collect()
    assert [r.event_id for r in got] == [9]
    assert got[0].z == 3.0  # mean 19, std 27: (100-19)/27


def test_pmi_topk_ranks_collocation(spark):
    from chess_lakehouse_spark.functions.text import pmi_top_k

    # 'x y' always co-occur (perfect collocation); 'a' pairs diffusely
    rows = [(i, "x y a x y a a x y") for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = pmi_top_k(df, "doc_id", "text", k=3, min_count=3).collect()
    assert got[0].w1 == "x" and got[0].w2 == "y" and got[0].rk == 1
    assert got[0].pmi > 0


def test_token_budget_sample_truncates_and_nests(spark):
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.sampling import token_budget_sample

    rows = [(i, "s", 10) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "nt"])
    small = token_budget_sample(df, "doc_id", "source", F.col("nt"), budget=30)
    big = token_budget_sample(df, "doc_id", "source", F.col("nt"), budget=60)
    assert small.count() == 3 and big.count() == 6
    assert {r.doc_id for r in small.collect()} <= {r.doc_id for r in big.collect()}
    # a budget below any single doc still admits the first doc
    tiny = token_budget_sample(df, "doc_id", "source", F.col("nt"), budget=5)
    assert tiny.count() == 1


def test_ngram_strategies_equivalent_property(spark):
    """Property: exhaustive and prefix return identical pair sets on
    randomized corpora (mixed vocab shapes, uneven doc lengths, multiple
    blocks) — the pigeonhole prefix filter must never lose recall."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from chess_lakehouse_spark.operators.dedup import ngram_jaccard_pairs

    @settings(max_examples=5, deadline=None)
    @given(seed=st.integers(min_value=0, max_value=10_000))
    def check(seed):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(rng.randint(5, 40))]
        rows = []
        for i in range(rng.randint(6, 24)):
            k = rng.randint(1, 15)
            text = " ".join(rng.choice(vocab) for _ in range(k))
            rows.append((i, text, f"s{i % 2}"))
            if rng.random() < 0.5:
                rows.append((100 + i, text + " zz", f"s{i % 2}"))
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        kw = dict(id_col="doc_id", text_col="text", block_col="source", n=3, threshold=0.5)
        ex = {tuple(r) for r in ngram_jaccard_pairs(df, strategy="exhaustive", **kw).collect()}
        pf = {tuple(r) for r in ngram_jaccard_pairs(df, strategy="prefix", **kw).collect()}
        assert ex == pf

    check()


def test_weighted_sample_monotone_in_rate(spark):
    from chess_lakehouse_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(i, 0.3) for i in range(200)], ["doc_id", "r"])
    low = {r.doc_id for r in weighted_sample(df, "doc_id", F.col("r") * 0).collect()}
    mid = {r.doc_id for r in weighted_sample(df, "doc_id", F.col("r")).collect()}
    high = {r.doc_id for r in weighted_sample(df, "doc_id", F.col("r") * 4).collect()}
    assert low == set() and mid <= high
    assert len(high) == 200  # rate clamps to 1.0
    assert 30 <= len(mid) <= 90  # ~30% of 200, generous band


def test_leakage_safe_split_keeps_near_dups_together(spark):
    """Every near-dup pair must land in the same split (the property the
    cluster-keyed split exists for)."""
    from chess_lakehouse_spark.suite.llm import q_split_leakage_safe
    from chess_lakehouse_spark.operators.dedup import minhash_lsh_dedup
    from chess_lakehouse_spark.catalog import load_table

    sf = "/root/testdata/sf0.001"
    split = {r.doc_id: r.split for r in q_split_leakage_safe(spark, sf).collect()}
    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_dedup(docs, "doc_id", "text", k=3, num_hashes=8,
                              band_size=2, threshold=0.5).collect()
    assert len(split) > 0
    for p in pairs:
        assert split[p.id_a] == split[p.id_b]


def test_corpus_card_renders_per_source(spark):
    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.report import corpus_card

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    card = corpus_card(docs, "text")
    renamed = docs.withColumnRenamed("source", "src").withColumnRenamed("lang", "lg")
    assert corpus_card(renamed, "text", source_col="src", lang_col="lg") == card
    assert card.startswith("# Corpus card")
    assert "- documents: 500" in card
    assert "| source |" in card and "| src0 |" in card


def test_dq_violations_rejects_non_identifier_rule_names(spark):
    import pytest
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.relational import dq_violations

    df = spark.range(3)
    for bad in ("has space", "has-hyphen", "has'quote", "1starts_digit", ""):
        with pytest.raises(ValueError, match="rule name"):
            dq_violations(df, {bad: F.col("id") < 0})


def test_leakage_safe_split_staged_components_reuse(spark):
    """The staged-components path must (a) match the inline-computed path
    bit-for-bit, (b) feed multiple cluster consumers from ONE cluster
    table, and (c) keep the LSH subtree out of the split's plan."""
    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.operators.dedup import minhash_lsh_dedup
    from chess_lakehouse_spark.operators.graph import connected_components, priority_canonical
    from chess_lakehouse_spark.operators.sampling import leakage_safe_split

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_dedup(docs, "doc_id", "text", k=3, num_hashes=8,
                              band_size=2, threshold=0.5)
    comp = connected_components(pairs.select("id_a", "id_b"))

    staged = leakage_safe_split(docs, "doc_id", eval_frac=0.1, seed=7, components=comp)
    inline = leakage_safe_split(docs, "doc_id", "text", eval_frac=0.1, seed=7,
                                k=3, num_hashes=8, band_size=2, threshold=0.5)
    assert sorted(map(tuple, staged.collect())) == sorted(map(tuple, inline.collect()))

    # same staged frame drives a second consumer without recomputing LSH
    canon = priority_canonical(
        comp, docs.select("doc_id", F.lit(0).alias("p")), "doc_id", "p"
    )
    assert canon.count() == comp.select("component").distinct().count()

    # the staged split's physical plan reads the corpus exactly once: the
    # cluster table is a staged local relation, not a rebuilt LSH subtree
    plan = staged._jdf.queryExecution().executedPlan().toString()
    # AQE prints Final + Initial sections once executed; count within one
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("FileScan") == 1  # the docs scan only
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert "explode" not in plan  # no shingle/minhash machinery in-plan


def test_leakage_safe_split_validates_args(spark):
    import pytest

    from chess_lakehouse_spark.operators.sampling import leakage_safe_split

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="text_col or a staged components"):
        leakage_safe_split(df, "doc_id")
    with pytest.raises(ValueError, match="eval_frac"):
        leakage_safe_split(df, "doc_id", "text", eval_frac=1.5)


def test_temperature_sample_flattens_groups(spark):
    from chess_lakehouse_spark.operators.sampling import temperature_sample

    rows = [(i, "big" if i < 400 else "small") for i in range(440)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    # alpha=1 keeps the natural distribution: every row survives
    assert temperature_sample(df, "doc_id", "grp", alpha=1.0).count() == 440
    # the rarest group is always kept whole (rate exactly 1.0)
    kept = temperature_sample(df, "doc_id", "grp", alpha=0.5, seed=3)
    by_grp = {r.grp: r.cnt for r in kept.groupBy("grp").agg(F.count("*").alias("cnt")).collect()}
    assert by_grp["small"] == 40
    # the dominant group is downsampled toward rate (40/400)^0.5 ~ 0.316
    assert 0.15 * 400 < by_grp["big"] < 0.5 * 400
    import pytest
    with pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, "doc_id", "grp", alpha=1.5)


def test_winsorize_clips_to_rank_bounds(spark):
    from chess_lakehouse_spark.operators.relational import winsorize

    rows = [(i, "a", float(i)) for i in range(1, 101)]  # values 1..100
    df = spark.createDataFrame(rows, ["id", "grp", "v"])
    out = {r.id: r.clipped for r in winsorize(df, "id", "grp", "v", 0.10, 0.90).collect()}
    # rank ceil(0.1*100)=10 -> lo=10.0; rank 90 -> hi=90.0
    assert out[1] == 10.0 and out[5] == 10.0 and out[10] == 10.0
    assert out[50] == 50.0
    assert out[90] == 90.0 and out[95] == 90.0 and out[100] == 90.0
    import pytest
    with pytest.raises(ValueError, match="lower_pct"):
        winsorize(df, "id", "grp", "v", 0.9, 0.1)


def test_winsorize_threshold_ranks_take_no_float_rounding(spark):
    """The threshold ranks are ceil(n * pct) in exact integer millionths:
    over values 1..100, upper_pct=0.55 clips at rank 55 and lower_pct=0.07
    at rank 7, where double arithmetic gives ceil(55.00000000000001) = 56
    and ceil(7.000000000000001) = 8."""
    from chess_lakehouse_spark.operators.relational import winsorize

    df = spark.createDataFrame([(i, "a", float(i)) for i in range(1, 101)], ["id", "grp", "v"])
    out = {r.id: r.clipped for r in winsorize(df, "id", "grp", "v", 0.07, 0.55).collect()}
    assert out[1] == out[7] == 7.0 and out[8] == 8.0
    assert out[55] == out[56] == out[100] == 55.0 and out[54] == 54.0


def test_canary_hits_counts_and_omits_clean(spark):
    import pytest

    from chess_lakehouse_spark.functions.text import canary_hits

    df = spark.createDataFrame(
        [(1, "the EVAL-123 marker", "a"), (2, "clean text", "a"), (3, "EVAL-123 again", "b")],
        ["doc_id", "text", "src"],
    )
    got = {(r.canary, r.src): r.n_docs
           for r in canary_hits(df, "text", ("EVAL-123", "absent"), group_col="src").collect()}
    assert got == {("EVAL-123", "a"): 1, ("EVAL-123", "b"): 1}
    ungrouped = {r.canary: r.n_docs for r in canary_hits(df, "text", ("EVAL-123",)).collect()}
    assert ungrouped == {"EVAL-123": 2}
    with pytest.raises(ValueError, match="at least one canary"):
        canary_hits(df, "text", ())


def test_source_unigram_kl_zero_for_identical_distributions(spark):
    from chess_lakehouse_spark.functions.text import source_unigram_kl

    same = spark.createDataFrame(
        [(1, "a b c", "g1"), (2, "a b c", "g2")], ["doc_id", "text", "grp"]
    )
    for r in source_unigram_kl(same, "grp", "text").collect():
        assert r.kl == 0.0 and r.n_tokens == 3
    skewed = spark.createDataFrame(
        [(1, "a a a a", "g1"), (2, "b b b b", "g2")], ["doc_id", "text", "grp"]
    )
    for r in source_unigram_kl(skewed, "grp", "text").collect():
        assert r.kl > 0.5  # disjoint vocab: KL = ln(2) per token


def test_knn_two_stage_full_pool_matches_brute_force(spark):
    import pytest

    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.operators.similarity import knn_brute_force, knn_two_stage

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(60)
    probes = emb.where(F.col("vec_id") < 3)
    exact = knn_brute_force(emb, probes, "vec_id", "embedding", k=4).collect()
    # pool = whole corpus -> stage 2 rescans everything: identical to exact
    two = knn_two_stage(emb, probes, "vec_id", "embedding",
                        coarse_dims=8, pool=60, k=4).collect()
    assert sorted(map(tuple, two)) == sorted(map(tuple, exact))
    with pytest.raises(ValueError, match="pool"):
        knn_two_stage(emb, probes, "vec_id", "embedding", coarse_dims=8, pool=2, k=4)
    with pytest.raises(ValueError, match="coarse_dims"):
        knn_two_stage(emb, probes, "vec_id", "embedding", coarse_dims=0, pool=10, k=4)


def test_rolling_time_mean_window_membership(spark):
    """Rows outside the trailing window must not contribute; ties at the
    boundary (exactly window_s old) are included."""
    import datetime as dt

    from chess_lakehouse_spark.operators.relational import rolling_time_mean

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, 7, t0, 10.0),
        (2, 7, t0 + dt.timedelta(seconds=50), 30.0),   # within 60s of row 1
        (3, 7, t0 + dt.timedelta(seconds=120), 50.0),  # row 1 aged out, row 2 kept (70s>60? no: 120-50=70 -> out)
        (4, 8, t0, 99.0),                              # other key: independent
    ]
    df = spark.createDataFrame(rows, ["id", "k", "ts", "v"])
    got = {r.id: r.mean for r in rolling_time_mean(df, "id", "k", "ts", "v", window_s=60).collect()}
    assert got[1] == 10.0
    assert got[2] == 20.0          # (10+30)/2
    assert got[3] == 50.0          # both earlier rows aged out (70s, 120s ago)
    assert got[4] == 99.0


def test_activity_streaks_islands(spark):
    import datetime as dt

    from chess_lakehouse_spark.operators.relational import activity_streaks

    def day(n, h=3):
        return dt.datetime(2026, 1, 1 + n, h)

    rows = [
        (7, day(0)), (7, day(0, 9)),  # same day twice -> one activity day
        (7, day(1)), (7, day(2)),     # 3-day streak: days 0,1,2
        (7, day(5)), (7, day(6)),     # 2-day streak: days 5,6
        (9, day(3)),                  # other user: singleton
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = sorted(
        (r.user_id, r.streak_days) for r in activity_streaks(df, "user_id", "ts").collect()
    )
    assert got == [(7, 2), (7, 3), (9, 1)]


def test_token_entropy_uniform_and_degenerate(spark):
    import math

    from chess_lakehouse_spark.functions.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a a"), (3, "a a b b")], ["doc_id", "text"]
    )
    got = {r.doc_id: (r.n_tokens, r.entropy) for r in token_entropy(df, "doc_id", "text").collect()}
    assert got[1] == (4, round(math.log(4), 6))  # uniform: H = ln(4)
    assert got[2] == (4, 0.0)                    # single token: H = 0
    assert abs(got[3][1] - math.log(2)) < 1e-5   # two equiprobable tokens


def test_temperature_sample_nested_in_alpha(spark):
    """Rates are monotone in alpha and the draw u is fixed per doc, so kept
    sets must be NESTED: alpha=0.2 keeps a subset of alpha=0.8."""
    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.operators.sampling import temperature_sample

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    lo = {r.doc_id for r in temperature_sample(docs, "doc_id", "lang", alpha=0.2, seed=5).collect()}
    hi = {r.doc_id for r in temperature_sample(docs, "doc_id", "lang", alpha=0.8, seed=5).collect()}
    assert lo and lo <= hi


def test_token_entropy_bounds_on_corpus(spark):
    """0 <= H <= ln(n_tokens) for every document (with rounding slack)."""
    import math

    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.functions.text import token_entropy

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for r in token_entropy(docs, "doc_id", "text").collect():
        assert -1e-5 <= r.entropy <= math.log(r.n_tokens) + 1e-5


def test_activity_streaks_conserve_days(spark):
    """Sum of streak lengths per user == number of distinct active days."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.operators.relational import activity_streaks

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    got = {
        r.user_id: r.total
        for r in activity_streaks(ev, "user_id", "ts")
        .groupBy("user_id").agg(F.sum("streak_days").alias("total")).collect()
    }
    want = {
        r.user_id: r.n
        for r in ev.select("user_id", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .distinct().groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_rolling_time_mean_infinite_window_is_cumulative(spark):
    """A window wider than the data span equals the running cumulative mean."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.operators.relational import rolling_time_mean

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(2000)
    wide = rolling_time_mean(ev, "event_id", "user_id", "ts", "value",
                             window_s=10 * 365 * 86400)
    w = (Window.partitionBy("user_id").orderBy(F.unix_micros("ts").asc())
         .rangeBetween(Window.unboundedPreceding, 0))
    cum = ev.select(
        "event_id",
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w), 6,
        ).alias("mean"),
    )
    got = {r.event_id: r.mean for r in wide.collect()}
    want = {r.event_id: r.mean for r in cum.collect()}
    assert got == want


def test_winsorize_output_bounded_and_interior_untouched(spark):
    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.operators.relational import winsorize

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    rows = winsorize(ev, "event_id", "event_type", "value", 0.05, 0.95).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for grp in by_type.values():
        los = min(r.clipped for r in grp)
        his = max(r.clipped for r in grp)
        n_clipped = sum(1 for r in grp if r.clipped != r.value)
        # every raw value inside (lo, hi) passes through untouched
        for r in grp:
            if los < r.value < his:
                assert r.clipped == r.value
        # ~10% of each group sits outside [p05, p95]
        assert 0 < n_clipped <= 0.2 * len(grp) + 2


def test_new_operators_handle_empty_input(spark):
    """Empty frames flow through every new operator without error and yield
    empty results — the 'first day of an incremental pipeline' case."""
    import datetime as dt

    from chess_lakehouse_spark.functions.text import canary_hits, source_unigram_kl, token_entropy
    from chess_lakehouse_spark.operators.relational import (
        activity_streaks,
        rolling_time_mean,
        winsorize,
    )
    from chess_lakehouse_spark.operators.sampling import leakage_safe_split, temperature_sample

    docs = spark.createDataFrame([], "doc_id long, text string, lang string, source string")
    ev = spark.createDataFrame([], "event_id long, user_id long, ts timestamp, value double")

    assert temperature_sample(docs, "doc_id", "lang").count() == 0
    assert canary_hits(docs, "text", ("x",), group_col="source").count() == 0
    assert source_unigram_kl(docs, "source", "text").count() == 0
    assert token_entropy(docs, "doc_id", "text").count() == 0
    assert winsorize(ev, "event_id", "user_id", "value").count() == 0
    assert rolling_time_mean(ev, "event_id", "user_id", "ts", "value", 60).count() == 0
    assert activity_streaks(ev, "user_id", "ts").count() == 0
    assert leakage_safe_split(docs, "doc_id", "text").count() == 0


def test_winsorize_approx_matches_exact_at_high_accuracy(spark):
    """The exact=False scale path (approx_percentile thresholds, no rank
    window) must clip to thresholds within sketch error of the exact form
    — on 10k-row groups with accuracy 10000 the two agree exactly."""
    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.operators.relational import winsorize

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    exact = {r.event_id: r.clipped
             for r in winsorize(ev, "event_id", "event_type", "value", 0.05, 0.95).collect()}
    approx = {r.event_id: r.clipped
              for r in winsorize(ev, "event_id", "event_type", "value", 0.05, 0.95,
                                 exact=False).collect()}
    assert set(exact) == set(approx)
    diff = [k for k in exact if abs(exact[k] - approx[k]) > 1e-9]
    # sketch picks a real data value within error of the exact rank value;
    # on 1k-row groups with accuracy 10000 there is no room to differ
    assert len(diff) <= 0.02 * len(exact)

    # approx plan has NO window (the scale property being bought)
    plan = winsorize(ev, "event_id", "event_type", "value", exact=False) \
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "Window" not in plan


def test_score_buckets_exact_and_approx(spark):
    """Exact ntile stratification vs the one-pass approx-cutpoint scale
    path: identical bucket labels at high sketch accuracy on this data,
    and the approx plan carries no Window."""
    from chess_lakehouse_spark.catalog import load_table
    from chess_lakehouse_spark.functions.text import quality_metrics
    from chess_lakehouse_spark.operators.relational import score_buckets

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    m = quality_metrics(docs, "doc_id", "text")
    exact = {r.doc_id: r.bucket
             for r in score_buckets(m, "doc_id", "quality_score", 10).collect()}
    approx = {r.doc_id: r.bucket
              for r in score_buckets(m, "doc_id", "quality_score", 10, exact=False).collect()}
    assert set(exact) == set(approx)
    # sketch boundaries may shift ties by one bucket; almost all agree
    agree = sum(1 for k in exact if exact[k] == approx[k])
    assert agree >= 0.95 * len(exact)
    assert set(approx.values()) <= set(range(1, 11))

    plan = score_buckets(m, "doc_id", "quality_score", 10, exact=False) \
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "Window" not in plan

    import pytest
    with pytest.raises(ValueError, match="n_buckets"):
        score_buckets(m, "doc_id", "quality_score", 0)


def test_score_buckets_distributed_equals_native_ntile(spark):
    """The distributed sort-rank form of exact=True must be bit-identical
    to Spark's native single-partition ntile over the same (score, id)
    total order — across ties, N not divisible by n_buckets, N smaller
    than n_buckets, and N == 1 — and its plan must carry no native ntile
    (the single-partition global-sort shape being retired)."""
    import random

    from pyspark.sql.window import Window

    from chess_lakehouse_spark.operators.relational import score_buckets

    rng = random.Random(7)
    cases = [
        # (rows, n_buckets): heavy ties, non-divisible N, N < n, N == 1
        ([(i, float(rng.randint(0, 5))) for i in range(257)], 10),
        ([(i, float(rng.randint(0, 10**6))) for i in range(100)], 7),
        ([(i, float(i % 2)) for i in range(3)], 10),
        ([(0, 42.0)], 1),
        ([(i, 1.0) for i in range(12)], 12),
    ]
    for rows, nb in cases:
        df = spark.createDataFrame(rows, "id long, score double").repartition(8)
        got = {
            r.id: r.bucket
            for r in score_buckets(df, "id", "score", nb).collect()
        }
        w = Window.orderBy(F.col("score").asc(), F.col("id").asc())
        want = {
            r.id: r.bucket
            for r in df.withColumn(
                "bucket", F.ntile(nb).over(w).cast("int")
            ).collect()
        }
        assert got == want, (nb, len(rows))

    plan = (
        score_buckets(
            spark.createDataFrame([(0, 1.0)], "id long, score double"),
            "id",
            "score",
            4,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile" not in plan
    assert "row_number" in plan


def test_md5_hash64_parity_with_duckdb_sweep(spark):
    """The portable-hash contract every sampling/dedup membership decision
    rests on: Spark's conv(substr(md5,1,15),16,10) must equal DuckDB's
    CAST('0x'||substr(md5,1,15) AS BIGINT) on a diverse string sweep
    (unicode, whitespace, empties, long strings, seed-prefixed forms)."""
    import random

    import duckdb

    from chess_lakehouse_spark.operators.dedup import md5_hash64

    rng = random.Random(7)
    samples = (
        ["", " ", "a", "0|1", "5|x y z", "héllo wörld", "多语言 текст", "\t\n"]
        + ["".join(rng.choices("abcdefghij |0123456789", k=rng.randint(1, 200)))
           for _ in range(192)]
    )
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = {r.s: r.h for r in df.select("s", md5_hash64(F.col("s")).alias("h")).collect()}

    con = duckdb.connect()
    want = {}
    for s in samples:
        want[s] = con.execute(
            "SELECT CAST(concat('0x', substr(md5(?), 1, 15)) AS BIGINT)", [s]
        ).fetchone()[0]
    assert got == want


def test_dot_fold_parity_with_duckdb_sweep(spark):
    """The vector contract: Spark's sequential F.aggregate fold must be
    bit-identical to DuckDB's list_dot_product over DOUBLE[] — the claim
    every cosine in the suite rests on, swept over random vectors
    (including denormal-ish tiny values and mixed signs)."""
    import random
    import struct

    import duckdb

    from chess_lakehouse_spark.operators.similarity import dot

    rng = random.Random(11)

    def vec(n):
        return [rng.uniform(-2, 2) * (10 ** rng.randint(-6, 2)) for _ in range(n)]

    pairs = [(vec(n), vec(n)) for n in (1, 2, 7, 64) for _ in range(12)]
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pairs)],
                               ["i", "a", "b"])
    got = {r.i: r.d for r in df.select("i", dot(F.col("a"), F.col("b")).alias("d")).collect()}

    con = duckdb.connect()
    for i, (a, b) in enumerate(pairs):
        want = con.execute(
            "SELECT list_dot_product(CAST(? AS DOUBLE[]), CAST(? AS DOUBLE[]))", [a, b]
        ).fetchone()[0]
        # bit-identity, not approximate equality
        assert struct.pack("<d", got[i]) == struct.pack("<d", want), (i, got[i], want)


def test_round_ln_ratio_parity_with_duckdb_sweep(spark):
    """The third portability pillar: ROUND(ln(intA/intB), 6) must agree
    between engines for the integer-ratio inputs used by the PMI / LM /
    KL / entropy oracles — swept over magnitude-spanning count pairs."""
    import random

    import duckdb

    rng = random.Random(13)
    pairs = [(rng.randint(1, 10**9), rng.randint(1, 10**9)) for _ in range(200)]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = {
        (r.a, r.b): r.v
        for r in df.select(
            "a", "b",
            F.round(F.log(F.col("a").cast("double") / F.col("b").cast("double")), 6).alias("v"),
        ).collect()
    }
    con = duckdb.connect()
    for a, b in pairs:
        want = con.execute(
            "SELECT ROUND(ln(CAST(? AS DOUBLE) / CAST(? AS DOUBLE)), 6)", [a, b]
        ).fetchone()[0]
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)


def test_cooccur_pairs_max_bucket_size_guard(spark):
    """A pathological band bucket (one key shared by B ids) must be dropped
    deterministically by the cap — not expanded into B^2/2 pairs in one
    task — while small buckets are unaffected, and the accounting
    companion reports exactly what was skipped."""
    import pytest as _pytest

    from chess_lakehouse_spark.operators.dedup import (
        cooccur_pairs,
        oversized_buckets,
    )

    rows = [("mega", i) for i in range(50)] + [("ok", 100), ("ok", 101)]
    df = spark.createDataFrame(rows, "bucket string, id long")

    uncapped = cooccur_pairs(df, ["bucket"], "id")
    assert uncapped.count() == 50 * 49 // 2 + 1

    capped = cooccur_pairs(df, ["bucket"], "id", max_bucket_size=10)
    assert [(r["id_a"], r["id_b"]) for r in capped.collect()] == [(100, 101)]

    dropped = oversized_buckets(df, ["bucket"], "id", max_bucket_size=10)
    assert [(r["bucket"], r["n_ids"]) for r in dropped.collect()] == [("mega", 50)]

    with _pytest.raises(ValueError, match="max_bucket_size"):
        cooccur_pairs(df, ["bucket"], "id", max_bucket_size=1)


def test_minhash_lsh_dedup_bucket_cap_threads_through(spark):
    """With a tiny cap every band bucket of a duplicated corpus is dropped
    and no pairs survive; with the default cap results are unchanged."""
    from chess_lakehouse_spark.operators.dedup import minhash_lsh_dedup

    texts = ["the quick brown fox jumps over the lazy dog"] * 8
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    assert minhash_lsh_dedup(df, "doc_id", "text").count() > 0
    assert (
        minhash_lsh_dedup(df, "doc_id", "text", max_bucket_size=4).count() == 0
    )


def test_exact_quantiles_global_matches_sorted_pick(spark):
    """Global exact quantiles via the distributed sort-rank plan must
    equal the sorted-list pick at rank ceil(q*N) — across ties, tiny N,
    and q=1.0 — and the plan must carry no single-partition ntile and no
    CartesianProduct."""
    import random

    from chess_lakehouse_spark.operators.relational import exact_quantiles

    rng = random.Random(11)
    cases = [
        [float(rng.randint(0, 9)) for _ in range(257)],   # heavy ties
        [float(rng.randint(0, 10**6)) for _ in range(100)],
        [41.0, 7.0, 7.0],
        [3.0],
    ]
    qs = [0.25, 0.5, 0.75, 0.9, 1.0]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(7)
        got = {
            r.q_ppm: r.value for r in exact_quantiles(df, "v", qs).collect()
        }
        s = sorted(vals)
        want = {}
        for q in qs:
            ppm = int(round(q * 1_000_000))
            rank = max(1, (ppm * len(s) + 999_999) // 1_000_000)
            want[ppm] = s[rank - 1]
        assert got == want, vals

    # empty input: no rows, not a crash
    empty = spark.createDataFrame([], "v double")
    assert exact_quantiles(empty, "v", [0.5]).count() == 0

    plan = (
        exact_quantiles(
            spark.createDataFrame([(1.0,)], "v double"), "v", [0.5]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile" not in plan and "CartesianProduct" not in plan


def test_exact_quantiles_by_group_and_validation(spark):
    import pytest

    from chess_lakehouse_spark.operators.relational import exact_quantiles

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("b", 10.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r.g, r.q_ppm): r.value
        for r in exact_quantiles(df, "v", [0.5, 1.0], by=["g"]).collect()
    }
    assert got == {
        ("a", 500_000): 2.0,   # ceil(0.5*4) = 2 -> 2nd smallest
        ("a", 1_000_000): 4.0,
        ("b", 500_000): 10.0,
        ("b", 1_000_000): 10.0,
    }

    with pytest.raises(ValueError, match="non-empty"):
        exact_quantiles(df, "v", [])
    with pytest.raises(ValueError, match="q must be"):
        exact_quantiles(df, "v", [0.0])
    with pytest.raises(ValueError, match="q must be"):
        exact_quantiles(df, "v", [1.5])
    with pytest.raises(ValueError, match="duplicate"):
        exact_quantiles(df, "v", [0.5, 0.5])


def test_salted_join_candidate_matches_plain_join_oracle(spark):
    """r11 staging candidate q_salted_join: the salted (key, salt)
    expansion must produce exactly the plain-join rollup at both local
    scales — salting moves rows, never changes them — and the plan must
    carry the salt machinery (xxhash64 placement hash + the salt in the
    join key)."""
    import duckdb

    from chess_lakehouse_spark.suite.llm import SALTED_JOIN_ORACLE, q_salted_join

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        sdf = q_salted_join(spark, sf_dir)
        assert dict(sdf.dtypes) == {
            "o_orderstatus": "string",
            "n_rows": "bigint",
            "sum_price": "double",
        }
        srows = sorted(tuple(r) for r in sdf.collect())
        con = duckdb.connect()
        for t in ("lineitem", "orders"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        drows = sorted(
            tuple(r) for r in con.execute(SALTED_JOIN_ORACLE).fetchall()
        )
        con.close()
        assert len(srows) > 0
        assert srows == drows

    plan = (
        q_salted_join(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "xxhash64" in plan
    assert "__salt" in plan
    assert "CartesianProduct" not in plan


def test_gate_attribution_matches_python_reference(spark):
    """One-pass gate attribution: n_fail / n_first_fail (stage
    attribution — must sum to total drops) / n_only_fail / n_pass_all all
    equal a brute-force Python evaluation; NULL gate values count as
    FAIL; bad gate names and empty gate maps are rejected."""
    import pytest

    from chess_lakehouse_spark.report import gate_attribution

    rows = [
        # (id, a, b, c) gate booleans, with NULLs
        (0, True, True, True),
        (1, False, True, True),
        (2, True, False, True),
        (3, True, True, False),
        (4, False, False, True),
        (5, None, True, False),
        (6, True, None, None),
        (7, False, False, False),
    ]
    df = spark.createDataFrame(rows, "id long, a boolean, b boolean, c boolean")
    gates = {"a": F.col("a"), "b": F.col("b"), "c": F.col("c")}
    got = {r.gate: r for r in gate_attribution(df, gates).collect()}

    def p(v):
        return bool(v)

    names = ["a", "b", "c"]
    by_gate = {n: [] for n in names}
    for _, a, b, c in rows:
        vals = {"a": p(a), "b": p(b), "c": p(c)}
        for n in names:
            by_gate[n].append(vals)
    for i, n in enumerate(names):
        vals_rows = by_gate[n]
        n_fail = sum(1 for v in vals_rows if not v[n])
        n_first = sum(
            1 for v in vals_rows if not v[n] and all(v[e] for e in names[:i])
        )
        n_only = sum(
            1 for v in vals_rows if not v[n] and all(v[o] for o in names if o != n)
        )
        assert (got[n].n_fail, got[n].n_first_fail, got[n].n_only_fail) == (
            n_fail, n_first, n_only,
        ), n
    n_pass_all = sum(1 for _, a, b, c in rows if p(a) and p(b) and p(c))
    assert all(r.n_pass_all == n_pass_all for r in got.values())
    # stage attribution partitions the drops exactly
    assert sum(r.n_first_fail for r in got.values()) == len(rows) - n_pass_all

    with pytest.raises(ValueError, match="at least one"):
        gate_attribution(df, {})
    with pytest.raises(ValueError, match="bad gate name"):
        gate_attribution(df, {"x'y": F.col("a")})

    # empty input: zero counts, not NULLs
    empty = spark.createDataFrame([], "id long, a boolean")
    z = gate_attribution(empty, {"a": F.col("a")}).collect()
    assert [tuple(r) for r in z] == [("a", 0, 0, 0, 0)]


def test_gate_attribution_candidate_matches_oracle_two_scales(spark):
    """r11/r12 staging candidate q_gate_attribution: exact parity with
    the conditional-sum SQL oracle at both local scales, driver-safe
    types, single-aggregate plan (no join, no cartesian)."""
    import duckdb

    from chess_lakehouse_spark.suite.llm import (
        GATE_ATTRIBUTION_ORACLE,
        q_gate_attribution,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        sdf = q_gate_attribution(spark, sf_dir)
        assert dict(sdf.dtypes) == {
            "gate": "string",
            "n_fail": "bigint",
            "n_first_fail": "bigint",
            "n_only_fail": "bigint",
            "n_pass_all": "bigint",
        }
        srows = sorted(tuple(r) for r in sdf.collect())
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        drows = sorted(
            tuple(r) for r in con.execute(GATE_ATTRIBUTION_ORACLE).fetchall()
        )
        con.close()
        assert len(srows) == 3
        assert srows == drows
        # the gates discriminate on this corpus: every gate drops some
        # rows AT ITS STAGE, and some rows pass the whole stack
        assert all(r[1] > 0 and r[2] > 0 for r in srows)
        assert all(r[4] > 0 for r in srows)

    plan = (
        q_gate_attribution(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_global_sort_rank_guards_and_null_quantiles(spark):
    """Review fixes pinned: exact_quantiles EXCLUDES NULL values from N
    and ranking (the SQL percentile convention); score_buckets(exact)
    REPLACES a pre-existing bucket column instead of duplicating it; and
    reserved working names are rejected loudly."""
    import pytest

    from chess_lakehouse_spark.operators.relational import (
        exact_quantiles,
        global_sort_rank,
        score_buckets,
    )

    vals = [1.0, None, 2.0, None, 3.0, 4.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r.q_ppm: r.value for r in exact_quantiles(df, "v", [0.25, 1.0]).collect()
    }
    # N = 4 non-null values: ceil(0.25*4) = 1 -> 1.0; q=1.0 -> 4.0
    assert got == {250_000: 1.0, 1_000_000: 4.0}
    # all-NULL input: no rows
    alln = spark.createDataFrame([(None,), (None,)], "v double")
    assert exact_quantiles(alln, "v", [0.5]).count() == 0
    # by-group: an all-NULL group vanishes, others unaffected
    g = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", None)], "g string, v double"
    )
    per = {
        (r.g, r.q_ppm): r.value
        for r in exact_quantiles(g, "v", [0.5], by=["g"]).collect()
    }
    assert per == {("a", 500_000): 1.0}

    rebucket = spark.createDataFrame(
        [(i, float(i), 1) for i in range(8)], "id long, score double, bucket int"
    )
    out = score_buckets(rebucket, "id", "score", 4)
    assert out.columns.count("bucket") == 1
    assert {r.bucket for r in out.collect()} == {1, 2, 3, 4}

    bad = spark.createDataFrame([(1, 1.0)], "__rank long, v double")
    with pytest.raises(ValueError, match="reserved column"):
        global_sort_rank(bad, ["v"])


def test_null_and_degenerate_input_fixes_across_relational_ops(spark):
    """r10 review batch 2, pinned: constant groups don't abort (or flag
    everything) in zscore_outliers; winsorize excludes NULLs from ranks
    and passes NULL rows through; asof_join never lets a NULL right_ts
    win; snapshot_delta distinguishes NULL content from absence;
    rolling_time_mean follows SQL AVG's null convention; activity_streaks
    drops NULL timestamps; dq_violations rejects an empty rule map."""
    import datetime as dt

    import pytest

    from chess_lakehouse_spark.operators.relational import (
        activity_streaks,
        asof_join,
        dq_violations,
        rolling_time_mean,
        snapshot_delta,
        winsorize,
        zscore_outliers,
    )

    # zscore: constant group must not ANSI-abort and must flag nothing;
    # the varying group still works
    z_in = spark.createDataFrame(
        [(1, "c", 5.0), (2, "c", 5.0), (3, "c", 5.0),
         (4, "v", 0.0), (5, "v", 0.0), (6, "v", 0.0), (7, "v", 100.0)],
        "id long, g string, v double",
    )
    hits = zscore_outliers(z_in, "id", "g", "v", z_threshold=1.5).collect()
    assert [r.id for r in hits] == [7]

    # winsorize: NULLs out of ranks, NULL rows pass through unclipped
    w_in = spark.createDataFrame(
        [(1, "g", None), (2, "g", None), (3, "g", None),
         (4, "g", 10.0), (5, "g", 20.0)],
        "id long, g string, v double",
    )
    w = {r.id: r.clipped for r in winsorize(w_in, "id", "g", "v", 0.2, 0.8).collect()}
    assert w[4] == 10.0 and w[5] == 20.0  # 20.0 must NOT clip down
    assert w[1] is None and w[2] is None and w[3] is None

    # asof: NULL right_ts qualifies for no left row
    t0 = dt.datetime(2020, 1, 1)
    left = spark.createDataFrame([("k", t0)], "k string, lts timestamp")
    right = spark.createDataFrame(
        [("k", None, 99.0)], "k string, rts timestamp, pay double"
    )
    got = asof_join(left, right, ["k"], "lts", "rts", ["pay"]).first()
    assert got["asof_pay"] is None

    # snapshot_delta: NULL content is present, not absent
    old = spark.createDataFrame([(1, None), (2, None), (3, "x")], "id long, c string")
    new = spark.createDataFrame([(1, "now"), (2, None), (4, "y")], "id long, c string")
    d = {r.id: r.change for r in snapshot_delta(old, new, "id", "c").collect()}
    assert d == {1: "changed", 3: "removed", 4: "added"}  # 2 unchanged

    # rolling mean: NULL values excluded from the denominator (SQL AVG)
    rows = [
        (1, "k", dt.datetime(2020, 1, 1, 0, 0, 0), 10.0),
        (2, "k", dt.datetime(2020, 1, 1, 0, 0, 30), None),
    ]
    r_in = spark.createDataFrame(rows, "id long, k string, ts timestamp, v double")
    means = {
        r.id: r.mean
        for r in rolling_time_mean(r_in, "id", "k", "ts", "v", window_s=60).collect()
    }
    assert means[1] == 10.0 and means[2] == 10.0  # not 5.0

    # streaks: a NULL ts emits no bogus island
    s_in = spark.createDataFrame(
        [("u", dt.datetime(2020, 1, 1)), ("u", None)], "u string, ts timestamp"
    )
    streaks = activity_streaks(s_in, "u", "ts").collect()
    assert len(streaks) == 1 and streaks[0].start_day is not None

    with pytest.raises(ValueError, match="at least one rule"):
        dq_violations(z_in, {})
