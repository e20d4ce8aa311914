"""Hypothesis property tests for the two trickiest pure-expression state
machines: the BPE merge fold (pending-buffer SQL aggregate) and
paragraph_dedup's corpus-wide first-occurrence selection. Each property
batch evaluates ALL generated cases in ONE Spark job (cases become rows /
columns), so the fuzz stays fast despite the JVM round-trip."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SYMS = st.lists(
    st.sampled_from(["a", "b", "ab", "ba", "\\", "'", "x</w>"]),
    min_size=0,
    max_size=12,
)


def _py_merge(syms, pa, pb):
    out, j = [], 0
    while j < len(syms):
        if j < len(syms) - 1 and syms[j] == pa and syms[j + 1] == pb:
            out.append(pa + pb)
            j += 2
        else:
            out.append(syms[j])
            j += 1
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    cases=st.lists(
        st.tuples(
            SYMS,
            st.sampled_from(["a", "b", "ab", "\\", "'"]),
            st.sampled_from(["a", "b", "ba", "\\", "'"]),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_merge_expr_fold_property(spark, cases):
    from chess_lakehouse_spark.functions.bpe import _merge_expr

    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)],
        "i long, syms array<string>",
    )
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            *[
                _merge_expr(pa, pb).alias(f"m{i}")
                for i, (_, pa, pb) in enumerate(cases)
            ],
        ).collect()
    }
    for i, (syms, pa, pb) in enumerate(cases):
        assert got[i][f"m{i}"] == _py_merge(syms, pa, pb), (syms, pa, pb)


PARA = st.sampled_from(["", " ", "dup one", "dup two", "x", "yz", "unique-ish"])


def _py_paragraph_dedup(docs, sep="\n", min_chars=1):
    first = {}
    for i, text in docs:
        for pos, para in enumerate(text.split(sep)):
            if len(para.strip()) >= min_chars and para not in first:
                first[para] = (i, pos)
    out = {}
    for i, text in docs:
        kept, removed, paras = [], 0, text.split(sep)
        for pos, para in enumerate(paras):
            if len(para.strip()) < min_chars or first.get(para) == (i, pos):
                kept.append(para)
            else:
                removed += 1
        out[i] = (sep.join(kept), len(paras), removed)
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    docs=st.lists(
        st.lists(PARA, min_size=1, max_size=6).map("\n".join),
        min_size=1,
        max_size=6,
    )
)
def test_paragraph_dedup_property(spark, docs):
    from chess_lakehouse_spark.operators.dedup import paragraph_dedup

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_paras"], r["n_removed"])
        for r in paragraph_dedup(df, "doc_id", "text").collect()
    }
    assert got == _py_paragraph_dedup(rows)


#: Separators that are regex metacharacters (or contain them) — the class
#: that silently mis-split before r7's Pattern.quote fix (F.split treats
#: its arg as a Java regex; the concat_ws rebuild is verbatim).
META_SEPS = [".", "|", "**", "a.b", "\\n", "[", "(", "\\Q", "\\E", "+", "?"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    sep=st.sampled_from(META_SEPS),
    paras=st.lists(
        st.sampled_from(["dup", "dup", "x y", "zz", "", "unique-1"]),
        min_size=1,
        max_size=5,
    ),
)
def test_paragraph_dedup_separator_is_literal_property(spark, sep, paras):
    """Any separator — including regex metacharacters — must behave as a
    LITERAL on both the split and the rebuild, so a doc with no duplicate
    paragraphs round-trips byte-identically and dedup counts match the
    literal-split Python reference."""
    from chess_lakehouse_spark.operators.dedup import paragraph_dedup

    docs = [(0, sep.join(paras)), (1, sep.join(reversed(paras)))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_paras"], r["n_removed"])
        for r in paragraph_dedup(df, "doc_id", "text", sep=sep).collect()
    }
    assert got == _py_paragraph_dedup(docs, sep=sep)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(seed=st.integers(min_value=0, max_value=10_000), n_shards=st.integers(1, 9))
def test_shard_assignment_is_permutation_property(spark, seed, n_shards):
    """Any (seed, n_shards): output is the input multiset, shards within
    range, pos a 1..n permutation per shard."""
    from chess_lakehouse_spark.operators.sampling import shard_assignments

    df = spark.range(0, 60).selectExpr("id AS doc_id")
    rows = shard_assignments(df, "doc_id", n_shards, seed=seed).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(60))
    per = {}
    for r in rows:
        assert 0 <= r["shard"] < n_shards
        per.setdefault(r["shard"], []).append(r["pos"])
    for poss in per.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dup", "x", "longtok"]),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(2, 4),
)
def test_span_dedup_property(spark, docs, k):
    """duplicate_span_dedup == the literal Python reference on arbitrary
    token soups, any k: same first-occurrence order, same coverage, every
    doc present."""
    import re

    from chess_lakehouse_spark.operators.dedup import duplicate_span_dedup

    ws = re.compile(r"[ \t\n\r\f\x0b]+")
    rows = list(enumerate(docs))
    toks = {i: [t for t in ws.split(text) if t] for i, text in rows}
    first, marked = {}, []
    for i in sorted(toks):
        ts = toks[i]
        for p in range(len(ts) - k + 1):
            key = " ".join(ts[p : p + k])
            if key not in first:
                first[key] = (i, p)
            else:
                marked.append((i, p))
    covered = {(i, p + j) for (i, p) in marked for j in range(k)}
    want = {}
    for i, ts in toks.items():
        kept = [t for p, t in enumerate(ts) if (i, p) not in covered]
        want[i] = (
            " ".join(kept),
            len(ts),
            sum((i, p) in covered for p in range(len(ts))),
        )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed_tokens"])
        for r in duplicate_span_dedup(df, "doc_id", "text", k=k).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab 'é中") + ["\U0001f600"]),
            min_size=0,
            max_size=50,
        ),
        min_size=2,
        max_size=10,
    ),
    d=st.integers(min_value=1, max_value=4),
)
def test_edit_distance_pairs_complete_on_unicode(spark, texts, d):
    """Candidate completeness of the q-gram count filter + bucket split
    under arbitrary unicode (multibyte chars, emoji, quotes, empties):
    the operator's CHAR-based length/gram/bucket arithmetic must agree
    with Spark's char-based levenshtein — every brute pair recovered,
    nothing extra. (Cross-engine byte-vs-char is a separate, documented
    boundary; this pins the Spark-side plan against itself.)"""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    got = sorted(
        tuple(r)
        for r in edit_distance_pairs(df, "id", "text", d, q=2).collect()
    )
    b = df.select("id", F.col("text").alias("t"))
    want = sorted(
        tuple(r)
        for r in (
            b.alias("a")
            .join(b.alias("b"), F.col("a.id") < F.col("b.id"))
            .withColumn("dist", F.levenshtein("a.t", "b.t", d))
            .where(F.col("dist") >= 0)
            .select("a.id", "b.id", F.col("dist").cast("long"))
            .collect()
        )
    )
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    keys=st.lists(st.text(min_size=0, max_size=24), min_size=0, max_size=40),
    probes=st.lists(st.text(min_size=0, max_size=24), min_size=1, max_size=25),
    n_words=st.integers(min_value=1, max_value=12),
    k=st.integers(min_value=1, max_value=6),
)
def test_bloom_gate_property(spark, keys, probes, n_words, k):
    """Property fuzz for the portable Bloom bit math: arbitrary unicode
    keys/probes and filter dimensions — every verdict equals the
    pure-Python md5 reference, and no member is ever rejected."""
    import hashlib

    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.bloom import (
        WORD_BITS,
        bloom_might_contain,
        build_bloom,
    )

    m_bits = WORD_BITS * n_words

    def pos(key):
        return {
            int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16) % m_bits
            for i in range(k)
        }

    bits = set()
    for key in keys:
        bits |= pos(key)

    mdf = spark.createDataFrame(
        [(x,) for x in keys], "key string"
    ) if keys else spark.createDataFrame([], "key string")
    bloom = build_bloom(mdf, "key", m_bits=m_bits, k=k)
    pdf = spark.createDataFrame(
        [(i, x) for i, x in enumerate(probes)], "rid long, key string"
    )
    got = {
        r.rid: r.might_contain
        for r in bloom_might_contain(pdf, "key", bloom).collect()
    }
    for i, p in enumerate(probes):
        want = pos(p) <= bits
        assert got[i] == want, (p, keys)
        if p in keys:
            assert got[i] is True


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.floats(
                allow_nan=False, allow_infinity=False, width=32,
                min_value=-1e6, max_value=1e6,
            ),
        ),
        min_size=0,
        max_size=60,
    ),
    qs=st.lists(
        st.integers(min_value=1, max_value=1_000_000), min_size=1,
        max_size=4, unique=True,
    ),
    parts=st.integers(1, 8),
)
def test_exact_quantiles_property(spark, vals, qs, parts):
    """Property fuzz for distributed exact quantiles: arbitrary floats
    with NULLs mixed in, arbitrary q-millionths — the value at rank
    ceil(q*N) over the NON-NULL sorted values, every time, on any
    partitioning."""
    from chess_lakehouse_spark.operators.relational import exact_quantiles

    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(parts)
    got = {
        r.q_ppm: r.value
        for r in exact_quantiles(
            df, "v", [p / 1_000_000 for p in qs]
        ).collect()
    }
    s = sorted(v for v in vals if v is not None)
    if not s:
        assert got == {}
        return
    want = {}
    for p in qs:
        rank = max(1, (p * len(s) + 999_999) // 1_000_000)
        want[p] = s[rank - 1]
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        ),
        min_size=0,
        max_size=40,
    ),
    parts=st.integers(1, 8),
)
def test_global_percent_rank_property(spark, vals, parts):
    """Property fuzz for the exact-millionths percent-rank: against the
    pure-Python ((rank-1)*1e6)//(N-1) over the (value, id) unique order,
    on any partitioning; NULL values rank FIRST (documented Spark ASC
    NULLS FIRST contract — callers filter when unwanted)."""
    from chess_lakehouse_spark.operators.relational import global_percent_rank

    rows = list(enumerate(vals))
    df = spark.createDataFrame(rows, "id long, v double").repartition(parts)
    got = {
        r.id: r.pct_ppm
        for r in global_percent_rank(df, ["v", "id"]).collect()
    }
    # python reference: NULLs first (as Spark sorts them), then value
    order = sorted(rows, key=lambda t: (t[1] is not None, t[1], t[0]))
    n = len(order)
    want = {
        rid: (0 if n <= 1 else ((rank * 1_000_000) // (n - 1)))
        for rank, (rid, _) in enumerate(order)
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_pareto_frontier_property(spark, pts):
    """Property fuzz for the distributed skyline: tiny integer grids
    maximize ties/duplicates — every surviving row must be exactly the
    brute-force weak-dominance reference, on any partitioning."""
    from chess_lakehouse_spark.operators.relational import pareto_frontier_2d

    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x double, y double").repartition(6)
    got = sorted(r.id for r in pareto_frontier_2d(df, "x", "y").collect())
    want = sorted(
        i
        for i, x, y in rows
        if not any(
            px >= x and py >= y and (px > x or py > y) for _, px, py in rows
        )
    )
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, width=32
            ),
        ),
        min_size=0,
        max_size=30,
    ),
    k=st.sampled_from([1.0, 3.0]),
)
def test_robust_zscore_property(spark, vals, k):
    """Property fuzz for the Hampel flags: med/MAD from the discrete
    lower-rank median, flag = |x-med| > k*MAD, NULLs flag NULL — against
    a pure-Python reference on any partitioning."""
    from chess_lakehouse_spark.operators.relational import robust_zscore_flags

    rows = list(enumerate(vals))
    df = spark.createDataFrame(rows, "id long, v double").repartition(5)
    got = {
        r.id: (r.med, r.mad, r.is_outlier)
        for r in robust_zscore_flags(df, "v", k=k).collect()
    }
    assert set(got) == {i for i, _ in rows}

    def _med(xs):
        s = sorted(xs)
        return s[max(1, (500_000 * len(s) + 999_999) // 1_000_000) - 1]

    nn = [v for _, v in rows if v is not None]
    if not nn:
        assert all(g == (None, None, None) for g in got.values())
        return
    med = _med(nn)
    mad = _med([abs(v - med) for v in nn])
    for i, v in rows:
        if v is None:
            assert got[i][2] is None
        else:
            assert got[i] == (med, mad, abs(v - med) > k * mad)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-8, max_value=8),  # small grid -> ties
            st.integers(min_value=-2, max_value=5),  # incl. nonpositive w
        ),
        min_size=0,
        max_size=30,
    ),
    qs=st.lists(
        st.integers(min_value=1, max_value=1_000_000),
        min_size=1,
        max_size=4,
        unique=True,
    ),
    parts=st.integers(1, 8),
)
def test_weighted_quantiles_property(spark, rows, qs, parts):
    """Property fuzz for exact weighted quantiles: value at the first
    cumulative-weight position reaching ceil(q*W) over the sorted
    positive-weight rows — against a pure-Python reference, heavy value
    ties included, on any partitioning."""
    from chess_lakehouse_spark.operators.relational import weighted_quantiles

    df = spark.createDataFrame(
        [(float(v), w) for v, w in rows], "v double, w long"
    ).repartition(parts)
    got = {
        r.q_ppm: r.value
        for r in weighted_quantiles(
            df, "v", "w", [p / 1_000_000 for p in qs]
        ).collect()
    }
    kept = sorted((float(v), w) for v, w in rows if w > 0)
    if not kept:
        assert got == {}
        return
    W = sum(w for _, w in kept)
    want = {}
    for p in qs:
        t = max(1, (p * W + 999_999) // 1_000_000)
        cw = 0
        for v, w in kept:
            cw += w
            if cw >= t:
                want[p] = v
                break
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    opens=st.dictionaries(
        st.integers(min_value=0, max_value=4),          # key
        st.sampled_from(["a", "b", None]),              # open-row attr
        max_size=5,
    ),
    upd=st.dictionaries(
        st.tuples(
            st.integers(min_value=0, max_value=4),      # key
            st.integers(min_value=0, max_value=12),     # ts (unique per key)
        ),
        st.sampled_from(["a", "b", "c", None]),         # attr
        max_size=20,
    ),
)
def test_scd2_apply_property(spark, opens, upd):
    """Property fuzz for the SCD2 fold vs a pure-Python event-fold
    reference: arbitrary open rows (valid_from 0) + a unique-(key,ts)
    update feed with NULL attrs mixed in — versions, collapse, and
    interval chaining must match on any partitioning."""
    from chess_lakehouse_spark.operators.publish import scd2_apply

    dim_rows = [(k, a, 0, None) for k, a in opens.items()]
    upd_rows = [(k, a, ts) for (k, ts), a in upd.items()]
    dim = spark.createDataFrame(
        dim_rows, "k long, seg string, valid_from long, valid_to long"
    ).repartition(3)
    updates = spark.createDataFrame(
        upd_rows, "k long, seg string, ts long"
    ).repartition(4)
    got = sorted(
        (tuple(r) for r in scd2_apply(dim, updates, ["k"], ["seg"], "ts").collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )

    events = {}
    for k, a in opens.items():
        events.setdefault(k, []).append((0, 0, a))
    for (k, ts), a in upd.items():
        events.setdefault(k, []).append((ts, 1, a))
    want = []
    for k, evs in events.items():
        evs.sort(key=lambda e: (e[0], e[1]))
        versions = []
        for ts, _, a in evs:
            if not versions or versions[-1][1] != a:
                versions.append((ts, a))
        for i, (ts, a) in enumerate(versions):
            nxt = versions[i + 1][0] if i + 1 < len(versions) else None
            want.append((k, a, ts, nxt))
    want.sort(key=lambda t: tuple((x is None, x) for x in t))
    assert got == want


# ---------------------------------------------------------------------------
# upsample_epochs — allocation fold vs a pure-Python reference
# ---------------------------------------------------------------------------

_UPS_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),  # id basis (deduped below)
        st.sampled_from(["g0", "g1", "g2"]),
        st.integers(min_value=0, max_value=300),  # size (0 exercised)
    ),
    min_size=1,
    max_size=25,
)


def _py_upsample(rows, budget, max_epochs, seed):
    import hashlib

    tot: dict[str, int] = {}
    for _i, g, s in rows:
        tot[g] = tot.get(g, 0) + s
    bpg = budget // len(tot)
    out = set()
    for i, g, _s in rows:
        t = tot[g]
        ep = min(max_epochs, bpg // t) if t > 0 else 0
        fppm = (
            ((bpg - ep * t) * 1_000_000) // t if t > 0 and ep < max_epochs else 0
        )
        h = (
            int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:15], 16)
            % 1_000_000
        )
        n = ep + (1 if h < fppm else 0)
        out.update((i, g, e) for e in range(1, n + 1))
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    rows=_UPS_ROWS,
    budget=st.integers(min_value=0, max_value=5000),
    max_epochs=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=3),
)
def test_upsample_epochs_property(spark, rows, budget, max_epochs, seed):
    from chess_lakehouse_spark.operators.sampling import upsample_epochs

    rows = list({r[0]: r for r in rows}.values())  # unique ids
    df = spark.createDataFrame(rows, "id long, grp string, sz long")
    got = {
        (r["id"], r["grp"], r["epoch"])
        for r in upsample_epochs(
            df, "id", "sz", "grp", budget=budget, max_epochs=max_epochs, seed=seed
        ).collect()
    }
    assert got == _py_upsample(rows, budget, max_epochs, seed)


# ---------------------------------------------------------------------------
# interleave_groups — order vs a pure-Python reference
# ---------------------------------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=30),
    n_groups=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2),
)
def test_interleave_groups_property(spark, ids, n_groups, seed):
    import hashlib

    from chess_lakehouse_spark.operators.sampling import interleave_groups

    rows = [(i, f"g{i % n_groups}") for i in sorted(set(ids))]
    df = spark.createDataFrame(rows, "id long, grp string")
    got = sorted(
        (r["pos"], r["seq"], r["grp"], r["id"])
        for r in interleave_groups(df, "id", "grp", seed=seed).collect()
    )

    def h(i):
        return int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:15], 16)

    by_g: dict[str, list[int]] = {}
    for i, g in rows:
        by_g.setdefault(g, []).append(i)
    seqd = []  # (seq, grp, id) per row
    for g, members in by_g.items():
        for k, i in enumerate(sorted(members, key=lambda i: (h(i), i)), start=1):
            seqd.append((k, g, i))
    want = [
        (p, s, g, i)
        for p, (s, g, i) in enumerate(sorted(seqd), start=1)
    ]
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),   # group key
            st.integers(min_value=1, max_value=1000),  # value
        ),
        min_size=1,
        max_size=120,
    ),
    parts=st.integers(1, 8),
)
def test_global_prefix_sum_property(spark, rows, parts):
    """global_prefix_sum == the pure-Python running sum over the sorted
    order, for arbitrary (group, value) multisets — the distributed
    range-partition/offset plan must be invisible."""
    from chess_lakehouse_spark.operators.relational import global_prefix_sum

    data = [(i, g, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, k long, v long").repartition(parts)
    out = {
        r["id"]: (r["pos"], r["cum"])
        for r in global_prefix_sum(df, ["k", "id"], "v").collect()
    }
    tot = 0
    for pos0, (i, g, v) in enumerate(
        sorted(data, key=lambda r: (r[1], r[0])), start=1
    ):
        tot += v
        assert out[i] == (pos0, tot), (i, out[i], (pos0, tot))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", None]),
            st.integers(min_value=-5, max_value=1000),  # weight, may be <= 0
        ),
        min_size=1,
        max_size=80,
    ),
    k=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=999),
)
def test_weighted_reservoir_property(spark, rows, k, seed):
    """A-ES reservoir == the pure-Python reference: md5-millionths u,
    key = round(ln(u)/w, 6), top-k per group by (key desc, id asc);
    non-positive/NULL weights excluded."""
    import hashlib
    import math

    from chess_lakehouse_spark.operators.sampling import (
        weighted_reservoir_per_group,
    )

    data = [(i, g, w) for i, (g, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, g string, w long").repartition(3)
    got = sorted(
        (r["id"], r["g"], r["weight"], r["rk"])
        for r in weighted_reservoir_per_group(df, "id", "g", "w", k, seed=seed)
        .collect()
    )

    def u_ppm(i):
        h = int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:15], 16)
        return (h % 1_000_000) + 1

    by_group: dict = {}
    for i, g, w in data:
        if w is None or w <= 0:
            continue
        key = round(math.log(u_ppm(i) / 1_000_000.0) / w, 6)
        by_group.setdefault(g, []).append((key, i, w))
    want = []
    for g, items in by_group.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        for rk, (key, i, w) in enumerate(items[:k], start=1):
            want.append((i, g, w, rk))
    assert got == sorted(want)
