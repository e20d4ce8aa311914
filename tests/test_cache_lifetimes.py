"""Lifetimes of cached and checkpointed frames, and of memoized scans.

Every cache and every checkpoint iterate in the engine is taken through
``session.FrameScope``, and is released on every exit path: a return, an
exception, or (for a lazily returned frame that owns its scope) the garbage
collection of that frame. ``catalog.load_table``'s frame memo pins a table
path's file listing until ``clear_schema_cache()``.

The checks read the CacheManager and ``getPersistentRDDs``, which
``unpersist`` updates synchronously. ``getRDDStorageInfo`` is not used:
executors drop the blocks in the background.
"""

from __future__ import annotations

import ast
import gc
from pathlib import Path

import pytest
from pyspark.sql import DataFrame, Row
from pyspark.sql.readwriter import DataFrameWriter

from chess_lakehouse_spark.session import FrameScope

ROOT = Path(__file__).resolve().parent.parent


class _InjectedFault(RuntimeError):
    pass


def _held(spark) -> tuple[int, frozenset[int]]:
    """(cache entries, persisted RDD ids) of the session, after a garbage
    collection: a lazily returned frame releases its cache when collected."""
    gc.collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return cm.numCachedEntries(), frozenset(int(k) for k in ids)


def _assert_released(spark, base, what: str) -> None:
    """No cache entry and no persisted RDD beyond ``base``. Persisted ids
    are compared as a subset: a checkpoint another test returned may be
    cleaned by the JVM's ContextCleaner at any time."""
    entries, rdds = _held(spark)
    assert entries == base[0], f"{what} left a cache entry behind"
    assert rdds <= base[1], f"{what} left persisted RDDs {sorted(rdds - base[1])} behind"


def _fail_on(monkeypatch, cls, name: str, nth: int) -> list:
    """Make ``cls.name`` raise on its ``nth`` call; returns the call log."""
    real = getattr(cls, name)
    calls = []

    def failing(self, *args, **kwargs):
        calls.append(name)
        if len(calls) == nth:
            raise _InjectedFault(f"{name} call {nth}")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, name, failing)
    return calls


def _checkpoint_rdd_ids(df: DataFrame) -> set[int]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    nodes = [leaves.apply(i) for i in range(leaves.size())]
    return {n.rdd().id() for n in nodes if n.getClass().getSimpleName() == "LogicalRDD"}


def _ngram_docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", "s0"),
        (2, "alpha beta gamma delta epsilon zeta eta thetb", "s0"),
        (3, "totally different words here one two three four", "s0"),
        (4, "alpha beta gamma delta epsilon zeta eta theta", "s1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _vectors(spark):
    rows = [
        (i, [float(i % 7) + 1.0, float((i * 3) % 5) + 0.5, 1.0, 0.5])
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _labelled_docs(spark):
    rows = [
        (i, "cheap offer buy now spam" if i % 2 else "meeting notes agenda minutes", i % 2)
        for i in range(24)
    ]
    return spark.createDataFrame(rows, "id long, text string, label int")


def _edges(spark):
    rows = [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("c", "d", 1.0)]
    return spark.createDataFrame(rows, "src string, dst string, weight double")


def test_cache_is_invocation_scoped(spark):
    """r16 cache-collision fix: Spark's CacheManager keys (and unpersists)
    entries by CANONICALIZED PLAN, so two invocations of the same operator
    used to share one entry — and the FIRST result's GC-time release
    unpersisted the cache the SECOND result was still serving (measured:
    bench rep 2 of dedup_ngram_jaccard ran uncached at ~20 s vs ~3.5 s).
    With FrameScope's per-call plan stamp every invocation owns a distinct
    entry: releasing the predecessor must leave the successor cached."""
    from chess_lakehouse_spark.operators.dedup import ngram_jaccard_pairs

    docs = _ngram_docs(spark)
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()

    out1 = ngram_jaccard_pairs(docs, "doc_id", "text", block_col="source", n=7)
    out1.count()
    out2 = ngram_jaccard_pairs(docs, "doc_id", "text", block_col="source", n=7)
    rows2 = sorted(map(tuple, out2.collect()))

    # Predecessor dies (the bench.py rebind pattern); its scope is released.
    del out1
    gc.collect()
    # Without the stamp this was empty: out1's plan-matched unpersist
    # removed the single shared entry out2 depended on.
    assert not cm.isEmpty()

    # The successor still computes the same rows (from its own cache).
    assert sorted(map(tuple, out2.collect())) == rows2

    del out2
    gc.collect()
    assert cm.isEmpty()


def test_cache_stamp_never_reaches_output(spark):
    """The plan stamp is internal: operator outputs and the frames
    ``FrameScope.cache`` hands back never carry it, and two stamps differ,
    so two calls can never share a cache entry."""
    from chess_lakehouse_spark.operators.dedup import ngram_jaccard_pairs

    docs = _ngram_docs(spark)
    out = ngram_jaccard_pairs(docs, "doc_id", "text", block_col="source", n=7)
    assert out.columns == ["id_a", "id_b", "jaccard"]
    del out

    base = _held(spark)
    with FrameScope() as scope:
        a = scope.cache(docs.select("doc_id"))
        b = scope.cache(docs.select("doc_id"))
        assert a.columns == b.columns == ["doc_id"]
        plan_a = a._jdf.queryExecution().analyzed().toString()
        assert "__lease" in plan_a
        assert plan_a != b._jdf.queryExecution().analyzed().toString()
        a.count()
        b.count()
        entries, rdds = _held(spark)
        assert entries == base[0] + 2
        assert len(rdds - base[1]) == 2
    _assert_released(spark, base, "FrameScope")


def test_kmeans_pq_train_release_their_cache(spark):
    """r16 trainer cache discipline: kmeans_fit/pq_train cache their
    projected vectors lazily (the materialization rides the init-collect
    job — one fewer driver job than the eager localCheckpoint they replace)
    and must release them before returning, so back-to-back fits in one
    session never accumulate cached vector frames."""
    from chess_lakehouse_spark.operators.similarity import kmeans_fit, pq_train

    df = _vectors(spark)
    base = _held(spark)
    cents = kmeans_fit(df, "vec_id", "embedding", k=4, iters=2, seed=0)
    assert len(cents) == 4 and all(len(cv) == 4 for _, cv in cents)
    _assert_released(spark, base, "kmeans_fit")

    books = pq_train(df, "vec_id", "embedding", m=2, k=4, iters=1, seed=0)
    assert len(books) == 2
    _assert_released(spark, base, "pq_train")


def test_simhash_pairs_cache_released_on_gc(spark):
    """persist_signatures=True caches the signature frame for the self-join;
    the cache must be held while the result frame is alive (so the caller's
    collect hits it) and released when the result is garbage-collected."""
    from chess_lakehouse_spark.operators.dedup import simhash32, simhash_near_pairs

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in
         [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "q r s t u v w y")]]
    )
    base = _held(spark)
    sim = simhash32(df, "doc_id", "text")
    pairs = simhash_near_pairs(sim, "doc_id", persist_signatures=True)
    assert pairs.count() >= 1
    entries, rdds = _held(spark)
    added = rdds - base[1]
    assert added and entries > base[0]  # held while the result is alive
    # same rows as the uncached path
    plain = {tuple(r) for r in simhash_near_pairs(sim, "doc_id").collect()}
    assert {tuple(r) for r in pairs.collect()} == plain
    del pairs
    entries, rdds = _held(spark)
    assert not (added & rdds)
    assert entries == base[0]


def _run_trainer(spark, monkeypatch, trainer):
    """(action, method that raises, on which call) per trainer."""
    from chess_lakehouse_spark.functions import bpe
    from chess_lakehouse_spark.operators.classify import train_hashed_classifier
    from chess_lakehouse_spark.operators.graph import pagerank
    from chess_lakehouse_spark.operators.similarity import kmeans_fit, pq_train

    if trainer == "bpe_train":
        # checkpoint every 2 merges, so the fault lands with a materialized
        # checkpoint and a lazy one taken over it both held
        monkeypatch.setattr(bpe, "_CHECKPOINT_EVERY", 2)
        df = spark.createDataFrame(
            [(i, "lower lowest newer newest wider widest") for i in range(20)],
            "id long, text string",
        )
        return lambda: bpe.bpe_train(df, "text", n_merges=8), "collect", 5
    if trainer == "train_hashed_classifier":
        df = _labelled_docs(spark)
        return (
            lambda: train_hashed_classifier(df, "id", "text", "label", n_buckets=64, iters=4),
            "collect",
            2,
        )
    if trainer == "pagerank":
        df = _edges(spark)
        return lambda: pagerank(df, n_iter=4, tol=1e-12), "first", 3
    df = _vectors(spark)
    fit = kmeans_fit if trainer == "kmeans_fit" else pq_train
    kw = {} if trainer == "kmeans_fit" else {"m": 2}
    return lambda: fit(df, "vec_id", "embedding", k=4, iters=2, seed=0, **kw), "collect", 2


@pytest.mark.parametrize(
    "trainer",
    ["kmeans_fit", "pq_train", "bpe_train", "train_hashed_classifier", "pagerank"],
)
def test_trainer_releases_cache_when_an_iteration_throws(spark, monkeypatch, trainer):
    """An action inside the training loop raises after the loop has cached
    its inputs and checkpointed at least one iterate. Every cached frame
    and every checkpoint must be released anyway."""
    run, method, nth = _run_trainer(spark, monkeypatch, trainer)
    base = _held(spark)
    calls = _fail_on(monkeypatch, type(spark.range(1)), method, nth)
    with pytest.raises(_InjectedFault):
        run()
    monkeypatch.undo()
    assert len(calls) == nth
    _assert_released(spark, base, trainer)


def test_pagerank_on_no_edges_releases_its_cache(spark):
    from chess_lakehouse_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src string, dst string, weight double")
    base = _held(spark)
    ranks = pagerank(empty, n_iter=3)
    _assert_released(spark, base, "pagerank")
    assert ranks.collect() == []
    assert ranks.columns == ["node", "rank"]


@pytest.mark.parametrize(
    "operator", ["pagerank", "train_hashed_classifier", "connected_components"]
)
def test_iterative_operators_keep_only_their_result_checkpoint(spark, operator):
    """On success the only RDD left persisted is the returned result's own
    checkpoint: every earlier iterate and every cached input is released
    (``DataFrame.unpersist()`` on a checkpoint frame frees nothing)."""
    from chess_lakehouse_spark.operators.classify import train_hashed_classifier
    from chess_lakehouse_spark.operators.graph import connected_components, pagerank

    base = _held(spark)
    if operator == "pagerank":
        result = pagerank(_edges(spark), n_iter=5)
    elif operator == "train_hashed_classifier":
        result, _ = train_hashed_classifier(
            _labelled_docs(spark), "id", "text", "label", n_buckets=64, iters=4
        )
    else:
        chain = spark.createDataFrame([(i, i + 1) for i in range(6)], "a long, b long")
        result = connected_components(chain, "a", "b", driver_max_edges=0)
        assert {r.component for r in result.collect()} == {0}
    entries, rdds = _held(spark)
    assert entries == base[0]
    kept = _checkpoint_rdd_ids(result)
    assert len(kept) == 1
    assert rdds - base[1] == kept


def _text_batches(spark):
    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(29)) + " zz"
    other = " ".join(f"x{i}" for i in range(30))
    third = " ".join(f"y{i}" for i in range(30))
    b0 = spark.createDataFrame([
        Row(doc_id=1, text=base, url="http://a.example/x"),
        Row(doc_id=3, text=other, url="http://b.example/"),
    ])
    b1 = spark.createDataFrame([
        Row(doc_id=10, text=near, url="http://a.example/x"),
        Row(doc_id=11, text=third, url="http://c.example/"),
    ])
    return b0, b1


def _ppm(seed: int, scale: int = 1) -> bytes:
    import numpy as np

    small = np.random.RandomState(seed).randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    img = np.repeat(np.repeat(small, 4 * scale, axis=0), 4 * scale, axis=1)
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def _y4m(seeds, size: int = 32) -> bytes:
    import numpy as np

    from chess_lakehouse_spark.operators.video import encode_y4m

    frames = []
    for s in seeds:
        small = np.random.RandomState(s).randint(0, 256, size=(8, 8), dtype=np.uint8)
        frames.append(np.repeat(np.repeat(small, size // 8, axis=0), size // 8, axis=1))
    return encode_y4m(frames)


def _batch_case(spark, kind: str, d: str):
    """(batch 0, batch 1, run(batch, batch_id)) for one streaming loop."""
    from chess_lakehouse_spark.streaming import jobs

    if kind in ("binary_sig", "video"):
        schema = "doc_id long, payload binary"
        if kind == "binary_sig":
            b0 = spark.createDataFrame([(1, _ppm(7)), (2, _ppm(7, 2)), (3, _ppm(8))], schema)
            b1 = spark.createDataFrame([(10, _ppm(7, 3)), (11, _ppm(9))], schema)
            return b0, b1, lambda b, i: jobs.phash_dedup_batch(
                b, i, f"{d}/sigs", f"{d}/out", max_hamming=6
            )
        b0 = spark.createDataFrame(
            [(1, _y4m([21, 22, 23, 24])), (2, _y4m([21, 22, 23, 24], size=64)),
             (3, _y4m([25, 26, 27, 28]))],
            schema,
        )
        b1 = spark.createDataFrame([(10, _y4m([21, 23])), (11, _y4m([30, 31, 32, 33]))], schema)
        return b0, b1, lambda b, i: jobs.video_dedup_batch(
            b, i, f"{d}/sigs", f"{d}/out", max_hamming=6, min_sim=0.9
        )
    b0, b1 = _text_batches(spark)
    run = {
        "incremental": lambda b, i: jobs.incremental_dedup_batch(
            b, i, f"{d}/corpus", f"{d}/sigs", f"{d}/pairs"
        ),
        "url": lambda b, i: jobs.url_dedup_batch(b, i, f"{d}/urls", f"{d}/out"),
        "span": lambda b, i: jobs.span_dedup_batch(b, i, f"{d}/spans", f"{d}/out", k=3),
        "bloom": lambda b, i: jobs.bloom_dedup_batch(b, i, f"{d}/bloom", f"{d}/out"),
        "edit": lambda b, i: jobs.edit_dedup_batch(
            b, i, f"{d}/corpus", f"{d}/sigs", f"{d}/pairs", max_dist=3
        ),
    }[kind]
    return b0, b1, run


@pytest.mark.parametrize(
    "kind", ["incremental", "url", "span", "bloom", "edit", "binary_sig", "video"]
)
def test_dedup_batch_releases_cache_when_a_write_fails(spark, monkeypatch, tmp_path, kind):
    """A streaming dedup micro-batch releases what it cached on success,
    and also when its second write raises (batch 1, with batch 0's state
    staged, so the cross-batch path and its caches run)."""
    b0, b1, run = _batch_case(spark, kind, str(tmp_path))
    base = _held(spark)
    run(b0, 0)
    _assert_released(spark, base, f"{kind} batch 0")

    calls = _fail_on(monkeypatch, DataFrameWriter, "parquet", 2)
    with pytest.raises(_InjectedFault):
        run(b1, 1)
    monkeypatch.undo()
    assert len(calls) == 2
    _assert_released(spark, base, f"{kind} failed batch 1")


def test_publish_mutations_release_their_checkpoints(spark, tmp_path):
    """``merge_overwrite``, ``delete_rows`` and ``update_skipping_manifest``
    each checkpoint a merged frame that only their own write reads; no
    persisted RDD of theirs outlives the call."""
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.publish import (
        delete_rows,
        merge_overwrite,
        update_skipping_manifest,
        write_partitioned,
        write_skipping_manifest,
    )

    lake = str(tmp_path / "lake")
    df = spark.range(0, 60).select(
        "id", (F.col("id") % 7).alias("val"), F.when(F.col("id") < 30, "A").otherwise("B").alias("p")
    )
    write_partitioned(df, lake, ("p",))
    write_skipping_manifest(spark, lake, ["id"])
    updates = spark.createDataFrame([(5, 99, "A")], "id long, val long, p string")
    keys = spark.createDataFrame([(40, "B")], "id long, p string")

    calls = {
        "merge_overwrite": lambda: merge_overwrite(
            spark, lake, updates, key_cols=["id"], partition_cols=["p"]
        ),
        "update_skipping_manifest": lambda: update_skipping_manifest(
            spark, lake, ["id"], ["p"], affected=updates.select("p")
        ),
        "delete_rows": lambda: delete_rows(
            spark, lake, keys, key_cols=["id"], partition_cols=["p"]
        ),
    }
    for name, call in calls.items():
        base = _held(spark)
        call()
        _assert_released(spark, base, name)
    assert spark.read.parquet(lake).count() == 59


def _helper_spans(tree: ast.AST) -> list[tuple[int, int]]:
    return [
        (n.lineno, n.end_lineno)
        for n in ast.walk(tree)
        if isinstance(n, (ast.ClassDef, ast.FunctionDef)) and n.name in ("FrameScope", "_unpersist")
    ]


#: The only functions that may call ``.localCheckpoint(``, and why a
#: ``FrameScope`` cannot own each of those checkpoints.
_BARE_CHECKPOINTS = {
    ("chess_lakehouse_spark/session.py", "checkpoint"):
        "FrameScope.checkpoint is the scope's own checkpoint",
    ("chess_lakehouse_spark/operators/relational.py", "_exact_rank"):
        "derived plans read the range snapshot's RDD; an owned cache is substituted only at action time",
    ("chess_lakehouse_spark/operators/relational.py", "pareto_frontier_2d"):
        "its prefix-max reads one range snapshot through every derived plan, as _exact_rank's ranks do",
    ("chess_lakehouse_spark/operators/rollup.py", "percentile_from_counts"):
        "the returned frame is the checkpoint: it outlives the scope-held cache it was computed from",
}


def test_cache_calls_only_inside_frame_scope():
    """``.persist(``, ``.unpersist(`` and ``.cache()`` appear in the package
    and the scripts only inside ``session.FrameScope``, so one idiom owns
    every cached frame; ``.localCheckpoint(`` appears only in the functions
    of ``_BARE_CHECKPOINTS``."""
    session_py = ROOT / "chess_lakehouse_spark" / "session.py"
    offenders = []
    files = sorted((ROOT / "chess_lakehouse_spark").rglob("*.py")) + sorted(
        (ROOT / "scripts").rglob("*.py")
    )
    for path in files:
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        spans = _helper_spans(tree) if path == session_py else []
        checkpoint_spans = [
            (n.lineno, n.end_lineno)
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and (rel, n.name) in _BARE_CHECKPOINTS
        ]
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr = node.func.attr
            bare_cache = attr == "cache" and not node.args and not node.keywords
            if attr in ("persist", "unpersist") or bare_cache:
                allowed = spans
            elif attr == "localCheckpoint":
                allowed = checkpoint_spans
            else:
                continue
            if not any(lo <= node.lineno <= hi for lo, hi in allowed):
                offenders.append(f"{rel}:{node.lineno} .{attr}(")
    assert len(_helper_spans(ast.parse(session_py.read_text()))) == 2
    assert offenders == []


def test_directory_swaps_only_inside_publish():
    """Every rename-aside swap goes through ``publish.swap_publish``: no
    module of the package or the scripts but ``operators/publish.py``
    names ``_swap_lake_dirs`` or calls a two-argument ``.rename(src, dst)``
    (the Hadoop FileSystem rename)."""
    publish_py = ROOT / "chess_lakehouse_spark" / "operators" / "publish.py"
    offenders = []
    files = sorted((ROOT / "chess_lakehouse_spark").rglob("*.py")) + sorted(
        (ROOT / "scripts").rglob("*.py")
    )
    for path in files:
        if path == publish_py:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            # a Name, an attribute, or an imported alias
            name = getattr(node, "id", None) or getattr(node, "attr", None) or getattr(node, "name", None)
            rename = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "rename"
                and len(node.args) == 2
            )
            if name == "_swap_lake_dirs" or rename:
                offenders.append(f"{path.relative_to(ROOT)}:{getattr(node, 'lineno', '?')}")
    assert offenders == []


def test_load_table_memo_hides_appended_files(spark, tmp_path):
    """A file appended to a table path after its first load is not seen
    through the memoized frame; ``clear_schema_cache()`` makes it visible."""
    from chess_lakehouse_spark import catalog

    sf_dir = str(tmp_path)
    path = catalog.table_path(sf_dir, "grow")
    spark.range(5).coalesce(1).write.parquet(path)
    try:
        first = catalog.load_table(spark, sf_dir, "grow")
        assert first.count() == 5

        spark.range(5, 8).coalesce(1).write.mode("append").parquet(path)
        again = catalog.load_table(spark, sf_dir, "grow")
        assert again is first
        assert again.count() == 5

        catalog.clear_schema_cache()
        assert catalog.load_table(spark, sf_dir, "grow").count() == 8
    finally:
        catalog.clear_schema_cache()
