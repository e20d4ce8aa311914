"""Lifetimes of cached frames and memoized scans: iterative trainers release
their persisted frame on every exit path, and ``catalog.load_table``'s
frame memo pins a table path's file listing until ``clear_schema_cache()``."""

from __future__ import annotations

import pytest


class _InjectedFault(RuntimeError):
    pass


def _cached_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize("trainer", ["kmeans_fit", "pq_train", "bpe_train"])
def test_trainer_releases_cache_when_an_iteration_throws(spark, monkeypatch, trainer):
    """The first collect materializes the persisted frame; the second, the
    first iteration's, raises. The frame must be unpersisted anyway."""
    from chess_lakehouse_spark.functions.bpe import bpe_train
    from chess_lakehouse_spark.operators.similarity import kmeans_fit, pq_train

    if trainer == "bpe_train":
        df = spark.createDataFrame(
            [(i, "lower lowest newer newest wider widest") for i in range(20)],
            "id long, text string",
        )
        run = lambda: bpe_train(df, "text", n_merges=4)  # noqa: E731
    else:
        rows = [
            (i, [float(i % 7) + 1.0, float((i * 3) % 5) + 0.5, 1.0, 0.5])
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        fit = kmeans_fit if trainer == "kmeans_fit" else pq_train
        kw = {} if trainer == "kmeans_fit" else {"m": 2}
        run = lambda: fit(df, "vec_id", "embedding", k=4, iters=2, seed=0, **kw)  # noqa: E731

    frame_type = type(df)
    collect = frame_type.collect
    calls = []

    def failing_collect(self):
        calls.append(1)
        if len(calls) == 2:
            raise _InjectedFault(trainer)
        return collect(self)

    base = _cached_rdd_ids(spark)
    monkeypatch.setattr(frame_type, "collect", failing_collect)
    with pytest.raises(_InjectedFault):
        run()
    monkeypatch.undo()
    assert len(calls) == 2
    assert _cached_rdd_ids(spark) == base, f"{trainer} left a cached frame behind"


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
