"""Published IVF index: lake layout partitioned by list_id, probe reads
pruned to the probed partitions, results identical to in-memory knn_ivf."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from chess_lakehouse_spark.catalog import load_table
from chess_lakehouse_spark.operators.similarity import (
    kmeans_fit,
    knn_ivf,
    publish_ivf_index,
    search_ivf_index,
)

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_index_publish_prune_and_match(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=1, seed=0)
    idx = str(tmp_path / "ivf")
    publish_ivf_index(emb, idx, "vec_id", "embedding", cents)
    # one Hive partition per centroid list, under the build's batch level
    parts = sorted(glob.glob(f"{idx}/batch_id=base/list_id=*"))
    assert 1 < len(parts) <= 4

    probes = emb.where(F.col("vec_id") < 3)
    got = search_ivf_index(spark, idx, probes, "vec_id", "embedding", cents, nprobe=2, k=5)

    # partition pruning reaches the scan
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan

    want = knn_ivf(emb, probes, "vec_id", "embedding", nprobe=2, k=5, centroids=cents)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_ivf_index_two_stage_full_pool_matches_exact(spark, tmp_path):
    """All three read-path cost cuts composed (partition pruning + coarse
    prefix scoring + exact rerank): with every list probed and the pool as
    large as the corpus, the result must equal exact brute force; with
    nprobe < n_lists the scan stays partition-pruned."""
    import pytest

    from chess_lakehouse_spark.operators.similarity import (
        knn_brute_force,
        search_ivf_index_two_stage,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    cents = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=1, seed=0)
    idx = str(tmp_path / "ivf2")
    publish_ivf_index(emb, idx, "vec_id", "embedding", cents)
    probes = emb.where(F.col("vec_id") < 3)

    got = search_ivf_index_two_stage(
        spark, idx, probes, "vec_id", "embedding", cents,
        nprobe=4, coarse_dims=8, pool=n, k=5,
    )
    want = knn_brute_force(emb, probes, "vec_id", "embedding", k=5)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    pruned = search_ivf_index_two_stage(
        spark, idx, probes, "vec_id", "embedding", cents,
        nprobe=1, coarse_dims=8, pool=20, k=5,
    )
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert pruned.count() > 0

    with pytest.raises(ValueError, match="pool"):
        search_ivf_index_two_stage(
            spark, idx, probes, "vec_id", "embedding", cents, pool=2, k=5
        )


def test_ivf_index_append_lifecycle(spark, tmp_path):
    """append_ivf_index folds a delta in O(delta): searches over the
    appended index equal searches over a fresh publish of the full
    corpus; the sidecar centroids are the single source of truth; a
    replayed append (same batch_id) changes nothing; and 'base' or
    malformed batch ids are rejected."""
    import pytest

    from chess_lakehouse_spark.operators.similarity import (
        append_ivf_index,
        read_ivf_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    cents = kmeans_fit(old, "vec_id", "embedding", k=4, iters=1, seed=0)

    idx = str(tmp_path / "ivf_inc")
    publish_ivf_index(old, idx, "vec_id", "embedding", cents)
    assert read_ivf_centroids(spark, idx) == sorted(
        (cid, list(cv)) for cid, cv in cents
    )
    append_ivf_index(new, idx, "vec_id", "embedding", batch_id="d1")
    append_ivf_index(new, idx, "vec_id", "embedding", batch_id="d1")  # replay

    ref = str(tmp_path / "ivf_full")
    publish_ivf_index(emb, ref, "vec_id", "embedding", cents)

    probes = emb.where(F.col("vec_id") < 3)
    got = search_ivf_index(
        spark, idx, probes, "vec_id", "embedding", cents, nprobe=2, k=5
    )
    want = search_ivf_index(
        spark, ref, probes, "vec_id", "embedding", cents, nprobe=2, k=5
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    # pruning still reaches the scan with the batch level present
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan

    with pytest.raises(ValueError, match="base"):
        append_ivf_index(new, idx, "vec_id", "embedding", batch_id="base")
    with pytest.raises(ValueError, match="bad batch_id"):
        append_ivf_index(new, idx, "vec_id", "embedding", batch_id="a/b")


def test_ivf_publish_rebuild_replaces_stale_append_batches(spark, tmp_path):
    """A RE-publish over an existing index must atomically replace the
    WHOLE index — stale append batches were assigned under the OLD
    centroids and would silently mis-list their vectors under the new
    ones. After rebuild: only batch_id=base remains, the sidecar carries
    the new centroids, and searches equal a fresh publish."""
    import glob

    import pytest

    from chess_lakehouse_spark.operators.similarity import (
        append_ivf_index,
        read_ivf_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)

    idx = str(tmp_path / "ivf_rebuild")
    c1 = kmeans_fit(old, "vec_id", "embedding", k=4, iters=1, seed=0)
    publish_ivf_index(old, idx, "vec_id", "embedding", c1)
    append_ivf_index(new, idx, "vec_id", "embedding", batch_id="d1")

    # rebuild with DIFFERENT centroids over the full corpus
    c2 = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=2, seed=1)
    publish_ivf_index(emb, idx, "vec_id", "embedding", c2)
    parts = sorted(glob.glob(f"{idx}/batch_id=*"))
    assert [p.rsplit("=", 1)[1] for p in parts] == ["base"]
    assert read_ivf_centroids(spark, idx) == sorted(
        (cid, list(cv)) for cid, cv in c2
    )
    import os

    assert not os.path.exists(idx + ".compacting")
    assert not os.path.exists(idx + ".old")

    ref = str(tmp_path / "ivf_rebuild_ref")
    publish_ivf_index(emb, ref, "vec_id", "embedding", c2)
    probes = emb.where(F.col("vec_id") < 3)
    got = search_ivf_index(
        spark, idx, probes, "vec_id", "embedding", c2, nprobe=2, k=5
    )
    want = search_ivf_index(
        spark, ref, probes, "vec_id", "embedding", c2, nprobe=2, k=5
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_ivf_index_append_swap_publish_hidden_staging(spark, tmp_path):
    """append_ivf_index publishes its batch via the rename-aside swap:
    the happy path leaves NO .staging/.old siblings (so a serve listing
    batch_id=*/list_id=* can only observe whole batches — the two-rename
    window of the staged-serving contract, not a file-count-proportional
    one), a pre-staged leftover dot-dir is invisible to reads, and a
    serve snapshot collected BEFORE the append is unaffected by it."""
    import os

    from chess_lakehouse_spark.operators.similarity import (
        append_ivf_index,
        kmeans_fit,
        read_ivf_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    cents = kmeans_fit(old, "vec_id", "embedding", k=3, iters=1, seed=0)
    idx = str(tmp_path / "ivf")
    publish_ivf_index(old, idx, "vec_id", "embedding", cents)

    probes = emb.where(F.col("vec_id") < 3)
    served_cents = read_ivf_centroids(spark, idx)
    before = {
        tuple(r)
        for r in search_ivf_index(
            spark, idx, probes, "vec_id", "embedding", served_cents,
            nprobe=3, k=5,
        ).collect()
    }

    # a crashed earlier attempt's leftover staging dir must not be read
    os.makedirs(f"{idx}/.staging-batch_id=zz/list_id=0", exist_ok=True)

    append_ivf_index(new, idx, "vec_id", "embedding", batch_id="d1")
    entries = sorted(
        e for e in os.listdir(idx) if not e.startswith(".") and "=" in e
    )
    assert entries == ["batch_id=base", "batch_id=d1"]
    assert not os.path.exists(f"{idx}/batch_id=d1.old")

    # the pre-append snapshot still reflects only the base batch
    again = {
        tuple(r)
        for r in search_ivf_index(
            spark, idx, probes, "vec_id", "embedding", served_cents,
            nprobe=3, k=5,
        ).collect()
    }
    assert len(again) >= len(before)
    # post-append serve includes delta ids; base-only snapshot did not
    base_ids = {r[0] for r in old.select("vec_id").collect()}
    assert all(cand in base_ids for _, cand, _, _ in before)
    assert any(cand not in base_ids for _, cand, _, _ in again)


def test_publish_clears_stale_staging_root(spark, tmp_path):
    """r15 ADVICE regression: a crashed earlier publish can leave a
    '<out>.compacting' root holding partitions encoded under OLD
    centroids; the rename-aside swap would promote them wholesale. Both
    IVF publishers must clear the staging root before writing, also when
    the index path is a ``file://`` URI."""
    import os

    from chess_lakehouse_spark.operators.similarity import (
        pq_train,
        publish_ivfpq_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=1, seed=0)

    for publish, scheme in [
        ("ivf", ""), ("ivfpq", ""), ("ivf", "file://"), ("ivfpq", "file://")
    ]:
        idx = str(tmp_path / f"{publish}{'_uri' if scheme else ''}")
        stale = f"{idx}.compacting/batch_id=crashed/list_id=0"
        os.makedirs(stale)
        open(f"{stale}/junk.parquet", "w").write("stale")
        if publish == "ivf":
            publish_ivf_index(emb, scheme + idx, "vec_id", "embedding", cents)
        else:
            books = pq_train(emb, "vec_id", "embedding", m=4, k=4, iters=1, seed=0)
            publish_ivfpq_index(emb, scheme + idx, "vec_id", "embedding", cents, books)
        assert not os.path.exists(f"{idx}.compacting")
        assert sorted(
            d for d in os.listdir(idx) if d.startswith("batch_id=")
        ) == ["batch_id=base"]


def test_sidecars_of_several_part_files_read_back_complete(spark, tmp_path):
    """The ``_centroids`` and ``_pq_codebooks`` sidecars are read by their
    part files: every row of every part comes back, in the documented
    order."""
    from chess_lakehouse_spark.operators.similarity import (
        read_ivf_centroids,
        read_pq_codebooks,
    )

    idx = str(tmp_path / "ivfpq")

    def write_parts(rows, schema, sidecar, n_parts):
        for i in range(n_parts):  # one appended file per part
            spark.createDataFrame(rows[i::n_parts], schema).coalesce(1).write.mode(
                "append"
            ).parquet(f"{idx}/{sidecar}")
        assert len(glob.glob(f"{idx}/{sidecar}/*.parquet")) == n_parts

    cents = [(c, [float(c), c / 2.0]) for c in range(7)]
    write_parts(cents, "cid int, centroid array<double>", "_centroids", 3)
    books = [(s, c, [float(s), float(c)]) for s in range(2) for c in range(5)]
    write_parts(books, "s int, cid int, centroid array<double>", "_pq_codebooks", 4)

    assert read_ivf_centroids(spark, idx) == cents
    assert read_pq_codebooks(spark, idx) == [
        [(c, [float(s), float(c)]) for c in range(5)] for s in range(2)
    ]
