"""Session layer: the worker daemon that skips unchanged zip archives, and
``spread()`` deciding without running a job."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import functions as F

from chess_lakehouse_spark import _pydaemon
from chess_lakehouse_spark.session import spread

_REPO = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zpkg_probe/__init__.py", f"VALUE = {value}\n")
        zf.writestr("zpkg_probe/sub.py", f"VALUE = -{value}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Two invalidations of an unchanged archive read its directory zero
    times; after the archive is rewritten, one invalidation reads it once
    for both of its importers, and fresh imports through either importer
    see the new modules."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "1")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(_pydaemon, "_read_keys", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        importlib.import_module("zpkg_probe.sub")  # importers for mods.zip and mods.zip/zpkg_probe
        assert sum(str(archive) in k for k in sys.path_importer_cache) == 2
        importlib.invalidate_caches()  # records the key, as the daemon does before it forks
        reads.clear()

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, "22")
        importlib.invalidate_caches()
        assert len(reads) == 1
        for mod in ("zpkg_probe.sub", "zpkg_probe"):
            sys.modules.pop(mod, None)
        assert importlib.import_module("zpkg_probe").VALUE == 22
        assert importlib.import_module("zpkg_probe.sub").VALUE == -22
    finally:
        for mod in ("zpkg_probe.sub", "zpkg_probe"):
            sys.modules.pop(mod, None)
        for k in [k for k in sys.path_importer_cache if str(archive) in k]:
            del sys.path_importer_cache[k]


def _pyspark_copies(tmp_path, archive_version: str, installed_version: str | None):
    """A fake ``pyspark.zip`` and, unless ``installed_version`` is None, a
    fake installed ``pyspark`` directory, each with its own version.py."""
    tmp_path.mkdir(exist_ok=True)
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = {archive_version!r}\n")
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    if installed_version is not None:
        (site / "pyspark" / "version.py").write_text(f"__version__: str = {installed_version!r}\n")
    return str(archive), str(site)


def test_archive_pyspark_moves_behind_the_same_installed_version(tmp_path):
    archive, site = _pyspark_copies(tmp_path, "4.1.2", "4.1.2")
    other = tmp_path / "other.zip"
    _write_zip(other, "1")
    path = [str(tmp_path / "app"), archive, str(other), "/nowhere", site, "/after"]
    assert _pydaemon.installed_pyspark_first(path) == [
        str(tmp_path / "app"), str(other), "/nowhere", site, archive, "/after"
    ]
    # the installed copy already wins: nothing to move
    assert _pydaemon.installed_pyspark_first([site, archive]) == [site, archive]


def test_archive_pyspark_stays_for_another_version_or_no_installed_copy(tmp_path):
    archive, site = _pyspark_copies(tmp_path / "a", "4.1.2", "4.1.1")
    path = [archive, site]
    assert _pydaemon.installed_pyspark_first(path) == path
    archive, site = _pyspark_copies(tmp_path / "b", "4.1.2", None)
    path = [archive, site, "/after"]
    assert _pydaemon.installed_pyspark_first(path) == path


def test_workers_import_pyspark_from_the_installed_copy(spark):
    """A worker imports pyspark from the driver's installed copy exactly
    when that copy's version.py is byte-identical to the archive's."""
    import pyspark

    def probe(_):
        import sys

        import pyspark

        yield pyspark.__file__, [p for p in sys.path if p.endswith("pyspark.zip")]

    (file, archives), = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    archive = next((p for p in archives if os.path.isfile(p)), None)
    if archive is None or pyspark.__file__.startswith(archive):
        return  # the driver itself runs from the archive: nothing to prefer
    same = zipimport.zipimporter(archive).get_data("pyspark/version.py") == (
        Path(pyspark.__file__).with_name("version.py").read_bytes()
    )
    assert (file == pyspark.__file__) == same, (file, archives)


def test_reused_worker_rereads_no_archive(spark):
    """A ``get_spark`` session's workers run the patched invalidation, and
    a task on a reused worker re-reads no archive."""

    def probe(_):
        import os
        import zipimport

        from chess_lakehouse_spark import _pydaemon as d

        yield (os.getpid(), zipimport.zipimporter.invalidate_caches is d.invalidate_caches, d.rereads)

    sc = spark.sparkContext
    rows = sc.parallelize(range(16), 16).mapPartitions(probe).collect()
    assert all(patched for _, patched, _ in rows)
    by_pid: dict[int, set[int]] = {}
    for pid, _, rereads in rows:
        by_pid.setdefault(pid, set()).add(rereads)
    assert len(by_pid) < len(rows), "no worker ran two tasks"
    assert all(len(counts) == 1 for counts in by_pid.values()), by_pid


def test_python_tasks_run_from_any_working_directory():
    """The daemon module is importable when the driver runs outside the
    repository: a plain RDD map and a pandas UDF both run. The package
    root goes first on the workers' path, ahead of the caller's entries."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {str(_REPO)!r})\n"
        "from pyspark.sql import functions as F\n"
        "from chess_lakehouse_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2,\n"
        "                  extra_conf={'spark.executorEnv.PYTHONPATH': '/caller/lib'})\n"
        f"assert spark.conf.get('spark.executorEnv.PYTHONPATH') == {str(_REPO) + os.pathsep + '/caller/lib'!r}\n"
        "assert spark.sparkContext.parallelize([1, 2], 2).map(lambda x: x + 1).collect() == [2, 3]\n"
        "inc = F.pandas_udf(lambda s: s + 1, 'long')\n"
        "rows = spark.range(0, 3, 1, 2).select(inc('id').alias('v')).collect()\n"
        "assert sorted(r.v for r in rows) == [1, 2, 3]\n"
        "print('ok')\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=300, cwd="/tmp", env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "ok"


def _jobs_started_by(spark, fn):
    """Job ids started while ``fn`` runs, from the status tracker's ids
    before and after."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    sc.setJobGroup("spread_probe", "spread() must not run a job")
    try:
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup("spread_probe"))
        out = fn()
        bus.waitUntilEmpty()
        after = set(tracker.getJobIdsForGroup("spread_probe"))
    finally:
        sc.setJobGroup("", "")
    return out, sorted(after - before)


def test_spread_starts_no_job_under_aqe(spark, tmp_path):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    path = str(tmp_path / "t.parquet")
    spark.range(0, 200, 1, 1).write.parquet(path)
    agg = spark.read.parquet(path).groupBy((F.col("id") % 7).alias("k")).count()
    out, jobs = _jobs_started_by(spark, lambda: spread(agg, "k"))
    assert jobs == []
    assert out is agg


def test_spread_starts_no_job_with_aqe_off(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(0, 200, 1, 1).write.parquet(path)
    dim = spark.range(0, 7).withColumnRenamed("id", "k")
    joined = spark.read.parquet(path).join(F.broadcast(dim), F.col("id") % 7 == F.col("k"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert "BroadcastExchange" in joined._jdf.queryExecution().executedPlan().toString()
        out, jobs = _jobs_started_by(spark, lambda: spread(joined, "id"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert jobs == []
    assert out is joined


def test_spread_repartitions_a_one_partition_scan(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(0, 200, 1, 1).write.parquet(path)
    scan = spark.read.parquet(path).select("id")
    out, jobs = _jobs_started_by(spark, lambda: spread(scan, "id"))
    assert jobs == []
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(id" in plan
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
