"""SparkSession factory with scale-appropriate defaults.

The reference delegates execution to a DuckDB subprocess per stage
(reference: src/read-pgn.ts:52, src/export-to-parquet.ts:98); here the
equivalent "engine config" is the SparkSession. Defaults are chosen for
correctness-parity with the DuckDB oracle (UTC session timezone) and for
scale (AQE on, skew-join handling, partial-aggregation pushdown left to
Catalyst, Arrow for any Pandas-UDF stage).

Sessions built by :func:`get_spark` also set
``spark.python.daemon.module=chess_lakehouse_spark._pydaemon``: a worker
daemon that stops every Python task re-reading ``pyspark.zip`` and the
Spark jar it runs from (about 0.25 s per task on a 4-core VM; see
``_pydaemon``). ``spark.python.worker.module`` would not do: Spark ignores
it while the daemon is in use, the Linux default. The daemon has to be
importable from any working directory, so the package root is put first on
``spark.executorEnv.PYTHONPATH``, ahead of any value the caller passes in
``extra_conf``. A cluster deployment ships this package to its executors,
as every UDF pickled by reference already requires.

They also resolve ``file://`` to ``jvm/SyscallChmodFileSystem.java``, the
checksummed local FileSystem whose ``setPermission`` is a syscall rather
than a forked ``chmod`` process (see :func:`get_spark`).

The module also holds the engine's frame helpers: ``spread``, ``local_df``
and ``FrameScope``, the one owner of every cached and checkpointed frame.
"""

from __future__ import annotations

import itertools
import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Conf applied to every session we build, and re-applied (runtime-settable
#: subset) to sessions handed to us by the test/verify driver.
RUNTIME_CONF: dict[str, str] = {
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so values compare equal.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime partition coalescing + skew-join splitting.
    # At 100 TB these are not optional — AQE re-plans around stats we can't
    # know statically (per-key skew in the contains-join, post-filter sizes).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the (few) Pandas-UDF stages.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The reference wipes-and-rewrites its export dir for determinism
    # (src/export-to-parquet.ts:51-56); static overwrite matches that.
    "spark.sql.sources.partitionOverwriteMode": "static",
    # The events fixture stores TIMESTAMP(NANOS) which the Parquet reader
    # rejects; read as long and convert to micros in the catalog (DuckDB
    # likewise truncates nanos to its micro-precision TIMESTAMP).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


#: Sessions (by applicationId) that already received RUNTIME_CONF — makes
#: apply_runtime_conf a one-py4j-call no-op after the first query (r16,
#: guide §5 driver constants: every query called it defensively, paying
#: len(RUNTIME_CONF) conf round-trips per invocation; the conf is ours and
#: static per session, so once is enough).
_CONF_APPLIED: set[str] = set()


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally-built session.

    The correctness driver builds its own SparkSession; session timezone and
    AQE flags are runtime-settable, so queries() entries call this
    defensively. Applied once per applicationId: anything that re-creates
    the session gets a fresh id and is re-pinned; a caller that mutates
    these specific keys mid-session after the first query is outside the
    engine's contract (the keys are correctness-bearing, e.g. UTC session
    timezone, and nothing here ever changes them back).
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _CONF_APPLIED:
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on a running session — keep whatever the driver chose.
            pass
    _CONF_APPLIED.add(app_id)
    return spark


#: Leaf scans whose ``execute()`` builds an RDD without running a job. An
#: adaptive plan (``AdaptiveSparkPlanExec``) is a leaf too, and not listed:
#: executing it runs its query stages.
_JOB_FREE_LEAVES = frozenset(
    {"FileSourceScanExec", "BatchScanExec", "RangeExec", "LocalTableScanExec", "RDDScanExec"}
)


def _job_free(plan) -> bool:
    """True when ``plan.execute()`` cannot start a Spark job: no exchange
    (a broadcast's ``execute()`` runs the broadcast job, a range shuffle's
    samples its input), no subquery, and every leaf a plain scan."""
    name = plan.getClass().getSimpleName()
    if "Exchange" in name or not plan.subqueries().isEmpty():
        return False
    kids = plan.children()
    n = kids.size()
    if n == 0:
        return name in _JOB_FREE_LEAVES
    return all(_job_free(kids.apply(i)) for i in range(n))


def spread(df, *keys: str):
    """Scale-adaptive parallelism guard for compute-heavy map stages
    (guide §2.5 "input skew: … otherwise repartition immediately after the
    read"): hash-repartition ``df`` to the session's default parallelism
    when — and ONLY when — it currently has fewer partitions.

    Why: the fixture lake stores each table as ONE small parquet file with
    a single row group, so every scan yields ONE partition and everything
    map-side downstream (vector folds, gram hashing, winnowing, per-pair
    cosines under a broadcast join) runs on ONE core regardless of
    ``local[N]`` — measured r16: winnow_fingerprints 2.0 s → 0.4 s,
    semantic_dedup 3.4 s → 2.4 s at sf0.1/local[32] once spread. At
    production scale scans carry hundreds of partitions, the guard
    no-ops, and no extra exchange is ever inserted — this is partitioning
    derived from input vs cores, not a constant tuned to either.

    The decision starts no Spark job. Only a scan-rooted plan (see
    ``_job_free``) is counted, with ``executedPlan().execute()``, which
    builds the RDD without running it. Any other frame (a shuffle, a
    broadcast, a subquery, a cached relation; under AQE, every adaptive
    plan) is returned as it is: counting it would run its upstream stages,
    and the real action would run them again. A shuffled frame already
    has ``spark.sql.shuffle.partitions`` partitions (the core count here)
    before AQE coalesces them.

    ``keys`` picks hash partitioning (deterministic under task retry —
    guide §2.5 discourages keyless round-robin, which also pays a local
    sort); callers pass the operator's natural id column. Results are
    row-set-identical: every consumer below is a join/aggregate/window
    keyed on columns, never on physical row order."""
    target = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if not _job_free(plan) or plan.execute().getNumPartitions() >= target:
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)


def local_df(spark: SparkSession, rows, schema, n_slices: int = 1):
    """Driver-local bounded rows → DataFrame in ``n_slices`` partitions
    (default ONE).

    ``spark.createDataFrame(list, schema)`` parallelizes the pickled rows
    into ``defaultParallelism`` slices; every slice deserialized by a task
    costs one Python-worker round trip, so a downstream single-task
    consumer (``coalesce(1)`` sidecar writes, tiny spec tables) pays them
    SEQUENTIALLY — measured r15: a 7-row rollup spec write cost ~5 s at
    local[32] (32 handshakes) vs ~0.3 s at one slice. Every caller here
    holds a list bounded by construction (spec rows, centroid literals,
    merge lists, probe sets), so one partition is the right layout at any
    corpus scale — these frames never carry data-proportional rows."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, max(1, int(n_slices))), schema
    )


#: Per-process sequence for the plan stamp :meth:`FrameScope.cache` adds.
_STAMP_SEQ = itertools.count()


class FrameScope:
    """The one owner of every frame the engine caches or checkpoints.

    ``with FrameScope() as scope:`` releases every frame taken through the
    scope when the block exits, by return or by exception. An operator
    that must return a LAZY frame reading a held frame returns
    ``scope.own(out)`` instead: the scope then lives as long as ``out`` and is
    released when ``out`` is garbage-collected.

    - ``cache(df)`` persists ``df`` under a per-call plan stamp. Spark's
      CacheManager keys entries by canonicalized plan and ``unpersist``
      removes by the same match, so without the stamp two calls over the
      same inputs share one entry, and the first call's release drops the
      cache the second still reads (measured r16: a second
      ``dedup_ngram_jaccard`` run went uncached, ~20 s against ~3.5 s). A
      stamp also keeps the scope from releasing a cache its caller made.
      The returned frame drops the stamp column, so callers never see it.
    - ``checkpoint(df, eager=True)`` local-checkpoints ``df``.
      ``DataFrame.unpersist()`` frees nothing on a checkpoint frame; the
      scope unpersists the checkpoint's RDD itself. A local checkpoint
      whose blocks are gone cannot be recomputed, so an iterate is
      released only after its successor is materialized.
    - ``release(df)`` frees one held frame now; ``keep(df)`` hands one to
      the caller (a returned checkpoint iterate), and the scope no longer
      frees it.

    Releases do not block: the CacheManager entry and the persisted-RDD
    registration go at once, the executors drop the blocks in the
    background.
    """

    def __init__(self) -> None:
        self._held: list[tuple[DataFrame, object]] = []
        self._owned = False

    def __enter__(self) -> FrameScope:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None or not self._owned:
            self.close()

    def __del__(self) -> None:
        self.close()

    def cache(self, df: DataFrame) -> DataFrame:
        stamped = df.withColumn("__lease", F.lit(next(_STAMP_SEQ))).persist()
        out = stamped.drop("__lease")
        self._held.append((out, stamped))
        return out

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        out = df.localCheckpoint(eager=eager)
        self._held.append((out, out._jdf.logicalPlan().rdd()))
        return out

    def release(self, df: DataFrame) -> None:
        for i, (frame, handle) in enumerate(self._held):
            if frame is df:
                del self._held[i]
                _unpersist(handle)
                return

    def keep(self, df: DataFrame) -> DataFrame:
        self._held = [(f, h) for f, h in self._held if f is not df]
        return df

    def own(self, out: DataFrame) -> DataFrame:
        out._frame_scope = self  # type: ignore[attr-defined]
        self._owned = True
        return out

    def close(self) -> None:
        held, self._held = self._held, []
        for _, handle in reversed(held):
            _unpersist(handle)


def _unpersist(handle) -> None:
    """Unpersist a cached DataFrame or a checkpoint's JVM RDD."""
    try:
        handle.unpersist(False)
    except Py4JError:
        pass  # the session is already stopped: nothing is held any more


#: Directory holding the ``chess_lakehouse_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"

#: The ``file://`` FileSystem of :func:`get_spark` sessions, built from
#: ``jvm/SyscallChmodFileSystem.java`` (its header holds the rebuild command).
_LOCAL_FS_JAR = os.path.join(_PACKAGE_ROOT, "chess_lakehouse_spark", "jvm", "syscall-chmod-fs.jar")
_LOCAL_FS_CLASS = "chess_lakehouse_spark.jvm.SyscallChmodFileSystem"
_LOCAL_FS_CONF = {
    "spark.hadoop.fs.file.impl": _LOCAL_FS_CLASS,
    "spark.hadoop.fs.AbstractFileSystem.file.impl": _LOCAL_FS_CLASS + "$Fs",
}


def _local_fs_conf() -> dict[str, str]:
    """The conf that names the engine's ``file://`` FileSystem, or nothing
    when the JVM cannot load it.

    A JVM this call launches gets the jar on its class path (``get_spark``
    puts it there). A JVM that already runs, such as one a vanilla session
    launched or one ``spark-submit`` started, has the class path it was
    launched with; naming a class it cannot load would break every
    ``file://`` read, so there Hadoop's default stays unless
    ``Class.forName`` finds the class."""
    from pyspark import SparkContext

    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        return _LOCAL_FS_CONF
    SparkContext._ensure_initialized()
    try:
        SparkContext._jvm.java.lang.Class.forName(_LOCAL_FS_CLASS)
    except Py4JError:
        return {}
    return _LOCAL_FS_CONF


def get_spark(
    app_name: str = "chess_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    shuffle_partitions defaults to the local core count: the 200-partition
    Spark default over-parallelizes local tests and under-parallelizes a real
    cluster; deployments should size it to ~2-3x total executor cores.

    ``file://`` paths go through ``SyscallChmodFileSystem`` (Java source in
    ``jvm/``): Hadoop's checksummed ``LocalFileSystem``, ``.crc`` files
    written and verified as before, whose ``setPermission`` is one
    ``chmod(2)`` syscall. Without ``libhadoop`` Hadoop forks a ``chmod``
    process for every file, ``.crc`` file and directory a write creates
    (2-3 ms each from a 1.5 GB driver JVM on a 4-vCPU VM; 335 forks per
    ``pgn_lake`` pass). Both entry points are set: ``fs.file.impl``
    (``FileSystem``) and ``fs.AbstractFileSystem.file.impl``
    (``FileContext``, which streaming checkpoints and ``_spark_metadata``
    use). The jar goes first on the driver and executor class paths, ahead
    of any caller value; like the worker daemon, it assumes the package
    sits at the same path on every node. A caller's own ``fs.*.impl`` in
    ``extra_conf`` wins, and a JVM that cannot load the class keeps
    Hadoop's default (``_local_fs_conf``).
    """
    par = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{par}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.python.daemon.module", "chess_lakehouse_spark._pydaemon")
    )
    for k, v in {**RUNTIME_CONF, **_local_fs_conf()}.items():
        builder = builder.config(k, v)
    extra = dict(extra_conf or {})
    # Ours first on each path-list conf, then the caller's.
    heads = {
        _WORKER_PYTHONPATH: _PACKAGE_ROOT,
        "spark.driver.extraClassPath": _LOCAL_FS_JAR,
        "spark.executor.extraClassPath": _LOCAL_FS_JAR,
    }
    for k, head in heads.items():
        builder = builder.config(k, os.pathsep.join(p for p in (head, extra.pop(k, "")) if p))
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_conf(spark)
