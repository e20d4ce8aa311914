"""Partitioned Parquet publish sink (SURVEY.md §2.1).

Reference semantics: wipe outputs, then
``COPY combined TO dir (FORMAT PARQUET, PARTITION_BY (DataSource, year, month))``
(src/export-to-parquet.ts:51-56,106-110). That run produced 7,584 files for
5.7 GB — a small-files problem that gets fatal at 100 TB (NameNode/S3-listing
pressure, per-file open cost dominating scans). This sink therefore
repartitions BY THE PARTITION COLUMNS before the write so each Hive partition
is produced by exactly one task, whatever the shuffle width.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from chess_lakehouse_spark.session import FrameScope, local_df


def write_partitioned(
    df: DataFrame,
    out_dir: str,
    partition_cols: Sequence[str] = ("DataSource", "year", "month"),
    mode: str = "overwrite",
    target_partitions: int | None = None,
    compression: str = "zstd",
    sort_cols: Sequence[str] | None = None,
) -> dict[str, int]:
    """Hive-partitioned Parquet write with file-count control.

    Repartitioning by partition_cols hash-clusters rows so every output
    Hive partition is written by exactly one task; without it, every one of
    N shuffle tasks can open a file in every partition (N x |partitions|
    files — the reference's 7,584-file lake).

    The shuffle width is explicit: ``target_partitions``, or else the
    session's default parallelism (the core count ``spread()`` also uses).
    A bare ``repartition(*cols)`` leaves the width to AQE, which coalesces
    by bytes and so hands a lake under ~1 MB per core to ONE writer task,
    although at that size a write costs per file, not per byte. An explicit
    width is not coalesced, and since hashing keeps each Hive partition in
    one task, it cannot add files. A very hot partition key still lands in
    one task: AQE's skew split covers joins and rebalances, not
    ``repartition``.

    ``sort_cols`` additionally sorts within each task by (partition cols,
    sort cols): partition-col-first keeps one open writer per task (bounded
    writer memory), and the sort cols give tight per-row-group min/max
    inside every Hive partition — directory pruning from the partitioning
    plus footer skipping from the clustering (see ``write_clustered`` for
    the unpartitioned form).

    ``compression`` defaults to zstd: at 100 TB the lake's at-rest size and
    scan throughput both beat snappy (~30% smaller at comparable decode
    cost on modern CPUs); pass "snappy" to match older readers.

    Returns ``{"rows": rows written}``, counted by the write itself.
    """
    cols = [F.col(c) for c in partition_cols]
    width = target_partitions or df.sparkSession.sparkContext.defaultParallelism
    repartitioned = df.repartition(width, *cols)
    if sort_cols:
        repartitioned = repartitioned.sortWithinPartitions(
            *partition_cols, *sort_cols
        )
    return write_counted(
        repartitioned,
        lambda d: d.write.mode(mode)
        .option("compression", compression)
        .partitionBy(*partition_cols)
        .parquet(out_dir),
    )


def write_clustered(
    df: DataFrame,
    out_dir: str,
    cluster_cols: Sequence[str],
    n_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """Range-clustered sorted Parquet write: the data-layout lever BETWEEN
    Hive partitioning (directory pruning) and nothing — Parquet footers
    carry per-column min/max for every file and row group, and the scan
    skips any unit whose [min,max] cannot satisfy a pushed predicate. That
    skipping is only effective if the writer CLUSTERS values, so:

    ``repartitionByRange`` (sampled, scale-safe range boundaries — no
    driver materialization) makes the files cover DISJOINT key ranges, and
    ``sortWithinPartitions`` tightens every row group inside each file.
    A point/range predicate on ``cluster_cols[0]`` then touches O(1) of the
    ``n_files`` files instead of all of them — at 100 TB the difference
    between a 100 TB scan and a few-GB one for selective queries.

    Reference parity: the reference has no intra-partition layout control
    at all (``COPY ... PARTITION_BY`` only, src/export-to-parquet.ts:106-110);
    this is the idiomatic lake-side upgrade. Single-column clustering wins
    for one dominant predicate column; for two or three, use
    ``write_zordered`` which trades per-column tightness for multi-column
    skipping. Evidence: tests/test_clustering.py reads the written footers
    with pyarrow and asserts disjoint per-file ranges + skip counts.

    ``n_files`` defaults to the session's default parallelism, the width
    :func:`write_partitioned` also uses: a one-partition input then still
    writes one file per core, from one task per core.
    """
    if not cluster_cols:
        raise ValueError("write_clustered: cluster_cols must be non-empty")
    if n_files is None:
        n_files = df.sparkSession.sparkContext.defaultParallelism
    if n_files < 1:
        raise ValueError(f"write_clustered: n_files must be >= 1, got {n_files}")
    cols = [F.col(c) for c in cluster_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .option("compression", compression)
        .parquet(out_dir)
    )


def zorder_key(
    df: DataFrame,
    cluster_cols: Sequence[str],
    bits_per_col: int = 8,
    rel_err: float = 0.01,
):
    """Z-order (Morton) key as a pure Column expression.

    Each column is rank-bucketed into ``2**bits_per_col`` quantile buckets
    (ONE approxQuantile pass computes the cutpoints for ALL columns; the
    driver holds |cols| * 2**bits cutpoints — bounded), then the bucket
    ids' bits are interleaved so that rows close in the z-value are close
    in EVERY clustered dimension at once. Everything after the one stats
    pass is a pure JVM column expression (a bounded fold over the literal
    cutpoint array + bits*|cols| shift/mask terms) — no Python in the row
    path, whole-stage-codegen friendly.

    Quantile bucketing (not min/max linear bucketing) is deliberate: it is
    skew-proof — each bucket holds ~equal row mass, so heavy-hitter values
    cannot collapse the curve onto a few codes. NULLs map to bucket 0.
    """
    if not cluster_cols:
        raise ValueError("zorder_key: cluster_cols must be non-empty")
    if bits_per_col < 1 or bits_per_col * len(cluster_cols) > 62:
        raise ValueError(
            "zorder_key: need 1 <= bits_per_col and "
            f"bits_per_col * |cols| <= 62 (long z-key), got {bits_per_col} "
            f"bits x {len(cluster_cols)} cols"
        )
    n_buckets = 1 << bits_per_col
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # try_cast, not cast: under ANSI (Spark 4 default) a plain cast on a
    # non-numeric string ABORTS approxQuantile with a task-level error;
    # without ANSI it silently NULLs every row and the dimension would
    # contribute bucket 0 everywhere while the write still claims
    # multi-column skipping. Validate explicitly instead: one count-only
    # pass over the cluster columns (cheap next to the full-lake sorted
    # rewrite this key feeds) raises a clear error when any non-NULL value
    # fails the DOUBLE cast — non-numeric columns must be rank-encoded to
    # integers by the caller (dictionary/bucket id) before z-ordering.
    numeric = [F.col(c).try_cast("double") for c in cluster_cols]
    checks = df.agg(
        *[F.count(F.col(c)).alias(f"__n{i}") for i, c in enumerate(cluster_cols)],
        *[F.count(numeric[i]).alias(f"__d{i}") for i in range(len(cluster_cols))],
    ).collect()[0]
    bad = [
        c
        for i, c in enumerate(cluster_cols)
        if checks[f"__n{i}"] > checks[f"__d{i}"]
    ]
    if bad:
        raise ValueError(
            f"zorder_key: cluster column(s) {bad} hold non-numeric values "
            "(DOUBLE cast fails) — z-ordering needs numeric dimensions; "
            "rank-encode string columns to integers first"
        )
    stats_df = df.select(
        *[c.alias(f"__q{i}") for i, c in enumerate(numeric)]
    )
    cutpoints = stats_df.approxQuantile(
        [f"__q{i}" for i in range(len(cluster_cols))], probs, rel_err
    )
    z = F.lit(0).cast("long")
    for i, (col, cuts) in enumerate(zip(numeric, cutpoints)):
        if not cuts:
            continue
        cut_arr = F.array(*[F.lit(float(c)) for c in cuts])
        # bucket id = #cutpoints <= value (sorted cuts => monotone rank)
        bucket = F.aggregate(
            cut_arr,
            F.lit(0),
            lambda acc, c: acc + F.when(c <= col, 1).otherwise(0),
        )
        bucket = F.when(col.isNull(), F.lit(0)).otherwise(bucket).cast("long")
        for b in range(bits_per_col):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * len(cluster_cols) + i)
    return z


def write_zordered(
    df: DataFrame,
    out_dir: str,
    cluster_cols: Sequence[str],
    n_files: int,
    bits_per_col: int = 8,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """Multi-dimensional clustered write (Delta OPTIMIZE ZORDER-style, on
    plain Parquet): range-partition + sort by the interleaved-bit
    ``zorder_key`` so every file covers a compact region of the space-
    filling curve — per-file min/max stay tight on EVERY clustered column
    simultaneously, and selective predicates on ANY of them skip most
    files. Use for the 2-3 columns that dominate the workload's predicates
    when no single column does (single dominant column: ``write_clustered``
    is strictly tighter).

    Cost model at 100 TB: one sampled stats pass (approxQuantile) + one
    range shuffle — the same shape as any sorted write; the z-expression
    itself is JVM-side column math.
    """
    if n_files < 1:
        raise ValueError(f"write_zordered: n_files must be >= 1, got {n_files}")
    zc = "__zorder"
    staged = df.withColumn(zc, zorder_key(df, cluster_cols, bits_per_col))
    (
        staged.repartitionByRange(n_files, F.col(zc))
        .sortWithinPartitions(zc)
        .drop(zc)
        .write.mode(mode)
        .option("compression", compression)
        .parquet(out_dir)
    )


def vacuum_lake(spark: SparkSession, lake_dir: str) -> list[str]:
    """Remove crash leftovers around a lake directory: the staging copy and
    rollback copy (:func:`_sidecar`'s ``compacting`` and ``old``) that an
    interrupted :func:`swap_publish` can leave, for the lake itself and for
    each of its direct Hive ``k=v`` children, plus any ``_temporary``
    task-attempt dirs from a failed write inside the lake itself.

    Safety rule: never touches live data files — only the sidecar names
    :func:`_sidecar` produces — and never deletes the ONLY copy of a
    directory: if a crash landed inside ``_swap_lake_dirs``'s one-rename
    window (live dir renamed aside to its ``old`` sidecar, replacement not
    yet in place) the live directory is ABSENT and the ``old`` sidecar
    holds the sole copy, so vacuum first renames it back into place
    (restore) and only then cleans the sidecars. A restored path is
    included in the returned list prefixed with ``restored:``; deleted
    paths are returned as-is. Run before re-attempting a failed rewrite,
    or on a maintenance schedule; at 100 TB a stranded staging copy is a
    full extra lake of storage.
    """
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    base = lake_dir.rstrip("/")
    fs = Path(base).getFileSystem(spark._jsc.hadoopConfiguration())
    removed: list[str] = []

    def drop(path_str: str) -> None:
        if fs.exists(Path(path_str)):
            if not fs.delete(Path(path_str), True):
                raise IOError(f"vacuum_lake: failed to delete {path_str}")
            removed.append(path_str)

    def clean(live: str) -> None:
        old = _sidecar(live, "old")
        if not fs.exists(Path(live)) and fs.exists(Path(old)):
            # crash window of _swap_lake_dirs: old is the only copy — restore
            # it instead of deleting it (deleting here would be total data loss)
            if not fs.rename(Path(old), Path(live)):
                raise IOError(
                    f"vacuum_lake: {live} is missing and restoring {old} "
                    "failed; NOT deleting any sidecar"
                )
            removed.append(f"restored:{old}")
        drop(_sidecar(live, "compacting"))
        drop(old)

    clean(base)
    if fs.exists(Path(base)):
        names = (st.getPath().getName() for st in fs.listStatus(Path(base)))
        matches = filter(None, map(_CHILD_SIDECAR.fullmatch, names))
        for child in sorted({m.group(1) for m in matches}):
            clean(f"{base}/{child}")
    drop(f"{base}/_temporary")
    return removed


#: Characters Spark percent-escapes in Hive partition directory names
#: (ExternalCatalogUtils.escapePathName semantics, verified empirically
#: against Spark 4's parquet writer: space and '}' are NOT escaped).
_PATH_ESCAPED = set('"#%\'*/:=?\\{[]^') | {chr(i) for i in range(0x20)} | {"\x7f"}


def _escape_partition_value(v) -> str:
    """Render a partition VALUE exactly as Spark renders it into the Hive
    directory name, so FS-level partition lookups (emptied-partition
    cleanup in ``delete_rows``, stale-row matching in
    ``update_skipping_manifest``) agree with what the writer put on disk.
    Raw ``f"{col}={value}"`` silently misses any value containing ':',
    '/', '%', ... — the lookup then no-ops and 'deleted' rows survive."""
    if v is None or v == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPED else ch for ch in str(v)
    )


def _partition_segment(cols: Sequence[str], vals: Sequence) -> str:
    """``c1=v1/c2=v2`` path segment with writer-exact value escaping."""
    return "/".join(
        f"{c}={_escape_partition_value(v)}" for c, v in zip(cols, vals)
    )


def write_skipping_manifest(
    spark: SparkSession,
    lake_dir: str,
    stat_cols: Sequence[str],
    manifest_dir: str | None = None,
) -> str:
    """Build a per-file min/max stats manifest for ``lake_dir`` — the
    plain-Parquet equivalent of a table format's add-file statistics
    (Delta/Iceberg data skipping), pairing with ``write_clustered`` /
    ``write_zordered``: clustering makes per-file ranges tight, the
    manifest makes them consultable WITHOUT touching the data files.

    Built distributed (one column-pruned scan of just ``stat_cols``,
    grouped by ``input_file_name()``) rather than by reading footers on the
    driver: at 100 TB the footer walk is a million-file driver loop, while
    this is an ordinary map-combined aggregation whose input is only the
    stat columns' pages. Rebuild after compaction/merge (file set changed).

    Returns the manifest path (default: ``<lake_dir>_manifest``).
    """
    if not stat_cols:
        raise ValueError("write_skipping_manifest: stat_cols must be non-empty")
    out = manifest_dir or lake_dir.rstrip("/") + "_manifest"
    df = spark.read.parquet(lake_dir)
    aggs = []
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    man = (
        df.select(F.input_file_name().alias("file"), *stat_cols)
        .groupBy("file")
        .agg(*aggs)
    )
    man.coalesce(1).write.mode("overwrite").parquet(out)
    return out


def update_skipping_manifest(
    spark: SparkSession,
    lake_dir: str,
    stat_cols: Sequence[str],
    partition_cols: Sequence[str],
    affected: DataFrame,
    manifest_dir: str | None = None,
) -> str:
    """Incrementally refresh the stats manifest after a partition-scoped
    rewrite (``merge_overwrite``): drop the manifest rows whose files live
    under the affected Hive partitions, re-scan ONLY those partition
    directories, and splice the fresh stats in. A full
    :func:`write_skipping_manifest` rebuild scans the whole lake; this
    costs O(affected partitions) — the same proportionality contract as
    the merge itself. (After ``compact_partitions``, which rewrites every
    file, do a full rebuild instead.)

    ``affected`` carries the distinct partition-value rows (the same frame
    a merge derives from its updates); values must round-trip as directory
    strings, so they are cast to string here exactly like the merge does.
    Matching is on the ``/c1=v1/.../`` path segment, which is unique per
    partition in a Hive layout.
    """
    man_path = manifest_dir or lake_dir.rstrip("/") + "_manifest"
    vals = (
        affected.select(
            *[F.col(c).cast("string").alias(c) for c in partition_cols]
        )
        .distinct()
        .collect()
    )
    segments = [
        _partition_segment(partition_cols, [r[c] for c in partition_cols])
        for r in vals
    ]
    man = spark.read.parquet(man_path)
    # the manifest's file column holds input_file_name() URIs, which are
    # URI-percent-encoded ON TOP of Hive's directory-name escaping (on-disk
    # `src=s%3A1` appears as `src=s%253A1`, a space as `%20`). Decode the
    # URI layer and match the Hive-escaped segment; literal '+' is
    # protected first because url_decode is form-decoding (+ -> space).
    decoded = F.url_decode(F.replace(F.col("file"), F.lit("+"), F.lit("%2B")))
    stale = F.lit(False)
    for seg in segments:
        stale = stale | decoded.contains(f"/{seg}/")
    keep = man.filter(~stale)

    base = lake_dir.rstrip("/")
    # a mutation can remove an affected partition entirely (delete_rows on
    # its last rows) — only re-scan the directories that still exist
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    dirs = []
    for seg in segments:
        p = jvm.org.apache.hadoop.fs.Path(f"{base}/{seg}")
        if p.getFileSystem(hconf).exists(p):
            dirs.append(f"{base}/{seg}")
    if dirs:
        aggs = []
        for c in stat_cols:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        fresh = (
            spark.read.option("basePath", lake_dir)
            .parquet(*dirs)
            .select(F.input_file_name().alias("file"), *stat_cols)
            .groupBy("file")
            .agg(*aggs)
        )
        merged = keep.unionByName(fresh)
    else:
        merged = keep
    # materialize before overwriting the manifest the lineage reads
    with FrameScope() as scope:
        merged = scope.checkpoint(merged)
        merged.coalesce(1).write.mode("overwrite").parquet(man_path)
    return man_path


def read_with_skipping(
    spark: SparkSession,
    lake_dir: str,
    ranges: dict[str, tuple],
    manifest_dir: str | None = None,
) -> DataFrame:
    """Manifest-pruned read: consult the stats manifest, open ONLY the
    files whose [min, max] can intersect every requested ``col: (lo, hi)``
    range, and apply the residual predicate to the rows.

    The driver materializes just the surviving FILE LIST (bounded by file
    count, the same driver-side planning any table format does); the data
    itself is never collected. With a clustered layout a point query opens
    O(1) files — at 100 TB that is the difference between a full-lake scan
    and a few tasks. Returns an empty DataFrame with the lake's schema
    when no file qualifies.

    Staleness contract: refresh the manifest after any mutation
    (``update_skipping_manifest`` after a merge, full rebuild after
    compaction). A stale manifest fails LOUDLY — pruned paths that no
    longer exist raise at read — rather than silently serving rows from a
    superseded lake state.
    """
    if not ranges:
        raise ValueError("read_with_skipping: ranges must be non-empty")
    man_path = manifest_dir or lake_dir.rstrip("/") + "_manifest"
    man = spark.read.parquet(man_path)
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        cond = cond & (F.col(f"max_{c}") >= F.lit(lo)) & (F.col(f"min_{c}") <= F.lit(hi))
    # manifest file values are input_file_name() URIs (percent-encoded on
    # top of Hive's directory escaping); the reader wants literal on-disk
    # paths, so decode the URI layer once (unquote leaves '+' alone, the
    # exact inverse of the encoder — verified in tests/test_clustering.py)
    from urllib.parse import unquote

    files = [unquote(r["file"]) for r in man.filter(cond).select("file").collect()]
    full = spark.read.parquet(lake_dir)
    residual = F.lit(True)
    for c, (lo, hi) in ranges.items():
        residual = residual & F.col(c).between(F.lit(lo), F.lit(hi))
    if not files:
        return full.filter(F.lit(False))
    # basePath keeps Hive partition columns alive when reading leaf files
    return spark.read.option("basePath", lake_dir).parquet(*files).filter(residual)


def qc_aggs(error_predicate: Column | None = None) -> list[Column]:
    """The reference's QC probes as aggregate columns: total row count
    (``rows``) + error-row count (``error_rows``, when ``error_predicate``
    is given), for a ``DataFrame.agg`` or a ``DataFrame.observe``."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    if error_predicate is not None:
        aggs.append(F.count(F.when(error_predicate, 1)).alias("error_rows"))
    return aggs


def write_counted(
    df: DataFrame,
    write: Callable[[DataFrame], None],
    error_predicate: Column | None = None,
) -> dict[str, int]:
    """Run ``write`` on ``df`` with the QC probes (:func:`qc_aggs`) observed
    on it, and return the counts the write itself collected: no second job
    re-reads the output to count it.

    ``df`` must be the frame the writer consumes, above any shuffle: when a
    shuffle turns out empty, AQE replaces the plan below it, observation
    included, and the counts never arrive.
    """
    obs = Observation()
    write(df.observe(obs, *qc_aggs(error_predicate)))
    return {k: int(v) for k, v in obs.get.items()}


def qc_counts(spark: SparkSession, df: DataFrame, error_predicate=None) -> dict[str, int]:
    """The reference's QC probes: total row count + error-row count
    (src/read-pgn.ts:54-56, src/export-to-parquet.ts:102-104). One pass:
    conditional aggregation instead of two jobs."""
    row = df.agg(*qc_aggs(error_predicate)).collect()[0]
    return {k: int(v) for k, v in row.asDict().items()}


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) table sink: pre-shuffles ONCE at write time
    so that every later equi-join or aggregation on ``bucket_cols`` between
    co-bucketed tables runs with ZERO exchange — the write-amortized answer
    to repeated joins at 100 TB (a fact table is written once, joined
    thousands of times).

    Spark bucketing requires a catalog table (`saveAsTable`); n_buckets
    should be sized so one bucket of the LARGEST co-bucketed table fits an
    executor core's working memory (e.g. 100 TB / 32768 buckets ≈ 3 GB).
    sort_cols additionally sorts within buckets, letting sort-merge joins
    skip their sort phase entirely.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension fold (Kimball SCD2): apply a
    change feed to a versioned dimension, producing one validity
    interval per attribute VERSION — the lakehouse answer to "what was
    this customer's segment on date X".

    Input contracts:

    - ``dim``: the current SCD2 table — ``(*key_cols, *attr_cols,
      valid_from, valid_to)`` with ``valid_to`` NULL on each key's one
      OPEN row; CLOSED rows (valid_to set) are immutable history and
      pass through untouched. An empty/absent dim (or a key with no
      open row) is the first-load case. ``valid_from``/``valid_to``/
      ``ts_col`` may be any mutually comparable orderable type; the
      suite gates the integer-microseconds form.
    - ``updates``: the feed — ``(*key_cols, *attr_cols, ts_col)``.
      ``(key, ts)`` must be unique (the caller's event-identity
      contract; conflicting same-instant attr values have no defined
      winner). An update at a ts EQUAL to the open row's valid_from
      supersedes it (corrected re-delivery); an earlier ts rewrites the
      open period deterministically (the fold is a pure function of
      the event set).

    Semantics: per key, the open row becomes an event at its
    valid_from; events order by (ts, src) with updates superseding the
    open snapshot at equal ts; CONSECUTIVE events with NULL-safely
    equal attr tuples collapse (a no-op update opens no version); each
    surviving event becomes a version with ``valid_to`` = the next
    version's ``valid_from`` (NULL on the final, open version).

    Scale shape: one union + two per-key windows (groups parallelize
    across the cluster — no global sort) + the untouched-history
    union. Nothing is all-pairs or driver-materialized. Returns
    ``(*key_cols, *attr_cols, valid_from, valid_to)``."""
    from pyspark.sql.window import Window

    keys, attrs = list(key_cols), list(attr_cols)
    if not keys or not attrs:
        raise ValueError("scd2_apply: key_cols and attr_cols must be non-empty")
    want = {*keys, *attrs, "valid_from", "valid_to"}
    missing = want - set(dim.columns)
    if missing:
        raise ValueError(f"scd2_apply: dim is missing columns {sorted(missing)}")
    missing_u = {*keys, *attrs, ts_col} - set(updates.columns)
    if missing_u:
        raise ValueError(
            f"scd2_apply: updates is missing columns {sorted(missing_u)}"
        )
    clash = {"__src", "__ts", "__rn"} & (set(dim.columns) | set(updates.columns))
    if clash:
        raise ValueError(
            f"scd2_apply: reserved column(s) {sorted(clash)} in input"
        )

    closed = dim.where(F.col("valid_to").isNotNull()).select(
        *keys, *attrs, "valid_from", "valid_to"
    )
    open_ev = dim.where(F.col("valid_to").isNull()).select(
        *keys,
        *attrs,
        F.col("valid_from").alias("__ts"),
        F.lit(0).alias("__src"),
    )
    upd_ev = updates.select(
        *keys, *attrs, F.col(ts_col).alias("__ts"), F.lit(1).alias("__src")
    )
    ev = open_ev.unionByName(upd_ev)
    w = Window.partitionBy(*keys).orderBy(
        F.col("__ts").asc(), F.col("__src").asc()
    )
    # NULL-safe "attrs changed vs previous event" — the first event of a
    # key always survives (every lag is NULL AND rn = 1)
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    survived = (
        ev.withColumn("__rn", F.row_number().over(w))
        .withColumn("__chg", changed)
        .where((F.col("__rn") == 1) | F.col("__chg"))
    )
    w2 = Window.partitionBy(*keys).orderBy(
        F.col("__ts").asc(), F.col("__src").asc()
    )
    versions = survived.select(
        *keys,
        *attrs,
        F.col("__ts").alias("valid_from"),
        F.lead("__ts").over(w2).alias("valid_to"),
    )
    return closed.unionByName(versions)


def merge_overwrite(
    spark: SparkSession,
    lake_dir: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_cols: Sequence[str] = ("DataSource", "year", "month"),
    evolve_schema: bool = False,
) -> None:
    """UPSERT into the partitioned lake without a table format: the
    functional answer to the reference's in-place ``UPDATE games SET ...``
    (src/find-openings.ts:61,70-80) on immutable Parquet (SURVEY.md §2.4).

    Only the partitions present in ``updates`` are touched: existing rows of
    those partitions that do NOT match an update key survive (left-anti),
    update rows replace/append the rest, and the write uses *dynamic*
    partition overwrite so untouched partitions are never rewritten. This is
    the Delta-MERGE shape expressed on plain Parquet — at 100 TB the cost is
    proportional to the partitions being merged, not the lake.

    Keys must be unique within ``updates``. Not concurrent-writer-safe
    (plain Parquet has no transaction log); serialize merges per lake.

    Two subtleties this handles (both produce silent data corruption if
    skipped): partition VALUES must round-trip as the exact directory
    strings — type inference would read ``month=01`` back as int 1 and
    overwrite a *different* directory ``month=1`` — so the existing lake is
    read with inference off and update partition values are cast to string;
    and the merged frame is materialized (localCheckpoint) BEFORE the write,
    because its lineage reads the very files the overwrite replaces.

    ``evolve_schema=True`` is the additive-column path (the reference's
    ``ALTER TABLE ... ADD COLUMN IF NOT EXISTS``, src/find-openings.ts:60,
    expressed functionally): columns new in ``updates`` are added with
    NULLs on surviving rows, columns absent from ``updates`` are NULLed on
    update rows. Only the merged partitions gain the new column on disk —
    read an evolved lake with ``option("mergeSchema", "true")`` so the
    union schema wins over a single file's footer.
    """
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev_infer = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        existing = spark.read.parquet(lake_dir)
    finally:
        spark.conf.set(infer_key, prev_infer)
    for c in partition_cols:
        updates = updates.withColumn(c, F.col(c).cast("string"))
    affected = updates.select(*partition_cols).distinct()
    # partition-pruned read of only the affected partitions
    target = existing.join(F.broadcast(affected), on=list(partition_cols), how="left_semi")
    keep = target.join(updates.select(*key_cols), on=list(key_cols), how="left_anti")
    if evolve_schema:
        merged = keep.unionByName(updates, allowMissingColumns=True)
    else:
        merged = keep.unionByName(updates.select(*keep.columns))
    with FrameScope() as scope:
        _overwrite_partitions(scope.checkpoint(merged), lake_dir, partition_cols)


def _overwrite_partitions(
    merged: DataFrame, lake_dir: str, partition_cols: Sequence[str]
) -> None:
    """Dynamic partition overwrite of ``lake_dir`` with ``merged``: only the
    Hive partitions ``merged`` holds rows for are rewritten."""
    conf = merged.sparkSession.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.repartition(*[F.col(c) for c in partition_cols])
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(lake_dir)
        )
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def delete_rows(
    spark: SparkSession,
    lake_dir: str,
    keys: DataFrame,
    key_cols: Sequence[str],
    partition_cols: Sequence[str] = ("DataSource", "year", "month"),
) -> None:
    """Row-level DELETE on the plain-Parquet lake — the right-to-be-
    forgotten / takedown primitive a training-data lake must have. Same
    functional shape as :func:`merge_overwrite`: rewrite only the
    partitions that contain matching rows, via anti-join + dynamic
    partition overwrite.

    Pruning contract: if ``keys`` carries the partition columns, only
    those partitions are scanned to locate victims; otherwise ONE pruned
    pass over the lake finds the affected partitions first (cost ∝ lake
    for the locate, ∝ affected partitions for the rewrite — ship partition
    values with deletion requests whenever possible).

    Like every mutation in this layer: single-writer only (plain Parquet
    has no transaction log); serialize mutations per lake.

    Dynamic partition overwrite has a deletion-specific trap this handles
    explicitly: a partition whose rows are ALL deleted produces no output
    rows, so the overwrite never touches it and the old files would
    silently survive. Affected partitions with zero survivors are removed
    through the FileSystem API after the write.
    """
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev_infer = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        existing = spark.read.parquet(lake_dir)
    finally:
        spark.conf.set(infer_key, prev_infer)

    if all(c in keys.columns for c in partition_cols):
        affected = keys.select(
            *[F.col(c).cast("string").alias(c) for c in partition_cols]
        ).distinct()
    else:
        affected = (
            existing.join(
                keys.select(*key_cols), on=list(key_cols), how="left_semi"
            )
            .select(*partition_cols)
            .distinct()
        )
    # bounded: one row per affected partition — needed below to clean up
    # partitions that end up empty
    affected_vals = affected.collect()
    if not affected_vals:
        return
    affected = local_df(spark, affected_vals, affected.schema)

    target = existing.join(F.broadcast(affected), on=list(partition_cols), how="left_semi")
    keep = target.join(keys.select(*key_cols), on=list(key_cols), how="left_anti")
    with FrameScope() as scope:
        merged = scope.checkpoint(keep)
        _overwrite_partitions(merged, lake_dir, partition_cols)
        survivors = {
            tuple(str(r[c]) for c in partition_cols)
            for r in merged.select(*partition_cols).distinct().collect()
        }
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = lake_dir.rstrip("/")
    for r in affected_vals:
        vals = tuple(str(r[c]) for c in partition_cols)
        if vals in survivors:
            continue
        seg = _partition_segment(partition_cols, vals)
        p = jvm.org.apache.hadoop.fs.Path(f"{base}/{seg}")
        fs = p.getFileSystem(hconf)
        if fs.exists(p) and not fs.delete(p, True):
            raise IOError(f"delete_rows: failed to remove emptied partition {seg}")


def compact_partitions(
    spark: SparkSession,
    lake_dir: str,
    partition_cols: Sequence[str] = ("DataSource", "year", "month"),
    target_partitions: int | None = None,
) -> None:
    """Small-files compaction: rewrite the lake so each Hive partition is
    produced by as few tasks as carry its data (the maintenance job that
    undoes streaming-append / per-batch fragmentation — the reference's
    export produced 7,584 files for 5.7 GB, dvc.lock:2022). Content is
    byte-identical; only file layout changes. Run periodically, or per
    partition after heavy append traffic.

    Partition values round-trip exactly: the snapshot is read with
    partition type inference OFF (same hazard as ``merge_overwrite`` —
    inference would read ``month=01`` back as int 1 and rewrite the
    directory as ``month=1``, silently changing values and schema).

    The directory swap goes through the Hadoop FileSystem API, so the
    operator works on any supported scheme (file://, hdfs://, s3a://, ...).
    On HDFS/local-FS the final rename is atomic; on S3-like stores rename
    is copy+delete, leaving a non-atomic window in which readers see a
    partial lake — schedule compaction in a maintenance window there, or
    use a table format with a transaction log for concurrent readers.
    """
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev_infer = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        snapshot = spark.read.parquet(lake_dir)
        cols = [F.col(c) for c in partition_cols]
        repartitioned = (
            snapshot.repartition(target_partitions, *cols)
            if target_partitions
            else snapshot.repartition(*cols)
        )
        # rewrite via a staging copy: Spark cannot overwrite a path it is
        # concurrently reading from
        swap_publish(
            spark, lake_dir,
            repartitioned.write.mode("overwrite").partitionBy(*partition_cols).parquet,
            "compact_partitions",
        )
    finally:
        spark.conf.set(infer_key, prev_infer)


#: A Hive ``k=v`` child's sidecar name inside its parent (see ``_sidecar``).
_CHILD_SIDECAR = re.compile(r"\.(.+=.*)\.(?:compacting|old)")


def _sidecar(live_dir: str, kind: str) -> str:
    """The one naming rule for a live directory's ``compacting`` (staging)
    and ``old`` (rollback) copies. A table dir gets ``<live>.<kind>``. A
    Hive partition dir ``k=v`` gets the dot-prefixed ``<parent>/.<k=v>.<kind>``:
    Spark's partition discovery skips names starting with ``.``, while a
    plain ``k=v.old`` sibling would be read as one more partition."""
    base = live_dir.rstrip("/")
    parent, _, name = base.rpartition("/")
    if "=" in name:
        return f"{parent}/.{name}.{kind}"
    return f"{base}.{kind}"


def swap_publish(
    spark: SparkSession,
    live_dir: str,
    write: Callable[[str], object],
    op: str,
) -> None:
    """Replace ``live_dir`` with what ``write(staging)`` writes: the one way
    this package swaps a rewritten directory in. The staging path is
    ``_sidecar(live_dir, "compacting")``; a stale copy left there by a
    crashed earlier run is deleted through the Hadoop FileSystem first (so
    it can never be promoted wholesale), then ``write`` fills it and
    ``_swap_lake_dirs`` renames it into place. ``op`` names the caller in
    error messages. :func:`vacuum_lake` cleans what a crash leaves."""
    live = live_dir.rstrip("/")
    staging = _sidecar(live, "compacting")
    path = spark._jvm.org.apache.hadoop.fs.Path(staging)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path) and not fs.delete(path, True):
        raise IOError(f"{op}: failed to clear stale {staging}")
    write(staging)
    _swap_lake_dirs(spark, staging, live, op)


def _swap_lake_dirs(spark: SparkSession, tmp: str, lake_dir: str, op: str) -> None:
    """Swap a rewritten copy into place by renaming the live directory ASIDE
    first (dst -> its ``old`` sidecar), then src -> dst, then deleting the
    ``old`` copy. A crash between the two renames leaves a one-rename
    no-data window plus a rollback copy — unlike delete-then-rename, the
    lake is never the ONLY copy destroyed (each single rename/delete is
    atomic on HDFS/local FS). Leftovers from a crash are exactly what
    :func:`vacuum_lake` cleans. A missing live directory is the
    first-publish case (e.g. a served surface's first micro-batch): the
    rewritten copy renames straight into place with no aside step. Called
    only by :func:`swap_publish`."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    dst = jvm.org.apache.hadoop.fs.Path(lake_dir)
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    old = jvm.org.apache.hadoop.fs.Path(_sidecar(lake_dir, "old"))
    fs = dst.getFileSystem(hconf)
    if fs.exists(old) and not fs.delete(old, True):
        raise IOError(f"{op}: failed to clear stale {old}")
    if not fs.exists(dst):
        parent = dst.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        if not fs.rename(src, dst):
            raise IOError(f"{op}: first publish rename {tmp} -> {lake_dir} failed")
        return
    if not fs.rename(dst, old):
        raise IOError(f"{op}: failed to move {lake_dir} aside")
    if not fs.rename(src, dst):
        fs.rename(old, dst)  # roll back: restore the original lake
        raise IOError(
            f"{op}: rename {tmp} -> {lake_dir} failed; "
            f"original lake restored, rewritten data intact in {tmp}"
        )
    if not fs.delete(old, True):
        raise IOError(
            f"{op}: swap succeeded but could not remove {old}; delete it manually"
        )


def recluster_lake(
    spark: SparkSession,
    lake_dir: str,
    cluster_cols: Sequence[str],
    n_files: int,
    bits_per_col: int = 8,
    compression: str = "zstd",
) -> None:
    """Layout-only rewrite of an (unpartitioned) lake directory into
    clustered order — the plain-Parquet ``OPTIMIZE ... ZORDER BY``: one
    column routes to :func:`write_clustered` (disjoint per-file ranges),
    several to :func:`write_zordered` (Morton-interleaved quantile
    buckets). Content is identical; only file layout and footer stats
    change, so run it before building the skipping manifest. Publishes
    through :func:`swap_publish`, like ``compact_partitions`` —
    :func:`vacuum_lake` cleans an interrupted run. Single-writer only, like
    every mutation in this layer; on S3-like stores the swap's rename is
    copy+delete (see ``compact_partitions``).
    """
    snapshot = spark.read.parquet(lake_dir)

    def write(tmp: str) -> None:
        if len(cluster_cols) == 1:
            write_clustered(snapshot, tmp, cluster_cols, n_files, compression=compression)
        else:
            write_zordered(
                snapshot, tmp, cluster_cols, n_files,
                bits_per_col=bits_per_col, compression=compression,
            )

    swap_publish(spark, lake_dir, write, "recluster_lake")
