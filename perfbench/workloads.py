"""The benchmark's two workloads.

Each workload has ``warmup()`` (first use of the engine, before set-up
and counted in set-up time), ``setup(rep)`` (timed several times; the last
one is kept), ``run_pass(i)`` (timed pass ``i``, returning an ``Op`` per
operation), ``check()`` (run outside the timed region; describes each
wrong output of the last pass), and, for traced runs, ``wrap_layers()``
(spans around the repository functions the workload reaches) and
``layer_metrics()``. ``pass_s`` is a pass's nominal length: a run makes
``round(seconds / pass_s)`` passes, at least one, whatever the speed of
the code under test.

- ``pgn_lake`` drives the reference's DVC DAG through
  ``scripts/pipeline_cli.main``: read-pgn and find-openings per
  DataSource, then one export-parquet. Its traced run also reads the lake
  back through the publish layer's stats manifest.
- ``suite`` runs a fixed, family-stratified share of the query suite once,
  cold, each query materialized by a ``noop`` write.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import importlib.util
import io
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import gen

#: Corpus and dimension sizes. The enrich plan build costs 10-26 ms per
#: opening row per DataSource on a 4-core host, so the dimension is kept small enough for a
#: run to fit its time budget; the per-row cost is reported.
PGN_GAMES = 1000
N_OPENINGS = 100
#: The suite's fixture tables do not depend on the run's seed, so that
#: their per-query (rows, hash) reference can be recorded once.
SUITE_FIXTURE_SEED = 20240601
#: One query in SUITE_STRIDE (sorted by name), plus every chess and
#: multimodal query, so each suite family is timed in every run.
SUITE_STRIDE = 12


@dataclass
class Op:
    name: str
    start: float
    end: float
    op_id: int
    error: str | None = None
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def dir_stats(path: str) -> tuple[int, int]:
    """(Parquet files, bytes of every file) under ``path``."""
    files = size = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            size += os.path.getsize(os.path.join(dp, fn))
            files += fn.endswith(".parquet")
    return files, size


def _load_cli(root: str):
    spec = importlib.util.spec_from_file_location("pipeline_cli", os.path.join(root, "scripts", "pipeline_cli.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def jvm_warmup(spark, scratch: str) -> None:
    """JVM, Catalyst, codegen and Python-worker start-up: a Parquet round
    trip, a join with an aggregate, and a pandas UDF on every core (one
    Python worker per core), over generated rows no workload reads."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _noop(s):
        return s

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 50_000, 1, n).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v"), F.concat(F.lit("s"), (F.col("id") % 13).cast("string")).alias("s")
    ).write.mode("overwrite").parquet(scratch)
    t = spark.read.parquet(scratch)
    t.join(spark.range(97).withColumnRenamed("id", "k"), "k").groupBy("s").agg(F.sum("v")).collect()
    spark.range(0, 64 * n, 1, n).select(_noop(F.col("id"))).count()


def _timed_op(spark, tracer, name: str, fn, ops: list[Op]):
    """Run ``fn`` as one operation; an exception fails the op, not the run.
    Traced runs also count the RDDs still persisted once the operation
    has returned and the cache has been cleared."""
    start = time.perf_counter()
    err = result = None
    with tracer.op(name) as span:
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 - counted in failed_frac and named
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
    op = Op(name, start, time.perf_counter(), span.op, err)
    if tracer.enabled:
        spark.catalog.clearCache()
        op.info["cached_left"] = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    ops.append(op)
    return result


class PgnLake:
    name = "pgn_lake"
    pass_s = 13.0
    #: A user runs the whole DAG and waits for the lake, so an operation's
    #: latency is a pass. With two passes a run, op_p50_s is the faster
    #: pass and op_p90_s the slower (nearest rank); a single CLI stage is
    #: too short a sample to be steady on a shared host.
    latency_per_pass = True

    def __init__(self, spark, root: str, work: str, seed: int, tracer):
        self.spark, self.root, self.work, self.seed, self.tracer = spark, root, work, seed, tracer
        self.cli = _load_cli(root)
        self.stdout: dict[str, str] = {}

    def setup(self, rep: int) -> None:
        d = os.path.join(self.work, f"setup{rep}")
        self.dim = gen.openings(self.seed, N_OPENINGS)
        self.games = gen.corpus(self.seed, PGN_GAMES, self.dim)
        self.src_dirs = gen.write_corpus(self.games, os.path.join(d, "pgn"))
        gen.write_openings(self.dim, os.path.join(d, "openings_src"))
        self.openings = os.path.join(d, "openings")
        self._cli(["materialize-openings", "--location", os.path.join(d, "openings_src"), "--target", self.openings])
        self.input_bytes = sum(dir_stats(p)[1] for p in self.src_dirs.values())
        self.expected = {g.site: g.export_row() for g in self.games if g.kept}

    def _cli(self, argv: list[str]) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.cli.main(argv)
        return buf.getvalue()

    def _dag(self, src_dirs: dict[str, str], openings: str, out: str, ops: list[Op]) -> None:
        """read-pgn and find-openings per DataSource, then export-parquet,
        writing the raw zone, enriched zone and lake under ``out``."""
        raw, enriched = os.path.join(out, "raw"), os.path.join(out, "enriched")
        for src, d in sorted(src_dirs.items()):
            for stage, argv in (
                ("read-pgn", ["--key", src, "--inDir", d, "--outDir", os.path.join(raw, src)]),
                (
                    "find-openings",
                    [
                        "--key", src, "--inDir", os.path.join(raw, src),
                        "--outDir", os.path.join(enriched, src),
                        "--openingsDb", openings, "--dataSource", src,
                    ],
                ),
            ):
                name = f"{stage}:{src}"
                self.stdout[name] = _timed_op(self.spark, self.tracer, name, lambda s=stage, a=argv: self._cli([s, *a]), ops)
        self.stdout["export-parquet"] = _timed_op(
            self.spark, self.tracer, "export-parquet",
            lambda: self._cli(["export-parquet", "--inDir", enriched, "--outDir", os.path.join(out, "lake")]), ops,
        )

    def warmup(self) -> None:
        """The whole DAG over a small corpus of one DataSource and a small
        openings snapshot, so that neither set-up nor the timed pass pays
        the first use of its code paths (JVM, Python workers, JIT, plan
        caches); without it the first pass is slower and spreads more."""
        out = os.path.join(self.work, "warmup")
        dim = gen.openings(self.seed + 1, 20)
        gen.write_openings(dim, os.path.join(out, "openings_src"))
        openings = os.path.join(out, "openings")
        self._cli(["materialize-openings", "--location", os.path.join(out, "openings_src"), "--target", openings])
        src = gen.SOURCES[0][0]
        small = [g for g in gen.corpus(self.seed + 1, 200, dim) if g.data_source == src]
        dirs = gen.write_corpus(small, os.path.join(out, "pgn"))
        self._dag({src: dirs[src]}, openings, out, [])

    def run_pass(self, i: int) -> list[Op]:
        """The DAG into directories of this pass's own, so that every pass
        writes into empty ones."""
        out = os.path.join(self.work, f"pass{i}")
        self.raw, self.enriched, self.lake = (os.path.join(out, z) for z in ("raw", "enriched", "lake"))
        ops: list[Op] = []
        self._dag(self.src_dirs, self.openings, out, ops)
        return ops

    def pass_metrics(self) -> dict:
        files, lake_bytes = dir_stats(self.lake)
        written = sum(dir_stats(p)[1] for p in (self.raw, self.enriched, self.lake))
        return {
            "games": len(self.expected),
            "lake_files": files,
            "lake_bytes_per_input_byte": lake_bytes / self.input_bytes,
            "write_bytes_per_input_byte": written / self.input_bytes,
        }

    def check(self) -> list[str]:
        """Each CLI stage's printed counts, and the lake row by row, against
        the generator's expected outputs."""
        import duckdb

        def printed(op: str) -> dict[str, int]:
            return {k: int(v) for k, v in re.findall(r"(\w+)=(\d+)", self.stdout.get(op) or "")}

        bad = []
        for src in sorted(self.src_dirs):
            mine = [g for g in self.games if g.data_source == src]
            want = {"games": len(mine), "parse_errors": sum(g.parse_error for g in mine)}
            got = printed(f"read-pgn:{src}")
            if {k: got.get(k) for k in want} != want:
                bad.append(f"read-pgn:{src}: printed {got}, want {want}")
            if printed(f"find-openings:{src}").get("rows") != len(mine):
                bad.append(f"find-openings:{src}: printed {printed(f'find-openings:{src}')}, want rows={len(mine)}")
        cols = list(next(iter(self.expected.values())))
        select = ", ".join(f"CAST({c} AS INTEGER)" if c in ("year", "month") else c for c in cols)
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"SELECT {select} FROM read_parquet('{self.lake}/**/*.parquet', hive_partitioning = true)"
            ).fetchall()
        finally:
            con.close()
        got = {r[cols.index("Site")]: dict(zip(cols, r)) for r in rows}
        if len(rows) != len(got) or got != self.expected:
            diff = [s for s in set(got) | set(self.expected) if got.get(s) != self.expected.get(s)]
            s = diff[0] if diff else None
            bad.append(
                f"export-parquet: {len(rows)} rows vs {len(self.expected)} expected, {len(diff)} differ"
                + (f"; e.g. {s}: got {got.get(s)} want {self.expected.get(s)}" if s else "")
            )
        return bad

    def wrap_layers(self) -> None:
        """Spans around the repository functions the CLI stages call."""
        from pyspark.sql import readwriter

        from chess_lakehouse_spark.operators import publish
        from chess_lakehouse_spark.plans import pipeline
        from chess_lakehouse_spark.sources import openings

        t = self.tracer
        t.wrap(pipeline, "ingest", "plans.pipeline.ingest")
        t.wrap(pipeline, "read_pgn", "sources.pgn.read_pgn")
        t.wrap(pipeline, "enrich", "operators.enrich.build")
        t.wrap(pipeline, "export_combined", "plans.pipeline.export_combined")
        t.wrap(publish, "write_partitioned", "operators.publish.write_partitioned")
        t.wrap(publish, "qc_counts", "operators.publish.qc_counts")
        t.wrap(openings, "load_openings", "sources.openings.load_openings")
        t.wrap(readwriter.DataFrameWriter, "parquet", "spark.write")

    def layer_metrics(self) -> dict:
        """Traced-only probes, run after the timed passes: materialize
        ``read_pgn`` alone, then the ``ingest`` prefix, per DataSource (the
        difference is the normalizer's cost), each in one observed ``noop``
        action; then count the enriched zone and the lake with DuckDB, and
        read the lake back through a stats manifest built on it."""
        import duckdb
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from chess_lakehouse_spark.operators.publish import write_skipping_manifest
        from chess_lakehouse_spark.plans.pipeline import ingest
        from chess_lakehouse_spark.sources.pgn import read_pgn

        out = {"sources.pgn.read_s": 0.0, "ingest_s": 0.0, "sources.pgn.games": 0, "sources.pgn.parse_errors": 0}
        self.probe_ops: list[Op] = []
        for src, d in sorted(self.src_dirs.items()):
            for key, build in (("sources.pgn.read_s", read_pgn), ("ingest_s", ingest)):
                obs = Observation(f"{key}:{src}")

                def probe(build=build, obs=obs, d=d):
                    df = build(self.spark, d).observe(obs, F.count(F.lit(1)).alias("n"), F.count("parse_error").alias("err"))
                    df.write.format("noop").mode("overwrite").save()

                ops: list[Op] = []
                _timed_op(self.spark, self.tracer, f"probe:{key}:{src}", probe, ops)
                out[key] += ops[0].dur
                if key == "sources.pgn.read_s":
                    self.probe_ops += ops
                    out["sources.pgn.games"] += obs.get["n"]
                    out["sources.pgn.parse_errors"] += obs.get["err"]
        out["functions.chess.normalize_s"] = out.pop("ingest_s") - out["sources.pgn.read_s"]
        con = duckdb.connect()
        try:
            n, hit = con.execute(
                f"SELECT count(*), count(Opening) FROM read_parquet('{self.enriched}/*/*.parquet')"
            ).fetchone()
            (kept,) = con.execute(f"SELECT count(*) FROM read_parquet('{self.lake}/**/*.parquet')").fetchone()
        finally:
            con.close()
        write_skipping_manifest(self.spark, self.lake, ["UTCDate", "WhiteElo"])
        start = dt.date(gen.YEARS[0], 3, 1)
        out.update(skipping_probe(self.spark, self.lake, (start, start + dt.timedelta(days=45))))
        files, size = dir_stats(self.lake)
        out.update(
            {
                "operators.enrich.match_ratio": hit / n,
                "plans.pipeline.hygiene_dropped": n - kept,
                "operators.publish.files_written": files,
                "operators.publish.bytes_written": size,
            }
        )
        return out


def skipping_probe(spark, lake: str, dates: tuple) -> dict:
    """``read_with_skipping`` over ``lake`` for a UTCDate range: the time to
    plan it and count its rows, and the files the stats manifest lets it
    open per file in the lake."""
    from chess_lakehouse_spark.operators.publish import read_with_skipping

    start = time.perf_counter()
    df = read_with_skipping(spark, lake, {"UTCDate": dates})
    df.count()
    return {
        "operators.publish.read_with_skipping_s": time.perf_counter() - start,
        "operators.publish.skipping_file_ratio": len(df.inputFiles()) / dir_stats(lake)[0],
    }


#: Per-value rounding before hashing, so float results compare across runs
#: whatever the summation order.
_HASH_DIGITS = 6


def _hashable(col, dtype):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), _HASH_DIGITS)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _hashable(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_hashable(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        return F.to_json(col)
    return col


def observed(df, name: str):
    """``df`` with an Observation of its row count and an order-insensitive
    sum of per-row hashes, filled by whatever action runs ``df``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    h = F.xxhash64(*[_hashable(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields], F.lit(1))
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(h.cast("decimal(38,0)")).alias("hash")), obs


def suite_selection() -> list[str]:
    from chess_lakehouse_spark.suite import chess, mm

    from chess_lakehouse_spark import suite

    names = sorted(suite.QUERIES)
    keep = set(names[::SUITE_STRIDE]) | set(chess.QUERIES) | set(mm.QUERIES)
    return [n for n in names if n in keep]


def suite_family(name: str) -> str:
    from chess_lakehouse_spark.suite import chess, core, mm

    for fam, mod in (("core", core), ("chess", chess), ("mm", mm)):
        if name in mod.QUERIES:
            return fam
    return "llm"


class Suite:
    name = "suite"
    #: Longer than any run, so a run makes the one cold pass.
    pass_s = 600.0
    latency_per_pass = False
    reference_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "suite_reference.json")

    def __init__(self, spark, root: str, work: str, seed: int, tracer):
        self.spark, self.root, self.work, self.seed, self.tracer = spark, root, work, seed, tracer
        self.names = suite_selection()
        self.observations: dict[str, object] = {}
        self.timings: dict[str, tuple[float, float]] = {}

    def setup(self, rep: int) -> None:
        self.sf_dir = os.path.join(self.work, f"sf{rep}")
        gen.write_suite_tables(SUITE_FIXTURE_SEED, self.sf_dir)
        self.input_files = dir_stats(self.sf_dir)[0]

    def warmup(self) -> None:
        """Engine start-up only; no suite query runs before the timed pass."""
        jvm_warmup(self.spark, os.path.join(self.work, "jvm_warmup"))

    def _query(self, name: str):
        from chess_lakehouse_spark import suite

        fam = suite_family(name)
        start = time.perf_counter()
        with self.tracer.span(f"suite.{fam}.build"):
            df, obs = observed(suite.QUERIES[name](self.spark, self.sf_dir), name)
        built = time.perf_counter()
        with self.tracer.span(f"suite.{fam}.exec"):
            df.write.format("noop").mode("overwrite").save()
        self.timings[name] = (built - start, time.perf_counter() - built)
        self.observations[name] = obs
        return obs

    def run_pass(self, i: int) -> list[Op]:
        """The cold pass; the suite is timed once per process, since a warm
        pass is much faster."""
        ops: list[Op] = []
        for name in self.names:
            self.spark.catalog.clearCache()
            _timed_op(self.spark, self.tracer, name, lambda n=name: self._query(n), ops)
        return ops

    def pass_metrics(self) -> dict:
        return {"lake_files": self.input_files}

    def results(self) -> dict[str, dict]:
        out = {}
        for name, obs in self.observations.items():
            m = obs.get
            out[name] = {"rows": int(m["rows"]), "hash": str(m["hash"])}
        return out

    def layer_metrics(self) -> dict:
        """Time inside each query function before its action (build) and
        the action itself (exec), summed per suite family."""
        out: dict[str, float] = {}
        for name, (build, run) in self.timings.items():
            fam = suite_family(name)
            out[f"suite.{fam}.build_s"] = out.get(f"suite.{fam}.build_s", 0.0) + build
            out[f"suite.{fam}.exec_s"] = out.get(f"suite.{fam}.exec_s", 0.0) + run
        return out

    def wrap_layers(self) -> None:
        """``_query`` opens the build and exec spans itself."""

    def check(self) -> list[str]:
        with open(self.reference_path) as fh:
            ref = json.load(fh)
        bad = []
        for name, got in self.results().items():
            if ref.get(name) != got:
                bad.append(f"{name}: got {got}, reference {ref.get(name)}")
        return bad


WORKLOADS = {c.name: c for c in (PgnLake, Suite)}


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
