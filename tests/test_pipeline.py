"""End-to-end pipeline contract tests (SURVEY.md §5 pipeline invariants,
FIXTURES.md §B): ingest → enrich → export with all required value coverage —
multi-opening games (longest wins), equal-ply tie-break, no-match game,
NULL/ancient UTCDate filtered, COALESCE timecontrol fallback, partition
layout on disk."""

import os

import pytest
from pyspark.sql import functions as F

from chess_lakehouse_spark.plans.pipeline import (
    EXPORT_COLUMNS,
    enrich,
    export_combined,
    ingest,
    run_pipeline,
)

# Openings dimension (FIXTURES.md §B.2): nested prefixes + equal-ply pair.
OPENINGS = [
    # (eco, name, pgn, uci)
    ("B10", "Caro-Kann Defense", "1. e4 c6", "e2e4 c7c6"),
    ("B12", "Caro-Kann Defense: Advance Variation", "1. e4 c6 2. d4 d5 3. e5", "e2e4 c7c6 d2d4 d7d5 e4e5"),
    ("C20", "King's Pawn Game", "1. e4 e5", "e2e4 e7e5"),
    ("C40", "King's Knight Opening", "1. e4 e5 2. Nf3", "e2e4 e7e5 g1f3"),
    # Equal-ply pair sharing a prefix — tie must break on eco then name.
    ("A40", "Queen's Pawn Game", "1. d4 d5", "d2d4 d7d5"),
    ("A41", "Queen's Pawn Game: Alt", "1. d4 d5", "d2d4 d7d5"),
]


def make_games_pgn(tmp_path):
    games = [
        # Matches B10 (2 ply) AND B12 (5 ply) → longest (B12) must win.
        '[Event "g1"]\n[White "w"]\n[Black "b"]\n[Result "1-0"]\n'
        '[UTCDate "2021.01.31"]\n[TimeControl "600+5"]\n\n'
        "1. e4 c6 2. d4 d5 3. e5 e6 1-0\n",
        # Matches C20 and C40 → C40 (3 ply) wins.
        '[Event "g2"]\n[White "w"]\n[Black "b"]\n[Result "0-1"]\n'
        '[UTCDate "2021.02.01"]\n[TimeControl "bogus tc"]\n\n'
        "1. e4 e5 2. Nf3 Nc6 0-1\n",
        # Matches the equal-ply pair A40/A41 → A40 by eco tie-break.
        '[Event "g3"]\n[White "w"]\n[Black "b"]\n[Result "*"]\n'
        '[UTCDate "2021.03.05"]\n\n'
        "1. d4 d5 2. c4 *\n",
        # Matches nothing → Opening stays NULL, row still exported.
        '[Event "g4"]\n[White "w"]\n[Black "b"]\n[Result "*"]\n'
        '[UTCDate "2021.04.01"]\n\n'
        "1. h4 h5 *\n",
        # NULL date → dropped at export.
        '[Event "g5"]\n[White "w"]\n[Black "b"]\n[Result "*"]\n\n1. e4 *\n',
        # Ancient date (< 1500) → dropped at export (src/export-to-parquet.ts:93).
        '[Event "g6"]\n[White "w"]\n[Black "b"]\n[Result "*"]\n'
        '[UTCDate "1475.01.01"]\n\n1. e4 e5 *\n',
    ]
    p = tmp_path / "src1.pgn"
    p.write_text("\n".join(games))
    return str(p)


@pytest.fixture()
def openings_df(spark):
    return spark.createDataFrame(OPENINGS, "eco string, name string, pgn string, uci string")


def test_materialize_openings_is_idempotent(spark, tmp_path, openings_df):
    """CREATE TABLE IF NOT EXISTS semantics: the second call must serve the
    committed snapshot WITHOUT touching the source — proven by pointing the
    source at a path that no longer exists."""
    from chess_lakehouse_spark.sources.openings import materialize_openings

    src = str(tmp_path / "remote_openings")
    openings_df.write.parquet(src)
    target = str(tmp_path / "openings_tbl")
    first = materialize_openings(spark, src, target)
    assert first.count() == len(OPENINGS)
    assert "opening_ply" in first.columns

    import shutil

    shutil.rmtree(src)  # source gone: a re-read would fail loudly
    again = materialize_openings(spark, src, target)
    assert again.count() == len(OPENINGS)


def test_enrich_argmax_semantics(spark, tmp_path, openings_df):
    games = ingest(spark, make_games_pgn(tmp_path))
    enriched = enrich(games, openings_df, "TestSource")
    by_event = {r["Event"]: r for r in enriched.collect()}
    assert by_event["g1"]["ECO"] == "B12", "longest prefix must win"
    assert by_event["g2"]["ECO"] == "C40"
    assert by_event["g3"]["ECO"] == "A40", "equal-ply tie must break on eco asc"
    assert by_event["g4"]["ECO"] is None and by_event["g4"]["Opening"] is None
    assert all(r["DataSource"] == "TestSource" for r in by_event.values())


def test_enrich_only_touches_null_opening(spark, openings_df):
    games = spark.createDataFrame(
        [("pre", "Existing Opening", "E99", "1. e4 c6 2. d4 d5 3. e5")],
        "Event string, Opening string, ECO string, clean_movetext string",
    )
    out = enrich(games, openings_df, "S").collect()[0]
    assert out["Opening"] == "Existing Opening" and out["ECO"] == "E99"


def test_enrich_mapside_only_if_null_gates_on_named_column(spark, openings_df):
    """only_if_null must gate on the NAMED fact column's nullity — including
    when out_prefix writes to brand-new output columns (which were silently
    never gated before)."""
    from chess_lakehouse_spark.operators.enrich import enrich_top1_mapside

    dim = openings_df.select("eco", "name", "pgn", F.length("pgn").alias("ply"))
    fact = spark.createDataFrame(
        [("keep", "Already Set", "1. e4 c6 2. d4 d5"),
         ("fill", None, "1. e4 c6 2. d4 d5")],
        "Event string, Opening string, clean_movetext string",
    )
    out = enrich_top1_mapside(
        fact=fact,
        dim=dim,
        predicate=lambda probe, c: probe.contains(c["pgn"]),
        fact_probe_col="clean_movetext",
        rank_col="ply",
        payload_cols=["eco", "name"],
        tiebreak_cols=["eco", "name"],
        out_prefix="m_",
        only_if_null="Opening",
    )
    rows = {r["Event"]: r for r in out.collect()}
    assert rows["fill"]["m_eco"] is not None and rows["fill"]["m_name"] is not None
    # gated row: new output columns stay NULL, existing columns untouched
    assert rows["keep"]["m_eco"] is None and rows["keep"]["m_name"] is None
    assert rows["keep"]["Opening"] == "Already Set"

    with pytest.raises(ValueError, match="only_if_null"):
        enrich_top1_mapside(
            fact=fact, dim=dim,
            predicate=lambda probe, c: probe.contains(c["pgn"]),
            fact_probe_col="clean_movetext", rank_col="ply",
            payload_cols=["eco"], only_if_null="NoSuchColumn",
        )


def test_enrich_mapside_dim_size_guard(spark):
    """The dim literal is serialized into every task binary, so task size
    grows linearly with the dim — beyond max_dim_rows the operator must
    refuse."""
    from chess_lakehouse_spark.operators.enrich import enrich_top1_mapside

    fact = spark.createDataFrame([("x",)], "probe string")
    dim = spark.range(0, 50).select(
        F.col("id").alias("ply"), F.conv("id", 10, 16).alias("pgn")
    )
    with pytest.raises(ValueError, match="max_dim_rows"):
        enrich_top1_mapside(
            fact=fact, dim=dim,
            predicate=lambda probe, c: probe.contains(c["pgn"]),
            fact_probe_col="probe", rank_col="ply", payload_cols=["pgn"],
            max_dim_rows=10,
        )


def test_export_schema_filter_and_coalesce(spark, tmp_path, openings_df):
    games = ingest(spark, make_games_pgn(tmp_path))
    enriched = enrich(games, openings_df, "TestSource")
    exported = export_combined([enriched])
    assert list(exported.columns) == list(EXPORT_COLUMNS)
    rows = {r["Event"]: r for r in exported.collect()}
    assert set(rows) == {"g1", "g2", "g3", "g4"}, "NULL/ancient dates must drop"
    assert rows["g1"]["TimeControl"] == "600+5"
    assert rows["g2"]["TimeControl"] == "bogus tc", "unparseable TC falls back to raw"
    assert rows["g1"]["year"] == 2021 and rows["g1"]["month"] == "01"
    assert rows["g1"]["ECO"] == "B12"


def test_full_pipeline_partition_layout(spark, tmp_path, openings_df):
    out = str(tmp_path / "lake")
    counts = run_pipeline(
        spark, {"SrcA": make_games_pgn(tmp_path)}, openings_df, out
    )
    assert counts["rows"] == 4
    assert os.path.isdir(os.path.join(out, "DataSource=SrcA", "year=2021", "month=01"))
    back = spark.read.parquet(out)
    assert back.count() == 4
    # partition pruning columns materialize correctly
    assert back.where(F.col("month") == "01").count() == 1


def test_write_partitioned_counts_rows_written(spark, tmp_path):
    """write_partitioned returns the rows it wrote, also when a filter
    leaves none (AQE then replaces the plan below the empty shuffle)."""
    from chess_lakehouse_spark.operators.publish import write_partitioned

    df = spark.range(10).select("id", (F.col("id") % 3).alias("p"))
    assert write_partitioned(df, str(tmp_path / "a"), ("p",)) == {"rows": 10}
    assert write_partitioned(df.where("id < 0"), str(tmp_path / "b"), ("p",), sort_cols=["id"]) == {"rows": 0}


def test_write_partitioned_spreads_small_lake_over_tasks(spark, tmp_path):
    """Under AQE, a small lake is still written by more than one task (an
    explicit shuffle width is not coalesced by bytes), and hashing on the
    partition columns keeps exactly one file per Hive partition."""
    from chess_lakehouse_spark.operators.publish import write_partitioned

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    n_parts = 2 * spark.sparkContext.defaultParallelism + 3
    df = spark.range(200).select("id", (F.col("id") % n_parts).alias("p"))
    out = tmp_path / "lake"
    assert write_partitioned(df, str(out), ("p",)) == {"rows": 200}
    part_dirs = sorted(d for d in os.listdir(out) if d.startswith("p="))
    assert len(part_dirs) == n_parts
    task_ids = set()
    for d in part_dirs:
        files = [f for f in os.listdir(out / d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
        task_ids.add(files[0].split("-")[1])
    assert len(task_ids) > 1, task_ids


def test_load_openings_recursive_glob(spark, tmp_path):
    from chess_lakehouse_spark.sources.openings import load_openings

    rows = [
        ("B10", "Caro-Kann Defense", "1. e4 c6", "e2e4 c7c6"),
        ("C20", "King's Pawn Game", "1. e4 e5", "e2e4 e7e5"),
    ]
    df = spark.createDataFrame(rows, "eco string, name string, pgn string, uci string")
    # nested dirs — the reference's `**/*.parquet` glob shape
    df.limit(1).write.parquet(str(tmp_path / "a" / "part1"))
    df.subtract(df.limit(1)).write.parquet(str(tmp_path / "b" / "c" / "part2"))

    got = load_openings(spark, str(tmp_path))
    assert sorted((r.eco, r.opening_ply) for r in got.collect()) == [("B10", 2), ("C20", 2)]


def test_load_openings_hf_requires_hub(spark):
    import pytest as _pytest

    from chess_lakehouse_spark.sources.openings import resolve_openings_path

    try:
        import huggingface_hub  # noqa: F401

        _pytest.skip("hub present; download path not exercised offline")
    except ImportError:
        pass
    with _pytest.raises(NotImplementedError):
        resolve_openings_path("hf://datasets/Lichess/chess-openings/x.parquet")


def test_resolve_openings_hf_download_path(monkeypatch, tmp_path):
    """When huggingface_hub IS importable, hf:// resolves via a driver-side
    snapshot download of the dataset repo (stubbed module — no network),
    and the returned local snapshot dir is what Spark globs."""
    import sys
    import types

    from chess_lakehouse_spark.sources import openings as op

    calls = {}

    def snapshot_download(repo_id, repo_type):
        calls["args"] = (repo_id, repo_type)
        return str(tmp_path / "snapshot")

    fake = types.ModuleType("huggingface_hub")
    fake.snapshot_download = snapshot_download
    monkeypatch.setitem(sys.modules, "huggingface_hub", fake)

    got = op.resolve_openings_path("hf://datasets/Lichess/chess-openings/**/*.parquet")
    assert got == str(tmp_path / "snapshot")
    assert calls["args"] == ("Lichess/chess-openings", "dataset")
    # non-hf locations pass through untouched, hub present or not
    assert op.resolve_openings_path("s3a://bucket/openings") == "s3a://bucket/openings"


def test_pipeline_cli_stages(spark, tmp_path):
    """The three stage CLIs run end-to-end with the reference's flag names
    (dvc.yaml:28,41,53) over a fixture PGN + openings dir."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    pgn_dir = tmp_path / "pgn"
    pgn_dir.mkdir()
    make_games_pgn(pgn_dir)  # writes src1.pgn into the dir

    op_dir = tmp_path / "openings"
    spark.createDataFrame(
        OPENINGS, "eco string, name string, pgn string, uci string"
    ).write.parquet(str(op_dir))

    raw, enr, lake = str(tmp_path / "raw"), str(tmp_path / "enriched" / "k1"), str(tmp_path / "lake")
    pipeline_cli.main(["read-pgn", "--key", "k1", "--inDir", str(pgn_dir), "--outDir", raw])
    pipeline_cli.main([
        "find-openings", "--key", "k1", "--inDir", raw, "--outDir", enr,
        "--openingsDb", str(op_dir), "--dataSource", "SrcCLI",
    ])
    pipeline_cli.main([
        "export-parquet", "--inDir", str(tmp_path / "enriched"), "--outDir", lake,
        "--outDb", str(tmp_path / "combined"),
    ])

    out = spark.read.parquet(lake)
    rows = {r.Event: (r.ECO, r.Opening, r.DataSource) for r in out.collect()}
    assert rows["g1"] == ("B12", "Caro-Kann Defense: Advance Variation", "SrcCLI")
    assert rows["g2"][0] == "C40"
    # Hive partition dirs exist
    import glob

    assert glob.glob(f"{lake}/DataSource=SrcCLI/year=*/month=*")
    assert spark.read.parquet(str(tmp_path / "combined")).count() == out.count()


def test_pipeline_cli_markdown_qc_report(spark, tmp_path, capsys):
    """--markdown renders the reference's three-table QC report (the
    `duckdb -markdown` output of src/read-pgn.ts:55): Games count, parse
    error count, and the error rows themselves as markdown tables."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    pgn_dir = tmp_path / "pgn"
    pgn_dir.mkdir()
    make_games_pgn(pgn_dir)
    raw = str(tmp_path / "raw")
    pipeline_cli.main(
        ["read-pgn", "--key", "k1", "--inDir", str(pgn_dir), "--outDir", raw, "--markdown"]
    )
    out = capsys.readouterr().out
    assert "| Games |" in out and "| 6 |" in out
    assert "| Games with Parse Errors |" in out
    # the fixture has no parse errors -> no error-row table
    assert "| 0 |" in out and "parse_error" not in out


def test_pipeline_cli_counts_come_from_the_write(spark, tmp_path, capsys, monkeypatch):
    """read-pgn, find-openings and export-parquet print counts collected by
    an Observation on their own write: a parse-error game is counted, and
    no stage reads its output back to count it."""
    import sys
    from pathlib import Path

    from pyspark.sql.readwriter import DataFrameReader

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    pgn_dir = tmp_path / "pgn"
    pgn_dir.mkdir()
    make_games_pgn(pgn_dir)
    (pgn_dir / "broken.pgn").write_text('[Event "Broken\n[White "E"]\n\n1. d4 *\n')
    op_dir = str(tmp_path / "openings")
    spark.createDataFrame(OPENINGS, "eco string, name string, pgn string, uci string").write.parquet(op_dir)

    read = []
    parquet = DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet", lambda self, *p, **kw: read.extend(p) or parquet(self, *p, **kw))
    raw, enr, lake = (str(tmp_path / d) for d in ("raw", "enriched/k1", "lake"))
    pipeline_cli.main(["read-pgn", "--key", "k1", "--inDir", str(pgn_dir), "--outDir", raw])
    pipeline_cli.main([
        "find-openings", "--key", "k1", "--inDir", raw, "--outDir", enr,
        "--openingsDb", op_dir, "--dataSource", "S",
    ])
    pipeline_cli.main(["export-parquet", "--inDir", str(tmp_path / "enriched"), "--outDir", lake])
    assert capsys.readouterr().out.splitlines() == [
        "[read-pgn] key=k1 games=7 parse_errors=1",
        "[find-openings] key=k1 dataSource=S rows=7",
        "[export-parquet] sources=1 rows=4",
    ]
    assert lake not in read and read.count(raw) == 1 and read.count(enr) == 1, read



def test_zone_schemas_are_what_their_stages_write(spark, tmp_path):
    """Each zone's declared schema, the stage contract its reader uses
    instead of inferring one, equals the schema Spark infers from what its
    stage wrote: read-pgn's raw zone, find-openings' enriched zone, and the
    openings columns of a materialize-openings snapshot (its extra
    ``opening_ply`` column is outside the contract)."""
    import sys
    from pathlib import Path

    from pyspark.sql import types as T

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    from chess_lakehouse_spark.plans.pipeline import ENRICHED_ZONE_SCHEMA, RAW_ZONE_SCHEMA
    from chess_lakehouse_spark.sources.openings import OPENINGS_COLUMNS, OPENINGS_SCHEMA

    pgn_dir = tmp_path / "pgn"
    pgn_dir.mkdir()
    make_games_pgn(pgn_dir)
    src, op_dir = str(tmp_path / "openings_src"), str(tmp_path / "openings")
    spark.createDataFrame(OPENINGS, "eco string, name string, pgn string, uci string").write.parquet(src)
    raw, enr = str(tmp_path / "raw"), str(tmp_path / "enriched")
    pipeline_cli.main(["materialize-openings", "--location", src, "--target", op_dir])
    pipeline_cli.main(["read-pgn", "--key", "k1", "--inDir", str(pgn_dir), "--outDir", raw])
    pipeline_cli.main([
        "find-openings", "--key", "k1", "--inDir", raw, "--outDir", enr,
        "--openingsDb", op_dir, "--dataSource", "S",
    ])
    assert spark.read.parquet(raw).schema == RAW_ZONE_SCHEMA
    assert spark.read.parquet(enr).schema == ENRICHED_ZONE_SCHEMA
    snapshot = spark.read.parquet(op_dir).schema
    assert "opening_ply" in snapshot.names
    assert T.StructType([snapshot[c] for c in OPENINGS_COLUMNS]) == OPENINGS_SCHEMA


def test_pgn_dag_stages_run_no_job_but_their_work(spark, tmp_path, capsys):
    """Spark jobs per stage of the PGN DAG on the one-source fixture:
    read-pgn 1 (its write), find-openings 2 (the openings fetch and the
    write), export-parquet 2 (the write's shuffle and the write). Every
    input zone is read with its declared schema, so no job infers one from
    Parquet footers, and the openings are fetched without a shuffle. The
    openings snapshot is one file, as materialize-openings writes it from
    a one-file dataset; Spark's limit scans one partition first, so a
    snapshot of several files can cost the fetch a second job."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    pgn_dir = tmp_path / "pgn"
    pgn_dir.mkdir()
    make_games_pgn(pgn_dir)
    src, op_dir = str(tmp_path / "openings_src"), str(tmp_path / "openings")
    spark.createDataFrame(OPENINGS, "eco string, name string, pgn string, uci string").coalesce(1).write.parquet(src)
    pipeline_cli.main(["materialize-openings", "--location", src, "--target", op_dir])
    raw, enr, lake = (str(tmp_path / d) for d in ("raw", "enriched/k1", "lake"))
    stages = {
        "read-pgn": ["--key", "k1", "--inDir", str(pgn_dir), "--outDir", raw],
        "find-openings": [
            "--key", "k1", "--inDir", raw, "--outDir", enr,
            "--openingsDb", op_dir, "--dataSource", "S",
        ],
        "export-parquet": ["--inDir", str(tmp_path / "enriched"), "--outDir", lake],
    }
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    jobs = {}
    for stage, argv in stages.items():
        sc.setJobGroup(f"dag:{stage}", stage)
        try:
            pipeline_cli.main([stage, *argv])
            bus.waitUntilEmpty()
        finally:
            sc.setJobGroup("", "")
        jobs[stage] = len(sc.statusTracker().getJobIdsForGroup(f"dag:{stage}"))
    assert jobs == {"read-pgn": 1, "find-openings": 2, "export-parquet": 2}
    assert capsys.readouterr().out.splitlines()[-3:] == [
        "[read-pgn] key=k1 games=6 parse_errors=0",
        "[find-openings] key=k1 dataSource=S rows=6",
        "[export-parquet] sources=1 rows=4",
    ]


def test_materialize_openings_runs_one_job_but_its_work(spark, tmp_path, capsys):
    """materialize-openings runs only the jobs its work needs: writing a
    snapshot counts its rows in the write (1 job), and reusing a committed
    one counts them once (2 jobs under AQE: the count's map stage and its
    result); neither reads the snapshot back to infer a schema."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    src, target = str(tmp_path / "openings_src"), str(tmp_path / "openings")
    spark.createDataFrame(OPENINGS, "eco string, name string, pgn string, uci string").coalesce(1).write.parquet(src)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    jobs = []
    for run in ("write", "reuse"):
        sc.setJobGroup(f"openings:{run}", run)
        try:
            pipeline_cli.main(["materialize-openings", "--location", src, "--target", target])
            bus.waitUntilEmpty()
        finally:
            sc.setJobGroup("", "")
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"openings:{run}")))
    line = f"[materialize-openings] target={target} rows={len(OPENINGS)}"
    assert capsys.readouterr().out.splitlines()[-2:] == [line, line]
    assert jobs == [1, 2]


def test_markdown_table_rendering():
    from chess_lakehouse_spark.report import markdown_table

    got = markdown_table(["a", "b"], [[1, None], ["x|y", "z\nw"]])
    assert got == (
        "| a | b |\n"
        "|---|---|\n"
        "| 1 |  |\n"
        "| x\\|y | z w |"
    )


def test_merge_overwrite_touches_only_affected_partitions(spark, tmp_path):
    import glob
    import os

    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.publish import merge_overwrite, write_partitioned

    lake = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, "old1", "A", 2020, "01"), (2, "old2", "A", 2020, "01"), (3, "old3", "B", 2021, "02")],
        ["id", "val", "DataSource", "year", "month"],
    )
    write_partitioned(base, lake)
    untouched_files = sorted(glob.glob(f"{lake}/DataSource=B/**/*.parquet", recursive=True))
    untouched_mtime = [os.path.getmtime(f) for f in untouched_files]

    updates = spark.createDataFrame(
        [(2, "NEW2", "A", 2020, "01"), (9, "NEW9", "A", 2020, "01")],
        ["id", "val", "DataSource", "year", "month"],
    )
    merge_overwrite(spark, lake, updates, key_cols=["id"])

    got = {r.id: r.val for r in spark.read.parquet(lake).collect()}
    assert got == {1: "old1", 2: "NEW2", 3: "old3", 9: "NEW9"}
    # partition B untouched on disk (dynamic overwrite skipped it)
    assert [os.path.getmtime(f) for f in untouched_files] == untouched_mtime


def _mini_lake(spark, path):
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") % 10).alias("val"),
        F.when(F.col("id") < 40, "A").when(F.col("id") < 80, "B").otherwise("C").alias("p"),
    )
    df.repartition("p").write.partitionBy("p").parquet(path)
    return df


def test_delete_rows_prunes_and_preserves(spark, tmp_path):
    import glob

    from chess_lakehouse_spark.operators.publish import delete_rows

    lake = str(tmp_path / "lake")
    _mini_lake(spark, lake)
    before_b = sorted(glob.glob(f"{lake}/p=B/*.parquet"))

    # keys WITH partition values: only p=A is touched
    keys = spark.createDataFrame([(3, "A"), (7, "A")], "id long, p string")
    delete_rows(spark, lake, keys, key_cols=["id"], partition_cols=["p"])
    back = spark.read.parquet(lake)
    assert back.count() == 98
    assert back.filter("id in (3, 7)").count() == 0
    # untouched partition byte-stable
    assert sorted(glob.glob(f"{lake}/p=B/*.parquet")) == before_b


def test_delete_rows_without_partition_values_locates(spark, tmp_path):
    from chess_lakehouse_spark.operators.publish import delete_rows

    lake = str(tmp_path / "lake")
    _mini_lake(spark, lake)
    keys = spark.createDataFrame([(5,), (45,)], "id long")
    delete_rows(spark, lake, keys, key_cols=["id"], partition_cols=["p"])
    back = spark.read.parquet(lake)
    assert back.count() == 98
    assert back.filter("id in (5, 45)").count() == 0


def test_delete_rows_removes_emptied_partition(spark, tmp_path):
    from pathlib import Path

    from chess_lakehouse_spark.operators.publish import delete_rows

    lake = str(tmp_path / "lake")
    _mini_lake(spark, lake)
    # delete EVERY row of p=C: dynamic overwrite alone would leave the old
    # files behind — the operator must remove the emptied directory
    keys = spark.createDataFrame([(i, "C") for i in range(80, 100)], "id long, p string")
    delete_rows(spark, lake, keys, key_cols=["id"], partition_cols=["p"])
    assert not Path(f"{lake}/p=C").exists()
    back = spark.read.parquet(lake)
    assert back.count() == 80
    assert set(r["p"] for r in back.select("p").distinct().collect()) == {"A", "B"}


def test_update_skipping_manifest_reads_only_affected_partitions(spark, tmp_path):
    """The manifest refresh after a partition-scoped mutation scans only the
    affected partitions: with every file of an unaffected partition
    corrupt it still succeeds, and equals a full rebuild taken before the
    corruption."""
    from pathlib import Path

    from chess_lakehouse_spark.operators.publish import (
        delete_rows,
        update_skipping_manifest,
        write_skipping_manifest,
    )

    lake = str(tmp_path / "lake")
    _mini_lake(spark, lake)
    write_skipping_manifest(spark, lake, ["id", "val"])
    keys = spark.createDataFrame([(3, "A"), (7, "A")], "id long, p string")
    delete_rows(spark, lake, keys, key_cols=["id"], partition_cols=["p"])
    full = write_skipping_manifest(
        spark, lake, ["id", "val"], manifest_dir=str(tmp_path / "full")
    )
    want = sorted(spark.read.parquet(full).collect())

    for f in Path(lake, "p=C").glob("*.parquet"):
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        write_skipping_manifest(spark, lake, ["id"], manifest_dir=str(tmp_path / "again"))

    update_skipping_manifest(spark, lake, ["id", "val"], ["p"], affected=keys.select("p"))
    assert sorted(spark.read.parquet(lake + "_manifest").collect()) == want


def test_swap_publish_removes_staging_when_write_raises(spark, tmp_path):
    """A write that raises leaves the live directory byte-unchanged and no
    staging sidecar behind."""
    from pathlib import Path

    from chess_lakehouse_spark.operators.publish import swap_publish

    lake = str(tmp_path / "lake")
    df = _mini_lake(spark, lake)

    def files():
        return {
            str(f.relative_to(lake)): f.read_bytes()
            for f in Path(lake).rglob("*")
            if f.is_file()
        }

    before = files()

    def write_then_fail(staging):
        df.write.parquet(staging)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        swap_publish(spark, lake, write_then_fail, "test")
    assert files() == before
    assert [f.name for f in tmp_path.iterdir()] == ["lake"]


def test_merge_overwrite_evolve_schema_adds_column(spark, tmp_path):
    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.publish import merge_overwrite

    lake = str(tmp_path / "lake")
    _mini_lake(spark, lake)
    updates = spark.createDataFrame(
        [(1, 111, "A", "checked")], "id long, val long, p string, note string"
    )
    merge_overwrite(
        spark, lake, updates, key_cols=["id"], partition_cols=["p"], evolve_schema=True
    )
    back = spark.read.option("mergeSchema", "true").parquet(lake)
    assert "note" in back.columns
    assert back.filter("id = 1").collect()[0]["note"] == "checked"
    # surviving rows of the merged partition carry NULL for the new column
    assert back.filter("p = 'A' and id <> 1 and note is not null").count() == 0
    assert back.count() == 100


def test_pipeline_cli_clean_corpus_dsir_selection(spark, tmp_path, capsys):
    """--dsirTarget narrows the corpus to target-like docs before the
    quality gate."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    chess = "king queen rook pawn bishop knight castle gambit endgame opening"
    src = tmp_path / "in"
    src.mkdir()
    lines = []
    for i in range(6):
        # enough distinct filler that chess docs are NOT near-dups of each
        # other (they must survive the dedup stage), yet chess-dominated
        filler = " ".join(f"extra{i}_{j}" for j in range(8))
        lines.append(json.dumps(
            {"doc_id": i, "text": f"{chess} {filler}", "lang": "en", "source": "s"}
        ))
    for i in range(6, 30):
        text = " ".join(f"noise{i}_{j}" for j in range(12))
        lines.append(json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s"}
        ))
    (src / "part0.jsonl").write_text("\n".join(lines) + "\n")
    tgt = tmp_path / "target"
    tgt.mkdir()
    (tgt / "t.jsonl").write_text(
        json.dumps({"doc_id": 1000, "text": chess, "lang": "en", "source": "t"}) + "\n"
    )
    out = tmp_path / "out"
    pipeline_cli.main([
        "clean-corpus", "--inDir", str(src), "--outDir", str(out),
        "--minQuality", "0.0", "--threshold", "0.5", "--evalFrac", "0.2",
        "--dsirTarget", str(tgt), "--dsirKeep", "8",
    ])
    stdout = capsys.readouterr().out
    assert "in=30" in stdout
    published = spark.read.json(str(out / "corpus"))
    ids = {r.doc_id for r in published.collect()}
    assert len(ids) <= 8
    # the chess docs dominate the selection
    assert len([i for i in ids if i < 6]) >= 4


def test_pipeline_cli_lake_maintenance_stages(spark, tmp_path, capsys):
    """maintain-lake (compact / vacuum / manifest) and delete-rows run
    end-to-end over a small partitioned lake."""
    import glob
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    lake = str(tmp_path / "lake")
    _mini_lake(spark, lake)
    # fragment it so compaction has something to do
    spark.read.parquet(lake).repartition(8).write.mode("overwrite").partitionBy(
        "p"
    ).parquet(lake + "2")

    pipeline_cli.main([
        "maintain-lake", "--lakeDir", lake + "2", "--op", "compact",
        "--partitionCols", "p",
    ])
    assert len(glob.glob(f"{lake}2/p=*/*.parquet")) <= 3

    pipeline_cli.main([
        "maintain-lake", "--lakeDir", lake + "2", "--op", "vacuum",
        "--partitionCols", "p",
    ])
    pipeline_cli.main([
        "maintain-lake", "--lakeDir", lake + "2", "--op", "manifest",
        "--partitionCols", "p", "--statCols", "id,val",
    ])
    man = spark.read.parquet(lake + "2_manifest")
    assert {"file", "min_id", "max_id", "min_val", "max_val"} <= set(man.columns)

    # recluster an unpartitioned copy
    flat = str(tmp_path / "flat")
    spark.read.parquet(lake + "2").repartition(4).write.parquet(flat)
    pipeline_cli.main([
        "maintain-lake", "--lakeDir", flat, "--op", "recluster",
        "--clusterCols", "id", "--nFiles", "4",
    ])
    assert spark.read.parquet(flat).count() == 100

    keys = tmp_path / "keys"
    spark.createDataFrame([(1, "A"), (2, "A")], "id long, p string").write.parquet(
        str(keys)
    )
    pipeline_cli.main([
        "delete-rows", "--lakeDir", lake + "2", "--keysParquet", str(keys),
        "--keyCols", "id", "--partitionCols", "p",
    ])
    back = spark.read.parquet(lake + "2")
    assert back.count() == 98 and back.filter("id in (1, 2)").count() == 0
    out = capsys.readouterr().out
    assert "[maintain-lake]" in out and "[delete-rows]" in out


def test_vacuum_lake_removes_only_sidecars(spark, tmp_path):
    from chess_lakehouse_spark.operators.publish import vacuum_lake

    lake = tmp_path / "lake"
    spark.range(0, 10).write.parquet(str(lake))
    data_before = sorted(r.id for r in spark.read.parquet(str(lake)).collect())
    # simulate crash leftovers
    (tmp_path / "lake.compacting").mkdir()
    (tmp_path / "lake.compacting" / "part-0.parquet").write_bytes(b"x")
    (tmp_path / "lake.old").mkdir()
    (lake / "_temporary").mkdir()

    removed = vacuum_lake(spark, str(lake))
    assert len(removed) == 3
    assert not (tmp_path / "lake.compacting").exists()
    assert not (tmp_path / "lake.old").exists()
    assert not (lake / "_temporary").exists()
    # live data untouched
    assert sorted(r.id for r in spark.read.parquet(str(lake)).collect()) == data_before
    # idempotent: nothing left to remove
    assert vacuum_lake(spark, str(lake)) == []


def test_vacuum_lake_partition_sidecars_hidden_and_cleaned(spark, tmp_path):
    """A Hive ``k=v`` dir's staging and rollback copies are dot-prefixed
    siblings, so a read of the lake never sees them as partitions, and
    ``vacuum_lake`` restores a stranded rollback copy and deletes the rest."""
    import os

    from chess_lakehouse_spark.operators.publish import _sidecar, vacuum_lake

    root = str(tmp_path / "state")
    for b in (0, 1):
        spark.range(b * 5, b * 5 + 5).write.parquet(f"{root}/batch_id={b}")
    staging0 = _sidecar(f"{root}/batch_id=0", "compacting")
    old1 = _sidecar(f"{root}/batch_id=1", "old")
    assert old1 == f"{root}/.batch_id=1.old"
    # batch 0: a staged rewrite never swapped in; batch 1: crashed inside
    # the swap's one-rename window (live renamed aside, staging stranded)
    spark.range(0, 5).write.parquet(staging0)
    os.rename(f"{root}/batch_id=1", old1)
    spark.range(5, 10).write.parquet(_sidecar(f"{root}/batch_id=1", "compacting"))
    assert spark.read.parquet(root).count() == 5

    removed = vacuum_lake(spark, root)
    assert f"restored:{old1}" in removed and staging0 in removed
    assert len(removed) == 3
    assert sorted(os.listdir(root)) == ["batch_id=0", "batch_id=1"]
    assert sorted(r.id for r in spark.read.parquet(root).collect()) == list(range(10))
    assert vacuum_lake(spark, root) == []


def test_compact_partitions_reduces_files(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.publish import compact_partitions

    lake = str(tmp_path / "lake")
    df = spark.range(0, 1000).select(
        F.col("id"),
        F.lit("A").alias("DataSource"),
        F.lit(2020).alias("year"),
        (F.col("id") % 2).cast("string").alias("month"),
    )
    # fragment: many tasks × every partition
    df.repartition(16).write.partitionBy("DataSource", "year", "month").parquet(lake)
    before = len(glob.glob(f"{lake}/**/*.parquet", recursive=True))
    data_before = sorted(r.id for r in spark.read.parquet(lake).collect())

    compact_partitions(spark, lake)
    after = len(glob.glob(f"{lake}/**/*.parquet", recursive=True))
    assert after < before and after <= 4
    assert sorted(r.id for r in spark.read.parquet(lake).collect()) == data_before


def test_compact_partitions_preserves_padded_partition_values(spark, tmp_path):
    """Zero-padded month=01-style directories must survive compaction
    byte-identically: with partition type inference on, month=01 reads back
    as int 1 and compaction would rewrite the directory as month=1, changing
    both values and schema (and breaking month == "01" filters plus any
    subsequent merge_overwrite keyed on the string form)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from chess_lakehouse_spark.operators.publish import compact_partitions

    lake = str(tmp_path / "lake")
    df = spark.range(0, 200).select(
        F.col("id"),
        F.lit("A").alias("DataSource"),
        F.lit("2020").alias("year"),
        F.when(F.col("id") % 2 == 0, "01").otherwise("11").alias("month"),
    )
    df.repartition(8).write.partitionBy("DataSource", "year", "month").parquet(lake)
    dirs_before = sorted(
        os.path.relpath(p, lake) for p in glob.glob(f"{lake}/*/*/*") if os.path.isdir(p)
    )
    assert any(d.endswith("month=01") for d in dirs_before)

    compact_partitions(spark, lake)
    dirs_after = sorted(
        os.path.relpath(p, lake) for p in glob.glob(f"{lake}/*/*/*") if os.path.isdir(p)
    )
    assert dirs_after == dirs_before
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        back = spark.read.parquet(lake)
        assert dict(back.dtypes)["month"] == "string"
        assert back.where(F.col("month") == "01").count() == 100
    finally:
        spark.conf.set(infer_key, prev)


def test_pipeline_cli_clean_corpus(spark, tmp_path, capsys):
    """The clean-corpus stage end-to-end: quarantine, quality gate, near-dup
    canonical selection, leakage-safe split, split-partitioned shards, and
    the dataset card — from one CLI invocation."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    lines = []
    for i in range(20):
        # disjoint vocabulary per doc; docs 0 and 1 are identical (planted dup)
        text = " ".join(f"w{0 if i <= 1 else i}_{j}" for j in range(40))
        lines.append(json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": f"s{i % 2}"}
        ))
    lines.append('{"doc_id": broken json')  # quarantine candidate
    src = tmp_path / "in"
    src.mkdir()
    (src / "part0.jsonl").write_text("\n".join(lines) + "\n")
    out = tmp_path / "out"

    pipeline_cli.main([
        "clean-corpus", "--inDir", str(src), "--outDir", str(out),
        "--minQuality", "0.0", "--threshold", "0.5", "--evalFrac", "0.3",
        "--bpeMerges", "5",
    ])

    stdout = capsys.readouterr().out
    assert "[clean-corpus]" in stdout and "quarantined=1" in stdout
    # tokenizer artifact: learned on the train split, tab-separated pairs
    merges = (out / "bpe_merges.txt").read_text().splitlines()
    assert 0 < len(merges) <= 5
    assert all(len(m.split("\t")) == 2 for m in merges)
    assert (out / "quarantine").exists()
    assert (out / "dataset_card.md").read_text().startswith("# Corpus card")
    published = spark.read.json(str(out / "corpus")).collect()
    # docs 0 and 1 are identical near-dups -> one canonical survives
    assert len(published) == 19
    assert {r.split for r in published} <= {"train", "eval"}
    # deterministic: rerun produces the identical published set
    pipeline_cli.main([
        "clean-corpus", "--inDir", str(src), "--outDir", str(out),
        "--minQuality", "0.0", "--threshold", "0.5", "--evalFrac", "0.3",
    ])
    again = spark.read.json(str(out / "corpus")).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, published))


def test_pipeline_cli_materialize_openings_idempotent(spark, tmp_path, capsys):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    src = str(tmp_path / "remote")
    spark.createDataFrame(OPENINGS, "eco string, name string, pgn string, uci string") \
        .write.parquet(src)
    target = str(tmp_path / "snap")
    pipeline_cli.main(["materialize-openings", "--location", src, "--target", target])
    assert f"rows={len(OPENINGS)}" in capsys.readouterr().out

    import shutil
    shutil.rmtree(src)  # committed target must be served without the source
    pipeline_cli.main(["materialize-openings", "--location", src, "--target", target])
    assert f"rows={len(OPENINGS)}" in capsys.readouterr().out


def test_clean_corpus_bootstraps_streaming_loop(spark, tmp_path):
    """Batch backfill -> streaming continuation: clean-corpus stages the
    published corpus + signatures, and stream_incremental_dedup's first
    live drop is near-dup-checked against that batch-built corpus."""
    import glob
    import json
    import shutil
    import sys
    from pathlib import Path

    from pyspark.sql import Row

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    from chess_lakehouse_spark.streaming import stream_incremental_dedup

    src = tmp_path / "in"
    src.mkdir()
    lines = [
        json.dumps({"doc_id": i, "text": " ".join(f"w{i}_{j}" for j in range(40)),
                    "lang": "en", "source": "s0"})
        for i in range(8)
    ]
    (src / "part0.jsonl").write_text("\n".join(lines) + "\n")
    out = tmp_path / "out"
    pipeline_cli.main([
        "clean-corpus", "--inDir", str(src), "--outDir", str(out),
        "--minQuality", "0.0", "--evalFrac", "0.2", "--stageForStreaming",
    ])
    staged_corpus = str(out / "staged_corpus")
    staged_sigs = str(out / "staged_sigs")
    assert spark.read.parquet(staged_sigs).count() == 8

    # streaming drop: doc 100 near-dups batch-published doc 2; doc 101 is new
    drops = tmp_path / "drops"
    drops.mkdir()
    near = " ".join(f"w2_{j}" for j in range(39)) + " zz"
    fresh = " ".join(f"q{j}" for j in range(40))
    staging = tmp_path / "_stage"
    spark.createDataFrame([Row(doc_id=100, text=near, lang="en", source="live"),
                           Row(doc_id=101, text=fresh, lang="en", source="live")]) \
        .coalesce(1).write.parquet(str(staging))
    shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], drops / "d1.parquet")

    static = spark.read.parquet(str(drops))
    stream = spark.readStream.schema(static.schema).parquet(str(drops))
    stream_incremental_dedup(
        stream, staged_corpus, staged_sigs, str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"), k=3, num_hashes=8, band_size=2, threshold=0.5,
    )
    pairs = {(r.id_a, r.id_b, r.kind)
             for r in spark.read.parquet(str(tmp_path / "pairs")).collect()}
    assert (100, 2, "cross") in pairs
    admitted = {r.doc_id for r in spark.read.parquet(staged_corpus).collect()}
    assert 101 in admitted and 100 not in admitted and 2 in admitted


def test_example_dvc_stages_reference_real_cli_subcommands():
    """examples/dvc.yaml must only invoke pipeline_cli subcommands and flags
    that the parser registers — the example must not rot."""
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    text = (repo / "examples" / "dvc.yaml").read_text()
    cli_src = (repo / "scripts" / "pipeline_cli.py").read_text()

    cmds = re.findall(
        r"python scripts/pipeline_cli\.py ([a-z-]+)((?:\s+--\S+(?:\s+(?!--)\S+)?)*)",
        text,
    )
    stages = [(s, re.findall(r"(--[A-Za-z0-9]+)", flagstr)) for s, flagstr in cmds]
    assert {s for s, _ in stages} == {
        "materialize-openings", "read-pgn", "find-openings",
        "export-parquet", "clean-corpus", "maintain-lake",
        "train-quality-model", "train-hashed-model", "image-dedup", "read-wet",
        "rollup-build", "rollup-append", "rollup-serve", "rank-hosts",
        "edit-dedup", "encode-corpus", "build-search-index",
        "bloom-build", "bloom-gate", "ann-index-build", "ann-index-append",
        "ann-search", "score-calibrate", "upsample-epochs",
    }
    for stage, flags in stages:
        assert f'add_parser("{stage}")' in cli_src, f"unknown stage in example: {stage}"
        assert flags, f"stage {stage} example shows no flags"
        for f in flags:
            assert f'"{f}"' in cli_src, f"unknown flag in example: {stage} {f}"


def test_pipeline_cli_clean_corpus_gopher_and_dedup_passes(spark, tmp_path, capsys):
    """The r7 pipeline extensions in one invocation: Gopher per-rule gate
    instead of the composite score, the C4 paragraph pass, and the
    ExactSubstr span pass — repeated cross-document content is stripped
    from the published text, and the stopword-free doc is gated out."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    boiler = "SHARED HEADER LINE"
    lines = []
    for i in range(8):
        body = " ".join(f"the of and doc{i} tok{j}" for j in range(12))
        lines.append(json.dumps(
            {"doc_id": i, "text": f"{boiler}\n{body}", "lang": "en", "source": "s0"}
        ))
    # stopword-free doc: fails the gopher required-stops rule
    lines.append(json.dumps(
        {"doc_id": 99, "text": " ".join(f"z{j}" for j in range(60)),
         "lang": "en", "source": "s0"}
    ))
    src = tmp_path / "in"
    src.mkdir()
    (src / "p.jsonl").write_text("\n".join(lines) + "\n")
    out = tmp_path / "out"

    pipeline_cli.main([
        "clean-corpus", "--inDir", str(src), "--outDir", str(out),
        "--gate", "gopher", "--gopherMinWords", "30", "--gopherMinStops", "2",
        "--paragraphDedupSep", "\n", "--spanDedupK", "4",
        "--threshold", "0.9", "--evalFrac", "0.2",
    ])
    assert "[clean-corpus]" in capsys.readouterr().out
    published = spark.read.json(str(out / "corpus")).collect()
    ids = {r.doc_id for r in published}
    assert 99 not in ids  # gopher stop-hits rule fired
    assert ids == set(range(8))
    texts = {r.doc_id: r.text for r in published}
    # the shared header survives in exactly ONE doc (corpus-first occurrence)
    assert sum(boiler in t for t in texts.values()) == 1


def test_pipeline_cli_clean_corpus_mixture_reweighting(spark, tmp_path, capsys):
    """--mixTarget: fitted per-source weights become stratified keep
    rates — the target-light source ends up sampled down in the published
    corpus."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    lines = []
    i = 0
    for src, pref, n in (("web", "alpha", 120), ("junk", "zzz", 120)):
        for _ in range(n):
            text = " ".join(f"{pref}{j}x{i}" for j in range(25))
            lines.append(json.dumps(
                {"doc_id": i, "text": text, "lang": "en", "source": src}
            ))
            i += 1
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "p.jsonl").write_text("\n".join(lines) + "\n")
    # target speaks only the web vocabulary
    tgt_dir = tmp_path / "target"
    tgt_dir.mkdir()
    tgt = [
        json.dumps({"doc_id": 9000 + j, "text": " ".join(f"alpha{k}t" for k in range(25)),
                    "lang": "en", "source": "t"})
        for j in range(10)
    ]
    (tgt_dir / "t.jsonl").write_text("\n".join(tgt) + "\n")
    out = tmp_path / "out"

    pipeline_cli.main([
        "clean-corpus", "--inDir", str(src_dir), "--outDir", str(out),
        "--mixTarget", str(tgt_dir), "--minQuality", "0.0",
        "--threshold", "0.9", "--evalFrac", "0.2",
    ])
    stdout = capsys.readouterr().out
    assert "mixture weights" in stdout
    published = spark.read.json(str(out / "corpus"))
    counts = {r["source"]: r["n"] for r in
              published.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # the web source dominates; junk is sampled to (near) zero
    assert counts.get("web", 0) > 100
    assert counts.get("junk", 0) <= 10


def test_pipeline_cli_clean_corpus_url_pass(spark, tmp_path, capsys):
    """--urlCol runs the URL-level pass FIRST: alias URLs (scheme case,
    www., tracking params, trailing slash) collapse to one doc (min
    doc_id wins), and --hostCap bounds the survivors per host."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    lines = []
    # docs 0-3 are four aliases of ONE canonical URL (distinct texts, so
    # only the URL pass can collapse them); docs 10-29 spread over host
    # big.com — more than the cap
    aliases = [
        "https://www.Dup.com/x?utm_source=a",
        "HTTP://dup.com/x/",
        "https://dup.com/x#frag",
        "dup.com/x",
    ]
    for i, u in enumerate(aliases):
        lines.append(json.dumps(
            {"doc_id": i, "text": " ".join(f"a{i}_{j} the of" for j in range(20)),
             "lang": "en", "source": "s0", "url": u}
        ))
    for i in range(10, 30):
        lines.append(json.dumps(
            {"doc_id": i, "text": " ".join(f"b{i}_{j} the of" for j in range(20)),
             "lang": "en", "source": "s0", "url": f"https://big.com/p{i}"}
        ))
    src = tmp_path / "in"
    src.mkdir()
    (src / "p.jsonl").write_text("\n".join(lines) + "\n")
    out = tmp_path / "out"

    pipeline_cli.main([
        "clean-corpus", "--inDir", str(src), "--outDir", str(out),
        "--minQuality", "0.0", "--threshold", "0.95", "--evalFrac", "0.2",
        "--urlCol", "url", "--hostCap", "5",
    ])
    assert "[clean-corpus]" in capsys.readouterr().out
    published = spark.read.json(str(out / "corpus"))
    ids = {r.doc_id for r in published.collect()}
    assert ids & {0, 1, 2, 3} == {0}  # aliases collapsed to min doc_id
    assert len(ids & set(range(10, 30))) == 5  # host cap enforced
    # the url column rides through to the published shards
    assert "url" in published.columns


def test_pipeline_cli_full_export_chain(spark, tmp_path, capsys):
    """The example DAG's late chain EXECUTED end to end with real
    artifacts (the class of drift a name-check cannot catch — review
    finding, now pinned): clean-corpus with --stageForStreaming
    --bpeMerges writes staged_corpus/ (parquet) + bpe_merges.txt, then
    encode-corpus consumes exactly those paths, then build-search-index
    stages a queryable index over the same parquet — and a substring
    lookup against it returns the expected doc."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    from chess_lakehouse_spark.functions.text import substring_search_from_index

    stops = "the be to of and that have with"
    lines = []
    for i in range(8):
        body = " ".join(f"word{i}w{j} {stops}" for j in range(12))
        lines.append(json.dumps(
            {"doc_id": i, "text": f"needle{i:02d}haystack {body}",
             "lang": "en", "source": "s0"}
        ))
    src = tmp_path / "in"
    src.mkdir()
    (src / "p.jsonl").write_text("\n".join(lines) + "\n")
    clean = tmp_path / "clean"

    pipeline_cli.main([
        "clean-corpus", "--inDir", str(src), "--outDir", str(clean),
        "--gate", "gopher", "--gopherMinWords", "10", "--gopherMinStops", "2",
        "--threshold", "0.9", "--evalFrac", "0.2",
        "--stageForStreaming", "--bpeMerges", "5",
    ])
    assert (clean / "bpe_merges.txt").exists()
    staged = str(clean / "staged_corpus")

    enc_out = tmp_path / "encoded"
    pipeline_cli.main([
        "encode-corpus", "--inParquet", staged,
        "--mergesTxt", str(clean / "bpe_merges.txt"),
        "--outDir", str(enc_out),
    ])
    ids = spark.read.parquet(str(enc_out / "ids"))
    assert ids.count() == 8 and ids.agg(F.sum("n_oov")).collect()[0][0] == 0

    idx = str(tmp_path / "searchidx")
    pipeline_cli.main([
        "build-search-index", "--inParquet", staged, "--indexDir", idx,
    ])
    corpus = spark.read.parquet(staged)
    queries = spark.createDataFrame(
        [(1, "needle03haystack")], "qid long, qt string"
    )
    hits = substring_search_from_index(
        spark, idx, corpus, "doc_id", "text", queries, "qid", "qt"
    ).collect()
    assert [(r.qid, r.doc_id) for r in hits] == [(1, 3)]
    out_text = capsys.readouterr().out
    assert "[encode-corpus]" in out_text and "[build-search-index]" in out_text


def test_pipeline_cli_bloom_stages_roundtrip(spark, tmp_path, capsys):
    """bloom-build -> bloom-append -> bloom-gate through the CLI: the
    gated output keeps exactly the rows the folded filter rejects (no
    false negatives: every blocklisted key is dropped), and the appended
    artifact swaps atomically (no .compacting/.old leftovers)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    block1 = tmp_path / "block1"
    block2 = tmp_path / "block2"
    corpus = tmp_path / "corpus"
    bloom = str(tmp_path / "bloom")
    out = str(tmp_path / "clean")
    spark.createDataFrame(
        [(f"https://bad{i}.example/",) for i in range(30)], "url string"
    ).write.parquet(str(block1))
    spark.createDataFrame(
        [(f"https://worse{i}.example/",) for i in range(20)], "url string"
    ).write.parquet(str(block2))
    rows = [(i, f"https://bad{i}.example/") for i in range(10)] + [
        (100 + i, f"https://worse{i}.example/") for i in range(5)
    ] + [(200 + i, f"https://fine{i}.example/") for i in range(50)]
    spark.createDataFrame(rows, "doc_id long, url string").write.parquet(
        str(corpus)
    )

    pipeline_cli.main([
        "bloom-build", "--keysParquet", str(block1), "--keyCol", "url",
        "--bloomDir", bloom, "--mBits", str(63 * 64), "--k", "4",
    ])
    pipeline_cli.main([
        "bloom-append", "--keysParquet", str(block2), "--keyCol", "url",
        "--bloomDir", bloom,
    ])
    stdout = capsys.readouterr().out
    assert "[bloom-build] m_bits=4032 k=4 n_keys=30" in stdout
    assert "[bloom-append] n_keys=50" in stdout
    import os

    assert not os.path.exists(bloom + ".compacting")
    assert not os.path.exists(bloom + ".old")

    pipeline_cli.main([
        "bloom-gate", "--inParquet", str(corpus), "--keyCol", "url",
        "--bloomDir", bloom, "--outDir", out, "--emit", "clean",
    ])
    gated = spark.read.parquet(out).collect()
    kept = {r.url for r in gated}
    assert f"[bloom-gate] emit=clean rows={len(gated)} -> {out}" in capsys.readouterr().out
    # no false negatives: every blocklisted url is gone
    assert not any("bad" in u or "worse" in u for u in kept)
    # the gate discriminates: most clean urls survive (FPs bounded)
    assert len(kept) >= 40


def test_pipeline_cli_ann_stages_roundtrip(spark, tmp_path, capsys):
    """ann-index-build -> ann-index-append -> ann-search through the CLI:
    search over the appended index equals search over one build of the
    full corpus (the sidecar centroids keep assignment consistent)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli
    from chess_lakehouse_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    old_p = str(tmp_path / "emb_old")
    new_p = str(tmp_path / "emb_new")
    probes_p = str(tmp_path / "probes")
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(old_p)
    emb.where(F.col("vec_id") % 2 == 1).write.parquet(new_p)
    emb.where(F.col("vec_id") < 3).write.parquet(probes_p)

    idx = str(tmp_path / "annidx")
    hits1 = str(tmp_path / "hits_inc")
    pipeline_cli.main([
        "ann-index-build", "--inParquet", old_p, "--indexDir", idx,
        "--lists", "4", "--iters", "1", "--seed", "0",
    ])
    pipeline_cli.main([
        "ann-index-append", "--inParquet", new_p, "--indexDir", idx,
        "--batchId", "d1",
    ])
    pipeline_cli.main([
        "ann-search", "--indexDir", idx, "--probesParquet", probes_p,
        "--outDir", hits1, "--nprobe", "2", "--topK", "5",
    ])

    # reference: one build over the union, searched with the SAME
    # centroids (read from the incremental index's sidecar)
    from chess_lakehouse_spark.operators.similarity import (
        publish_ivf_index,
        read_ivf_centroids,
        search_ivf_index,
    )

    cents = read_ivf_centroids(spark, idx)
    ref_idx = str(tmp_path / "annidx_full")
    publish_ivf_index(emb, ref_idx, "vec_id", "embedding", cents)
    want = search_ivf_index(
        spark, ref_idx, spark.read.parquet(probes_p), "vec_id", "embedding",
        cents, nprobe=2, k=5,
    )
    written = spark.read.parquet(hits1).collect()
    got_rows = {tuple(r) for r in written}
    assert got_rows == {tuple(r) for r in want.collect()}
    assert len(got_rows) > 0
    assert f"[ann-search] nprobe=2 k=5 rows={len(written)} -> {hits1}" in capsys.readouterr().out


def test_pipeline_cli_crawl_side_chain_matches_example_dag(spark, tmp_path, capsys):
    """The example DAG's crawl-side chain EXECUTED with real artifacts
    (the rollup_build/bloom_gate schema-drift class a flags check cannot
    catch): read-wet writes the (url, warc_date, text, doc_id) feeder;
    bloom-build compresses a url blocklist; bloom-gate keys on `url`
    against exactly that feeder (the r10 example fix — the cleaned
    staged_corpus carries no url); clean-corpus stages staged_corpus;
    rollup-build keys on (source, lang) with the in-stage
    --derive n_chars=length(text), mirroring the stage verbatim."""
    import gzip
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    def _rec(url, text):
        body = text.encode()
        head = (
            "WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Record-ID: <urn:uuid:{abs(hash(url))}>\r\n"
            "WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        )
        return gzip.compress(head.encode() + body + b"\r\n\r\n")

    crawl = tmp_path / "crawl-wet"
    crawl.mkdir()
    stops = "the be to of and that have with"
    recs = [
        _rec(f"https://bad{i}.example/p", f"blocked doc{i} " + stops)
        for i in range(3)
    ] + [
        _rec(f"https://ok{i}.example/p", f"kept doc{i} " + stops)
        for i in range(5)
    ]
    (crawl / "seg00000.wet.gz").write_bytes(b"".join(recs))

    feeder = tmp_path / "corpus-from-crawl"
    pipeline_cli.main([
        "read-wet", "--inDir", str(crawl), "--outDir", str(feeder),
    ])
    assert {"url", "warc_date", "text", "doc_id"} <= set(
        spark.read.parquet(str(feeder)).columns
    )

    blocklist = tmp_path / "blocklist"
    spark.createDataFrame(
        [(f"https://bad{i}.example/p",) for i in range(3)], "url string"
    ).write.parquet(str(blocklist))
    bloom = str(tmp_path / "blocklist-bloom")
    unblocked = str(tmp_path / "corpus-unblocked")
    pipeline_cli.main([
        "bloom-build", "--keysParquet", str(blocklist), "--keyCol", "url",
        "--bloomDir", bloom, "--mBits", "1048576", "--k", "7",
    ])
    pipeline_cli.main([
        "bloom-gate", "--inParquet", str(feeder), "--keyCol", "url",
        "--bloomDir", bloom, "--outDir", unblocked, "--emit", "clean",
    ])
    kept = {r.url for r in spark.read.parquet(unblocked).collect()}
    assert kept == {f"https://ok{i}.example/p" for i in range(5)}
    import os

    assert not os.path.exists(unblocked + ".compacting")
    assert not os.path.exists(bloom + ".compacting") and not os.path.exists(
        bloom + ".old"
    )

    # the gated feeder flows into the SAME cleaning chain (--inFormat
    # parquet, the clean_corpus_crawl stage verbatim): published docs
    # carry only unblocked urls
    crawl_clean = tmp_path / "corpus-clean-crawl"
    pipeline_cli.main([
        "clean-corpus", "--inDir", unblocked, "--outDir", str(crawl_clean),
        "--inFormat", "parquet", "--urlCol", "url", "--hostCap", "100000",
        "--gate", "gopher", "--gopherMinWords", "5", "--gopherMinStops", "2",
        "--threshold", "0.5", "--evalFrac", "0.2",
    ])
    published = spark.read.json(str(crawl_clean / "corpus")).collect()
    assert 0 < len(published) <= 5
    assert all(r.source == "commoncrawl" for r in published)

    # clean-corpus -> staged_corpus -> rollup-build with the stage's
    # exact keys/derive/measures
    src = tmp_path / "corpus-jsonl"
    src.mkdir()
    lines = [
        json.dumps({
            "doc_id": i,
            "text": " ".join(f"tok{i}x{j} {stops}" for j in range(12)),
            "lang": "en" if i % 2 else "fr",
            "source": f"s{i % 2}",
        })
        for i in range(8)
    ]
    (src / "p.jsonl").write_text("\n".join(lines) + "\n")
    clean = tmp_path / "corpus-clean"
    pipeline_cli.main([
        "clean-corpus", "--inDir", str(src), "--outDir", str(clean),
        "--gate", "gopher", "--gopherMinWords", "10", "--gopherMinStops", "2",
        "--threshold", "0.9", "--evalFrac", "0.2", "--stageForStreaming",
    ])
    rollup = str(tmp_path / "rollup")
    pipeline_cli.main([
        "rollup-build", "--inParquet", str(clean / "staged_corpus"),
        "--rollupDir", rollup, "--keys", "source,lang",
        "--derive", "n_chars=length(text)",
        "--measures",
        "n:count,nn:countnn:n_chars,s6:sum6:n_chars,mn:min:n_chars,mx:max:n_chars",
    ])
    report = str(tmp_path / "rollup-report")
    pipeline_cli.main([
        "rollup-serve", "--rollupDir", rollup, "--outDir", report,
        "--avg6", "avg_chars:s6:nn",
    ])
    rows = spark.read.parquet(report).collect()
    staged = spark.read.parquet(str(clean / "staged_corpus"))
    want = {
        (r.source, r.lang): r.n
        for r in staged.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {(r.source, r.lang): r.n for r in rows} == want
    assert all(r.avg_chars > 0 for r in rows)


def test_score_calibrate_cli_roundtrip(spark, tmp_path):
    """score-calibrate stage: percent-rank in exact millionths over a
    known order, NULL scores pass through with NULL pct/bucket, and the
    --by form buckets within groups."""
    import sys
    from pathlib import Path

    from pyspark.sql import functions as F

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    rows = [(i, "g%d" % (i % 2), float(i)) for i in range(10)] + [
        (100, "g0", None)
    ]
    src = str(tmp_path / "scored")
    spark.createDataFrame(rows, "doc_id long, grp string, score double") \
        .write.parquet(src)

    out = str(tmp_path / "calibrated")
    pipeline_cli.main([
        "score-calibrate", "--inParquet", src, "--outDir", out,
        "--scoreCol", "score", "--buckets", "2", "--by", "grp",
    ])
    got = {r.doc_id: (r.pct_ppm, r.bucket)
           for r in spark.read.parquet(out).collect()}
    assert len(got) == 11
    # global percent rank over scores 0..9 -> i/9 millionths
    for i in range(10):
        assert got[i][0] == (i * 1_000_000) // 9
    assert got[100] == (None, None)
    # per-group halves: g0 = {0,2,4,6,8} -> low {0,2,4}=1 (2+3 split puts
    # the extra row in bucket 1), high {6,8}=2
    assert [got[i][1] for i in (0, 2, 4, 6, 8)] == [1, 1, 1, 2, 2]
    assert [got[i][1] for i in (1, 3, 5, 7, 9)] == [1, 1, 1, 2, 2]

    # percent-rank-only form leaves no bucket column
    out2 = str(tmp_path / "cal2")
    pipeline_cli.main([
        "score-calibrate", "--inParquet", src, "--outDir", out2,
        "--scoreCol", "score",
    ])
    cols = spark.read.parquet(out2).columns
    assert "pct_ppm" in cols and "bucket" not in cols


def test_score_calibrate_cli_derive_quality_and_missing_column(spark, tmp_path):
    """--deriveQuality computes the composite score from text (the
    staged-corpus shape: no score column), a missing score column
    without the flag fails loudly at plan time, and --deriveQuality
    with a mismatched --scoreCol is rejected."""
    import sys
    from pathlib import Path

    import pytest as _pytest

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    src = str(tmp_path / "staged")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog", "en", "s0"),
         (2, "a b", "en", "s1"),
         (3, "another longer document with several common words in it",
          "en", "s0")],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(src)

    out = str(tmp_path / "cal")
    pipeline_cli.main([
        "score-calibrate", "--inParquet", src, "--outDir", out,
        "--scoreCol", "quality_score", "--deriveQuality",
    ])
    got = spark.read.parquet(out)
    assert {"doc_id", "quality_score", "pct_ppm"} <= set(got.columns)
    assert got.count() == 3
    assert got.where("pct_ppm IS NULL").count() == 0

    with _pytest.raises(SystemExit, match="not in input"):
        pipeline_cli.main([
            "score-calibrate", "--inParquet", src, "--outDir", out,
            "--scoreCol", "no_such_col",
        ])
    with _pytest.raises(SystemExit, match="deriveQuality"):
        pipeline_cli.main([
            "score-calibrate", "--inParquet", src, "--outDir", out,
            "--scoreCol", "other", "--deriveQuality",
        ])


def test_scd2_apply_cli_lifecycle(spark, tmp_path):
    """scd2-apply stage: first load (no dim), then an in-place fold of a
    second feed via the rename-aside swap — versions chain, no-op
    updates collapse, no staging leftovers."""
    import os
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    upd1 = str(tmp_path / "u1")
    spark.createDataFrame(
        [(1, "gold", 10), (2, "iron", 20)], "k long, seg string, ts long"
    ).write.parquet(upd1)
    dim = str(tmp_path / "dim")

    pipeline_cli.main([
        "scd2-apply", "--updatesParquet", upd1, "--outDir", dim,
        "--keyCols", "k", "--attrCols", "seg",
    ])
    first = {tuple(r) for r in spark.read.parquet(dim).collect()}
    assert first == {(1, "gold", 10, None), (2, "iron", 20, None)}

    upd2 = str(tmp_path / "u2")
    spark.createDataFrame(
        [(1, "gold", 30),    # no-op: collapses
         (2, "steel", 40),   # real change
         (3, "new", 50)],    # first event for a new key
        "k long, seg string, ts long",
    ).write.parquet(upd2)
    pipeline_cli.main([
        "scd2-apply", "--dimDir", dim, "--updatesParquet", upd2,
        "--keyCols", "k", "--attrCols", "seg", "--inPlace",
    ])
    folded = {tuple(r) for r in spark.read.parquet(dim).collect()}
    assert folded == {
        (1, "gold", 10, None),
        (2, "iron", 20, 40),
        (2, "steel", 40, None),
        (3, "new", 50, None),
    }
    assert not os.path.exists(dim + ".compacting")
    assert not os.path.exists(dim + ".old")


def test_cli_stages_count_rows_from_their_write(spark, tmp_path, monkeypatch, capsys):
    """edit-dedup, score-calibrate and upsample-epochs print the rows they
    wrote without a second job over the output: ``DataFrame.count`` is
    never called."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "abcdef"[i // 2] * 8, f"s{i % 3}", 50 + i, float(i)) for i in range(12)],
        "doc_id long, text string, source string, n_chars long, score double",
    ).write.parquet(src)

    def no_count(self):
        raise AssertionError("DataFrame.count re-runs the written plan")

    # the session's concrete frame class, which overrides DataFrame.count
    monkeypatch.setattr(type(spark.range(1)), "count", no_count)
    out = str(tmp_path / "out")
    pipeline_cli.main([
        "edit-dedup", "--inParquet", src, "--outDir", out + "1", "--maxDist", "1",
    ])
    pipeline_cli.main([
        "score-calibrate", "--inParquet", src, "--outDir", out + "2", "--scoreCol", "score",
    ])
    pipeline_cli.main([
        "upsample-epochs", "--inParquet", src, "--outDir", out + "3", "--budget", "1000",
    ])
    monkeypatch.undo()
    lines = capsys.readouterr().out.splitlines()
    counts = [spark.read.parquet(out + str(i)).count() for i in (1, 2, 3)]
    assert f"[edit-dedup] kept={counts[0]} -> {out}1" in lines
    assert f"[score-calibrate] rows={counts[1]} -> {out}2" in lines
    assert f"[upsample-epochs] rows={counts[2]} -> {out}3" in lines
    assert counts[0] == 6 and counts[1] == 12


def test_upsample_epochs_cli_roundtrip(spark, tmp_path):
    """upsample-epochs stage: the manifest equals the operator's on the
    same inputs, re-running at a LARGER budget extends (never reshuffles)
    the smaller manifest, and a missing column fails loudly."""
    import sys
    from pathlib import Path

    import pytest as _pytest

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    from chess_lakehouse_spark.operators.sampling import upsample_epochs

    rows = [(i, f"s{i % 3}", 50 + (i * 7) % 90) for i in range(30)]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, source string, n_chars long") \
        .write.parquet(src)

    out = str(tmp_path / "manifest")
    pipeline_cli.main([
        "upsample-epochs", "--inParquet", src, "--outDir", out,
        "--budget", "6000", "--maxEpochs", "3", "--seed", "9",
    ])
    got = {
        (r.doc_id, r.source, r.epoch)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.doc_id, r.source, r.epoch)
        for r in upsample_epochs(
            spark.read.parquet(src), "doc_id", "n_chars", "source",
            budget=6000, max_epochs=3, seed=9,
        ).collect()
    }
    assert got == want and len(got) > 0

    out2 = str(tmp_path / "manifest_big")
    pipeline_cli.main([
        "upsample-epochs", "--inParquet", src, "--outDir", out2,
        "--budget", "9000", "--maxEpochs", "3", "--seed", "9",
    ])
    bigger = {
        (r.doc_id, r.source, r.epoch)
        for r in spark.read.parquet(out2).collect()
    }
    assert got <= bigger

    with _pytest.raises(SystemExit, match="not in input"):
        pipeline_cli.main([
            "upsample-epochs", "--inParquet", src, "--outDir",
            str(tmp_path / "x"), "--budget", "100", "--sizeCol", "nope",
        ])


def test_qc_report_cli_roundtrip(spark, tmp_path):
    """qc-report stage (r11 verdict task 6): one command emits the full
    QC bundle — every signal lands as parquet, CARD.md renders every
    section, the per-source summary matches a direct aggregate, the gate
    attribution sums drops with no double counting, and the optional
    events input adds the user-growth signal."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    from chess_lakehouse_spark.report import QC_BUNDLE_SIGNALS

    src = "/root/testdata/sf0.001/documents.parquet"
    ev = "/root/testdata/sf0.001/events.parquet"
    out = str(tmp_path / "qc")
    pipeline_cli.main([
        "qc-report", "--inParquet", src, "--outDir", out,
        "--nShards", "8", "--eventsParquet", ev,
    ])

    card = (Path(out) / "CARD.md").read_text()
    assert card.startswith("# Corpus QC card")
    for name in QC_BUNDLE_SIGNALS:
        assert f"## {name}" in card, f"missing card section {name}"
        got = spark.read.parquet(f"{out}/{name}")
        assert got.count() > 0, f"empty signal parquet {name}"

    docs = spark.read.parquet(src)
    summary = {
        (r.source, r.n_docs, r.n_chars)
        for r in spark.read.parquet(f"{out}/source_summary").collect()
    }
    from pyspark.sql import functions as F

    want = {
        (r.source, r.n_docs, r.n_chars)
        for r in docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("n_chars"),
        ).collect()
    }
    assert summary == want

    # stage attribution partitions the drops: sum(n_first_fail) +
    # n_pass_all == corpus size
    att = spark.read.parquet(f"{out}/gate_attribution").collect()
    n = docs.count()
    assert sum(r.n_first_fail for r in att) + att[0].n_pass_all == n

    # shard balance covers every doc
    bal = spark.read.parquet(f"{out}/shard_balance").collect()
    assert sum(r.n_docs for r in bal) == n and len(bal) <= 8

    # without events, the user_growth signal is absent (not an error)
    out2 = str(tmp_path / "qc_noev")
    pipeline_cli.main(["qc-report", "--inParquet", src, "--outDir", out2])
    assert not (Path(out2) / "user_growth").exists()
    assert "## user_growth" not in (Path(out2) / "CARD.md").read_text()


def test_pipeline_cli_heavy_hitters_stages(spark, tmp_path, capsys):
    """hh-ingest/hh-serve round-trip: two staged batches (one replayed)
    serve a merged summary whose Mergeable-Summaries guarantees hold
    against the exact union counts, computed here in-driver."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import pipeline_cli

    b1 = [("a",)] * 60 + [("b",)] * 25 + [(f"x{i}",) for i in range(15)]
    b2 = [("a",)] * 30 + [("c",)] * 40 + [(f"y{i}",) for i in range(10)]
    p1, p2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    spark.createDataFrame(b1, "term string").write.parquet(p1)
    spark.createDataFrame(b2, "term string").write.parquet(p2)
    state, out = str(tmp_path / "state"), str(tmp_path / "served")

    k = 5
    for bid, p in (("d1", p1), ("d2", p2), ("d2", p2)):  # d2 replayed
        pipeline_cli.main([
            "hh-ingest", "--inParquet", p, "--termCol", "term",
            "--stateDir", state, "--batchId", bid, "--k", str(k),
        ])
    pipeline_cli.main([
        "hh-serve", "--stateDir", state, "--outDir", out, "--k", str(k),
    ])
    logs = capsys.readouterr().out
    assert "[hh-ingest] batch_id=d2" in logs
    n = len(b1) + len(b2)
    assert f"n_total={n}" in logs and f"max_err={n // (k + 1)}" in logs

    served = {r["term"]: r["est"] for r in spark.read.parquet(out).collect()}
    assert f"[hh-serve] terms={len(served)} n_total={n} max_err={n // (k + 1)} -> {out}" in logs
    from collections import Counter

    true = Counter(t for (t,) in b1 + b2)
    assert 0 < len(served) <= k
    for t, est in served.items():
        assert 0 < est <= true[t]
        assert (true[t] - est) * (k + 1) <= n
    for t, c in true.items():
        if c * (k + 1) > n:
            assert t in served
