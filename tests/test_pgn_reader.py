"""PGN scan tests (FIXTURES.md §B.3): clean games, dirty movetext, malformed
input → parse_error row, and byte-range split correctness (every game parsed
exactly once regardless of split size)."""

import random

import pytest
from pyspark.sql import functions as F

from chess_lakehouse_spark.sources.pgn import _make_splits, read_pgn

CLEAN_GAME = """[Event "Test Open"]
[Site "Testville"]
[White "Alice"]
[Black "Bob"]
[Result "1-0"]
[WhiteTitle "GM"]
[BlackTitle "IM"]
[WhiteElo "2700"]
[BlackElo "2650"]
[UTCDate "2021.01.31"]
[UTCTime "12:00:00"]
[ECO "B12"]
[Opening "Caro-Kann"]
[Termination "Normal"]
[TimeControl "600+5"]
[Source "unit"]

1. e4 c6 2. d4 d5 3. e5 1-0
"""

DIRTY_GAME = """[Event "Dirty"]
[White "C"]
[Black "D"]
[Result "0-1"]
[CustomTag "kept-in-extras"]

1. e4 {comment} e5!? (1... c5 (1... e6)) 2. Nf3 $4 0-1
"""

MALFORMED_GAME = """[Event "Broken
[White "E"]

1. d4 *
"""


@pytest.fixture()
def pgn_file(tmp_path):
    p = tmp_path / "games.pgn"
    p.write_text(CLEAN_GAME + "\n" + DIRTY_GAME + "\n" + MALFORMED_GAME)
    return str(p)


def test_basic_parse(spark, pgn_file):
    df = read_pgn(spark, pgn_file)
    rows = {r["Event"]: r for r in df.collect()}
    assert len(rows) == 3
    clean = rows["Test Open"]
    assert clean["White"] == "Alice" and clean["WhiteElo"] == "2700"
    assert clean["movetext"] == "1. e4 c6 2. d4 d5 3. e5 1-0"
    assert clean["parse_error"] is None
    dirty = rows["Dirty"]
    assert dirty["extra_tags"]["CustomTag"] == "kept-in-extras"
    # malformed tag line → error row (Event tag itself was the broken line)
    broken = rows[None]
    assert broken["parse_error"] is not None


def test_malformed_yields_parse_error(spark, pgn_file):
    df = read_pgn(spark, pgn_file)
    errs = df.where("parse_error IS NOT NULL").collect()
    assert len(errs) == 1
    assert "malformed tag line" in errs[0]["parse_error"]


def test_game_id_stable(spark, pgn_file):
    a = {r["game_id"] for r in read_pgn(spark, pgn_file).collect()}
    b = {r["game_id"] for r in read_pgn(spark, pgn_file, split_bytes=128).collect()}
    assert a == b and len(a) == 3


def _synth_game(i: int, rng: random.Random) -> str:
    moves = " ".join(
        f"{j + 1}. {rng.choice(['e4', 'd4', 'Nf3', 'c4'])} {rng.choice(['e5', 'd5', 'Nf6', 'c5'])}"
        for j in range(rng.randint(1, 30))
    )
    return (
        f'[Event "Synth {i}"]\n[White "W{i}"]\n[Black "B{i}"]\n[Result "*"]\n'
        f'[UTCDate "2020.01.{i % 28 + 1:02d}"]\n\n{moves} *\n'
    )


_SPLIT_SIZES = [97, 1024, 10_000, 64 * 1024 * 1024]


def _write_synth_corpus(tmp_path, n: int = 200) -> tuple[str, dict[str, int]]:
    """A synthetic one-file corpus and each game's first-byte offset, by Event."""
    rng = random.Random(7)
    games = [_synth_game(i, rng) for i in range(n)]
    offsets, pos = {}, 0
    for i, g in enumerate(games):
        offsets[f"Synth {i}"] = pos
        pos += len(g.encode()) + 1  # the "\n" separator
    p = tmp_path / "big.pgn"
    p.write_text("\n".join(games))
    return str(p), offsets


@pytest.mark.parametrize("split_bytes", _SPLIT_SIZES)
def test_splits_parse_each_game_exactly_once(spark, tmp_path, split_bytes):
    path, offsets = _write_synth_corpus(tmp_path)
    n = len(offsets)
    df = read_pgn(spark, path, split_bytes=split_bytes)
    events = [r["Event"] for r in df.select("Event").collect()]
    assert len(events) == n, f"expected {n} games, got {len(events)}"
    assert len(set(events)) == n, "duplicate games across splits"


@pytest.mark.parametrize("split_bytes", _SPLIT_SIZES)
def test_scan_is_one_range_partition_per_split(spark, tmp_path, split_bytes):
    """The split list is planned on the JVM: no shuffle and no scan of
    pickled Python rows, exactly one partition per split, and every game
    parsed by the partition of the split that holds its first byte."""
    path, offsets = _write_synth_corpus(tmp_path)
    n_splits = len(_make_splits([path], split_bytes))
    df = read_pgn(spark, path, split_bytes=split_bytes)
    rows = df.select("Event", F.spark_partition_id().alias("pid")).collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Scan ExistingRDD" not in plan, plan
    assert df.rdd.getNumPartitions() == n_splits
    assert {r["Event"]: r["pid"] for r in rows} == {
        e: off // split_bytes for e, off in offsets.items()
    }


def test_percent_escape_lines_dropped_on_reader_path(spark, tmp_path):
    """PGN spec §6: a line whose first column is '%' is ignored. Must happen
    inside _parse_game while line structure exists — downstream
    moves_normalize sees space-joined movetext where the escape content
    would otherwise masquerade as SAN tokens."""
    game = (
        '[Event "Esc"]\n[White "W"]\n[Black "B"]\n[Result "1-0"]\n\n'
        "% this whole line is escape content and must vanish\n"
        "1. e4 e5\n"
        "%eval +0.3 another escape\n"
        "2. Nf3 1-0\n"
    )
    p = tmp_path / "esc.pgn"
    p.write_text(game)
    rows = read_pgn(spark, str(p)).collect()
    assert len(rows) == 1
    assert rows[0]["movetext"] == "1. e4 e5 2. Nf3 1-0"
    assert rows[0]["parse_error"] is None


def test_multiple_files_and_dir(spark, tmp_path):
    (tmp_path / "a.pgn").write_text(CLEAN_GAME)
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "b.pgn").write_text(DIRTY_GAME)
    df = read_pgn(spark, str(tmp_path))
    assert df.count() == 2
    assert set(r["source_file"].split("/")[-1] for r in df.collect()) == {"a.pgn", "b.pgn"}


def _adversarial_game(i: int, rng: random.Random) -> str:
    """Export-format game whose movetext is littered with the byte shapes
    the boundary scanner must NOT resynchronize on: lines starting with
    '[' inside multi-line comments (no preceding blank line — the only
    form legal in export format), ']' at line ends, and '%'-escape lines
    between comment lines."""
    tricks = rng.choice(
        [
            "{a comment spanning lines\n[Event \"fake inner tag\"]\nstill comment}",
            "{r.\n[1] citation-style line\n[2] another}",
            "{trailing bracket line]\n[leading bracket}",
            "% escape line that mentions [Event \"nope\"]\n{c}",
        ]
    )
    moves = " ".join(
        f"{j + 1}. {rng.choice(['e4', 'd4', 'Nf3', 'c4'])} "
        f"{rng.choice(['e5', 'd5', 'Nf6', 'c5'])}"
        for j in range(rng.randint(1, 12))
    )
    return (
        f'[Event "Adv {i}"]\n[White "W{i}"]\n[Black "B{i}"]\n[Result "*"]\n\n'
        f"1. e4 {tricks}\n{moves} *\n"
    )


@pytest.mark.parametrize("split_bytes", [101, 257, 997, 4099])
def test_splits_survive_bracket_lines_inside_comments(spark, tmp_path, split_bytes):
    """Fuzz the boundary scanner with games whose comments contain
    '[Tag ...]'-shaped lines at line starts (legal in export format as
    long as no blank line precedes them): prime split sizes land split
    starts at every byte alignment, and each game must still parse
    exactly once. A blank line INSIDE a comment is the documented
    out-of-contract case (export format reserves blank lines as game
    separators — sources/pgn.py:_scan_boundary)."""
    rng = random.Random(split_bytes)
    n = 120
    p = tmp_path / "adv.pgn"
    p.write_text("\n".join(_adversarial_game(i, rng) for i in range(n)))
    df = read_pgn(spark, str(p), split_bytes=split_bytes)
    rows = df.collect()
    events = [r["Event"] for r in rows]
    assert len(events) == n, f"expected {n} games, got {len(events)}"
    assert len(set(events)) == n, "duplicate/ghost games across splits"
    assert all(r["parse_error"] is None for r in rows)
    # the fake inner tags stayed in the movetext, never became real tags
    assert all(r["Event"].startswith("Adv ") for r in rows)
