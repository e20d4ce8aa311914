"""Tests for the benchmark's input generator (no Spark needed).

Run from the repository root: ``python -m pytest perfbench/test_gen.py -q``
"""

from __future__ import annotations

import filecmp
import os
import sys

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), os.getcwd()]

import gen  # noqa: E402


def _write(tmp_path, seed: int, name: str) -> str:
    root = tmp_path / name
    dim = gen.openings(seed, 60)
    gen.write_corpus(gen.corpus(seed, 300, dim), str(root / "pgn"))
    gen.write_openings(dim, str(root / "openings"))
    gen.write_suite_tables(seed, str(root / "sf"))
    return str(root)


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b = _write(tmp_path, 7, "a"), _write(tmp_path, 7, "b")
    names = _files(a)
    assert names == _files(b) and names
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


def test_different_seeds_give_different_corpora(tmp_path):
    a, b = _write(tmp_path, 7, "a"), _write(tmp_path, 8, "b")
    _, mismatch, _ = filecmp.cmpfiles(a, b, [f for f in _files(a) if f.endswith(".pgn")], shallow=False)
    assert mismatch


def test_openings_are_a_prefix_tree_with_ties():
    dim = gen.openings(3, 200)
    lines = {o.plies for o in dim}
    assert all(o.plies[:-1] in lines for o in dim if len(o.plies) > 1)
    assert len(lines) < len(dim)  # some lines appear under two names


def test_best_opening_breaks_ties_by_ply_then_eco_then_name():
    dim = [
        gen.Opening("C20", "King pawn", ("e4",)),
        gen.Opening("C40", "King knight", ("e4", "e5", "Nf3")),
        gen.Opening("C41", "Also king knight", ("e4", "e5", "Nf3")),
        gen.Opening("C40", "A king knight", ("e4", "e5", "Nf3")),
    ]
    assert gen.best_opening("1. e4 e5 2. Nf3 Nc6", dim).name == "A king knight"
    assert gen.best_opening("1. e4 c5", dim).name == "King pawn"
    assert gen.best_opening("1. d4 d5", dim) is None
    assert gen.best_opening(None, dim) is None


def test_engine_parser_and_normalizer_agree_with_the_generator(tmp_path):
    """The engine's PGN scanner and movetext normalizer recover, for every
    generated game, the tags and the clean movetext the generator planted."""
    from chess_lakehouse_spark.functions.chess import _normalize_one
    from chess_lakehouse_spark.sources.pgn import _iter_game_texts, _parse_game

    games = gen.corpus(11, 400, gen.openings(11, 80))
    dirs = gen.write_corpus(games, str(tmp_path))
    parsed = {}
    for d in dirs.values():
        for fn in sorted(os.listdir(d)):
            path = os.path.join(d, fn)
            for _, text in _iter_game_texts(path, 0, os.path.getsize(path)):
                row = _parse_game(text, path)
                parsed[row["Site"]] = row
    assert len(parsed) == len(games)
    for g in games:
        row = parsed[g.site]
        assert (row["parse_error"] is not None) == g.parse_error
        assert _normalize_one(row["movetext"]) == g.clean
        assert row["UTCDate"] == g.tags.get("UTCDate")
    assert sum(g.parse_error for g in games) > 0
    assert sum(not g.kept for g in games) > 0
