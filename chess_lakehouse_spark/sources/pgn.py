"""Distributed PGN scan — the Spark equivalent of the reference's
`read_pgn('<path>')` DuckDB table function (src/read-pgn.ts:49), which parses
one PGN file into one row per game (tag columns + movetext + parse_error).

The reference runs ONE process per FILE (loop at src/read-pgn.ts:70-72); its
largest single input is a 1.4 GB PGN (dvc.lock:55-59) — a single-core
bottleneck. Here a file is split into byte ranges like Hadoop text splits:
the driver emits (path, start, end) tasks, each task seeks to `start`,
resynchronizes forward to the first game boundary (a line starting with
``[``, preceded by a blank line), and parses games whose FIRST byte lies in
[start, end) — reading past `end` to finish its last game. Every game is
parsed exactly once, files of any size parallelize across the cluster, and
no task ever materializes more than one game + an IO buffer.

The split list is planned on the JVM: ``spark.range(0, n, 1, n)`` gives one
partition per split with no shuffle, and each task looks up its split by the
range id (the list rides in the task closure). Planning it from
``spark.createDataFrame(list)`` instead would add a stage of Python tasks
that only unpickle the split rows, each paying the Python-worker start-up
cost (~0.25 s per task on a 4-core VM) for a handful of tuples.

Parsing itself runs in ``mapInPandas`` (Arrow-batched); malformed games
produce a row with ``parse_error`` set instead of failing the scan
(src/read-pgn.ts:55 reports such rows).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from glob import glob

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chess_lakehouse_spark._pickle import register_module_by_value

register_module_by_value(__name__)

#: The 16 PGN tag columns the reference's export references (SURVEY.md §1.2)
#: — everything else lands in the `extra_tags` map (dynamic-schema escape
#: hatch for arbitrary PGN headers).
TAG_COLUMNS: tuple[str, ...] = (
    "Event",
    "Site",
    "White",
    "Black",
    "Result",
    "WhiteTitle",
    "BlackTitle",
    "WhiteElo",
    "BlackElo",
    "UTCDate",
    "UTCTime",
    "ECO",
    "Opening",
    "Termination",
    "TimeControl",
    "Source",
)

GAMES_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in TAG_COLUMNS]
    + [
        T.StructField("movetext", T.StringType()),
        T.StructField("extra_tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("parse_error", T.StringType()),
        T.StructField("source_file", T.StringType()),
    ]
)

_TAG_RE = re.compile(r'^\[(\w+)\s+"(.*)"\]\s*$')
_DEFAULT_SPLIT = 64 * 1024 * 1024  # bytes per task


def _scan_boundary(f, start: int, end: int) -> int | None:
    """First game boundary in [start, end): a ``[`` at file offset 0 or
    preceded by a blank line (byte pattern ``\\n\\n[``). Streaming chunked
    search — never materializes the split. Returns None if the next boundary
    belongs to a later split. (Assumes ``\\n`` line endings, the PGN export
    format; a ``\\r\\n`` corpus should be normalized at landing.)"""
    if start == 0:
        return 0
    data_start = max(0, start - 2)
    f.seek(data_start)
    data = b""
    while data_start + len(data) < end + 2:
        chunk = f.read(1 << 20)
        if not chunk:
            break
        data = data + chunk
        search_from = 0
        while True:
            i = data.find(b"\n\n[", search_from)
            if i < 0:
                break
            b = data_start + i + 2
            if b >= end:
                return None
            if b >= start:
                return b
            search_from = i + 1
        # Keep 2 bytes of overlap so a pattern spanning chunks is found.
        data_start += len(data) - 2
        data = data[-2:]
    return None


def _iter_game_texts(path: str, start: int, end: int) -> Iterator[tuple[int, str]]:
    """Yield (byte_offset, game_text) for games whose first byte is in
    [start, end). Reads sequentially from the resynchronized boundary; holds
    at most one game + an IO buffer in memory."""
    with open(path, "rb") as f:
        offset = _scan_boundary(f, start, end)
        if offset is None:
            return
        f.seek(offset)

        buf: list[bytes] = []
        game_start = offset
        pos = offset
        prev_blank = True
        for line in f:
            line_start = pos
            pos += len(line)
            is_tag = line.startswith(b"[")
            is_blank = line.strip() == b""
            if is_tag and prev_blank and buf:
                # New game boundary: flush the previous game.
                text = b"".join(buf).decode("utf-8", errors="replace")
                if text.strip():
                    yield game_start, text
                buf = []
                game_start = line_start
                if game_start >= end:
                    return
            prev_blank = is_blank
            buf.append(line)
        text = b"".join(buf).decode("utf-8", errors="replace")
        if text.strip():
            yield game_start, text


def _parse_game(text: str, path: str) -> dict:
    row: dict = {c: None for c in TAG_COLUMNS}
    row["extra_tags"] = {}
    row["parse_error"] = None
    row["source_file"] = path
    moves: list[str] = []
    in_moves = False
    saw_tags = False
    for line in text.splitlines():
        stripped = line.strip()
        if not in_moves and stripped.startswith("["):
            m = _TAG_RE.match(stripped)
            if m:
                saw_tags = True
                key, val = m.group(1), m.group(2)
                if key in row and key != "extra_tags":
                    row[key] = val
                else:
                    row["extra_tags"][key] = val
            else:
                row["parse_error"] = f"malformed tag line: {stripped[:80]}"
            continue
        if stripped == "":
            if saw_tags:
                in_moves = True
            continue
        if line.startswith("%"):
            # PGN escape mechanism (spec §6): a line whose FIRST column is
            # '%' is ignored entirely. Must be dropped here while line
            # structure still exists — after the " ".join below the newlines
            # are gone and escape content would leak into movetext as bogus
            # SAN tokens (breaking the contains()-based opening match).
            continue
        in_moves = True
        moves.append(stripped)
    row["movetext"] = " ".join(moves) if moves else None
    if not saw_tags:
        row["parse_error"] = row["parse_error"] or "no tag section"
    elif row["movetext"] is None:
        row["parse_error"] = row["parse_error"] or "no movetext"
    return row


def _make_splits(paths: list[str], split_bytes: int) -> list[tuple[str, int, int]]:
    splits = []
    for p in sorted(paths):
        size = os.path.getsize(p)
        start = 0
        while start < size or start == 0:
            splits.append((p, start, min(start + split_bytes, size)))
            start += split_bytes
            if start >= size:
                break
    return splits


def read_pgn(
    spark: SparkSession,
    path: str | list[str],
    split_bytes: int = _DEFAULT_SPLIT,
    batch_rows: int = 2048,
) -> DataFrame:
    """Scan PGN file(s)/glob/dir into one row per game (GAMES_SCHEMA).

    Driver does pure metadata work (listing + split arithmetic); all IO and
    parsing run in executors via mapInPandas, batch_rows games per Arrow
    batch. The scan is one JVM ``range`` partition per split, with no
    shuffle: partition i parses split i. game_id is a content hash (stable
    across runs/partitionings — Spark has no DuckDB-style rowid, SURVEY.md
    §1.3).
    """
    if isinstance(path, str):
        if os.path.isdir(path):
            paths = [
                os.path.join(dp, fn)
                for dp, _, fns in os.walk(path)
                for fn in fns
                if fn.endswith(".pgn")
            ]
        else:
            paths = glob(path)
    else:
        paths = list(path)
    if not paths:
        raise FileNotFoundError(f"no PGN files under {path!r}")

    splits = _make_splits(paths, split_bytes)

    def parse_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for split_id in pdf["id"]:
                path_, start_, end_ = splits[split_id]
                for _, text in _iter_game_texts(path_, start_, end_):
                    rows.append(_parse_game(text, path_))
                    if len(rows) >= batch_rows:
                        yield pd.DataFrame(rows, columns=[f.name for f in GAMES_SCHEMA.fields])
                        rows = []
            if rows:
                yield pd.DataFrame(rows, columns=[f.name for f in GAMES_SCHEMA.fields])

    games = spark.range(0, len(splits), 1, len(splits)).mapInPandas(parse_partition, GAMES_SCHEMA)
    return games.withColumn(
        "game_id", F.xxhash64("source_file", "Event", "Site", "White", "Black", "UTCDate", "UTCTime", "movetext")
    )
