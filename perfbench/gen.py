"""Seeded input generators for the benchmark, with the outputs they imply.

Three generators, all pure functions of their seed:

- ``openings``: an ECO openings dimension shaped as a prefix tree (every
  line extends a shorter line), with duplicate lines under other ECO codes
  or names so that longest-match and the (ply DESC, eco ASC, name ASC)
  tie-break both decide results.
- ``corpus``: PGN files for several DataSources of unequal size, Lichess
  style ``{ [%clk ...] }`` comments, variations, NAGs and glyphs, plus
  malformed games, games without a date and games dated before 1500.
  Alongside the files it returns, per game, everything the pipeline must
  produce: the parse error flag, whether the hygiene filter drops it, its
  partition and its expected ECO and Opening.
- ``suite_tables``: the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query suite reads.

Expected openings are computed here with the engine's documented semantics
(the opening's ``pgn`` is a substring of the clean movetext; highest ply
wins, then lowest ``eco``, then lowest ``name``), from the clean movetext
the generator itself composed, never from the engine's normalizer.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
from dataclasses import dataclass, field

FILES = "abcdefgh"
PIECES = ("N", "B", "R", "Q", "K")
RESULTS = ("1-0", "0-1", "1/2-1/2")
TIME_CONTROLS = ("60+0", "180+0", "180+2", "300+0", "300+3", "600+0", "600+5", "900+10", "1800+0", "-")
TERMINATIONS = ("Normal", "Time forfeit", "Abandoned")
EVENTS = ("Rated Bullet game", "Rated Blitz game", "Rated Rapid game", "Casual Blitz game")
TITLES = ("GM", "IM", "FM", "CM", "NM", "WGM", "LM", "BOT")
NAGS = ("$1", "$2", "$4", "$6", "$10", "$14")
GLYPHS = ("!", "?", "!?", "?!", "!!")

#: (DataSource, share of games, files, style). Unequal sizes on purpose; the
#: wrapped style has no clock comments and 80-column movetext lines.
SOURCES = (
    ("Lichess_2019", 0.52, 3, "lichess"),
    ("LumbrasGigabase_Online", 0.31, 2, "wrapped"),
    ("TWIC", 0.17, 1, "wrapped"),
)
#: Calendar months every DataSource covers, so each source fills every
#: (DataSource, year, month) partition of the lake.
YEARS = (2020, 2021)

_TC_FIELD = r"(\?|-|\*\d+|\d+(/\d+)?(\+\d+)?)"
_TC_RE = re.compile(f"^{_TC_FIELD}(:{_TC_FIELD})*$")


def _san(rng: random.Random) -> str:
    """A SAN-shaped token; it need not be a legal move, only parse as one."""
    r = rng.random()
    if r < 0.04:
        return rng.choice(("O-O", "O-O-O"))
    square = rng.choice(FILES) + str(rng.randint(1, 8))
    if r < 0.45:
        tok = square
    elif r < 0.6:
        tok = rng.choice(FILES) + "x" + square
    else:
        tok = rng.choice(PIECES) + ("x" if rng.random() < 0.2 else "") + square
    if rng.random() < 0.08:
        tok += "+"
    return tok


def movetext_of(plies: list[str]) -> str:
    """Clean movetext in the openings-dataset format: ``1. e4 e5 2. Nf3``."""
    parts: list[str] = []
    for k, ply in enumerate(plies):
        if k % 2 == 0:
            parts.append(f"{k // 2 + 1}.")
        parts.append(ply)
    return " ".join(parts)


@dataclass(frozen=True)
class Opening:
    eco: str
    name: str
    plies: tuple[str, ...]
    pgn: str = field(init=False)

    def __post_init__(self):
        object.__setattr__(self, "pgn", movetext_of(list(self.plies)))


def openings(seed: int, n: int) -> list[Opening]:
    """``n`` openings forming a prefix tree; about one line in eight is
    duplicated under another ECO code or name (a tie on ply)."""
    rng = random.Random(f"openings:{seed}")
    roots = [(_san(rng),) for _ in range(6)]
    lines: list[tuple[str, ...]] = []
    seen: set[tuple[str, ...]] = set()
    frontier = list(roots)
    while len(lines) < n and frontier:
        line = frontier.pop(rng.randrange(len(frontier)))
        if line in seen:
            continue
        seen.add(line)
        lines.append(line)
        if len(line) < 14:
            frontier.extend(line + (_san(rng),) for _ in range(rng.randint(1, 3)))
    families: dict[tuple[str, ...], tuple[str, str]] = {}
    out: list[Opening] = []
    for i, line in enumerate(lines):
        fam = families.get(line[:2])
        if fam is None:
            fam = (f"{rng.choice('ABCDE')}{rng.randint(0, 99):02d}", f"Family {len(families):03d}")
            families[line[:2]] = fam
        eco = fam[0][0] + f"{(int(fam[0][1:]) + len(line)) % 100:02d}"
        out.append(Opening(eco, f"{fam[1]}: Line {i:04d}", line))
        if rng.random() < 0.125:
            if rng.random() < 0.5:
                out.append(Opening(f"{rng.choice('ABCDE')}{rng.randint(0, 99):02d}", f"{fam[1]}: Alt {i:04d}", line))
            else:
                out.append(Opening(eco, f"{fam[1]}: Also {i:04d}", line))
    return out[:n]


def best_opening(clean: str | None, dim: list[Opening]) -> Opening | None:
    """The engine's argmax: contained pgn, ply DESC, eco ASC, name ASC."""
    if clean is None:
        return None
    hits = [o for o in dim if o.pgn in clean]
    if not hits:
        return None
    return min(hits, key=lambda o: (-len(o.plies), o.eco, o.name))


@dataclass
class Game:
    site: str
    data_source: str
    tags: dict[str, str]
    raw_lines: list[str]
    clean: str | None
    parse_error: bool
    utc_date: dt.date | None
    eco: str | None = None
    opening: str | None = None

    @property
    def kept(self) -> bool:
        """Survives the export hygiene filter (date present, year >= 1500)."""
        return self.utc_date is not None and self.utc_date.year >= 1500

    def text(self) -> str:
        head = "\n".join(f'[{k} "{v}"]' if k != "__broken__" else v for k, v in self.tags.items())
        if not self.raw_lines:
            return head + "\n\n"
        return head + "\n\n" + "\n".join(self.raw_lines) + "\n\n"

    def export_row(self) -> dict:
        """The row the lake must hold for this game (20 export columns)."""
        t = self.tags

        def elo(v):
            return int(v) if v is not None and v.isdigit() else None

        tc = t.get("TimeControl")
        compact = re.sub(r"[ \t\n\r\f\x0B]+", "", tc) if tc is not None else None
        return {
            "Event": t.get("Event"),
            "Site": self.site,
            "White": t.get("White"),
            "Black": t.get("Black"),
            "Result": t.get("Result"),
            "WhiteTitle": t.get("WhiteTitle"),
            "BlackTitle": t.get("BlackTitle"),
            "WhiteElo": elo(t.get("WhiteElo")),
            "BlackElo": elo(t.get("BlackElo")),
            "UTCDate": self.utc_date,
            "UTCTime": t.get("UTCTime"),
            "ECO": self.eco,
            "Opening": self.opening,
            "Termination": t.get("Termination"),
            "TimeControl": compact if compact is not None and _TC_RE.match(compact) else tc,
            "Source": t.get("Source"),
            "movetext": " ".join(ln.strip() for ln in self.raw_lines if ln.strip()) or None,
            "DataSource": self.data_source,
            "year": self.utc_date.year if self.kept else None,
            "month": self.utc_date.month if self.kept else None,
        }


def _raw_movetext(rng: random.Random, plies: list[str], result: str, style: str) -> list[str]:
    """Render plies as PGN movetext lines; the decorations are exactly the
    ones the normalizer must strip."""
    toks: list[str] = []
    clock = 300
    for k, ply in enumerate(plies):
        num = k // 2 + 1
        san = ply + (rng.choice(GLYPHS) if rng.random() < 0.03 else "")
        if style == "lichess":
            toks.append(f"{num}." if k % 2 == 0 else f"{num}...")
            toks.append(san)
            clock = max(0, clock - int(rng.random() * 10))
            toks.append(f"{{ [%clk 0:{clock // 60:02d}:{clock % 60:02d}] }}")
        else:
            if k % 2 == 0:
                toks.append(f"{num}.")
            toks.append(san)
        if rng.random() < 0.02:
            toks.append(rng.choice(NAGS))
        if rng.random() < 0.015:
            alt = " ".join(_san(rng) for _ in range(rng.randint(1, 4)))
            nested = f" ( {_san(rng)} )" if rng.random() < 0.3 else ""
            toks.append(f"( {num}{'.' if k % 2 == 0 else '...'} {alt}{nested} )")
    toks.append(result)
    if style == "lichess":
        return [" ".join(toks)]
    lines, cur = [], ""
    for t in toks:
        if cur and len(cur) + 1 + len(t) > 79:
            lines.append(cur)
            cur = t
        else:
            cur = f"{cur} {t}" if cur else t
    lines.append(cur)
    return lines


def _game_plies(rng: random.Random, tree: dict, pool: list[str]) -> list[str]:
    """Follow the openings tree for a while, then play moves from ``pool``."""
    plies: list[str] = []
    if rng.random() < 0.9:
        node: tuple[str, ...] = ()
        while True:
            kids = tree.get(node)
            if not kids or rng.random() < 0.12:
                break
            node = rng.choice(kids)
            plies = list(node)
    n = rng.randint(max(len(plies), 20), 90)
    return plies + rng.choices(pool, k=n - len(plies))


def corpus(seed: int, n_games: int, dim: list[Opening]) -> list[Game]:
    """``n_games`` games over SOURCES, with planted defects.

    About 1% of games carry a malformed tag line, 0.5% have no movetext,
    2% have no UTCDate tag and 1.5% are dated before 1500; about a fifth
    carry an ECO tag (kept when no opening matches). No game has an
    Opening tag, so every game goes through the argmax.
    """
    rng = random.Random(f"corpus:{seed}")
    tree: dict[tuple[str, ...], list[tuple[str, ...]]] = {}
    for o in dim:
        for i in range(1, len(o.plies) + 1):
            kids = tree.setdefault(o.plies[: i - 1], [])
            if o.plies[:i] not in kids:
                kids.append(o.plies[:i])
    pool = [_san(rng) for _ in range(2048)]
    players = [f"player_{i:04d}" for i in range(max(50, n_games // 20))]
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(players))]
    months = [(y, m) for y in YEARS for m in range(1, 13)]
    games: list[Game] = []
    for src, share, _, style in SOURCES:
        count = max(len(months) * 2, round(n_games * share))
        slots = [months[i % len(months)] for i in range(count)]
        rng.shuffle(slots)
        for i in range(count):
            y, m = slots[i]
            date = dt.date(y, m, rng.randint(1, 28))
            white, black = rng.choices(players, weights, k=2)
            result = rng.choice(RESULTS)
            tags = {
                "Event": rng.choice(EVENTS),
                "Site": f"https://lichess.org/{src[:3].lower()}{seed % 1000:03d}{len(games):07d}",
                "White": white,
                "Black": black,
                "Result": result,
                "UTCDate": date.strftime("%Y.%m.%d"),
                "UTCTime": f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}",
                "WhiteElo": str(rng.randint(900, 2900)) if rng.random() > 0.02 else "?",
                "BlackElo": str(rng.randint(900, 2900)) if rng.random() > 0.02 else "?",
                "WhiteRatingDiff": f"{rng.choice('+-')}{rng.randint(0, 20)}",
                "TimeControl": rng.choice(TIME_CONTROLS),
                "Termination": rng.choice(TERMINATIONS),
            }
            if rng.random() < 0.05:
                tags["WhiteTitle"] = rng.choice(TITLES)
            if rng.random() < 0.05:
                tags["BlackTitle"] = rng.choice(TITLES)
            if rng.random() < 0.2:
                tags["ECO"] = f"{rng.choice('ABCDE')}{rng.randint(0, 99):02d}"
            if rng.random() < 0.03:
                tags["TimeControl"] = rng.choice(("300 + 0", "blitz", "15 min"))
            if style != "lichess":
                tags["Source"] = src
            r = rng.random()
            utc: dt.date | None = date
            if r < 0.02:
                del tags["UTCDate"]
                utc = None
            elif r < 0.035:
                y0 = rng.randint(1000, 1499)
                tags["UTCDate"] = f"{y0}.{rng.randint(1, 12):02d}.{rng.randint(1, 28):02d}"
                utc = dt.date(y0, int(tags["UTCDate"][5:7]), int(tags["UTCDate"][8:10]))
            plies = _game_plies(rng, tree, pool)
            raw = _raw_movetext(rng, plies, result, style)
            clean: str | None = movetext_of(plies)
            broken = False
            r = rng.random()
            if r < 0.01:
                tags["__broken__"] = f'[Annotator "unterminated {rng.randint(0, 99)}'
                broken = True
            elif r < 0.015:
                raw, clean, broken = [], None, True
            site = tags["Site"]
            g = Game(site, src, tags, raw, clean, broken, utc)
            best = best_opening(clean, dim)
            g.eco = best.eco if best else tags.get("ECO")
            g.opening = best.name if best else None
            games.append(g)
    return games


def write_corpus(games: list[Game], root: str) -> dict[str, str]:
    """Write each DataSource's games into ``root/<DataSource>/part-<i>.pgn``
    (round-robin over the source's files). Returns {DataSource: dir}."""
    dirs: dict[str, str] = {}
    for src, _, n_files, _ in SOURCES:
        d = os.path.join(root, src)
        os.makedirs(d, exist_ok=True)
        mine = [g for g in games if g.data_source == src]
        for f in range(n_files):
            with open(os.path.join(d, f"part-{f}.pgn"), "w", encoding="utf-8", newline="\n") as fh:
                fh.write("".join(g.text() for g in mine[f::n_files]))
        dirs[src] = d
    return dirs


def write_openings(dim: list[Opening], path: str) -> None:
    """The dimension as one Parquet file with the Lichess dataset columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    fake_uci = [" ".join(f"u{k}{p}" for k, p in enumerate(o.plies)) for o in dim]
    table = pa.table(
        {
            "eco": [o.eco for o in dim],
            "name": [o.name for o in dim],
            "pgn": [o.pgn for o in dim],
            "uci": fake_uci,
        }
    )
    pq.write_table(table, os.path.join(path, "openings.parquet"))


# --- suite fixtures --------------------------------------------------------

_WORDS = (
    "the a data query value column filter join key table merge group fast slow "
    "vector batch scan agg sort window line order part customer spark stream "
    "row big small"
).split()
_LANGS = ("en", "en", "en", "fr", "es", "zh", "de")


def suite_tables(seed: int) -> dict[str, "object"]:
    """The ten tables the query suite reads, as pyarrow Tables, with the
    row counts and key ranges of the sf0.1 fixture set (600,000 lineitem
    rows)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 15_000, 1_000, 20_000
    n_ord, n_li, n_ev, n_doc, n_emb = 150_000, 600_000, 100_000, 5_000, 2_000
    n_users = 1_500
    epoch = np.datetime64("1995-01-01T00:00:00", "us")

    def days(n, lo, hi):
        return epoch + (rng.integers(lo, hi, n) * 86_400_000_000).astype("timedelta64[us]")

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i:02d}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999, 9999),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999, 9999),
    })
    adjectives = np.array(["cold", "small", "large", "shiny", "red", "green", "blue", "old"])
    nouns = np.array(["widget", "bolt", "gear", "valve", "spring", "anvil", "lever", "pulley"])
    part = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n_part), rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(n_ord, 1000, 500000),
        "o_orderdate": pa.array(days(n_ord, 0, 2500), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype("float64")
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(days(n_li, 0, 2500), pa.timestamp("us")),
    })
    ev_start = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(ev_start + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    events = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": money(n_ev, 0, 200),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = []
    for _ in range(n_doc):
        t = " ".join(rng.choice(words, int(rng.integers(10, 100))))
        texts.append(t[: int(rng.integers(47, 559))].rstrip())
    documents = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(np.array(_LANGS), n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.5, (n_emb, 64))).astype("float32")
    embeddings = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_suite_tables(seed: int, sf_dir: str) -> None:
    """Write ``<sf_dir>/<table>.parquet`` for every suite table."""
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for name, table in suite_tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
