"""Map-side argmax enrichment (operators/enrich.py): the dimension literal
round-trips every value exactly, costs a constant number of driver→JVM
calls whatever the dimension's size, is fetched in one job with repeats
dropped on the driver as distinct() would drop them, and keeps the plan
shape that a cold JVM compiles correctly."""

from __future__ import annotations

import datetime as dt
import json
import math
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from chess_lakehouse_spark.operators.enrich import enrich_top1_mapside
from chess_lakehouse_spark.session import local_df

_REPO = Path(__file__).resolve().parent.parent

DIM_SCHEMA = "rank long, key string, s string, d double, dd date, l long, ts timestamp"
PAYLOAD = ("key", "s", "d", "dd", "l", "ts")
# (rank, key, s, d, dd, l, ts). key is the probed tie-break field; the rest
# is payload. Strings carry JSON metacharacters, newlines and non-ASCII.
DIM = [
    (3, "a", "it's", 1.5, dt.date(2020, 2, 29), 10, dt.datetime(2021, 3, 4, 5, 6, 7, 123456)),
    (3, "a", 'q"uote', None, None, None, None),
    (3, "a", None, 2.5, dt.date(1970, 1, 1), 7, dt.datetime(1999, 12, 31, 23, 59, 59, 1)),
    (3, "b", "back\\slash\nnew\tline", 0.1, dt.date(9999, 12, 31), 2**62, dt.datetime(2000, 1, 1)),
    (2, "c", "é非😀", -1e300, dt.date(1, 1, 1), -(2**63), None),
    (2, "c", "é非😀", -1e300, dt.date(1, 1, 1), None, None),
    (5, "zz", None, None, None, None, dt.datetime(1969, 7, 20, 20, 17, 40, 999999)),
    (1, "b", "\x01ctl", float("nan"), dt.date(1582, 10, 10), 0, None),
]
FACTS = ["a b", "b", "c", "zz a", "q", "", None]


def _none_last(v):
    return (v is None, v)


def _oracle(probe, dim=DIM):
    """Brute force: among dim rows whose key the probe contains, the highest
    rank, then the smallest key; a full tie goes to the first such row in
    the dim's column order, NULLs last."""
    if probe is None:
        return None
    m = [r for r in set(dim) if r[1] in probe]
    if not m:
        return None
    top = max(r[0] for r in m)
    m = [r for r in m if r[0] == top]
    key = min(r[1] for r in m)
    return min((r for r in m if r[1] == key), key=lambda r: tuple(map(_none_last, r)))


def _enrich(fact, dim, payload=PAYLOAD, **kw):
    return enrich_top1_mapside(
        fact=fact,
        dim=dim,
        predicate=lambda probe, c: probe.contains(c["key"]),
        fact_probe_col="probe",
        rank_col="rank",
        payload_cols=list(payload),
        tiebreak_cols=["key"],
        out_prefix="m_",
        **kw,
    )


def _same(a, b) -> bool:
    return a == b or (isinstance(a, float) and isinstance(b, float) and a != a and b != b)


def test_enrich_mapside_literal_roundtrips_values_and_pins_full_ties(spark):
    """Every cell of the dim reaches the fact row unchanged through the
    literal (quotes, backslashes, newlines, non-ASCII, NULLs, 64-bit longs,
    extreme doubles and dates, microsecond timestamps), and the winner of a full tie on rank and
    every tie-break field is the one the NULLs-last row order puts first."""
    dim = spark.createDataFrame(DIM, DIM_SCHEMA)
    fact = spark.createDataFrame([(p,) for p in FACTS], "probe string")
    got = {r["probe"]: r for r in _enrich(fact, dim).collect()}
    assert set(got) == set(FACTS)
    for probe in FACTS:
        want = _oracle(probe)
        row = got[probe]
        cells = [row[f"m_{c}"] for c in PAYLOAD]
        assert all(map(_same, cells, want[1:] if want else [None] * len(PAYLOAD))), (probe, cells, want)
    # the full tie on (3, "a") is decided by payload order, NULL s last
    assert got["a b"]["m_s"] == "it's"


@pytest.mark.parametrize("copies", [2, 6])
def test_enrich_mapside_dedupes_a_repeating_dim_in_one_fetch(spark, copies):
    """A dim of 5 distinct rows repeated ``copies`` times, under
    ``max_dim_rows=10``, is accepted and enriches as the brute-force oracle
    says. 10 raw rows fit the cap: ONE job fetches them and the driver
    drops the repeats. 30 raw rows overflow it, so the fetch is repeated
    with distinct() and the guard counts the 5 distinct rows."""
    cols = [0, 1, 2, 4, 5, 6]  # no floating-point column: see the ±0.0 test
    rows = [tuple(r[i] for i in cols) for r in DIM[:5]]
    payload = [c for c in PAYLOAD if c != "d"]
    dim = local_df(spark, rows * copies, "rank long, key string, s string, dd date, l long, ts timestamp")
    fact = spark.createDataFrame([(p,) for p in FACTS], "probe string")
    sc = spark.sparkContext
    sc.setJobGroup("dim_fetch", "enrich dim fetch")
    try:
        out = _enrich(fact, dim, payload, max_dim_rows=10)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        sc.setJobGroup("", "")
    if copies == 2:
        assert len(sc.statusTracker().getJobIdsForGroup("dim_fetch")) == 1
    got = {r["probe"]: [r[f"m_{c}"] for c in payload] for r in out.collect()}
    for probe in FACTS:
        want = _oracle(probe, rows)
        assert got[probe] == (list(want[1:]) if want else [None] * len(payload)), probe
    assert got["a b"][1] == "it's"


def test_enrich_mapside_takes_signed_zeros_as_one_dim_row(spark):
    """distinct() takes -0.0 and 0.0 as one value, though their JSON
    differs, so a dim with a floating-point column is fetched through
    distinct(): one dim row, whose 0.0 wins, as it did before the
    one-job fetch."""
    dim = local_df(spark, [(1, "a", -0.0), (1, "a", 0.0)], "rank long, key string, d double")
    fact = spark.createDataFrame([("a",)], "probe string")
    (row,) = _enrich(fact, dim, payload=("d",)).collect()
    assert math.copysign(1.0, row["m_d"]) == 1.0


def _count_commands(spark, monkeypatch):
    """Count the Py4J commands the driver sends from now on. Object
    releases are left out: Python's garbage collector sends them whenever
    it happens to run, not on behalf of the call being measured."""
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    send = client.send_command

    def counted(command, *args, **kwargs):
        sent[0] += not command.startswith(release)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    return sent


def test_enrich_mapside_build_cost_is_independent_of_dim_size(spark, monkeypatch):
    """Building the plan sends as many Py4J commands for a 3,400-row dim
    (the Lichess openings size) as for a 10-row one, and the dim literal is
    folded: the optimized plan parses no JSON per row."""
    fact = spark.createDataFrame([("w1 w20",)], "probe string")

    def dim(n):
        return spark.range(n).select(
            F.col("id").alias("rank"),
            F.concat(F.lit("w"), F.col("id").cast("string")).alias("key"),
            F.lit(None).cast("string").alias("s"),
            (F.col("id") / 3).alias("d"),
            F.date_add(F.lit(dt.date(2000, 1, 1)), F.col("id").cast("int")).alias("dd"),
            (F.col("id") * 2**40).alias("l"),
            F.timestamp_micros(F.col("id")).alias("ts"),
        )

    _enrich(fact, dim(10))  # first use of the code path
    sent = _count_commands(spark, monkeypatch)
    counts = {}
    for n in (10, 3400):
        sent[0] = 0
        out = _enrich(fact, dim(n))
        counts[n] = sent[0]
    monkeypatch.undo()
    assert counts[3400] <= counts[10] + 20, counts

    plan = out._jdf.queryExecution().optimizedPlan().toJSON()
    assert "JsonToStructs" not in plan
    assert [(r["m_key"], r["m_l"]) for r in out.collect()] == [("w20", 20 * 2**40)]


def test_enrich_argmax_on_a_cold_jvm(tmp_path):
    """``__spark_entry__`` callers bring their own session: the flagship
    enrich query may run on the FIRST session of a fresh JVM, with none of
    the package's conf. Some HOF plan shapes over the dim (a crossJoin
    against an aggregated array) miscompile only there, so run it exactly
    that way and check it against brute force."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = ["red lace bored", "blue ace", "lace red", "tan", "old bored tan"]
    pq.write_table(
        pa.table({"p_partkey": pa.array(range(1, len(names) + 1), pa.int64()), "p_name": names}),
        tmp_path / "part.parquet",
    )
    words = {w for n in names for w in n.split(" ")}
    want = []
    for k, name in enumerate(names, 1):
        hits = [w for w in words if w in name]
        best = min(hits, key=lambda w: (-len(w), w))
        want.append([k, name, best, len(best)])

    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {str(_REPO)!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "import __spark_entry__ as m\n"
        f"rows = m.queries()['enrich_argmax'](spark, {str(tmp_path)!r}).collect()\n"
        "print(json.dumps(sorted([list(r) for r in rows])))\n"
        "spark.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=300, cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == want
