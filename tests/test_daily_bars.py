"""The integer-cent daily bar is written once: ``engine.crypto.daily_bars``
(and its ``day_index``) holds the cents, day-index, day-label and
open/close conventions for every daily technical-analysis key.

A static guard keeps the day-index expression and the (ts, event_id, c)
tick struct out of every other engine function, except the sites listed
in ``STRUCT_KEPT`` with the reason each stays hand-written; a unit test
pins the helper against a plain-Python replay of hand-built ticks."""

from __future__ import annotations

import ast
import math
import re
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

import engine
from engine.crypto import daily_bars

DAY_INDEX = "F.unix_timestamp(F.date_trunc('day', 'ts')) / 86400"
TICK_STRUCT = "F.struct('ts'.alias('t'), 'event_id'.alias('e'), 'c'.alias('v'))"

DAY_INDEX_OWNERS = {("crypto.py", "day_index")}
# (module file, function) -> why the tick struct is written there by hand.
STRUCT_KEPT = {
    ("crypto.py", "daily_bars"): "the helper itself",
    ("crypto.py", "q_win_mfi"): "projects the props volume k between c and ts, "
    "and sums hi + lo + close inside one aggregate (tp3)",
    ("crypto.py", "q_win_force_index"): "projects the props volume k after event_id",
}


def _canon(node: ast.AST) -> str:
    """Source of ``node`` with formatting, quotes and ``F.col('x')``
    wrappers normalised away, so a reformatted copy still matches."""
    return re.sub(r"F\.col\(('[^']*')\)", r"\1", ast.unparse(node))


def _copies(tree: ast.AST):
    """Yield (pattern, enclosing function, line) for every day-index
    expression and every tick struct in ``tree``."""
    owner = {}
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for n in ast.walk(fn):
                owner[n] = fn.name  # innermost function wins: walked last
    for n in ast.walk(tree):
        if isinstance(n, (ast.BinOp, ast.Call)):
            text = _canon(n)
            for name, pattern in (("day_index", DAY_INDEX), ("tick_struct", TICK_STRUCT)):
                if text == pattern:
                    yield name, owner.get(n), n.lineno


def test_bar_conventions_live_in_one_helper():
    probe = ast.parse(
        "def f():\n"
        "    return (F.unix_timestamp(F.date_trunc(\n        'day', F.col('ts'))) / 86400,\n"
        '            F.max(F.struct(F.col("ts").alias("t"), "event_id".alias("e"),\n'
        '                           F.col("c").alias("v"))))\n'
    )
    assert sorted(_copies(probe)) == [("day_index", "f", 2), ("tick_struct", "f", 4)]
    found = []
    for path in sorted(Path(engine.__file__).parent.glob("*.py")):
        for name, fn, line in _copies(ast.parse(path.read_text())):
            allowed = DAY_INDEX_OWNERS if name == "day_index" else STRUCT_KEPT
            if (path.name, fn) not in allowed:
                found.append(f"{path.name}:{line} {fn} {name}")
    assert not found, f"hand-written bar conventions, use daily_bars/day_index: {found}"


def _utc(*ymdhms: int) -> int:
    return int(datetime(*ymdhms, tzinfo=timezone.utc).timestamp())


# (event_id, epoch seconds, event_type, value)
TICKS = [
    # equal timestamps: close is the larger event_id, open the smaller
    (7, _utc(2024, 3, 1, 12, 0, 0), "tie", 1.0),
    (3, _utc(2024, 3, 1, 12, 0, 0), "tie", 2.0),
    # sub-cent and negative values floor to cents (234 and -2)
    (1, _utc(2024, 3, 1, 23, 59, 59), "edge", 2.349),
    (2, _utc(2024, 3, 2, 0, 0, 0), "edge", -0.015),
    (5, _utc(2024, 3, 2, 0, 0, 0), "edge", 0.5),
]


def _expected(day: bool) -> list[tuple]:
    groups: dict[tuple, list] = {}
    for eid, secs, et, value in TICKS:
        di = secs // 86400
        label = datetime.fromtimestamp(di * 86400, timezone.utc).strftime("%Y-%m-%d")
        key = (et, di, label) if day else (et, di)
        groups.setdefault(key, []).append(((secs, eid), math.floor(value * 100)))
    rows = []
    for key, ticks in groups.items():
        cents = [c for _, c in ticks]
        first, last = min(ticks)[1], max(ticks)[1]
        rows.append((*key, last, first, max(cents), min(cents), sum(cents)))
    return sorted(rows)


def test_daily_bars_matches_python_replay(spark):
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("secs", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    ev = spark.createDataFrame(TICKS, schema).select(
        "event_id", F.timestamp_seconds("secs").alias("ts"), "event_type", "value"
    )
    for day in (True, False):
        out = daily_bars(ev, "cl", "op", "hi", "lo", day=day, cents=F.sum("c").cast("long"))
        keys = ["event_type", "di", "day"] if day else ["event_type", "di"]
        assert out.columns == [*keys, "cl", "op", "hi", "lo", "cents"]
        got = sorted(tuple(r) for r in out.collect())
        assert got == _expected(day)
    # the 23:59:59 and 00:00:00 ticks land on consecutive days, and the
    # tie is broken by event_id in both directions
    assert [r[1:] for r in _expected(True) if r[0] == "edge"] == [
        (19783, "2024-03-01", 234, 234, 234, 234, 234),
        (19784, "2024-03-02", 50, -2, 50, -2, 48),
    ]
    assert [r[3:5] for r in _expected(True) if r[0] == "tie"] == [(100, 200)]
