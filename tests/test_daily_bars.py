"""The integer-cent daily bar is written once: ``engine.crypto.daily_bars``
(and its ``day_index``) holds the cents, day-index, day-label and
open/close conventions for every daily technical-analysis key, and
``props_volume`` the integer trade volume parsed from ``props``. The
embedding arithmetic is written once too: ``engine.llm_ops`` ``vec``
(float -> double cast), ``vdot`` / ``vnorm`` (left-to-right double folds)
and ``qdist`` (the long squared distance).

A static guard keeps each of those expressions out of every other engine
function, except the sites listed in ``ALLOWED`` with the reason each
stays hand-written; a unit test pins ``daily_bars`` against a plain-Python
replay of hand-built ticks (``tests/test_vector_folds.py`` pins the folds)."""

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

# Canonical source (see ``_canon``) of each convention. Array arguments
# (``.+``), lambda parameter names (``\w+``) and the fold's zero are
# wildcards, so a renamed or re-typed copy still matches.
_ZERO = r"F\.lit\(0(?:\.0)?\)(?:\.cast\('\w+'\))?"
_SUM = _ZERO + r", lambda (?P<acc>\w+), (?P<el>\w+): (?P=acc) \+ (?P=el)\)"
_PAIR = r"F\.aggregate\(F\.zip_with\(.+, lambda (?P<x>\w+), (?P<y>\w+): "
PATTERNS = {
    "day_index": re.escape("F.unix_timestamp(F.date_trunc('day', 'ts')) / 86400"),
    "tick_struct": re.escape(
        "F.struct('ts'.alias('t'), 'event_id'.alias('e'), 'c'.alias('v'))"
    ),
    "props_volume": re.escape(
        r"""F.regexp_extract('props', '"k":\\s*([0-9]+)', 1).cast('long')"""
    ),
    "double_cast": r"F\.transform\(.+, lambda (?P<x>\w+): (?P=x)\.cast\('double'\)\)",
    "dot_fold": _PAIR + r"(?P=x) \* (?P=y)\), " + _SUM,
    "sq_dist_fold": _PAIR + r"\((?P=x) - (?P=y)\) \* \((?P=x) - (?P=y)\)\), " + _SUM,
    "norm_fold": r"F\.aggregate\(F\.transform\(.+, lambda (?P<x>\w+): "
    r"(?P=x)(?P<c>\.cast\('double'\))? \* (?P=x)(?P=c)?\), " + _SUM,
}

# (pattern, module file, function) -> why the expression is written there.
ALLOWED = {
    ("day_index", "crypto.py", "day_index"): "the helper itself",
    ("tick_struct", "crypto.py", "daily_bars"): "the helper itself",
    ("tick_struct", "crypto.py", "q_win_mfi"): "projects the props volume k between c and "
    "ts, and sums hi + lo + close inside one aggregate (tp3)",
    ("tick_struct", "crypto.py", "q_win_force_index"): "projects the props volume k after "
    "event_id",
    ("props_volume", "crypto.py", "props_volume"): "the helper itself",
    ("double_cast", "llm_ops.py", "vec"): "the helper itself",
    ("dot_fold", "llm_ops.py", "vdot"): "the helper itself",
    ("norm_fold", "llm_ops.py", "vnorm"): "the helper itself",
    ("sq_dist_fold", "llm_ops.py", "qdist"): "the helper itself",
    ("dot_fold", "llm_ops.py", "q_dedup_semdedup"): "an exact long dot of the quantized "
    "vectors from a long zero, compared with an integer threshold, not the double fold",
    ("norm_fold", "llm_ops.py", "q_multimodal_struct"): "squares x.cast('double') inside "
    "its one transform of the struct field; vnorm(vec(...)) adds a second transform",
    ("sq_dist_fold", "llm_ops.py", "q_embed_pq"): "the only double squared L2 (to a literal "
    "query); qdist is the long fold of the Lloyd assignments",
}


def _canon(node: ast.AST) -> str:
    """Source of ``node`` with formatting, quotes and ``F.col('x')``
    wrappers normalised away, so a reformatted copy still matches."""
    return re.sub(r"F\.col\(('[^']*')\)", r"\1", ast.unparse(node))


def _copies(tree: ast.AST):
    """Yield (pattern, enclosing function, line) for every expression in
    ``tree`` that matches one of ``PATTERNS``."""
    owner = {}
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for n in ast.walk(fn):
                owner[n] = fn.name  # innermost function wins: walked last
    for n in ast.walk(tree):
        if isinstance(n, (ast.BinOp, ast.Call)):
            text = _canon(n)
            for name, pattern in PATTERNS.items():
                if re.fullmatch(pattern, text):
                    yield name, owner.get(n), n.lineno


PROBE = r"""
def bars():
    return (F.unix_timestamp(F.date_trunc(
        'day', F.col('ts'))) / 86400,
            F.max(F.struct(F.col("ts").alias("t"), "event_id".alias("e"),
                           F.col("c").alias("v"))),
            F.regexp_extract(F.col("props"), r'"k":\s*([0-9]+)', 1).cast("long"))
def folds(u, w):
    return (F.transform(F.col("embedding"), lambda t: t.cast("double")),
            F.aggregate(F.zip_with(u, F.reverse(w), lambda p, q: p * q),
                        F.lit(0.0), lambda s, v: s + v),
            F.sqrt(F.aggregate(F.transform("emb", lambda t: t * t),
                               F.lit(0.0), lambda s, v: s + v)),
            F.aggregate(F.zip_with(u, w, lambda p, q: (p - q) * (p - q)),
                        F.lit(0).cast("long"), lambda s, v: s + v),
            F.aggregate(F.zip_with(u, w, lambda p, q: p + q), F.lit(0.0),
                        lambda s, v: s + v))
"""


def test_shared_conventions_live_in_one_helper():
    assert sorted(_copies(ast.parse(PROBE))) == [
        ("day_index", "bars", 3),
        ("dot_fold", "folds", 10),
        ("double_cast", "folds", 9),
        ("norm_fold", "folds", 12),
        ("props_volume", "bars", 7),
        ("sq_dist_fold", "folds", 14),
        ("tick_struct", "bars", 5),
    ]
    found, seen = [], set()
    for path in sorted(Path(engine.__file__).parent.glob("*.py")):
        for name, fn, line in _copies(ast.parse(path.read_text())):
            seen.add((name, path.name, fn))
            if (name, path.name, fn) not in ALLOWED:
                found.append(f"{path.name}:{line} {fn} {name}")
    assert not found, (
        "hand-written shared conventions, use daily_bars/day_index/props_volume "
        f"or vec/vdot/vnorm/vcos/qdist: {found}"
    )
    assert sorted(set(ALLOWED) - seen) == [], "allow-listed sites without a copy"


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
