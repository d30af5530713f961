"""The embedding folds of ``engine.llm_ops`` (``vec``, ``vdot``, ``vnorm``,
``vcos``, ``qdist``) against a plain-Python left-to-right fold on a
hand-built frame: the behaviour any replacement kernel must reproduce.

- the sum runs left to right from ``0.0``, so ``[1e16, 1, -1e16, 1]``
  dotted with ones is ``1.0`` (a pairwise or reordered sum loses a 1);
- an empty pair folds to ``0.0``;
- ragged arrays and an array holding a NULL fold to NULL (``zip_with``
  pads the shorter side with NULL);
- ``vec`` widens float32 exactly: ``0.1`` becomes ``0.10000000149011612``.
"""

from __future__ import annotations

import math
from itertools import zip_longest

from pyspark.sql.types import ArrayType, DoubleType, FloatType, LongType, StructField, StructType

from engine.llm_ops import qdist, vcos, vdot, vec, vnorm

# (id, a, b) as double arrays
PAIRS = [
    (1, [1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]),
    (2, [], []),
    (3, [1.0, 2.0], [1.0]),
    (4, [1.0, None], [1.0, 1.0]),
    (5, [0.1, 0.2, 0.3], [0.4, -0.5, 0.6]),
]


def _fold(terms):
    """Left-to-right sum from 0.0; NULL once any term is NULL."""
    acc = 0.0
    for t in terms:
        if t is None:
            return None
        acc = acc + t
    return acc


def _py_dot(a, b):
    return _fold(None if x is None or y is None else x * y for x, y in zip_longest(a, b))


def _py_norm(a):
    s = _fold(None if x is None else x * x for x in a)
    return None if s is None else math.sqrt(s)


def _py_cos(a, b):
    d, na, nb = _py_dot(a, b), _py_norm(a), _py_norm(b)
    return None if None in (d, na, nb) else d / (na * nb)


def test_vector_folds_match_python_left_fold(spark):
    arr = ArrayType(DoubleType())
    schema = StructType(
        [StructField("id", LongType()), StructField("a", arr), StructField("b", arr)]
    )
    df = spark.createDataFrame(PAIRS, schema)
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            vdot("a", "b").alias("dot"),
            vnorm("a").alias("norm"),
            vdot(vec("a"), "b").alias("dot_vec"),
        ).collect()
    }
    # the empty pair's cosine is 0 / 0, which ANSI mode raises on
    cos = dict(df.filter("id != 2").select("id", vcos("a", "b")).collect())
    for i, a, b in PAIRS:
        assert got[i]["dot"] == _py_dot(a, b), i
        assert got[i]["dot_vec"] == _py_dot(a, b), i
        assert got[i]["norm"] == _py_norm(a), i
        assert i == 2 or cos[i] == _py_cos(a, b), i
    # the cases the docstring names, spelled out
    assert got[1]["dot"] == 1.0
    assert got[2]["dot"] == 0.0 and got[2]["norm"] == 0.0
    assert got[3]["dot"] is None and got[4]["dot"] is None
    assert got[4]["norm"] is None


def test_vec_widens_float32_and_qdist_is_exact(spark):
    schema = StructType(
        [
            StructField("f", ArrayType(FloatType())),
            StructField("p", ArrayType(LongType())),
            StructField("q", ArrayType(LongType())),
        ]
    )
    row = spark.createDataFrame([([0.1, -2.5], [3, -1, 7], [1, 4, 7])], schema).select(
        vec("f").alias("w"),
        vdot(vec("f"), vec("f")).alias("ff"),
        qdist("p", "q").alias("d"),
    ).head()
    assert row["w"] == [0.10000000149011612, -2.5]
    assert row["ff"] == _fold([0.10000000149011612**2, 6.25])
    assert row["d"] == 4 + 25 + 0
    assert isinstance(row["d"], int)
