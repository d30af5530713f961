"""Query registry: the single source of truth for the engine surface.

Every operator from SURVEY.md §2 registers here as a named query
``(spark, sf_dir) -> DataFrame`` plus, where ANSI-SQL-expressible, a
DuckDB oracle SQL string. ``__spark_entry__.py`` simply re-exports
:func:`all_queries` / :func:`all_oracles` to the driver harness.

Contract details (driver protocol, __spark_entry__.py docstring):
- output column names must match between Spark and oracle (the compare
  sorts columns by name before hashing) — every computed column is
  ``.alias``-ed identically on both sides;
- outputs are made deterministic (sorted arrays, tie-broken top-k) and
  cross-engine-stable (rounded doubles, DATE/epoch instead of raw
  timestamps — SURVEY.md §7 risk register);
- a float column that can round to ZERO must fold the IEEE zero sign
  (``round(x, n) + 0.0`` on BOTH sides): the engines disagree on the
  sign of a rounded-to-zero result, and ``-0.0`` vs ``0.0`` compare
  equal but serialize/sort differently (found via q_embed_centroids);
- nondeterministically-ordered float aggregation (plain ``avg``/``sum``
  over partials) must not feed ``round`` directly — rounding amplifies
  1-ulp order noise into visible diffs; aggregate exact integers (see
  q_embed_centroids' quantize-then-average) or pin the fold order
  (q_win_ewma's sorted-array ``aggregate``);
- quantized-integer sums must be SIZED against their unit: ANSI Spark
  throws on int64 overflow (DuckDB's BIGINT cast too), so any sum
  whose addends can exceed ~1e17 (squared-cents terms, anything
  beyond linear cents) must aggregate in decimal(38,0) / HUGEINT and
  cast to double only for final ratios (q_stats_anova's per-group
  cents² terms hit 6.3e18 at sf0.1 — caught by the r10 full-registry
  sf0.1 snapshot; linear cents sums have ≥1e5× headroom);
- daily bars over ticks (integer cents, UTC day index, ``yyyy-MM-dd``
  label, (ts, event_id) open/close) come from
  ``engine.crypto.daily_bars`` / ``day_index``, whose docstring holds
  those conventions;
- embedding arithmetic (the float -> double cast and the left-to-right
  double dot / norm folds from ``0.0``) comes from ``engine.llm_ops``
  ``vec`` / ``vdot`` / ``vnorm`` / ``vcos``, whose docstrings hold it.
"""

from __future__ import annotations

import functools
import json
import os
import re
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query (and optional DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        assert key not in _QUERIES, f"duplicate query key {key}"
        _QUERIES[key] = fn
        if oracle is not None:
            _ORACLES[key] = oracle
        return fn

    return deco


def _ensure_loaded() -> None:
    import engine

    engine.load_all()


# Driver-facing key order. The external correctness harness grades the
# FIRST 50 keys of ``queries()`` each round and leaves its rows in
# ``CORRECTNESS_r{N}.json`` beside the package. Keys are ordered by
# staleness so every window goes where evidence is oldest: keys no
# artifact has graded first, then by the last round that graded them,
# oldest first; ties keep registration order. With no artifacts (the
# package imported from elsewhere) this is registration order.
_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")


@functools.cache
def _last_graded() -> dict[str, int]:
    """The last round whose CORRECTNESS artifact holds a row for each key."""
    import engine

    last: dict[str, int] = {}
    for name in os.listdir(engine.ROOT):
        m = _ARTIFACT.fullmatch(name)
        if m:
            with open(os.path.join(engine.ROOT, name)) as fh:
                for key in json.load(fh):
                    last[key] = max(last.get(key, 0), int(m[1]))
    return last


def _ordered(d: dict[str, Any]) -> dict[str, Any]:
    last = _last_graded()
    return {k: d[k] for k in sorted(d, key=lambda k: last.get(k, -1))}


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return _ordered(_QUERIES)


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return _ordered(_ORACLES)


def get(key: str) -> tuple[QueryFn, str | None]:
    _ensure_loaded()
    return _QUERIES[key], _ORACLES.get(key)
