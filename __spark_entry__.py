"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The actual surface lives in the ``engine`` package (see SURVEY.md §2 for
the inventory); this module only adapts the registry to the driver
protocol.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from engine import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    fn, _ = registry.get("q_agg_group")
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL oracle per query key (omitted keys are
    non-SQL-expressible ops -> driver records a rows-only check)."""
    return registry.all_oracles()
