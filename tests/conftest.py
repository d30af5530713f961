from __future__ import annotations

import contextlib
import io
import os
import sys
from dataclasses import dataclass

import duckdb
import pytest
from pyspark.sql.types import StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.io import TABLES  # noqa: E402
from engine.registry import all_queries  # noqa: E402
from engine.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"

# Streaming keys run a full micro-batch replay when built, so `builds`
# leaves them out; their semantics are covered by the oracle sweep and
# tests/test_streaming.py.
STREAM_PREFIX = "q_stream_"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con


@dataclass(frozen=True)
class Build:
    """What one registry key's frame showed right after it was built."""

    schema: StructType
    plan: str  # explain("formatted") text


@pytest.fixture(scope="session")
def builds(spark) -> dict[str, Build]:
    """Every non-streaming key built once at ``SF_SMOKE``, in registry
    order, without execution. Schema and plan text are read right after
    each build and no frame is kept: a later dedup key's build unpersists
    an earlier one's inputs (``engine/llm_ops.py:_release_previous``),
    which would change that earlier frame's plan text."""
    out: dict[str, Build] = {}
    for key, fn in all_queries().items():
        if key.startswith(STREAM_PREFIX):
            continue
        df = fn(spark, SF_SMOKE)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out[key] = Build(schema=df.schema, plan=buf.getvalue())
    return out
