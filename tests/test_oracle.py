"""Differential tests: every oracle-bearing query vs DuckDB at sf0.001
(fast smoke of the same protocol the driver runs at sf0.01; the full
sf0.01 sweep is tools/check.py, whose ``normalize``/``rows_equal``
comparator this test shares). SURVEY.md §5.2 primary strategy."""

from __future__ import annotations

import pytest

from engine.registry import all_oracles, all_queries

from tests.conftest import SF_SMOKE
from tools.check import normalize, rows_equal

# streaming keys are slow (many micro-batches) — covered by
# tests/test_streaming.py and tools/check.py, skipped in the fast sweep.
_SLOW = {k for k in all_queries() if k.startswith("q_stream")}

KEYS = sorted(k for k in all_queries() if k not in _SLOW)


@pytest.mark.parametrize("key", KEYS)
def test_query_matches_oracle(key, spark, duck):
    fn = all_queries()[key]
    sql = all_oracles().get(key)
    sdf = fn(spark, SF_SMOKE).toPandas()
    if sql is None:
        assert len(sdf) >= 0  # rows-only contract: runs and is well-formed
        return
    odf = duck.execute(sql).fetchdf()
    assert len(sdf) == len(odf), f"rowcount {len(sdf)} != {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    sr, orr = (list(normalize(d).itertuples(index=False, name=None)) for d in (sdf, odf))
    bad = [(i, a, b) for i, (a, b) in enumerate(zip(sr, orr)) if not rows_equal(a, b)]
    assert not bad, f"{len(bad)} rows differ; first: {bad[0]}"
