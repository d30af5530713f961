"""Simulate the driver harness: vanilla SparkSession (no engine configs),
import __spark_entry__, smoke entry(), then differential-check a sample.

The sample = a fixed cross-family anchor set + the keys passed on the
command line. Pass every key a change adds or plan-rewrites: sampling
only the fixed set once let a driver-red output shape ship despite a
"242/242" local sweep. Oracle-checked keys also run the complex-output
gate (driver's canonicalizer crashes on array/map/struct cells).

Usage: python tools/driver_sim.py [changed_key ...]
"""
import importlib.util
import os
import sys

import duckdb
from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Same row normalization as the hardened checker: floats rounded before
# keying the sort, so cross-engine rounding noise can't misalign rows.
from tools.check import (  # noqa: E402
    assert_scale_knobs_unset, complex_cols, decimal_cols, normalize, rows_equal,
)

# ADVICE r8 (low): a grading/sealing session must run the DEFAULT
# exact paths — fail loudly if any scale-cutover knob leaked into the
# environment. ADVICE r9 (low): knob list + RuntimeError guard now
# live in ONE place (tools/check.py) so both gates stay in sync.
assert_scale_knobs_unset("a driver-sim run")


spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()

# 1. smoke: entry()
df = mod.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={df.schema.simpleString()}")
assert len(rows) > 0

# 2. correctness sample at sf0.01 (same protocol as driver)
qs, os_ = mod.queries(), mod.oracle_sql()
print(f"queries={len(qs)} oracles={len(os_)}")
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('/root/testdata/sf0.01/{t}.parquet')")
# fixed sample spans every family in the driver's graded window:
# relational/window anchors, scalar-fn tail, UDF surface, LLM ops,
# domain composites, and (rows-only) streaming + UDTF on the vanilla
# session — exactly where missing engine confs would surface.
sample = [
    "q_agg_group", "q_join_asof", "q_win_range_frame", "q_project",
    "q_agg_rollup", "q_agg_collect", "q_win_ntile", "q_fn_json",
    "q_fn_cast", "q_udf_pandas_scalar", "q_udf_grouped_map",
    "q_dedup_jaccard", "q_tokenize", "q_bars_ohlcv",
]
rows_only_sample = ["q_udtf", "q_dedup_minhash", "q_stream_tumbling", "q_stream_stateful"]
for k in sys.argv[1:]:
    if k not in qs:
        print(f"{k}: not registered yet — skipping")
        continue
    (sample if k in os_ else rows_only_sample).append(k)
seen = set()
for k in rows_only_sample:
    if k in seen:
        continue
    seen.add(k)
    n = qs[k](spark, "/root/testdata/sf0.01").count()
    assert n >= 0
    print(f"{k}: ran on vanilla session ({n} rows)")
for k in sample:
    if k in seen:
        continue
    seen.add(k)
    sdf = qs[k](spark, "/root/testdata/sf0.01").toPandas()
    cc = complex_cols(sdf)
    assert not cc, (k, f"driver-unhashable output columns {cc}")
    odf = con.execute(os_[k]).fetchdf()
    dc = decimal_cols(sdf) + [c + " (oracle)" for c in decimal_cols(odf)]
    assert not dc, (k, f"Decimal cells fail the driver's exact hash {dc}")
    assert len(sdf) == len(odf), (k, len(sdf), len(odf))
    assert sorted(sdf.columns) == sorted(odf.columns), k
    a, b = normalize(sdf), normalize(odf)
    for i, (ra, rb) in enumerate(
        zip(a.itertuples(index=False, name=None), b.itertuples(index=False, name=None))
    ):
        assert rows_equal(ra, rb), (k, i, ra, rb)
    print(f"{k}: OK ({len(sdf)} rows)")
print("DRIVER-SIM PASS")
