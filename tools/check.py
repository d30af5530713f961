"""Local differential checker mimicking the driver's correctness gate.

For each registered query: run the Spark DataFrame and the DuckDB oracle
at the given sf_dir, then compare row count, sorted column names, and
order-insensitive values (columns sorted by name, rows sorted by all
columns). Exact comparison for non-floats; floats must match to 1e-9
after both engines' own rounding — queries are expected to round.

Usage: python tools/check.py [sf_dir] [key ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.io import TABLES  # noqa: E402
from engine.registry import all_oracles, all_queries  # noqa: E402
from engine.session import get_spark  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if v is None:
            return None
        if isinstance(v, float) and math.isnan(v):
            return None
        if isinstance(v, (list, tuple)):
            return tuple(norm_cell(x) for x in v)
        import numpy as np

        if isinstance(v, np.ndarray):
            return tuple(norm_cell(x) for x in v.tolist())
        if isinstance(v, np.generic):
            return norm_cell(v.item())
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        return v

    # object dtype so None stays None (float64 columns coerce None->NaN)
    out = pd.DataFrame(
        {c: pd.Series([norm_cell(v) for v in df[c]], dtype=object) for c in df.columns}
    )
    def sort_repr(v):
        # Floats are rounded before keying so engine rounding noise
        # (0.3 vs 0.30000000000000004) cannot reorder rows relative to
        # their cross-engine counterparts and misalign the zip compare.
        if isinstance(v, float):
            # v == 0 folds -0.0 to +0.0: the engines disagree on the
            # sign of a rounded-to-zero result, and "-0.000000e+00" vs
            # "0.000000e+00" would misalign rows that compare equal.
            return f"{round(v, 6) + 0.0:.6e}" if v == 0 else f"{round(v, 6):.6e}"
        if isinstance(v, tuple):
            return "(" + ",".join(sort_repr(x) for x in v) + ")"
        return str(v)

    rows = sorted(
        out.itertuples(index=False, name=None),
        key=lambda r: tuple((x is None, sort_repr(x)) for x in r),
    )
    return pd.DataFrame(rows, columns=out.columns)


def rows_equal(a: tuple, b: tuple) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x is None and y is None:
            continue
        if x is None or y is None:
            return False
        if isinstance(x, float) or isinstance(y, float):
            try:
                fx, fy = float(x), float(y)
                if math.isnan(fx) and math.isnan(fy):
                    continue
                if not math.isclose(fx, fy, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            except (TypeError, ValueError):
                return False
        elif isinstance(x, tuple) and isinstance(y, tuple):
            if not rows_equal(x, y):
                return False
        else:
            if str(x) != str(y):
                return False
    return True


def complex_cols(df: pd.DataFrame) -> list[str]:
    """Columns whose cells the DRIVER's canonicalizer cannot hash.

    The driver pandas-lexsorts raw cells; ndarray/list/dict cells raise
    ``TypeError: unhashable type`` there (q_embed_quantize's r04 ERR).
    Our own ``normalize`` tuple-izes them, which made the local sweep a
    WEAKER gate than the driver — so oracle-checked keys must not emit
    complex columns at all (string-join arrays: q_agg_collect pattern).
    """
    import numpy as np

    out = []
    for c in df.columns:
        if df[c].dtype.kind != "O":
            continue
        # scan EVERY cell, not just the first non-null: a column whose
        # first value is scalar but later cells are lists must not slip
        # through (the schema-level guard catches declared array types,
        # but object columns from Python sources carry no declaration)
        for v in df[c]:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            if isinstance(v, (list, tuple, dict, set, np.ndarray)):
                out.append(c)
                break
    return out


def decimal_cols(df: pd.DataFrame) -> list[str]:
    """Columns holding ``decimal.Decimal`` cells — forbidden on
    oracle-checked keys.

    The driver hashes EXACT values: a Spark column that parses
    ``x / 100.0`` as DECIMAL yields ``Decimal('293321.580000')`` cells
    while DuckDB's division yields float64 ``293321.58`` — different
    values to an exact canonicalizer even though our float-tolerant
    compare (and a ``float()`` coercion) sees them as equal. That
    parity hole shipped q_sql_api's r05 hash-FAIL. Any Decimal output
    means a missing explicit cast: ``CAST(... AS DOUBLE)`` (one IEEE
    op, bit-equal across engines) or BIGINT cents.
    """
    import decimal

    out = []
    for c in df.columns:
        if df[c].dtype.kind != "O":
            continue
        for v in df[c]:
            if isinstance(v, decimal.Decimal):
                out.append(c)
                break
    return out


def check_one(spark, con, key: str, fn, sql: str | None, sf_dir: str) -> tuple[bool, str]:
    t0 = time.time()
    sdf = fn(spark, sf_dir).toPandas()
    t_spark = time.time() - t0
    if sql is None:
        return True, f"rows-only: {len(sdf)} rows ({t_spark:.1f}s)"
    cc = complex_cols(sdf)
    if cc:
        return False, (
            f"COMPLEX OUTPUT {cc}: driver canonicalizer crashes on "
            "unhashable array/map/struct cells — string-join instead"
        )
    odf = con.execute(sql).fetchdf()
    dc = decimal_cols(sdf) + [c + " (oracle)" for c in decimal_cols(odf)]
    if dc:
        return False, (
            f"DECIMAL OUTPUT {dc}: exact-value driver hash sees "
            "Decimal != float64 (q_sql_api r05) — CAST(... AS DOUBLE) "
            "or emit BIGINT cents"
        )
    if len(sdf) != len(odf):
        return False, f"ROWCOUNT spark={len(sdf)} oracle={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"SCHEMA spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    # int-vs-float dtype drift (e.g. DuckDB HUGEINT -> float64) passes
    # the tolerant value compare here but can fail the external
    # driver's canonicalizer (r01's only red row was this class).
    # A float column WITH nulls is legit (nullable ints widen), so only
    # null-free float-vs-int pairs are hard drift.
    for c in sdf.columns:
        ks, ko = sdf[c].dtype.kind, odf[c].dtype.kind
        if {ks, ko} == {"i", "f"}:
            fcol = sdf[c] if ks == "f" else odf[c]
            if not fcol.isna().any():
                return False, (
                    f"DTYPE {c}: spark={sdf[c].dtype} oracle={odf[c].dtype} "
                    "(null-free float vs int — add an explicit cast)"
                )
    ns, no = normalize(sdf), normalize(odf)
    srows = list(ns.itertuples(index=False, name=None))
    orows = list(no.itertuples(index=False, name=None))
    bad = 0
    first = None
    for i, (ra, rb) in enumerate(zip(srows, orows)):
        if not rows_equal(ra, rb):
            bad += 1
            if first is None:
                first = (i, ra, rb)
    if bad:
        return False, f"VALUES {bad}/{len(srows)} rows differ; first @{first[0]}:\n  spark ={first[1]}\n  oracle={first[2]}"
    return True, f"match: {len(sdf)} rows ({t_spark:.1f}s)"


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and args[0].startswith("/"):
        sf_dir = args.pop(0)
    queries = all_queries()
    oracles = all_oracles()
    if args == ["llm"]:
        # LLM-ops sweep (use with sf0.1: near-dup/similarity plans only
        # stress at a scale where documents/embeddings exceed 500 rows)
        args = [k for k in queries if k.split("_")[1] in
                ("dedup", "sim", "text", "multimodal", "tokenize")]
    keys = args or sorted(queries)
    if os.environ.get("CHECK_VANILLA"):
        # simulate the external driver: bare session, none of the
        # engine confs — load_table's tune() must supply everything
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]").appName("check-vanilla")
            # console-progress \r fragments splice into per-key lines
            # (VERDICT r12); a driver-console cosmetic, not an
            # engine-relied conf — the vanilla simulation stays honest
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("check")
    con = duck_con(sf_dir)
    failed = []
    for key in keys:
        if key not in queries:
            print(f"{key}: UNKNOWN KEY")
            failed.append(key)
            continue
        try:
            ok, msg = check_one(spark, con, key, queries[key], oracles.get(key), sf_dir)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION {type(e).__name__}: {e}"
        status = "OK " if ok else "FAIL"
        print(f"[{status}] {key}: {msg}")
        if not ok:
            failed.append(key)
    print(f"\n{len(keys) - len(failed)}/{len(keys)} passed")
    if failed:
        print("failed:", " ".join(failed))
        sys.exit(1)


if __name__ == "__main__":
    main()
