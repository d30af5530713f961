"""Seeded synthetic copies of the engine's ten input tables.

The engine's queries read a directory of ten Parquet files (see
FIXTURES.md for their schemas and value domains). The benchmark cannot
rely on any fixture outside its checkout, so it writes its own: same
column names, Parquet types and value domains, drawn once from a fixed
generator (``CONTENT_SEED``). The run seed only permutes each table's
rows, so every seed sees the same multiset of rows and the same work
in a different order. One pyarrow writer call per table, one row group
per file.

Row counts follow the fixture scale rules: star-schema tables and
``events`` scale linearly with ``sf``; ``documents`` and ``embeddings``
stay at 500 rows up to sf0.01 and grow to 5,000 / 2,000 at sf0.1.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

CONTENT_SEED = 20261016
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us) -> pa.Array:
    return pa.array(np.asarray(values_us, dtype=np.int64), type=pa.timestamp("us"))


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line, n_ev = 4 * n_ord, max(1000, int(1_000_000 * sf))
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500
    n_users = max(10, n_ev * 3 // 200)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US  # .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    l_ord = rng.integers(0, n_ord, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odate[l_ord] + rng.integers(1, 122, n_line) * _DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(ship),
    })
    # events: seconds-to-minutes spacing over 30 days, ids in time order
    gaps = rng.exponential(1.0, n_ev)
    ts = _EPOCH_2024 + 7_000_000 + np.cumsum(gaps / gaps.sum() * (30 * _DAY_US - 200_000_000)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.lognormal(3.55, 0.9, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lens]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels,
    })
    return t


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten tables at scale ``sf``, rows permuted by ``seed``,
    under ``out_dir``; reuse a complete earlier write of the same
    inputs."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng(seed)
    for name, table in _tables(sf, np.random.default_rng(CONTENT_SEED)).items():
        table = table.take(pa.array(order.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=table.num_rows)
    open(done, "w").close()
    return out_dir
