"""Training-pipeline composite invariants (engine/pipeline.py): split
leakage-freedom, sampling determinism, session gap bounds, packing
conservation, upsert classification, and connected-components
correctness vs a pure-Python union-find."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.registry import all_queries
from tests.conftest import SF_SMOKE


def test_split_duplicates_never_cross_splits(spark):
    """Content-addressed split => byte-identical texts share a split,
    so exact dups cannot leak train->test; fractions are sane."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    split = all_queries()["q_split_hash"](spark, SF_SMOKE)
    leaks = (
        split.join(docs, "doc_id")
        .groupBy("text")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert leaks == 0
    frac = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(frac.values())
    assert 0.6 < frac.get("train", 0) / total < 0.95


def test_stratified_sample_deterministic_and_stratified(spark):
    q = all_queries()["q_sample_stratified"]
    a = {r["doc_id"] for r in q(spark, SF_SMOKE).collect()}
    b = {r["doc_id"] for r in q(spark, SF_SMOKE).collect()}
    assert a == b and a  # reproducible, non-empty
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_en = docs.filter(F.col("lang") == "en").count()
    k_en = q(spark, SF_SMOKE).filter(F.col("lang") == "en").count()
    if n_en >= 50:  # expect ~10% of the majority stratum
        assert 0.02 < k_en / n_en < 0.25


def test_sessions_respect_gap(spark):
    """No session spans a >30-min internal silence; sessions of one
    user never overlap in time."""
    s = all_queries()["q_sessionize"](spark, SF_SMOKE).collect()
    by_user: dict[int, list] = {}
    for r in s:
        assert r["session_end_us"] >= r["session_start_us"]
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: r["session_start_us"])
        for prev, cur in zip(rows, rows[1:]):
            # consecutive sessions are separated by more than the gap
            assert cur["session_start_us"] - prev["session_end_us"] > 1800 * 1_000_000


def test_packing_conserves_tokens_and_is_contiguous(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "source", F.size(F.split("text", " ")).alias("toks")
    )
    truth = {
        r["source"]: r["t"]
        for r in docs.groupBy("source").agg(F.sum("toks").alias("t")).collect()
    }
    packed = all_queries()["q_pack_sequences"](spark, SF_SMOKE).collect()
    by_src: dict[str, list] = {}
    for r in packed:
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        assert sum(r["seq_tokens"] for r in rows) == truth[src]  # no token lost
        ids = sorted(r["seq_id"] for r in rows)
        assert ids == list(range(ids[-1] + 1))  # chunk ids contiguous from 0


def test_upsert_actions_partition_the_keyspace(spark):
    base = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    n, n_upd, n_ins = (
        base.count(),
        base.filter(F.col("o_orderkey") % 10 == 0).count(),
        base.filter(F.col("o_orderkey") % 97 == 0).count(),
    )
    got = {
        r["action"]: r["c"]
        for r in all_queries()["q_merge_upsert"](spark, SF_SMOKE)
        .groupBy("action")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got.get("update", 0) == n_upd
    assert got.get("insert", 0) == n_ins
    assert got.get("keep", 0) == n - n_upd


def test_cluster_matches_union_find(spark):
    """Spark label propagation == pure-Python union-find over the same
    edge set (exact transitive closure)."""
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in all_queries()["q_dedup_jaccard"](spark, SF_SMOKE).collect()
    ]
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in all_queries()["q_dedup_cluster"](spark, SF_SMOKE).collect()
    }
    parent: dict[int, int] = {d: d for d in got}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in got}
    # canonical label = min member, which union-by-min preserves
    assert got == want


def test_scd2_intervals_partition_time(spark):
    """SCD2 invariants beyond the oracle hash: per user, exactly one
    current version; intervals are non-overlapping, gap-free, and
    chained (each eff_to equals the next eff_from)."""
    from engine.registry import all_queries

    rows = all_queries()["q_scd2"](spark, SF_SMOKE).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r["eff_from"])
        currents = [v for v in vs if v["is_current"]]
        assert len(currents) == 1, (user, currents)
        assert vs[-1]["is_current"] and vs[-1]["eff_to"] is None
        for a, b in zip(vs, vs[1:]):
            assert a["eff_to"] == b["eff_from"], (user, a, b)


def test_pagerank_matches_power_iteration(spark):
    """The distributed PageRank must equal a single-process power
    iteration over the same edge list (same rounds, same damping) to
    float tolerance — the exactness guarantee for the iterative path."""
    from collections import defaultdict

    from engine.llm_ops import q_embed_knn
    from engine.pipeline import pagerank

    edges = [
        (r["vec_id"], r["neighbor_id"])
        for r in q_embed_knn(spark, SF_SMOKE).select("vec_id", "neighbor_id").collect()
    ]
    nodes = sorted({v for e in edges for v in e})
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    rank = {n: 1.0 for n in nodes}
    for _ in range(5):
        in_sum = defaultdict(float)
        for s, t in edges:
            in_sum[t] += rank[s] / outdeg[s]
        rank = {n: 0.15 + 0.85 * in_sum[n] for n in nodes}

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    edf = spark.createDataFrame(edges, "vec_id long, neighbor_id long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            e.select("vec_id", "label"), edf, "vec_id", "label", rounds=5
        ).collect()
    }
    assert set(got) == set(r["vec_id"] for r in e.select("vec_id").collect())
    for n in nodes:
        assert abs(got[n] - rank[n]) < 1e-6, (n, got[n], rank[n])
    # nodes with no in-links sit at the damping floor
    sinks = set(got) - set(nodes) | {n for n in nodes if n not in {t for _, t in edges}}
    for n in sinks:
        assert abs(got[n] - 0.15) < 1e-9


# Two blocks: in "a", node 3 has out-edges but no in-edges and node 4
# has no edges at all; "b" is a 2-cycle.
_BLOCK_NODES = [(1, "a"), (2, "a"), (3, "a"), (4, "a"), (10, "b"), (11, "b")]
_BLOCK_EDGES = [(1, 2), (2, 1), (3, 1), (3, 2), (10, 11), (11, 10)]


def test_pagerank_blocks_match_integer_replay(spark):
    """Each block's ranks equal a pure-Python replay of the exact
    integer recurrence; edgeless and in-edge-free nodes sit at the
    teleport floor, and every node keeps a row."""
    from engine.pipeline import pagerank

    nodes = spark.createDataFrame(_BLOCK_NODES, "id long, blk string")
    edges = spark.createDataFrame(_BLOCK_EDGES, "src long, dst long")
    got = {
        r["node"]: r["qr"]
        for r in pagerank(nodes, edges, "id", "blk", rounds=5).collect()
    }
    scale, teleport = 10**12, 15 * 10**10
    outdeg: dict[int, int] = {}
    for s, _ in _BLOCK_EDGES:
        outdeg[s] = outdeg.get(s, 0) + 1
    qr = {n: scale for n, _ in _BLOCK_NODES}
    for _ in range(5):
        in_sum = dict.fromkeys(qr, 0)
        for s, t in _BLOCK_EDGES:
            in_sum[t] += qr[s] // outdeg[s]
        qr = {n: teleport + (85 * in_sum[n]) // 100 for n in qr}
    assert got == qr
    assert got[3] == got[4] == teleport
    assert got[10] == got[11] == scale


def test_pagerank_rejects_broken_preconditions(spark):
    """An edge leaving its block, or a block too large for int64
    pico-unit ranks, must fail loudly when the frame runs, never rank
    silently."""
    from pyspark.errors import PythonException

    from engine.pipeline import pagerank

    nodes = spark.createDataFrame(_BLOCK_NODES, "id long, blk string")
    edges = spark.createDataFrame(_BLOCK_EDGES + [(1, 10)], "src long, dst long")
    with pytest.raises(PythonException, match="ValueError: pagerank: edge dst 10"):
        pagerank(nodes, edges, "id", "blk").collect()
    big = spark.range(110_000).select("id", F.lit("a").alias("blk"))
    none = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(PythonException, match="past the int64 rank bound"):
        pagerank(big, none, "id", "blk").collect()
