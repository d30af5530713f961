"""Training-pipeline composite invariants (engine/pipeline.py): split
leakage-freedom, sampling determinism, session gap bounds, packing
conservation, upsert classification, and connected-components
correctness vs a pure-Python union-find."""

from __future__ import annotations

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
