"""Training-data pipeline composites (SURVEY.md §2.11 extension, r2).

The operations a 100 TB LLM training-data pipeline runs *after* the
per-document operators in :mod:`engine.llm_ops`: deterministic
train/val/test splitting, stratified downsampling, near-dup cluster
resolution (pairs -> connected components -> canonical doc),
token-budget sequence packing, gap-based sessionization, and CDC-style
upsert merge. All are pure DataFrame compositions; the one genuinely
iterative algorithm (connected components) is a bounded label-
propagation loop whose per-round work is a single shuffle join.

Cross-engine determinism: random choices (splits, samples) are
content-addressed via md5 hex buckets — ``conv(substring(md5(x),1,8),
16,10) % 100`` in Spark equals ``CAST('0x' || ...) % 100`` in DuckDB
bit-for-bit (verified in tests), so every "random" decision is
reproducible, shard-stable, and oracle-checkable. Timestamps compare in
microseconds (``unix_micros`` == ``epoch_us``; the events fixture is
µs-grained).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_table as _t
from engine.kernels import PR_SCALE, rank_block
from engine.registry import register

SPLIT_BUCKETS = 100
SEQ_BUDGET = 512  # tokens per packed training sequence


def _md5_bucket(col, salt: str, buckets: int = SPLIT_BUCKETS):
    """Deterministic bucket in [0, buckets): first 8 md5 hex chars of
    ``salt || col`` as a 32-bit int, mod buckets. Identical in DuckDB as
    ``CAST('0x' || substring(md5(salt || col), 1, 8) AS BIGINT) % b``."""
    h = F.md5(F.concat(F.lit(salt), col))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets


@register(
    "q_split_hash",
    oracle="""
    SELECT doc_id, lang, source, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, lang, source,
                 CAST('0x' || substring(md5('split:' || text), 1, 8) AS BIGINT)
                     % 100 AS bucket
          FROM documents)
    """,
)
def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split, content-addressed.

    Hashing the *text* (not the id) gives two properties a random
    split lacks: membership is stable under re-sharding/re-ingestion,
    and byte-identical duplicates always land in the same split — so
    exact dups can never leak from train into test. Pure projection
    (no shuffle, no RNG state); at 100 TB this is a map-only stage."""
    d = _t(spark, sf_dir, "documents")
    b = _md5_bucket(F.col("text"), "split:")
    return d.select(
        "doc_id",
        "lang",
        "source",
        b.alias("bucket"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


@register(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang, source, bucket
    FROM (SELECT doc_id, lang, source,
                 CAST('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 100 AS bucket
          FROM documents)
    WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 40 END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: 10% of the majority language,
    40% of everything else — the corpus-rebalancing op. Hash-threshold
    instead of ``sampleBy`` so the sample is reproducible across runs,
    engines, and partitionings (Bernoulli sampling's per-partition RNG
    is none of those). Map-only, filter pushes to the scan."""
    d = _t(spark, sf_dir, "documents")
    b = _md5_bucket(F.col("doc_id").cast("string"), "sample:")
    rate = F.when(F.col("lang") == "en", 10).otherwise(40)
    return d.select("doc_id", "lang", "source", b.alias("bucket")).filter(
        F.col("bucket") < rate
    )


@register(
    "q_sessionize",
    oracle="""
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events),
    g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS session_id
          FROM g)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(us) AS session_start_us, max(us) AS session_end_us,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (30-min inactivity gap) — the
    batch counterpart of q_stream_session: lag to detect gap starts,
    running sum to number sessions, then one aggregate per session.
    Both windows and the final groupBy share the user_id hash
    partitioning, so the whole plan is one shuffle; comparisons are in
    integer microseconds (no float time arithmetic)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(w)
    new_s = F.when(prev.isNull() | (F.col("us") - prev > 1800 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("new_s", new_s)
        .withColumn("session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("us").alias("session_start_us"),
            F.max("us").alias("session_end_us"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "q_pack_sequences",
    oracle="""
    WITH d AS (SELECT source, doc_id,
                      len(string_split(text, ' ')) AS toks
               FROM documents),
    c AS (SELECT source, doc_id, toks,
                 COALESCE(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS cum_before
          FROM d)
    SELECT source, CAST(cum_before // 512 AS BIGINT) AS seq_id,
           count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc
    FROM c GROUP BY source, seq_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (concat-and-chunk, 512-token
    budget): documents are laid out in deterministic order within each
    source shard, and each doc is assigned to the chunk containing its
    start offset (``cumulative_tokens_before div budget``) — the
    streaming concatenation layout LLM training uses, where the last
    doc of a chunk carries the overflow into truncation. Packing is
    per-shard (PARTITION BY source), never a global sort: at 100 TB
    each shard packs independently in one windowed pass, and the
    running sum + final aggregate reuse one hash partitioning."""
    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split(F.col("text"), " ")).alias("toks")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    cum_before = F.coalesce(
        F.sum("toks").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return (
        d.withColumn("cum_before", cum_before)
        .withColumn("seq_id", F.expr(f"cum_before div {SEQ_BUDGET}"))
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "q_merge_upsert",
    oracle="""
    WITH upd AS (
        SELECT o_orderkey, 'U' AS u_status,
               floor(o_totalprice * 1.05 * 100) / 100 AS u_price
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', floor(o_totalprice * 100) / 100
        FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT COALESCE(b.o_orderkey, u.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                WHEN u.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS action,
           COALESCE(u.u_status, b.o_orderstatus) AS status,
           COALESCE(u.u_price, floor(b.o_totalprice * 100) / 100) AS price
    FROM orders b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style MERGE (upsert) emulated on plain parquet: a derived
    changeset (10% updates + synthetic inserts) full-outer-joins the
    base on the key; COALESCE picks the surviving value and the null
    pattern classifies insert/update/keep. This is the Delta/Iceberg
    MERGE INTO dataflow — at scale both sides hash-partition on the
    merge key (AQE handles the changeset's skew), and floor-cents
    arithmetic keeps money math rounding-mode-free across engines."""
    o = _t(spark, sf_dir, "orders")
    cents = lambda c: F.floor(c * 100) / 100  # noqa: E731
    upd = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("u_status"),
            cents(F.col("o_totalprice") * 1.05).alias("u_price"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 97 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                F.lit("N").alias("u_status"),
                cents(F.col("o_totalprice")).alias("u_price"),
            )
        )
    )
    b, u = o.alias("b"), upd.alias("u")
    bk, uk = F.col("b.o_orderkey"), F.col("u.o_orderkey")
    return b.join(u, bk == uk, "full_outer").select(
        F.coalesce(bk, uk).alias("o_orderkey"),
        F.when(bk.isNull(), "insert")
        .when(uk.isNull(), "keep")
        .otherwise("update")
        .alias("action"),
        F.coalesce(F.col("u.u_status"), F.col("b.o_orderstatus")).alias("status"),
        F.coalesce(F.col("u.u_price"), cents(F.col("b.o_totalprice"))).alias("price"),
    )


@register(
    "q_profile_table",
    oracle="""
    SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct FROM orders
    UNION ALL SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey) FROM orders
    UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus) FROM orders
    UNION ALL SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice) FROM orders
    UNION ALL SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate) FROM orders
    UNION ALL SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority) FROM orders
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: per-column row/null/distinct counts in ONE
    pass over the table (the pre-ingestion health check every pipeline
    runs). All per-column aggregates compute in a single wide ``agg`` —
    one scan, not one scan per column (the oracle's UNION ALL shape is
    the naive N-scan formulation) — then unpivot driver-side-free via
    ``stack``. Exact ``countDistinct`` keeps the oracle comparable; at
    100 TB swap in ``approx_count_distinct`` (HLL) to avoid the
    per-column distinct expands — noted here as the scale knob."""
    o = _t(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c in o.columns:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    wide = o.agg(*aggs)
    stack = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in o.columns)
    return wide.selectExpr(
        f"stack({len(o.columns)}, {stack}) AS (column_name, n_nulls, n_distinct)",
        "n_rows",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct")


@register(
    "q_funnel",
    oracle="""
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    s1 AS (SELECT user_id, min(us) AS t1 FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
    SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
    UNION ALL SELECT '2_click', count(*) FROM s2
    UNION ALL SELECT '3_purchase', count(*) FROM s3
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup -> later click -> later
    purchase): users advance a stage only with a strictly later event
    of the next type — the sequence-sensitive product-analytics op, not
    a mere type-count. Each stage is a pushed-down type filter, a join
    on user_id against the previous stage's first-hit time, and a min —
    every shuffle keys on user_id, so the whole funnel reuses one hash
    partitioning and stage depth (not data volume) sets plan length."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )

    def first_hit(etype: str, prev: DataFrame | None, prev_t: str, t: str) -> DataFrame:
        s = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            s = s.join(prev, "user_id").filter(F.col("us") > F.col(prev_t))
        return s.groupBy("user_id").agg(F.min("us").alias(t))

    s1 = first_hit("signup", None, "", "t1")
    s2 = first_hit("click", s1, "t1", "t2")
    s3 = first_hit("purchase", s2, "t2", "t3")

    def stage_count(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage_count(s1, "1_signup")
        .unionByName(stage_count(s2, "2_click"))
        .unionByName(stage_count(s3, "3_purchase"))
    )


@register(
    "q_dedup_cluster",
    oracle="""
    WITH RECURSIVE
    tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY doc_a, doc_b),
    p AS (SELECT doc_a, doc_b FROM inter
          JOIN sz sa ON doc_a = sa.doc_id
          JOIN sz sb ON doc_b = sb.doc_id
          WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.95),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM p
          UNION ALL SELECT doc_b, doc_a FROM p),
    reach(id, root) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.id
    ),
    m AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM m
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over the exact
    Jaccard >= 0.95 pair graph (q_dedup_jaccard's edges), labeling every
    doc with its component's min doc_id and flagging the canonical
    keeper — the step that turns pairwise dedup output into an actual
    keep/drop decision.

    Components come from :func:`connected_components`, which picks its
    strategy from the MEASURED pair count (r11): a measured-small pair
    list (≤ 200k — this corpus: 2,049 verified pairs over 3,935
    unique-set nodes) is solved driver-side by union-find, skipping
    the fixpoint loop's ~1 s/round fixed overhead; past the cap, the
    distributed min-label propagation runs — every node starts as its
    own label, each round takes the min over neighbors composed with a
    path-halving pointer jump (O(log diameter) rounds), and
    ``localCheckpoint`` truncates the growing lineage so round N
    doesn't replay rounds 1..N-1. The edge list itself is
    checkpointed once up front (it is the expensive part) either way.

    The propagation runs on the UNIQUE-SET graph (r6): docs with
    identical token sets are trivially J = 1 neighbors, so they
    collapse into one node (their group's min doc_id, which is also
    what the component min works out to), and the iterate-to-fixpoint
    loop never touches the quadratically-expanded doc-pair list —
    |unique sets| nodes and verified distinct-set edges instead of
    ~50x as many doc pairs on this duplicate-heavy corpus. Doc-level
    labels come from one members explode at the end.

    The driver-side loop (one ``count()`` per round) is inherent to
    iterative fixpoints — same shape as GraphX/GraphFrames — and each
    action is O(1) driver data. Oracle: DuckDB recursive CTE computing
    min reachable node per doc (exact transitive closure)."""
    d = _t(spark, sf_dir, "documents")
    from engine.llm_ops import _groups_cache_key, _jaccard_group_pairs, _tokens

    docs = d.select(
        "doc_id", F.array_sort(F.array_distinct(_tokens(F.col("text")))).alias("toks")
    )
    groups, verified, _ = _jaccard_group_pairs(
        docs, 19, 20, cache_key=_groups_cache_key(sf_dir, "word")
    )
    gid_labels = connected_components(
        groups.select("gid"), verified.select("ga", "gb"), "gid"
    ).withColumnRenamed("cluster_id", "cl")
    labels = (
        groups.select("gid", F.explode("members").alias("doc_id"))
        .join(gid_labels, "gid")
        .select("doc_id", F.col("cl").alias("cluster_id"))
    )
    wc = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(wc).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


# Measured-count cutover for connected_components (r11): below this
# many undirected pairs the component structure is solved driver-side
# by union-find instead of the distributed fixpoint loop. Rationale:
# the loop costs ~1 s/round in fixed job/shuffle/checkpoint overhead
# regardless of data (5 rounds ≈ 5-6 s on the sf0.1 dedup graph of
# 3.9k nodes / 2k edges — measured r11), while collecting a bounded
# edge list and union-finding it is O(E α(E)) driver work with one
# broadcast-join back out. Same shape as Spark's own broadcast-join
# threshold: the gate reads only the MEASURED count of the already-
# materialized (localCheckpoint-ed) pair list, never a guess. At
# 100 TB a dup/co-purchase pair graph past the cap runs the unchanged
# distributed loop. Env override SPARK_GRAFT_CC_CAP exists ONLY so
# tests can force either path (-1 = always loop, even on an empty
# pair list — 0 would still take the driver path when count()==0,
# the r12 ADVICE gap); graded sweeps assert it unset (tools/check.py
# SCALE_KNOBS).
_CC_DRIVER_EDGE_CAP = 200_000


def _cc_driver_cap() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_CC_CAP", str(_CC_DRIVER_EDGE_CAP)))


def _cc_driver_union_find(nodes: DataFrame, und: DataFrame, id_col: str) -> DataFrame:
    """Driver-side exact components for a measured-small pair list:
    path-compressed union-find with union-by-min (parent[max(ru, rv)]
    = min(ru, rv)), so every root IS its component's min id — the
    identical label the distributed loop converges to, making the
    cutover invisible to results (contract-tested both-paths-equal in
    tests/test_properties.py). The collect is bounded by the
    _cc_driver_cap() gate its caller just measured; the relabel joins
    a broadcast (id -> component-min) map back onto ``nodes``, absent
    ids keeping their own label exactly like the loop's left-join
    coalesce.

    Bit-identity to the loop holds under connected_components'
    documented precondition (pair endpoints ⊆ nodes, r12 ADVICE):
    NULL endpoints are skipped here exactly as the loop's inner join
    drops them, but an edge naming an id ABSENT from ``nodes`` is
    still unioned driver-side, so it can pull a node's label outside
    the node set where the loop (which propagates only labels that
    exist in ``nodes``) would ignore it. All in-repo callers build
    ``pairs`` from ``nodes`` itself, so the branch is unreachable
    today; a semi-join guard was considered and rejected because it
    would shuffle the (possibly huge) node set to defend a contract
    no caller violates."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in und.collect():
        u, v = row[0], row[1]
        if u is None or v is None:
            # the distributed loop's equi-joins drop NULL endpoints
            # silently; match that instead of raising on `ru < rv`
            continue
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo

    from pyspark.sql.types import StructField, StructType

    id_type = nodes.schema[id_col].dataType
    items = [(x, r) for x in parent if (r := find(x)) != x]
    map_df = nodes.sparkSession.createDataFrame(
        items,
        StructType(
            [StructField("_cc_id", id_type), StructField("_cc_lab", id_type)]
        ),
    )
    return (
        nodes.join(F.broadcast(map_df), nodes[id_col] == map_df["_cc_id"], "left")
        .select(
            nodes[id_col],
            F.coalesce("_cc_lab", nodes[id_col]).alias("cluster_id"),
        )
    )


def connected_components(
    nodes: DataFrame, pairs: DataFrame, id_col: str, max_rounds: int = 50
) -> DataFrame:
    """Connected components by min-label propagation (see
    q_dedup_cluster's docstring for the scale analysis). ``nodes`` has
    one row per ``id_col``; ``pairs`` has undirected edges in its first
    two columns. Returns (id_col, cluster_id = component min).
    Property-tested against brute-force components over random graphs
    in tests/test_properties.py (both paths of the r11 size cutover).

    Precondition (r12 ADVICE): pair endpoints must be drawn from
    ``nodes`` (NULLs are tolerated — both paths drop such edges). An
    endpoint outside the node set is undefined behavior: the two
    strategies legitimately differ there (see _cc_driver_union_find's
    docstring), and no in-repo caller can produce one.

    The pair list is materialized ONCE (localCheckpoint); its measured
    row count picks the strategy: ≤ _cc_driver_cap() solves the
    component structure driver-side (union-find, label = component
    min — bit-identical to the loop's fixpoint), above it runs the
    distributed propagate + path-halving loop on edges re-derived
    narrowly (a union of two column swaps) from the same checkpoint."""
    a, b = pairs.columns[0], pairs.columns[1]
    und = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).localCheckpoint()
    if und.count() <= _cc_driver_cap():
        return _cc_driver_union_find(nodes, und, id_col)
    edges = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = nodes.select(
        F.col(id_col).alias("doc_id"), F.col(id_col).alias("cluster_id")
    ).localCheckpoint()
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst"), F.col("cluster_id").alias("dl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dl").alias("nbr_min"))
            .withColumnRenamed("src", "doc_id")
        )
        # One propagate + one pointer-jump per round. Pure
        # min-propagation needs eccentricity-many rounds (the sf0.1
        # dedup graph has 11-hop near-dup CHAINS, not just cliques —
        # measured 11 rounds); composing each round with path halving
        # (label := label-of-label, the union-find shortcut) converges
        # in O(log diameter) rounds instead (11 → 5 measured). The
        # jump mapping is total — every label IS a node id — and
        # monotone (label(u) ≤ u), so least/coalesce keeps exactness.
        # The changed flag rides INSIDE the checkpointed step frame,
        # so the convergence check is a cheap filter-count over the
        # materialized checkpoint — never a recompute.
        prop = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.least("cluster_id", F.coalesce("nbr_min", F.col("cluster_id"))).alias(
                "lab"
            ),
            (F.coalesce("nbr_min", F.col("cluster_id")) < F.col("cluster_id")).alias(
                "_pchg"
            ),
        )
        jump = prop.select(F.col("doc_id").alias("j_id"), F.col("lab").alias("j_lab"))
        stepped = (
            prop.join(jump, prop["lab"] == jump["j_id"], "left")
            .select(
                "doc_id",
                F.coalesce("j_lab", "lab").alias("new_cluster_id"),
                (F.col("_pchg") | (F.coalesce("j_lab", "lab") < F.col("lab"))).alias(
                    "_chg"
                ),
            )
            .localCheckpoint()
        )
        changed = stepped.filter("_chg").count()
        labels = stepped.select(
            "doc_id", F.col("new_cluster_id").alias("cluster_id")
        )
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected components did not converge in {max_rounds} rounds")
    return labels.withColumnRenamed("doc_id", id_col)


@register(
    "q_sample_quota",
    oracle="""
    SELECT doc_id, source, rn FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rn
        FROM documents) WHERE rn <= 10
    """,
)
def q_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: at most 10 docs per source, picked by
    deterministic hash order — the per-domain cap that keeps one giant
    crawl domain from dominating a training mix. Hash-ordered
    ``row_number`` (not ORDER BY ingestion order) makes the kept set
    stable across runs, engines and partitionings; one shuffle on
    ``source``, and the per-partition sort is bounded by the domain's
    doc count. At 100 TB a hot domain makes this window's partition
    large — the standard refinement is a per-partition pre-limit
    (any K rows per map task pass rn<=K per (task, source), then the
    window runs on the survivors); the fixture's uniform sources don't
    need it."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string"))), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
    )


@register(
    "q_split_contamination",
    oracle="""
    WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w,
                       CAST('0x' || substring(md5('split:' || text), 1, 8) AS BIGINT)
                           % 100 AS bucket
                FROM documents),
    sh AS (SELECT DISTINCT doc_id, bucket,
                  unnest(list_transform(range(1, len(w) - 6),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                           w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS sh
           FROM sp WHERE len(w) >= 8),
    tr AS (SELECT DISTINCT sh FROM sh WHERE bucket < 80),
    te AS (SELECT doc_id, sh FROM sh WHERE bucket >= 90)
    SELECT te.doc_id, count(*) AS n_shared_shingles
    FROM te JOIN tr ON te.sh = tr.sh
    GROUP BY te.doc_id
    """,
)
def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination check: for every TEST document (per
    q_split_hash's content-addressed buckets), how many of its distinct
    word 8-grams also appear anywhere in the TRAIN split — the standard
    benchmark-decontamination signal (n-gram overlap a la GPT-3's 13-gram
    filter, here 8 to fit fixture doc lengths).

    Scale shape: both sides collapse to DISTINCT shingles before the
    join (the train posting list is deduped, so a shingle repeated in a
    million train docs joins once), the join key is the shingle, and
    the count is per test doc. At 100 TB the refinement is dropping
    ubiquitous shingles (df above a cap carries no contamination
    signal) — the same frequency-prune the dedup family's prefix filter
    applies. Exact-duplicate leakage is structurally zero here (dups
    share a split by construction — q_split_hash), so any hit is a
    *partial* overlap worth surfacing."""
    d = _t(spark, sf_dir, "documents")
    b = _md5_bucket(F.col("text"), "split:")
    w = F.col("w")
    sh8 = F.expr(
        "transform(sequence(0, size(w) - 8), "
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5], w[i+6], w[i+7]))"
    )
    docs = (
        d.select("doc_id", b.alias("bucket"), F.split(F.col("text"), " ").alias("w"))
        .filter(F.size(w) >= 8)
        .select("doc_id", "bucket", F.explode(F.array_distinct(sh8)).alias("sh"))
    )
    train = docs.filter(F.col("bucket") < 80).select("sh").distinct()
    test = docs.filter(F.col("bucket") >= 90).select("doc_id", "sh")
    return (
        test.join(train, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )


@register(
    "q_retention",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
    c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
    a AS (SELECT DISTINCT e.user_id, c.cohort_day, e.day - c.cohort_day AS day_offset
          FROM e JOIN c ON e.user_id = c.user_id)
    SELECT cohort_day, day_offset, count(*) AS n_users
    FROM a GROUP BY cohort_day, day_offset
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen day, then
    counted per (cohort day, day offset) of later activity — the
    product-analytics composite. The cohort day comes from a window
    ``min`` over the user partition (no self-join); the following
    DISTINCT reuses the same user_id hash partitioning (its key set
    contains user_id, so Spark inserts no second exchange); only the
    final small (cohort, offset) aggregate reshuffles. Day arithmetic is
    integer floor-division of microseconds — no float time math."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
    )
    cohort = F.min("day").over(Window.partitionBy("user_id"))
    return (
        e.withColumn("cohort_day", cohort)
        .select("user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "q_pipeline_pretrain",
    oracle="""
    WITH q AS (
        SELECT doc_id, text, lang,
               len(string_split(text, ' ')) AS toks
        FROM documents
        WHERE 1.0 - len(list_distinct(string_split(text, ' '))) * 1.0
                    / len(string_split(text, ' ')) <= 0.7
    ),
    d AS (
        SELECT doc_id, text, lang, toks FROM (
            SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM q) WHERE rn = 1
    ),
    s AS (
        SELECT lang, toks,
               CASE WHEN CAST('0x' || substring(md5('split:' || text), 1, 8) AS BIGINT)
                         % 100 < 80 THEN 'train'
                    WHEN CAST('0x' || substring(md5('split:' || text), 1, 8) AS BIGINT)
                         % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM d
    )
    SELECT split, lang, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS total_tokens
    FROM s GROUP BY split, lang
    """,
)
def q_pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end pre-training data build, one DataFrame chain:
    quality filter (repetition ratio <= 0.7) -> exact dedup (keep lowest
    doc_id per text) -> content-addressed 80/10/10 split -> per-(split,
    lang) doc/token budget. This is the composition a real user runs
    daily; every stage is an already-verified operator's expression
    re-used inline, so the whole chain stays in two shuffles (the dedup
    window on the text hash, the final small aggregate) plus map-only
    stages — at 100 TB nothing else materializes."""
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    ratio = 1.0 - F.size(F.array_distinct(w)) / F.size(w)
    q = d.filter(ratio <= 0.7).select("doc_id", "text", "lang", F.size(w).alias("toks"))
    win = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    deduped = q.withColumn("rn", F.row_number().over(win)).filter(F.col("rn") == 1)
    b = _md5_bucket(F.col("text"), "split:")
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return (
        deduped.select(split.alias("split"), "lang", "toks")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
        )
    )


@register(
    "q_dedup_cascade",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    q AS (
      SELECT *,
             (len(w) >= 50 AND len(w) <= 100000
              AND list_sum(list_transform(w, t -> length(t))) * 1.0
                  / len(w) >= 3
              AND list_sum(list_transform(w, t -> length(t))) * 1.0
                  / len(w) <= 10
              AND ((length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) // 3)
                  * 1.0 / len(w) <= 0.1
              AND len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
                  * 1.0 / len(w) >= 0.8) AS s_q
      FROM base),
    e AS (
      SELECT *, (s_q AND doc_id = min(CASE WHEN s_q THEN doc_id END)
                 OVER (PARTITION BY text)) AS s_e
      FROM q),
    u AS (
      SELECT *, (s_e AND doc_id = min(CASE WHEN s_e THEN doc_id END)
                 OVER (PARTITION BY lower(regexp_replace(regexp_replace(
                   regexp_replace(
                     'https://'
                     || (CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM'
                                         WHEN 1 THEN 'www.example.com'
                                         ELSE 'www.EXAMPLE.com' END)
                     || (CASE doc_id % 4 WHEN 0 THEN ':443' ELSE '' END)
                     || '/page/' || CAST(doc_id % 400 AS VARCHAR)
                     || (CASE doc_id % 2 WHEN 0 THEN '/' ELSE '' END)
                     || (CASE doc_id % 5 WHEN 0
                         THEN '?utm_source=' || source ELSE '' END),
                     '\\?.*$', ''), '/$', ''), ':443', '')))) AS s_u
      FROM e),
    tok AS (SELECT DISTINCT doc_id, unnest(w) AS tok FROM u WHERE s_u),
    sz AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY doc_a, doc_b),
    dupb AS (SELECT DISTINCT doc_b FROM inter
             JOIN sz sa ON doc_a = sa.doc_id
             JOIN sz sb ON doc_b = sb.doc_id
             WHERE i * 1.0 / (sa.nt + sb.nt - i) >= 0.95),
    f AS (SELECT *, (s_u AND doc_id NOT IN (SELECT doc_b FROM dupb)) AS s_n
          FROM u),
    stacked AS (
      SELECT 0 AS stage, 'raw' AS stage_name, source, n_tokens FROM f
      UNION ALL
      SELECT 1, 'quality', source, n_tokens FROM f WHERE s_q
      UNION ALL
      SELECT 2, 'exact', source, n_tokens FROM f WHERE s_e
      UNION ALL
      SELECT 3, 'url', source, n_tokens FROM f WHERE s_u
      UNION ALL
      SELECT 4, 'neardup', source, n_tokens FROM f WHERE s_n),
    agg AS (SELECT stage, stage_name, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens
            FROM stacked GROUP BY stage, stage_name, source)
    SELECT stage, stage_name, source, n_docs, n_tokens,
           round(n_docs * 1.0 / max(CASE WHEN stage = 0 THEN n_docs END)
                 OVER (PARTITION BY source), 6) AS pct_docs
    FROM agg
    """,
)
def q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cascade survival funnel — the per-stage ablation table
    every published pipeline reports (RefinedWeb, Penedo et al. 2023,
    Table 2 "removal rates"; FineWeb, Penedo et al. 2024, pipeline
    ablations): quality filter -> exact dedup -> URL-canonical dedup
    -> near-dup removal, composed in the RefinedWeb macro-order
    (filters BEFORE deduplication), with per-(stage, source) surviving
    docs, tokens, and fraction-of-raw. Distinct from
    q_pipeline_pretrain (which emits only the final split budgets):
    this is the funnel AUDIT — which stage removed what, per source —
    the number a curation team actually argues over.

    Stage rules reuse the verified operators' expressions: quality is
    the q_text_gopher_rules subset with fixture entropy (word count,
    mean word length, symbol ratio, alpha ratio; the stop-word rule is
    excluded as fixture-degenerate — its keep is honestly 0 corpus-
    wide, which would zero every later stage; same honest-adaptation
    convention as the gopher key itself documents). Exact dedup keeps
    the lowest doc_id per text group among quality survivors; URL
    dedup keeps the lowest doc_id per canonical URL (q_dedup_url's
    synthesis + canonicalization) among exact survivors; near-dup
    drops docs with a surviving lower-id token-set Jaccard >= 0.95
    neighbor (q_dedup_jaccard's pair relation restricted to
    survivors — the SemDeDup lower-id verdict, not transitive
    clustering; q_dedup_cluster covers that).

    Scale: survival FLAGS compute in one chained pass — three window
    keepers (text hash, canonical URL; each keyed by content, never
    corpus-global) feeding boolean columns, so no stage re-reads the
    corpus; the near-dup branch rides :func:`_jaccard_set_pairs`
    (group-then-PPJoin, sub-quadratic) over survivors only, and joins
    back as a left-anti flag. Differential-check caveat (ADVICE r15):
    that shared machinery inherits q_dedup_jaccard's documented
    exact/approx cutover — past ``SPARK_GRAFT_ANN_CUTOVER`` unique
    sets (or under ``SPARK_GRAFT_ANN_MODE=approx``) candidate
    generation switches to MinHash banding and can miss band-missed
    pairs, while the DuckDB oracle stays exact brute force, so the
    near-dup stage's n_docs/n_tokens/pct_docs rows are
    oracle-comparable only on the
    default exact path (the knob-unset gate tools/check.py enforces
    for grading runs). The funnel itself is one explode of a
    <=5-element struct array per doc into a (stage, source) hash agg —
    map-side combinable; pct divides inside a |sources|-partition
    window over the <=5x|sources|-row aggregate."""
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id",
        "source",
        "text",
        w.alias("w"),
        F.size(w).cast("long").alias("n_tokens"),
    )
    n = F.size("w")
    mean_len = (
        F.aggregate(
            F.transform(F.col("w"), lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        / n
    )
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ell = F.floor(
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))) / 3
    ).cast("long")
    alpha = F.size(F.filter(F.col("w"), lambda t: t.rlike("[A-Za-z]"))) / n
    s_q = (
        (n >= 50)
        & (n <= 100000)
        & (mean_len >= 3)
        & (mean_len <= 10)
        & ((n_hash + n_ell) / n <= 0.1)
        & (alpha >= 0.8)
    )
    q = base.withColumn("s_q", s_q)
    we = Window.partitionBy(F.sha2(F.col("text"), 256))
    e = q.withColumn(
        "s_e",
        F.col("s_q")
        & (F.col("doc_id") == F.min(F.when(F.col("s_q"), F.col("doc_id"))).over(we)),
    )
    host = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.Example.COM"))
        .when(F.col("doc_id") % 3 == 1, F.lit("www.example.com"))
        .otherwise(F.lit("www.EXAMPLE.com"))
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"),
        (F.col("doc_id") % 400).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.lit("?utm_source="), F.col("source"))
        ).otherwise(F.lit("")),
    )
    canon = F.lower(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(url, r"\?.*$", ""), "/$", ""),
            ":443",
            "",
        )
    )
    wu = Window.partitionBy(canon)
    u = e.withColumn(
        "s_u",
        F.col("s_e")
        & (F.col("doc_id") == F.min(F.when(F.col("s_e"), F.col("doc_id"))).over(wu)),
    )
    from engine.llm_ops import _jaccard_set_pairs

    docs3 = u.filter("s_u").select(
        "doc_id", F.array_sort(F.array_distinct(F.col("w"))).alias("toks")
    )
    dupb = (
        _jaccard_set_pairs(docs3, 19, 20)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    f = u.join(dupb, "doc_id", "left").withColumn(
        "s_n", F.col("s_u") & F.col("_dup").isNull()
    )
    contrib = F.expr(
        "filter(array("
        "named_struct('stage', 0, 'nm', 'raw', 'keep', true),"
        "named_struct('stage', 1, 'nm', 'quality', 'keep', s_q),"
        "named_struct('stage', 2, 'nm', 'exact', 'keep', s_e),"
        "named_struct('stage', 3, 'nm', 'url', 'keep', s_u),"
        "named_struct('stage', 4, 'nm', 'neardup', 'keep', s_n)"
        "), x -> x.keep)"
    )
    stacked = f.select("source", "n_tokens", F.explode(contrib).alias("c")).select(
        F.col("c.stage").alias("stage"),
        F.col("c.nm").alias("stage_name"),
        "source",
        "n_tokens",
    )
    agg = stacked.groupBy("stage", "stage_name", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    wp = Window.partitionBy("source")
    return agg.select(
        "stage",
        "stage_name",
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_docs")
            * 1.0
            / F.max(F.when(F.col("stage") == 0, F.col("n_docs"))).over(wp),
            6,
        ).alias("pct_docs"),
    ).orderBy("stage", "source")


@register(
    "q_sample_mixture",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         r AS (SELECT lang,
                      least(1.0, (CASE lang WHEN 'en' THEN 0.4 ELSE 0.15 END)
                                 * 300.0 / n) AS rate
               FROM c)
    SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
    WHERE CAST('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 10000
          < CAST(floor(rate * 10000) AS BIGINT)
    """,
)
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling toward a target corpus blend (40%
    en, 15% each of the rest, ~300 docs): per-language keep-rates are
    derived from the measured language counts (rate = w * target / n,
    capped at 1), and membership is decided by a content-addressed md5
    bucket — re-running on the same corpus reproduces the same sample,
    shards never coordinate, and upsampling a language never duplicates
    rows. The rate table is a tiny aggregate broadcast back onto the
    corpus: one scan + one broadcast join at any scale; this is the
    domain-reweighting step every pre-training mix runs."""
    d = _t(spark, sf_dir, "documents")
    weight = F.when(F.col("lang") == "en", 0.4).otherwise(0.15)
    rates = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .select("lang", F.least(F.lit(1.0), weight * 300.0 / F.col("n")).alias("rate"))
    )
    bucket = _md5_bucket(F.col("doc_id").cast("string"), "mix:", 10000)
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(bucket < F.floor(F.col("rate") * 10000).cast("long"))
        .select("doc_id", "lang")
    )


@register(
    "q_sample_temperature",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         m AS (SELECT min(n) AS n_min FROM c),
         r AS (SELECT lang, sqrt(CAST(n_min AS DOUBLE) / n) AS rate FROM c, m)
    SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
    WHERE CAST('0x' || substring(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 10000
          < CAST(floor(rate * 10000) AS BIGINT)
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (alpha = 0.5): keep-rate
    per language = sqrt(n_min / n_lang), so sampled counts are
    proportional to sqrt(n_lang) — the standard unigram-smoothing mix
    multilingual pre-training uses to lift low-resource languages
    without exploding the majority one. alpha = 0.5 is deliberate:
    sqrt is correctly-rounded IEEE on both engines, so the rate (and
    therefore every bucket-threshold decision) is bit-identical,
    where a general pow() could drift by an ulp and flip a boundary
    doc. Membership is the same content-addressed md5 bucket as
    q_sample_mixture — reproducible, shard-independent, one scan plus
    a broadcast of the 5-row rate table at any scale."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    n_min = counts.agg(F.min("n").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        F.sqrt(F.col("n_min").cast("double") / F.col("n")).alias("rate"),
    )
    bucket = _md5_bucket(F.col("doc_id").cast("string"), "temp:", 10000)
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(bucket < F.floor(F.col("rate") * 10000).cast("long"))
        .select("doc_id", "lang")
    )


@register(
    "q_sample_reservoir",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             md5('res:' || CAST(doc_id AS VARCHAR)) AS hk
      FROM documents
    ) ORDER BY hk, doc_id LIMIT 100
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size uniform sample (k = 100): rank every
    row by a content-addressed hash and keep the k smallest — the
    distributed, reproducible replacement for reservoir sampling
    (same marginal uniformity, but shard-independent, re-runnable, and
    mergeable: the k smallest of a union is computable from each
    shard's k smallest). ``orderBy(hash).limit(k)`` lowers to
    TakeOrderedAndProject: per-partition k-heaps, one k-row gather —
    no global sort, no RNG state, no driver coordination at any
    scale."""
    d = _t(spark, sf_dir, "documents")
    hk = F.md5(F.concat(F.lit("res:"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "lang", hk.alias("hk"))
        .orderBy(F.asc("hk"), F.asc("doc_id"))
        .limit(100)
        .select("doc_id", "lang")
    )


@register(
    "q_scd2",
    oracle="""
    SELECT user_id, event_id, value AS attr_value,
           epoch_us(ts) AS eff_from,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC) AS eff_to,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC) IS NULL
               AS is_current
    FROM events WHERE event_type = 'signup'
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build: each change event for a
    user becomes a versioned row with [eff_from, eff_to) validity and an
    is_current flag — the warehouse dimension-history pattern, and the
    batch complement of q_merge_upsert's Type 1 overwrite. One lead
    window per user (single Exchange on user_id after the pushed
    event-type filter); at 100 TB the validity intervals then serve
    point-in-time joins via the same union+last_value as-of plan as
    q_join_asof."""
    ev = _t(spark, sf_dir, "events")
    # eff_from = unix_micros(ts) is order-isomorphic to ts, so the lead
    # window sorts on it directly (ts is projected away by then)
    w = Window.partitionBy("user_id").orderBy(F.asc("eff_from"), F.asc("event_id"))
    us = F.unix_micros("ts")
    return (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            "event_id",
            F.col("value").alias("attr_value"),
            us.alias("eff_from"),
        )
        .withColumn("eff_to", F.lead("eff_from").over(w))
        .withColumn("is_current", F.col("eff_to").isNull())
    )


@register(
    "q_snapshot_diff",
    oracle="""
    WITH okey AS (SELECT o_orderkey, o_totalprice,
                         CAST(o_orderkey AS VARCHAR) AS ks
                  FROM orders),
    old AS (
      SELECT o_orderkey, o_totalprice AS old_price FROM okey
      WHERE CAST('0x' || substring(md5('ins:' || ks), 1, 8) AS BIGINT) % 100 >= 10
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN CAST('0x' || substring(md5('upd:' || ks), 1, 8) AS BIGINT) % 100 < 20
                  THEN CAST(floor(o_totalprice * 110) AS BIGINT) / 100.0
                  ELSE o_totalprice END AS new_price
      FROM okey
      WHERE CAST('0x' || substring(md5('del:' || ks), 1, 8) AS BIGINT) % 100 >= 10
    )
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                WHEN new.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           round(old_price, 2) AS old_price,
           round(new_price, 2) AS new_price
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old_price <> new_price
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the inverse of q_merge_upsert: given two table
    states, emit the CDC change log (insert/delete/update rows) that
    transforms one into the other. The two states are derived
    deterministically from ``orders`` via content-addressed md5 buckets
    (~10% of keys missing from the old state, ~10% missing from the
    new, ~20% repriced), so the expected log is oracle-checkable.

    Plan: both snapshots prune to (key, price) at the scan, full-outer
    join shuffles once on the natural key, and the unchanged bulk —
    the overwhelming majority at 100 TB — is dropped by a codegen
    filter immediately after the join, so downstream sinks see only
    the delta. No windows, no driver state.
    """
    ks = F.col("o_orderkey").cast("string")
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        _md5_bucket(ks, "ins:").alias("ins_b"),
        _md5_bucket(ks, "del:").alias("del_b"),
        _md5_bucket(ks, "upd:").alias("upd_b"),
    )
    old = base.filter(F.col("ins_b") >= 10).select(
        F.col("o_orderkey").alias("old_key"),
        F.col("o_totalprice").alias("old_price"),
    )
    new = base.filter(F.col("del_b") >= 10).select(
        F.col("o_orderkey").alias("new_key"),
        F.when(
            F.col("upd_b") < 20, F.floor(F.col("o_totalprice") * 110) / 100.0
        ).otherwise(F.col("o_totalprice")).alias("new_price"),
    )
    joined = old.join(new, F.col("old_key") == F.col("new_key"), "full_outer")
    return (
        joined.filter(
            F.col("old_key").isNull()
            | F.col("new_key").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .select(
            F.coalesce("old_key", "new_key").alias("o_orderkey"),
            F.when(F.col("old_key").isNull(), "insert")
            .when(F.col("new_key").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.round("old_price", 2).alias("old_price"),
            F.round("new_price", 2).alias("new_price"),
        )
    )


@register(
    "q_shuffle_shard",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    )
    SELECT doc_id,
           CAST('0x' || substring(hx, 1, 2) AS BIGINT) AS shard,
           row_number() OVER (PARTITION BY CAST('0x' || substring(hx, 1, 2) AS BIGINT)
                              ORDER BY hx ASC, doc_id ASC) AS pos
    FROM h
    """,
)
def q_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training-order assignment:
    every doc gets a (shard, pos) coordinate by md5 — the global
    training order is (shard, pos), reproducible across runs/shards
    with NO RNG state and no re-shuffle on re-ingestion (same salt =>
    same order).

    Scale shape: a single global ``row_number`` would funnel 100 TB
    through one window partition; sharding on the hash's first byte
    (256 shards, load-balanced by construction since md5 is uniform)
    makes the position window 256-way parallel — one Exchange on the
    shard key, map-side hashing, no global sort. Readers stream shards
    in order, concatenating (shard, pos) runs."""
    d = _t(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")))
    shard = F.conv(F.substring(hx, 1, 2), 16, 10).cast("long")
    w = Window.partitionBy("shard").orderBy(F.asc("hx"), F.asc("doc_id"))
    return (
        d.select("doc_id", hx.alias("hx"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


@register(
    "q_concurrency",
    oracle="""
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
    g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS session_id, us
          FROM g),
    iv AS (SELECT user_id, session_id, min(us) AS s_us, max(us) AS e_us
           FROM s GROUP BY user_id, session_id),
    b AS (SELECT user_id, s_us AS us, 1 AS delta FROM iv
          UNION ALL
          SELECT user_id, e_us AS us, -1 AS delta FROM iv)
    SELECT us, user_id, delta,
           CAST(sum(delta) OVER (ORDER BY us ASC, delta DESC, user_id ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS concurrent
    FROM b
    """,
)
def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency curve: how many user sessions are open at
    every session boundary (the capacity-planning / peak-load query).
    Sessions are the 30-min-gap intervals of q_sessionize; each emits a
    (+1 at start, -1 at end) boundary and concurrency is the running
    sum over all boundaries in global time order (starts before ends at
    ties — the max-overlap convention; total order via user_id).

    A naive global running sum is a ONE-PARTITION window — the r1
    anti-pattern. This is engine.stats.banded_cum banded by UTC day
    instead: the within-day running sum is a day-partitioned window and
    the carry table has one row per DAY, so its window is
    single-partition over ~tens of rows only."""
    from engine.stats import banded_cum

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    ws = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(ws)
    new_s = F.when(prev.isNull() | (F.col("us") - prev > 1800 * 1_000_000), 1).otherwise(0)
    iv = (
        ev.withColumn("new_s", new_s)
        .withColumn(
            "session_id",
            F.sum("new_s").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("s_us"), F.max("us").alias("e_us"))
    )
    b = iv.select(
        "user_id", F.col("s_us").alias("us"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select("user_id", F.col("e_us").alias("us"), F.lit(-1).alias("delta"))
    )
    day = (F.col("us") / F.lit(86_400_000_000)).cast("long")
    order = [F.asc("us"), F.desc("delta"), F.asc("user_id")]
    return banded_cum(b, day, order, ["delta"]).select(
        "us", "user_id", "delta", F.col("cum_delta").alias("concurrent")
    )


def _pagerank_oracle() -> str:
    """Unrolled 5-round quantized PageRank as a single DuckDB
    statement: the kNN-edge CTEs (verbatim from KNN_ORACLE) feed five
    chained round CTEs running the EXACT integer recurrence the engine's
    block pass runs (qr // outdeg contributions, (85·Σ) // 100 damping) —
    a fixed round count needs no recursion, so the 'iterative
    fixpoint has no SQL oracle' excuse died with the float
    arithmetic."""
    from engine.llm_ops import KNN_ORACLE

    knn_body = KNN_ORACLE.strip().removeprefix("WITH").rsplit("SELECT", 1)[0]
    rounds = "".join(
        f"""
    r{i} AS (
      SELECT n.node,
             CAST(150000000000 + (85 * COALESCE(s.in_sum, 0)) // 100
                  AS BIGINT) AS qr
      FROM nodes n LEFT JOIN (
        SELECT e.dst, CAST(sum(r.qr // dg.outdeg) AS BIGINT) AS in_sum
        FROM gedges e JOIN gdeg dg ON e.src = dg.src
        JOIN r{i - 1} r ON r.node = e.src
        GROUP BY e.dst) s ON s.dst = n.node),"""
        for i in range(1, 6)
    )
    return f"""
    WITH {knn_body.strip()},
    gedges AS (SELECT vec_id AS src, neighbor_id AS dst
               FROM rk WHERE rank <= 3),
    nodes AS (SELECT vec_id AS node FROM embeddings),
    gdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
             FROM gedges GROUP BY src),
    r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS qr FROM nodes),{rounds}
    final AS (SELECT node, qr FROM r5)
    SELECT node AS vec_id,
           round(CAST(qr AS DOUBLE) / 1000000000000, 4) AS rank
    FROM final ORDER BY qr DESC, node ASC LIMIT 20
    """


@register("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 rounds, d=0.85) over the label-blocked k=3 cosine
    kNN graph of the embeddings table — document-authority scoring on
    the semantic neighbourhood graph. No kNN edge crosses a label, so
    one ``groupBy("label").applyInPandas`` over ``embeddings`` builds
    each block's edges (``knn_block``) and runs every round
    (:func:`rank_block`) in the same Python task: one scan, one
    exchange, no join. Exactness vs a float power iteration is asserted
    in tests/test_pipeline.py; the integer recurrence hash-matches the
    DuckDB oracle's five unrolled round CTEs."""
    from engine.llm_ops import label_blocks

    def ranks(ids, edges):
        nodes = np.unique(ids)
        return pd.DataFrame({"node": nodes, "qr": rank_block(nodes, edges[0], edges[1], rounds=5)})

    return (
        label_blocks(spark, sf_dir, ranks, "node long, qr long")
        .select(F.col("node").alias("vec_id"),
                F.round(F.col("qr") / PR_SCALE, 4).alias("rank"), "qr")
        .orderBy(F.desc("qr"), F.asc("vec_id"))
        .limit(20)
        .drop("qr")
    )


@register(
    "q_rollup_incremental",
    oracle="""
    WITH base AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
                         count(*) AS n, CAST(floor(sum(value) * 100) AS BIGINT) AS cents
                  FROM events
                  WHERE CAST('0x' || substring(md5('inc:' || CAST(event_id AS VARCHAR)), 1, 8)
                             AS BIGINT) % 100 < 80
                  GROUP BY day, event_type),
    delta AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
                     count(*) AS n, CAST(floor(sum(value) * 100) AS BIGINT) AS cents
              FROM events
              WHERE CAST('0x' || substring(md5('inc:' || CAST(event_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 100 >= 80
              GROUP BY day, event_type)
    SELECT COALESCE(b.day, d.day) AS day,
           COALESCE(b.event_type, d.event_type) AS event_type,
           COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n,
           COALESCE(b.cents, 0) + COALESCE(d.cents, 0) AS cents
    FROM base b FULL OUTER JOIN delta d
      ON b.day = d.day AND b.event_type = d.event_type
    """,
)
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a (day, type) rollup — the
    continuous-aggregate / materialized-view refresh dataflow: an
    existing rollup state merges a new-batch delta WITHOUT rescanning
    history. Base and delta are disjoint md5-derived slices of the
    fixture (deterministic stand-ins for "yesterday's table" and
    "today's arrivals"); counts and cents-floored sums are the
    decomposable aggregates that make the merge exact (avg/percentile
    would need sketch state instead — see q_agg_kll_quantiles).

    Scale shape: each side is one pruned scan + hash agg to
    |days|×|types| rows; the merge is a full-outer join on that
    constant-size key space — history is never rescanned, which is the
    entire point at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    b = _md5_bucket(F.col("event_id").cast("string"), "inc:")

    def rollup(df):
        return df.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            F.floor(F.sum("value") * 100).cast("long").alias("cents"),
        )

    base = rollup(ev.filter(b < 80)).alias("b")
    delta = rollup(ev.filter(b >= 80)).alias("d")
    return base.join(
        delta,
        (F.col("b.day") == F.col("d.day"))
        & (F.col("b.event_type") == F.col("d.event_type")),
        "full_outer",
    ).select(
        F.coalesce(F.col("b.day"), F.col("d.day")).alias("day"),
        F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias("event_type"),
        (
            F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n"),
        (
            F.coalesce(F.col("b.cents"), F.lit(0))
            + F.coalesce(F.col("d.cents"), F.lit(0))
        ).alias("cents"),
    )


@register(
    "q_time_to_event",
    oracle="""
    WITH v AS (SELECT user_id, min(epoch_us(ts)) AS v_us
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.v_us
          GROUP BY e.user_id)
    SELECT v.user_id, v.v_us AS first_view_us,
           p.p_us AS first_purchase_us,
           (p.p_us - v.v_us) // 1000000 AS latency_s
    FROM v JOIN p ON v.user_id = p.user_id
    """,
)
def q_time_to_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion per user: seconds from the first view to the
    first purchase AT OR AFTER it — the latency complement of
    q_funnel's stage counts (funnel says how many convert; this says
    how fast).

    Two pushed-filter scans collapse to one row per user each (hash
    aggs with map-side combine), then an equi-join on user_id — every
    shuffle carries per-user rows, never ticks. Integer-microsecond
    arithmetic end-to-end (no float time math)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("first_view_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("us") >= F.col("first_view_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("first_purchase_us"))
    )
    return v.join(p, "user_id").select(
        "user_id",
        "first_view_us",
        "first_purchase_us",
        F.floor(
            (F.col("first_purchase_us") - F.col("first_view_us")) / 1_000_000
        ).cast("long").alias("latency_s"),
    )


@register(
    "q_graph_triangles",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    t AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, count(*) AS n_triangles
    FROM (SELECT x AS node FROM t
          UNION ALL SELECT y FROM t
          UNION ALL SELECT z FROM t)
    GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 20
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation over the co-purchase graph: top-20 parts
    by the number of triangles they close (community-density signal;
    the building block of clustering-coefficient computation).

    The edge set is q_basket_pairs' output (parts co-bought in >= 2
    orders, a < b orientation), localCheckpoint-ed so the THREE roles
    in the triangle join read one materialized table instead of
    re-running the basket pipeline per role. Triangle enumeration is
    two hash equi-joins (e1.b = e2.a, then the closing (a, c) probe);
    the a < b < c orientation counts each triangle exactly once and
    bounds the wedge fan-out by forward-degree. At 100 TB scale the
    standard refinement is degree orientation (point each edge at the
    higher-degree endpoint, bounding forward-degree by sqrt(|E|)) —
    same plan, different orientation predicate; node participation is
    an explode + hash count, and the top-20 lowers to
    TakeOrderedAndProject.
    """
    from engine.relational import q_basket_pairs

    e = (
        q_basket_pairs(spark, sf_dir)
        .select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
        .localCheckpoint(eager=True)
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), F.col("node"))
        .limit(20)
    )


@register(
    "q_eval_auc",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    grp AS (
      SELECT score, count(*) AS n, CAST(sum(y) AS BIGINT) AS npos
      FROM scored GROUP BY score
    ),
    ranked AS (
      SELECT npos, n,
             coalesce(sum(n) OVER (ORDER BY score
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cum_before
      FROM grp
    ),
    tot AS (
      SELECT CAST(sum(npos) AS BIGINT) AS p,
             CAST(sum(n) - sum(npos) AS BIGINT) AS q,
             sum(npos * (cum_before + (n + 1) / 2.0)) AS rank_sum
      FROM ranked
    )
    SELECT p AS n_pos, q AS n_neg,
           round((rank_sum - p * (p + 1) / 2.0) / (p * q), 6) AS auc
    FROM tot
    """,
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a score column against a binary label via the
    Mann-Whitney rank statistic — the model-evaluation operator of a
    training pipeline (here: first embedding component vs label parity;
    ~0.5 is the expected uninformative result on the synthetic fixture,
    which is the A/A-style sanity read).

    Fully relational and DISTRIBUTED: scores collapse to per-score tie
    groups (one hash agg), the global rank prefix over the group table
    is engine.stats.banded_cum on a floor(score*64) band (equal scores
    share a band, so average ranks of tie groups stay exact) minus the
    group's own count, and AUC is closed-form from the
    exact (n, npos, cum_before) integers. The oracle writes the naive
    single-partition running-sum window; the plans differ, the relation
    does not. Average-rank tie handling makes the statistic exact for
    ANY tie structure, not just distinct scores.
    """
    from engine.stats import banded_cum

    scored = (
        _t(spark, sf_dir, "embeddings")
        .select(
            F.element_at("embedding", 1).cast("double").alias("score"),
            F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("y"),
        )
    )
    grp = scored.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("npos")
    )
    ranked = banded_cum(
        grp, F.floor(F.col("score") * 64), ["score"], ["n"]
    ).withColumn("cum_before", F.col("cum_n") - F.col("n"))
    tot = ranked.agg(
        F.sum("npos").cast("long").alias("p"),
        (F.sum("n") - F.sum("npos")).cast("long").alias("q"),
        F.sum(
            F.col("npos") * (F.col("cum_before") + (F.col("n") + 1) / 2.0)
        ).alias("rank_sum"),
    )
    return tot.select(
        F.col("p").alias("n_pos"),
        F.col("q").alias("n_neg"),
        F.round(
            (F.col("rank_sum") - F.col("p") * (F.col("p") + 1) / 2.0)
            / (F.col("p") * F.col("q")),
            6,
        ).alias("auc"),
    )


@register(
    "q_rolling_active_users",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    bounds AS (SELECT max(day) AS max_day FROM daily),
    contrib AS (
      SELECT user_id, day + CAST(x AS INT) AS d
      FROM daily, unnest(range(0, 7)) t(x)
    ),
    wau AS (
      SELECT d, count(DISTINCT user_id) AS wau
      FROM contrib, bounds WHERE d <= max_day GROUP BY d
    ),
    dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM daily GROUP BY day)
    SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
           round(CAST(dau AS DOUBLE) / wau, 4) AS stickiness
    FROM dau JOIN wau ON d = day
    ORDER BY day
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement metrics: DAU, trailing-7-day WAU, and the
    DAU/WAU stickiness ratio per day — the product-analytics staple
    whose naive form is a sliding-window COUNT DISTINCT (state-heavy
    and not incrementally mergeable).

    Distributed shape: events dedup once to (user, day) — the only
    full-data exchange — then each activity day CONTRIBUTES itself to
    the 7 window days that include it (a bounded ×7 explode of the
    already-small distinct table), and WAU(d) is a plain hash
    count-distinct per day. No window function, no per-day state,
    no re-scan per offset; at 100 TB the ×7 blowup of |users|×|days|
    is trivially smaller than the raw tick table. Partial leading
    windows keep natural semantics on both engines; contribution days
    past the data's end are clipped against the 1-row max-day
    broadcast.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    bounds = daily.agg(F.max("day").alias("max_day"))
    contrib = daily.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("x"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("x")).alias("d"))
    wau = (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("d") <= F.col("max_day"))
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = daily.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, F.col("d") == F.col("day"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 4).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@register(
    "q_cohort_ltv",
    oracle="""
    WITH firstm AS (
      SELECT user_id,
             min(CAST(date_trunc('month', ts) AS DATE)) AS cohort
      FROM events GROUP BY user_id
    ),
    monthly AS (
      SELECT e.user_id, cohort,
             (year(ts) * 12 + month(ts))
               - (year(cohort) * 12 + month(cohort)) AS age,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events e JOIN firstm f ON e.user_id = f.user_id
    ),
    cohort_age AS (
      SELECT cohort, age,
             CAST(sum(cents) AS BIGINT) AS cents,
             count(DISTINCT user_id) AS active_users
      FROM monthly GROUP BY cohort, age
    ),
    sized AS (
      SELECT cohort, count(*) AS cohort_size FROM firstm GROUP BY cohort
    )
    SELECT strftime(c.cohort, '%Y-%m') AS cohort, age, active_users,
           cohort_size,
           floor(sum(cents) OVER (PARTITION BY c.cohort ORDER BY age)
                 / CAST(cohort_size AS DOUBLE)) / 100.0 AS cum_ltv_per_user
    FROM cohort_age c JOIN sized s ON c.cohort = s.cohort
    ORDER BY cohort, age
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative revenue per user by cohort age in
    months (the acquisition-economics read: does a January cohort
    monetize like a June cohort at the same age?).

    Per-user first-month aggregate (one shuffle on user_id) joins back
    to the ticks to tag (cohort, age); revenue collapses to the
    |cohorts|x|ages| grid in one hash agg, and the cumulative window
    runs over THAT bounded table partitioned by cohort. floor-cents
    per-user division (the round-on-quotient trap). Month arithmetic
    uses year*12+month integers — identical on both engines.
    """
    ev = _t(spark, sf_dir, "events")
    firstm = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("month", F.col("ts")).cast("date")).alias("cohort")
    )
    monthly = ev.join(firstm, "user_id").select(
        "user_id",
        "cohort",
        (
            (F.year("ts") * 12 + F.month("ts"))
            - (F.year("cohort") * 12 + F.month("cohort"))
        ).alias("age"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cohort_age = monthly.groupBy("cohort", "age").agg(
        F.sum("cents").cast("long").alias("cents"),
        F.countDistinct("user_id").alias("active_users"),
    )
    sized = firstm.groupBy(F.col("cohort").alias("c2")).agg(
        F.count("*").alias("cohort_size")
    )
    w = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cohort_age.join(F.broadcast(sized), F.col("cohort") == F.col("c2"))
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort"),
            "age",
            "active_users",
            "cohort_size",
            (
                F.floor(
                    F.sum("cents").over(w) / F.col("cohort_size").cast("double")
                )
                / 100.0
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort", "age")
    )


@register(
    "q_user_overlap",
    oracle="""
    WITH seg AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, count(*) AS n FROM seg GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_common
      FROM seg a JOIN seg b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    ORDER BY type_a, type_b
    """,
)
def q_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: Jaccard similarity of the user sets
    behind each event-type pair (segment-overlap analysis — do
    purchasers and error-hitters share an audience?).

    The behavioral segments dedup to (type, user) once — the only
    full-data exchange — then pairs generate through a user-keyed
    self-join whose fan-out is bounded by |types| per user (each user
    contributes at most C(|types|,2) pairs), and segment sizes join
    back as a |types|-row broadcast. Exact integer intersection and
    union counts; the Jaccard is their deterministic quotient.
    """
    seg = (
        _t(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = seg.groupBy("event_type").agg(F.count("*").alias("n"))
    a = seg.select(F.col("event_type").alias("type_a"), "user_id")
    b = seg.select(F.col("event_type").alias("type_b"), F.col("user_id").alias("uid_b"))
    inter = (
        a.join(
            b,
            (F.col("user_id") == F.col("uid_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("ta"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("tb"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), F.col("type_a") == F.col("ta"))
        .join(F.broadcast(sb), F.col("type_b") == F.col("tb"))
        .select(
            "type_a",
            "type_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "q_session_paths",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM ordered
    ),
    paths AS (
      SELECT user_id, sid,
             array_to_string(
               list_slice(list(event_type ORDER BY ts, event_id), 1, 8),
               '>') AS path
      FROM sess GROUP BY user_id, sid
    )
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the 20 most common session paths (ordered
    event-type sequences within 30-minute-gap sessions, truncated to
    the first 8 steps) — the product-analytics "paths" report.

    Sessionization is the standard lag + running-sum pair on ONE
    (user_id) exchange; a row_number cut keeps at most 8 rows per
    session BEFORE the collect (an unbroken sub-gap activity chain can
    make a session arbitrarily long — pre-limiting bounds per-group
    state at 8 structs regardless), the path assembles from the sorted
    remainder, and path counting is a hash agg on the path string with
    the top-20 lowering to TakeOrderedAndProject. Ties in ts break on
    event_id on both engines, so the path strings are byte-identical.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = ev.withColumn(
        "new_s",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("new_s").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # pre-limit BEFORE collecting: a user with unbroken sub-30-min
    # activity chains an arbitrarily long session, and collecting it
    # whole just to slice 8 steps materializes unbounded per-group
    # state — the row_number cut keeps at most 8 rows per session and
    # reuses the sessionization window's exchange+sort
    rn = F.row_number().over(
        Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    )
    paths = (
        sess.withColumn("rn", rn)
        .filter(F.col("rn") <= 8)
        .groupBy("user_id", "sid")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(20)
    )


@register(
    "q_funnel_windowed",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(ts) AS t1
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE event_type = 'click' AND ts > t0
        AND ts <= t0 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(ts) AS t2
      FROM events e JOIN c ON e.user_id = c.user_id
      JOIN s ON e.user_id = s.user_id
      WHERE event_type = 'purchase' AND ts > t1
        AND ts <= t0 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT
      (SELECT count(*) FROM s) AS n_level1,
      (SELECT count(*) FROM c) AS n_level2,
      (SELECT count(*) FROM p) AS n_level3
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOWED funnel (ClickHouse-windowFunnel parity): users
    completing signup → later click → later purchase with the WHOLE
    chain inside 24 hours of the signup anchor — q_funnel's shape plus
    the conversion-window constraint every growth team actually uses.

    Same chained min-join plan as q_funnel (each stage: pushed
    event-type filter + user_id equi-join on the previous stage's
    first-hit + min agg — all shuffles land on user_id so the exchange
    layout is reused), with the window bound riding each join as a
    residual on already-matched keys. Three tiny count aggregates fold
    into one row.
    """
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(
            (F.col("ts") > F.col("t0"))
            & (F.col("ts") <= F.col("t0") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"), F.any_value("t0").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t0") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    n1 = s.agg(F.count("*").alias("n_level1"))
    n2 = c.agg(F.count("*").alias("n_level2"))
    n3 = p.agg(F.count("*").alias("n_level3"))
    return n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))


@register(
    "q_survival_km",
    oracle="""
    WITH span AS (
      SELECT user_id,
             CAST(min(date_trunc('day', ts)) AS DATE) AS first_day,
             CAST(max(date_trunc('day', ts)) AS DATE) AS last_day
      FROM events GROUP BY user_id
    ),
    mx AS (SELECT max(last_day) AS max_day FROM span),
    durs AS (
      SELECT datediff('day', first_day, last_day) AS t,
             CASE WHEN last_day >= max_day - 6 THEN 0 ELSE 1 END AS churned
      FROM span, mx
    ),
    hist AS (
      SELECT t, count(*) AS n_ending,
             CAST(sum(churned) AS BIGINT) AS d
      FROM durs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             CAST(sum(n_ending) OVER (ORDER BY t DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM hist
    )
    SELECT t, n_risk, d,
           round(exp(sum(ln(1.0 - CAST(d AS DOUBLE) / n_risk))
                     OVER (ORDER BY t ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                 4) + 0.0 AS survival
    FROM risk WHERE d < n_risk
    ORDER BY t
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for user churn: S(t) = Π(1 − dᵢ/nᵢ)
    over activity-span durations, with users still active in the final
    week treated as CENSORED (they leave the risk set without counting
    as churn) — the right-censoring estimator a naive churn-rate
    report gets wrong.

    One per-user span aggregate (the only full-data exchange) reduces
    to a duration histogram bounded by the day domain; the risk set is
    a descending running sum and the product a running Σln — both
    windows over the ≤|days| histogram, where the frame order is
    identical on both engines so the double fold is deterministic.
    Rows where every at-risk user churns (S hits 0, ln(0)) cannot
    occur while censored users exist at max t; the d < n_risk guard
    drops the degenerate final row if censoring were removed.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts")).cast("date")).alias("first_day"),
        F.max(F.date_trunc("day", F.col("ts")).cast("date")).alias("last_day"),
    )
    mx = span.agg(F.max("last_day").alias("max_day"))
    durs = span.crossJoin(F.broadcast(mx)).select(
        F.datediff("last_day", "first_day").alias("t"),
        F.when(
            F.col("last_day") >= F.date_sub(F.col("max_day"), 6), 0
        ).otherwise(1).alias("churned"),
    )
    hist = durs.groupBy("t").agg(
        F.count("*").alias("n_ending"),
        F.sum("churned").cast("long").alias("d"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = hist.withColumn("n_risk", F.sum("n_ending").over(w_desc).cast("long"))
    w_asc = Window.orderBy(F.asc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = F.exp(
        F.sum(F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))).over(w_asc)
    )
    return (
        risk.filter(F.col("d") < F.col("n_risk"))
        .select(
            "t", "n_risk", "d", (F.round(surv, 4) + 0.0).alias("survival")
        )
        .orderBy("t")
    )


@register(
    "q_user_entropy",
    oracle="""
    WITH tc AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    ent AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * CAST(round(log2(c) * 1000000000) AS BIGINT))
                  AS BIGINT) AS qclogc
      FROM tc GROUP BY user_id
    ),
    h AS (
      SELECT user_id,
             round(log2(n) - CAST(qclogc AS DOUBLE) / 1000000000 / n, 2) + 0.0
               AS entropy
      FROM ent
    )
    SELECT entropy, count(*) AS n_users
    FROM h GROUP BY entropy
    ORDER BY entropy
    """,
)
def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity screen: Shannon entropy (bits) of each
    user's event-type distribution, bucketed to a 0.01-bit histogram —
    bots cluster at 0 (one action repeated), engaged humans near
    log2(|types|); the segmentation signal fraud and engagement teams
    both read.

    H = log2(n) − Σc·log2(c)/n from per-(user, type) exact counts; the
    Σc·log2(c) term sums c × QUANTIZED log2(c) as bigints (≤|types|
    terms per user, but partial-aggregation order still varies — the
    quantized integers sum exactly in any order). Two hash aggregates
    (user×type, then user) + a histogram reduce over the bounded
    entropy-bucket domain.
    """
    tc = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
    )
    qlog = F.round(F.log2(F.col("c").cast("double")) * 1_000_000_000).cast("long")
    ent = tc.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * qlog).cast("long").alias("qclogc"),
    )
    entropy = (
        F.round(
            F.log2(F.col("n").cast("double"))
            - F.col("qclogc").cast("double") / 1_000_000_000 / F.col("n"),
            2,
        )
        + 0.0
    )
    return (
        ent.select(entropy.alias("entropy"))
        .groupBy("entropy")
        .agg(F.count("*").alias("n_users"))
        .orderBy("entropy")
    )


@register(
    "q_dataset_card",
    oracle="""
    WITH doc_stats AS (
      SELECT count(*) AS n_docs,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT source) AS n_sources,
             CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT)
               AS n_tokens,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents
    ),
    dup AS (
      SELECT count(*) - count(DISTINCT md5(text)) AS n_exact_dups
      FROM documents
    ),
    empty AS (
      SELECT CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_empty
      FROM documents
    )
    SELECT n_docs, n_langs, n_sources, n_tokens, n_chars,
           (SELECT n_exact_dups FROM dup) AS n_exact_dups,
           (SELECT n_empty FROM empty) AS n_empty,
           round(CAST(n_tokens AS DOUBLE) / n_docs, 2) AS avg_tokens_per_doc
    FROM doc_stats
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the one-row corpus summary a training run records
    before it starts — sizes, language/source diversity, exact-dup and
    empty-doc counts, tokens per doc (the numbers that go in the model
    card's data section).

    All scalar facts ride ONE documents scan: the count-distincts and
    conditional sums share a single aggregate (two-phase for the
    distincts), and the md5-based dup count folds in as
    count − count(DISTINCT hash). The row is the cheap always-run
    health gate in front of the deep screens (q_text_quality,
    q_dedup_*, q_text_hapax).
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z]+)"), 1)
    )
    card = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(toks).cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
        F.sum(
            F.when(F.length(F.trim(F.col("text"))) == 0, 1).otherwise(0)
        ).cast("long").alias("n_empty"),
    )
    return card.select(
        "*",
        F.round(F.col("n_tokens").cast("double") / F.col("n_docs"), 2).alias(
            "avg_tokens_per_doc"
        ),
    )


@register(
    "q_order_cadence",
    oracle="""
    WITH gaps AS (
      SELECT datediff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey),
                      o_orderdate) AS gap_days
      FROM orders
    )
    SELECT gap_days, count(*) AS n_intervals
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY gap_days
    ORDER BY gap_days
    """,
)
def q_order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence distribution: the histogram of days between a
    customer's consecutive orders (the replenishment-cycle signal that
    feeds churn-risk windows and send-time optimization).

    One custkey exchange drives the lag; the histogram reduce is
    bounded by the day-gap domain. Integer day arithmetic end to end.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        _t(spark, sf_dir, "orders")
        .select(
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days")
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.groupBy("gap_days")
        .agg(F.count("*").alias("n_intervals"))
        .orderBy("gap_days")
    )


@register(
    "q_eval_ndcg",
    oracle="""
    WITH s AS (
      SELECT label AS qid, vec_id,
             CAST(embedding[2] AS DOUBLE) AS score,
             CAST(least(greatest(floor((CAST(embedding[3] AS DOUBLE) + 1) * 2),
                                 0), 3) AS INTEGER) AS rel
      FROM embeddings),
    r AS (
      SELECT qid, rel,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS pos_s,
             row_number() OVER (PARTITION BY qid
                                ORDER BY rel DESC, vec_id) AS pos_r
      FROM s),
    g AS (
      SELECT qid,
             sum(CASE WHEN pos_s <= 10 THEN
                 CAST(floor(((CAST(1 AS BIGINT) << rel) - 1) * 1000000000.0
                            / ln(pos_s + 1)) AS BIGINT) ELSE 0 END) AS dcg,
             sum(CASE WHEN pos_r <= 10 THEN
                 CAST(floor(((CAST(1 AS BIGINT) << rel) - 1) * 1000000000.0
                            / ln(pos_r + 1)) AS BIGINT) ELSE 0 END) AS idcg
      FROM r GROUP BY qid)
    SELECT qid AS label,
           CASE WHEN idcg = 0 THEN 0.0
                ELSE round(CAST(dcg AS DOUBLE) / idcg, 6) END AS ndcg_10
    FROM g
    """,
)
def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query group — the ranking-evaluation operator of a
    retrieval / reranker training pipeline (label = query group,
    second embedding component = model score, third quantized to a
    0-3 graded relevance).

    One label-partitioned exchange carries BOTH row_number orderings
    (actual ranking by score, ideal ranking by relevance), so the
    whole metric is a single shuffle + one hash aggregate per query.
    Discount uses ln instead of log2: NDCG is invariant under constant
    scaling of the discount (numerator and denominator scale
    together), and ln is the cross-engine-stable primitive (the
    q_text_perplexity precedent). Each term is quantized to a bigint
    (floor(gain·1e9/ln(pos+1))) before summation so the per-group sum
    is order-independent and the final ratio of exact integers is
    deterministic (engine/registry.py float policy)."""
    e = _t(spark, sf_dir, "embeddings")
    s = e.select(
        F.col("label").alias("qid"),
        "vec_id",
        F.element_at("embedding", 2).cast("double").alias("score"),
        F.least(
            F.greatest(
                F.floor((F.element_at("embedding", 3).cast("double") + 1) * 2),
                F.lit(0),
            ),
            F.lit(3),
        )
        .cast("int")
        .alias("rel"),
    )
    w = Window.partitionBy("qid")
    r = s.select(
        "qid",
        "rel",
        F.row_number().over(w.orderBy(F.desc("score"), F.asc("vec_id"))).alias("pos_s"),
        F.row_number().over(w.orderBy(F.desc("rel"), F.asc("vec_id"))).alias("pos_r"),
    )
    # 2^rel − 1 for rel ∈ {0..3}: pow is exact on these values
    gain = F.pow(F.lit(2.0), F.col("rel")).cast("long") - 1

    def _qterm(pos):
        return F.floor(gain * 1e9 / F.log(pos + 1)).cast("long")

    g = r.groupBy("qid").agg(
        F.sum(F.when(F.col("pos_s") <= 10, _qterm(F.col("pos_s"))).otherwise(0)).alias(
            "dcg"
        ),
        F.sum(F.when(F.col("pos_r") <= 10, _qterm(F.col("pos_r"))).otherwise(0)).alias(
            "idcg"
        ),
    )
    return g.select(
        F.col("qid").alias("label"),
        F.when(F.col("idcg") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("dcg").cast("double") / F.col("idcg"), 6))
        .alias("ndcg_10"),
    )


@register(
    "q_eval_pr_at_k",
    oracle="""
    WITH s AS (
      SELECT label AS qid, vec_id,
             CAST(embedding[2] AS DOUBLE) AS score,
             CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 1 ELSE 0 END AS rel
      FROM embeddings),
    r AS (
      SELECT qid, rel,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS pos
      FROM s),
    g AS (
      SELECT qid,
             CAST(sum(rel) AS BIGINT) AS n_rel,
             CAST(sum(CASE WHEN pos <= 10 THEN rel ELSE 0 END) AS BIGINT) AS hits
      FROM r GROUP BY qid)
    SELECT qid AS label, n_rel, hits,
           round(hits / 10.0, 6) AS precision_10,
           CASE WHEN n_rel = 0 THEN 0.0
                ELSE round(CAST(hits AS DOUBLE) / n_rel, 6) END AS recall_10
    FROM g
    """,
)
def q_eval_pr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@10 / Recall@10 per query group — the binary-relevance
    companion to q_eval_ndcg (relevant = positive third component).
    Same single-exchange shape: one label-partitioned row_number, one
    hash aggregate; both metrics are ratios of exact integers so no
    float-order noise can reach the rounded output."""
    e = _t(spark, sf_dir, "embeddings")
    s = e.select(
        F.col("label").alias("qid"),
        "vec_id",
        F.element_at("embedding", 2).cast("double").alias("score"),
        F.when(F.element_at("embedding", 3).cast("double") > 0, 1)
        .otherwise(0)
        .alias("rel"),
    )
    r = s.select(
        "qid",
        "rel",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id")))
        .alias("pos"),
    )
    g = r.groupBy("qid").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum(F.when(F.col("pos") <= 10, F.col("rel")).otherwise(0))
        .cast("long")
        .alias("hits"),
    )
    return g.select(
        F.col("qid").alias("label"),
        "n_rel",
        "hits",
        F.round(F.col("hits") / 10.0, 6).alias("precision_10"),
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("hits").cast("double") / F.col("n_rel"), 6))
        .alias("recall_10"),
    )


@register(
    "q_graph_degree",
    oracle="""
    WITH e AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    deg AS (SELECT l_partkey, count(*) AS degree FROM e GROUP BY l_partkey)
    SELECT degree, count(*) AS n_parts
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part-supplier bipartite graph — the
    first profiling read on any graph-shaped dataset (and the skew
    report that decides whether q_graph_pagerank needs salting).
    Three hash aggregates, each smaller than the last: distinct edges
    (map-side combine on the raw scan), per-part degree, then the
    degree histogram whose cardinality is bounded by the max degree.
    No joins, no windows — this shape survives any scale."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select("l_partkey", "l_suppkey").distinct()
    deg = edges.groupBy("l_partkey").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree").agg(F.count("*").alias("n_parts")).orderBy("degree")
    )


@register(
    "q_sample_importance",
    oracle="""
    WITH mx AS (SELECT max(n_chars) AS wmax FROM documents)
    SELECT doc_id, source, n_chars
    FROM documents, mx
    WHERE (CAST('0x' || substring(md5('imp:' || CAST(doc_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 100) * wmax < 100 * n_chars
    """,
)
def q_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling of the document corpus with acceptance
    probability proportional to a per-row weight (document length
    here, standing in for a quality score) — the weighted-mixture
    primitive a pretraining pipeline uses to upsample high-value
    sources without a global sort or RNG state.

    The accept test is the content-addressed md5 bucket (house
    pattern: reproducible, shard-stable, oracle-checkable) compared by
    INTEGER cross-multiplication — bucket·wmax < 100·n_chars — so no
    float division can disagree across engines. wmax is a 1-row
    broadcast scalar fold (the documented crossJoin pattern); the
    sample itself is a pure map over the corpus."""
    d = _t(spark, sf_dir, "documents")
    wmax = d.agg(F.max("n_chars").alias("wmax"))
    b = _md5_bucket(F.col("doc_id").cast("string"), "imp:")
    return (
        d.crossJoin(F.broadcast(wmax))
        .filter(b * F.col("wmax") < 100 * F.col("n_chars"))
        .select("doc_id", "source", "n_chars")
    )


@register(
    "q_events_attribution",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
             CASE WHEN event_type <> 'purchase' THEN event_type END AS ch
      FROM events
    ),
    w AS (
      SELECT *,
             last_value(ch IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, is_p, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
      FROM tagged
    )
    SELECT coalesce(channel, 'direct') AS channel,
           count(*) AS n_purchases,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS attributed_cents
    FROM w WHERE is_p = 1
    GROUP BY 1 ORDER BY 1
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits its value to the
    most recent PRECEDING non-purchase event type (the marketing
    channel), purchases with no prior touch fall to 'direct' — the
    classic attribution rollup, and the revenue-credit complement to
    q_funnel / q_session_paths.

    Single-Exchange plan: the q_join_asof carry —
    ``last(..., ignorenulls)`` over the (−∞, −1] frame on one
    (user_id, ts, is_purchase, event_id) sort — tags each purchase
    with its channel in the same pass that orders the stream; the
    rollup is one |channels|-bounded hash agg on floor-cents
    integers. Same-ts touches sort before the purchase, landing in
    its frame deterministically on both engines."""
    ev = _t(spark, sf_dir, "events")
    is_p = (F.col("event_type") == "purchase").cast("int")
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        is_p.alias("is_p"),
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias("ch"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("is_p"), F.asc("event_id")
    ).rowsBetween(Window.unboundedPreceding, -1)
    return (
        tagged.withColumn("channel", F.last("ch", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100))
            .cast("long")
            .alias("attributed_cents"),
        )
        .orderBy("channel")
    )


@register(
    "q_graph_components",
    oracle="""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
    nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
    reach(id, root) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.id
    ),
    m AS (SELECT id, CAST(min(root) AS BIGINT) AS component FROM reach GROUP BY id)
    SELECT component, CAST(count(*) AS BIGINT) AS n_parts
    FROM m GROUP BY component
    ORDER BY n_parts DESC, component ASC
    LIMIT 20
    """,
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph: every part
    labeled with its component's min part id, reported as the top-20
    "product families" by member count (parts not co-bought with
    anything are singleton components) — the graph-clustering read of
    the same edge set q_graph_triangles densifies and
    q_graph_pagerank ranks.

    Reuses :func:`connected_components` (measured-count strategy pick:
    driver-side union-find under the cap, min-label propagation to a
    converged fixpoint above it — scale analysis on q_dedup_cluster);
    the edge list is q_basket_pairs'
    (≥2 co-orders, a < b) symmetrized, and the node set is ALL
    distinct parts so isolated parts keep their singleton label.
    Convergence makes the result the true components, which is what
    the oracle's exact recursive transitive closure computes — no
    fixed-round compromise needed on either engine."""
    from engine.relational import q_basket_pairs

    li = _t(spark, sf_dir, "lineitem")
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    pairs = q_basket_pairs(spark, sf_dir).select("part_a", "part_b")
    labels = connected_components(nodes, pairs, "id")
    return (
        labels.groupBy(F.col("cluster_id").cast("long").alias("component"))
        .agg(F.count("*").cast("long").alias("n_parts"))
        .orderBy(F.desc("n_parts"), F.asc("component"))
        .limit(20)
    )


@register(
    "q_graph_link_predict",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM e GROUP BY src),
    cn AS (
      SELECT e1.src AS u, e2.dst AS v, CAST(count(*) AS BIGINT) AS common
      FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e1.src < e2.dst
      GROUP BY u, v
    ),
    sc AS (
      SELECT cn.u, cn.v, cn.common,
             EXISTS (SELECT 1 FROM e0 WHERE e0.a = cn.u AND e0.b = cn.v)
               AS is_edge,
             round(CAST(cn.common AS DOUBLE)
                   / (du.deg + dv.deg - cn.common), 6) + 0.0 AS jaccard
      FROM cn JOIN deg du ON du.node = cn.u JOIN deg dv ON dv.node = cn.v
    )
    SELECT u, v, common, is_edge, jaccard
    FROM sc ORDER BY jaccard DESC, u ASC, v ASC LIMIT 20
    """,
)
def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores on the co-purchase graph: common-neighbor
    count and neighbor-set Jaccard for every part pair within two
    hops, top-20 by Jaccard — the "parts that SHOULD be merchandised
    together" recommender signal (high score + is_edge = false is the
    prediction).

    Scale shape: the wedge join e ⋈ e on the shared middle node is the
    one quadratic-risk stage; its fan-out is Σ deg(w)² — bounded by
    the same co-purchase-frequency HAVING that bounds q_graph_triangles
    — and the common-neighbor count map-side-combines straight off it.
    Degrees are a |V|-row broadcast; the edge-existence flag is one
    more broadcast hash join against the oriented edge list; top-20 on
    the ROUNDED score (both engines rank identical values) lowers to
    TakeOrderedAndProject. All counts are exact integers; the only
    double is the final rounded ratio."""
    from engine.relational import q_basket_pairs

    e0 = (
        q_basket_pairs(spark, sf_dir)
        .select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
        .localCheckpoint(eager=True)
    )
    e = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    e1 = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    e2 = e.select(F.col("src").alias("w2"), F.col("dst").alias("v"))
    cn = (
        e1.join(e2, (F.col("w") == F.col("w2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("common"))
    )
    flagged = cn.join(
        e0.select(F.col("a").alias("u"), F.col("b").alias("v"), F.lit(True).alias("_e")),
        ["u", "v"],
        "left",
    ).withColumn("is_edge", F.coalesce(F.col("_e"), F.lit(False)))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    sc = (
        flagged.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "common",
            "is_edge",
            (
                F.round(
                    F.col("common").cast("double")
                    / (F.col("du") + F.col("dv") - F.col("common")),
                    6,
                )
                + 0.0
            ).alias("jaccard"),
        )
    )
    return sc.orderBy(F.desc("jaccard"), F.asc("u"), F.asc("v")).limit(20)


@register(
    "q_gdpr_erasure",
    oracle="""
    WITH erase AS (
      SELECT c_custkey FROM customer
      WHERE CAST(('0x' || substring(md5('erase:' || CAST(c_custkey AS VARCHAR)),
                                    1, 8)) AS BIGINT) % 100 < 5
    ),
    o AS (SELECT o_orderkey, o_custkey FROM orders),
    eo AS (SELECT o_orderkey FROM o JOIN erase ON o_custkey = c_custkey),
    audit AS (
      SELECT 'customer' AS table_name,
             (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_before,
             (SELECT CAST(count(*) AS BIGINT) FROM erase) AS rows_erased
      UNION ALL
      SELECT 'orders',
             (SELECT CAST(count(*) AS BIGINT) FROM o),
             (SELECT CAST(count(*) AS BIGINT) FROM eo)
      UNION ALL
      SELECT 'lineitem',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM eo))
    )
    SELECT table_name, rows_before, rows_erased,
           rows_before - rows_erased AS rows_after
    FROM audit ORDER BY table_name
    """,
)
def q_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact audit: a deterministic md5-chosen 5% of
    customers is marked for deletion and the cascade is sized across
    customer → orders → lineitem — the compliance dry-run every
    lakehouse needs before an actual DELETE/MERGE wave (the write side
    is q_merge_upsert's machinery).

    The erase set derives map-side from the customer scan (the
    engine's content-addressed md5 convention — reproducible across
    runs and engines); orders resolve by LEFT SEMI join against it and
    lineitems by LEFT SEMI against the doomed orders. At fixture scale
    both semi joins broadcast; at 100 TB AQE picks shuffled semi joins
    on the same plan, and the three audit rows are 1-row aggregates
    unioned — nothing wide ever collects."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    erase = c.filter(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("erase:"), F.col("c_custkey").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
        < 5
    ).select("c_custkey")
    eo = o.join(erase, o["o_custkey"] == erase["c_custkey"], "left_semi").select(
        "o_orderkey"
    )
    el = li.join(eo, li["l_orderkey"] == eo["o_orderkey"], "left_semi")

    def audit(name: str, full: DataFrame, gone: DataFrame) -> DataFrame:
        return full.agg(F.count("*").cast("long").alias("rows_before")).crossJoin(
            F.broadcast(gone.agg(F.count("*").cast("long").alias("rows_erased")))
        ).select(F.lit(name).alias("table_name"), "rows_before", "rows_erased")

    rows = (
        audit("customer", c, erase)
        .unionByName(audit("orders", o, eo))
        .unionByName(audit("lineitem", li, el))
    )
    return rows.select(
        "table_name",
        "rows_before",
        "rows_erased",
        (F.col("rows_before") - F.col("rows_erased")).alias("rows_after"),
    ).orderBy("table_name")


@register(
    "q_sample_class_balance",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             md5('bal:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
      FROM d
    ),
    kk AS (SELECT CAST(min(cnt) AS BIGINT) AS k
           FROM (SELECT count(*) AS cnt FROM d GROUP BY lang)),
    kept AS (SELECT lang, doc_id FROM r, kk WHERE rn <= k)
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_before,
           CAST(count(kept.doc_id) AS BIGINT) AS n_after,
           CAST(coalesce(sum(kept.doc_id), 0) AS BIGINT) AS kept_checksum
    FROM d LEFT JOIN kept ON kept.lang = d.lang AND kept.doc_id = d.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def q_sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language class thins to the
    minority-class size by keeping the k docs with the smallest
    content-addressed md5 rank — the deterministic rebalancing step
    before training on a skewed corpus (no RNG, reproducible across
    runs, engines, and shards). The kept-set doc_id checksum in the
    audit proves the EXACT selection matched, not just the counts.

    Scale shape: one hash per row map-side, one per-class rank window
    (each class sorts only its own partition), a 1-row minority-size
    bound broadcast back, and a |classes|-row audit. The md5 order is
    a total order (ties broken by doc_id), so the kept set is unique."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    r = d.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("h", "doc_id"))
        .alias("rn"),
    )
    kk = (
        d.groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").cast("long").alias("k"))
    )
    kept = (
        r.crossJoin(F.broadcast(kk))
        .filter(F.col("rn") <= F.col("k"))
        .select(F.col("lang").alias("klang"), F.col("doc_id").alias("kept_id"))
    )
    return (
        d.join(
            kept,
            (d["lang"] == kept["klang"]) & (d["doc_id"] == kept["kept_id"]),
            "left",
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_before"),
            F.count("kept_id").cast("long").alias("n_after"),
            F.coalesce(F.sum("kept_id"), F.lit(0)).cast("long").alias("kept_checksum"),
        )
        .orderBy("lang")
    )


def _cluster_oracle() -> str:
    from engine.registry import _ORACLES

    return _ORACLES["q_dedup_cluster"]


@register(
    "q_dedup_soft_weights",
    oracle=f"""
    WITH base AS ({_cluster_oracle()})
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN base.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in_clusters,
           round(sum(1000000000 // base.cluster_size) / 1000000000.0, 4) + 0.0
             AS effective_docs
    FROM base JOIN documents d USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup reweighting: instead of dropping near-duplicates,
    every document gets weight 1/cluster_size (a cluster of 4
    near-identical docs contributes one document's worth of gradient)
    — the soft alternative to q_dedup_cluster's keep/drop decision,
    reported per language as effective corpus size.

    Weights quantize to integer nano-units (10⁹ div size) BEFORE the
    per-language sum so the effective-size aggregate is
    order-independent; cluster labels come from the same converged
    components pass as q_dedup_cluster (shared plan, shared oracle
    CTE chain)."""
    labels = q_dedup_cluster(spark, sf_dir).select("doc_id", "cluster_size")
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    j = d.join(labels, "doc_id").select(
        "lang",
        "cluster_size",
        F.expr("1000000000 div cluster_size").cast("long").alias("wq"),
    )
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("cluster_size") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_in_clusters"),
            (F.round(F.sum("wq") / 1000000000.0, 4) + 0.0).alias("effective_docs"),
        )
        .orderBy("lang")
    )



# ---- Markov removal-effect attribution (q_attribution_markov) ----
# The 5-state transient system (START + 4 channels) is solved EXACTLY
# by Cramer's rule: every determinant is a Leibniz sum over integer
# transition counts, generated ONCE here and pasted into both the
# Spark expression and the DuckDB oracle, so the two engines run the
# bit-identical polynomial. 128-bit arithmetic (decimal(38,0) /
# HUGEINT) holds the 5-entry products at any realistic SF
# ((2e7)^5 ~ 3e36 < 1e38).

_MK_CHANNELS = ["click", "error", "signup", "view"]


def _mk_det(m: list[list[str]]) -> str:
    """Determinant of a matrix of SQL expression strings by recursive
    first-column cofactor expansion, skipping structural zeros (the
    START column is zero below the diagonal, so the denominator
    determinants collapse to tot_S times a channel minor). The nested
    product-of-sums form is both far smaller than the flat 120-term
    Leibniz sum (which made Spark broadcast a 5.5 MiB task binary)
    and shallow enough for DuckDB's 128-deep binder recursion. The
    value is the same exact 128-bit integer either way."""
    n = len(m)
    if n == 1:
        return m[0][0]
    terms = []
    for i in range(n):
        if m[i][0] == "0":
            continue
        minor = [row[1:] for k, row in enumerate(m) if k != i]
        sign = "" if i % 2 == 0 else "0 - "
        terms.append(f"({sign}{m[i][0]} * {_mk_det(minor)})")
    if not terms:
        return "0"
    return "(" + " + ".join(terms) + ")"


def _mk_matrix(states: list[str], cast: str) -> tuple[list[list[str]], list[str]]:
    """(M, b) for transient `states` (index 0 is START): M[i][j] =
    δ_ij·tot_i − t_i_j with nothing ever entering START, b[i] = t_i_P."""

    m = []
    for i in states:
        row = []
        for j in states:
            if i == j and j == "S":
                row.append(f"CAST(tot_{i} AS {cast})")
            elif j == "S":
                row.append("0")  # nothing ever enters START
            elif i == j:
                row.append(
                    f"(CAST(tot_{i} AS {cast}) - CAST(t_{i}_{j} AS {cast}))"
                )
            else:
                row.append(f"(0 - CAST(t_{i}_{j} AS {cast}))")
        m.append(row)
    b = [f"CAST(t_{i}_P AS {cast})" for i in states]
    return m, b


def _mk_exprs(cast: str) -> dict[str, str]:
    """All ten determinant expressions keyed by output column name."""
    out: dict[str, str] = {}
    all_states = ["S"] + [f"c{i}" for i in range(len(_MK_CHANNELS))]
    m, b = _mk_matrix(all_states, cast)
    num = [list(r) for r in m]
    for i in range(len(all_states)):
        num[i][0] = b[i]
    out["full_den"] = _mk_det(m)
    out["full_num"] = _mk_det(num)
    for r in range(len(_MK_CHANNELS)):
        states = ["S"] + [f"c{i}" for i in range(len(_MK_CHANNELS)) if i != r]
        m_r, b_r = _mk_matrix(states, cast)
        num_r = [list(row) for row in m_r]
        for i in range(len(states)):
            num_r[i][0] = b_r[i]
        out[f"rm{r}_den"] = _mk_det(m_r)
        out[f"rm{r}_num"] = _mk_det(num_r)
    return out


def _mk_count_sql() -> str:
    """Conditional-count column list for the one-row transition pivot."""
    cols = []
    srcs = [("S", "__start")] + [
        (f"c{i}", ch) for i, ch in enumerate(_MK_CHANNELS)
    ]
    dsts = [(f"c{i}", ch) for i, ch in enumerate(_MK_CHANNELS)] + [
        ("P", "purchase"),
        ("N", "__null"),
    ]
    for sa, sv in srcs:
        cols.append(
            f"count(*) FILTER (WHERE src = '{sv}') AS tot_{sa}"
        )
        for da, dv in dsts:
            cols.append(
                f"count(*) FILTER (WHERE src = '{sv}' AND dst = '{dv}')"
                f" AS t_{sa}_{da}"
            )
    return ",\n             ".join(cols)


def _mk_oracle() -> str:
    e = _mk_exprs("HUGEINT")
    selects = []
    for r, ch in enumerate(_MK_CHANNELS):
        selects.append(
            f"""SELECT '{ch}' AS channel,
           round(CAST({e['full_num']} AS DOUBLE)
                 / CAST({e['full_den']} AS DOUBLE), 6) + 0.0 AS conv_full,
           round(CAST({e[f'rm{r}_num']} AS DOUBLE)
                 / CAST({e[f'rm{r}_den']} AS DOUBLE), 6) + 0.0 AS conv_removed,
           round(1 - (CAST({e[f'rm{r}_num']} AS DOUBLE)
                      / CAST({e[f'rm{r}_den']} AS DOUBLE))
                     / (CAST({e['full_num']} AS DOUBLE)
                        / CAST({e['full_den']} AS DOUBLE)), 6) + 0.0
             AS removal_effect
    FROM w"""
        )
    body = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type AS et,
             coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prior_p
      FROM events
    ),
    j AS (SELECT * FROM e WHERE prior_p = 0),
    tr AS (
      SELECT user_id, et AS src,
             coalesce(lead(et) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id), '__null') AS dst,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM j
    ),
    trans AS (
      SELECT src, dst FROM tr WHERE src <> 'purchase'
      UNION ALL
      SELECT '__start' AS src, src AS dst FROM tr WHERE rn = 1
    ),
    w AS (
      SELECT {_mk_count_sql()}
      FROM trans
    )
    {body}
    ORDER BY channel
    """


@register("q_attribution_markov", oracle=_mk_oracle())
def q_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution: user journeys up to
    their first purchase define a first-order Markov chain over
    channels; each channel's credit is how much the start→purchase
    absorption probability DROPS when that channel is removed
    (transitions into it become lost mass) — the data-driven
    alternative to last-touch (q_events_attribution) that the
    marketing-analytics stacks publish.

    The absorption probabilities are solved EXACTLY: the ≤5×5
    transient system (I−Q)a = b is cleared of denominators (row i
    scaled by tot_i, keeping every matrix entry an integer transition
    count) and Cramer's rule evaluates as Leibniz sums over 128-bit
    integers (decimal(38,0) / HUGEINT — generated once in
    _mk_det and shared verbatim by both engines), so there is NO
    iterative solve, no convergence threshold, and no float until the
    final division. Scale shape: journeys need ONE (user)-partitioned
    sort for the three sequential passes (prior-purchase flag, lead,
    first-row flag); the transition relation collapses map-side into
    ONE wide count row; the determinant algebra runs on that single
    row. A removal_effect can be negative only if the chain is
    degenerate; the oracle and Spark agree bit-for-bit either way."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("et"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("prior_p"),
    )
    j = e.filter(F.col("prior_p") == 0)
    tr = j.select(
        F.col("et").alias("src"),
        F.coalesce(F.lead("et").over(w), F.lit("__null")).alias("dst"),
        F.row_number().over(w).alias("rn"),
    )
    trans = tr.filter(F.col("src") != "purchase").select("src", "dst").unionAll(
        tr.filter(F.col("rn") == 1).select(
            F.lit("__start").alias("src"), F.col("src").alias("dst")
        )
    )
    srcs = [("S", "__start")] + [(f"c{i}", ch) for i, ch in enumerate(_MK_CHANNELS)]
    dsts = [(f"c{i}", ch) for i, ch in enumerate(_MK_CHANNELS)] + [
        ("P", "purchase"),
        ("N", "__null"),
    ]
    aggs = []
    for sa, sv in srcs:
        aggs.append(
            F.count(F.when(F.col("src") == sv, 1)).cast("long").alias(f"tot_{sa}")
        )
        for da, dv in dsts:
            aggs.append(
                F.count(F.when((F.col("src") == sv) & (F.col("dst") == dv), 1))
                .cast("long")
                .alias(f"t_{sa}_{da}")
            )
    wide = trans.agg(*aggs)
    ex = _mk_exprs("DECIMAL(38,0)")
    dets = wide.select(
        *[
            F.expr(f"CAST({ex[k]} AS DOUBLE)").alias(k)
            for k in ex
        ]
    )
    rows = []
    for r, ch in enumerate(_MK_CHANNELS):
        conv_full = F.col("full_num") / F.col("full_den")
        conv_rm = F.col(f"rm{r}_num") / F.col(f"rm{r}_den")
        rows.append(
            dets.select(
                F.lit(ch).alias("channel"),
                (F.round(conv_full, 6) + 0.0).alias("conv_full"),
                (F.round(conv_rm, 6) + 0.0).alias("conv_removed"),
                (F.round(1 - conv_rm / conv_full, 6) + 0.0).alias(
                    "removal_effect"
                ),
            )
        )
    out = rows[0]
    for r_ in rows[1:]:
        out = out.unionAll(r_)
    return out.orderBy("channel")


@register(
    "q_sequence_ngrams",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id, event_type AS et,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)) > 7200
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    g AS (
      SELECT user_id, ts, event_id, et,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM s
    ),
    tri AS (
      SELECT user_id,
             et || '>' || lead(et) OVER w || '>' || lead(et, 2) OVER w
               AS trigram,
             lead(et, 2) OVER w AS t3
      FROM g WINDOW w AS (PARTITION BY user_id, sess ORDER BY ts, event_id)
    )
    SELECT trigram, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM tri WHERE t3 IS NOT NULL
    GROUP BY trigram
    ORDER BY n_occurrences DESC, trigram
    LIMIT 15
    """,
)
def q_sequence_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavioral trigrams: the top-15 three-event sequences
    occurring INSIDE a session (2-hour inactivity gap — measured: the
    sparse fixture's median inter-event gap makes 30-minute sessions
    ~1 event at every SF, while 2 h yields a rich trigram
    distribution at all three), with how
    many distinct users exhibit each — the sequence-mining summary
    behind 'what do users actually do' product questions, and the
    n-gram generalization of q_event_paths' full-path histogram.

    One (user)-partitioned sort carries the gap flag + running
    session id; the two leads re-sort only because the partition key
    tightens to (user, sess) — same exchange, Spark plans one
    shuffle. Trigrams emit map-side (≤1 per event), collapse in one
    hash agg with a partial distinct for users, and the global top-15
    lowers to TakeOrderedAndProject (count desc, trigram tiebreak —
    deterministic on both engines)."""
    from pyspark.sql import Window

    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("et"),
        F.when(
            (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w1))
                > 7200
            )
            | F.lag("ts").over(w1).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    g = s.withColumn(
        "sess",
        F.sum("new_sess").over(w1.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w2 = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    tri = g.select(
        "user_id",
        F.concat_ws(
            ">", F.col("et"), F.lead("et").over(w2), F.lead("et", 2).over(w2)
        ).alias("trigram"),
        F.lead("et", 2).over(w2).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        tri.groupBy("trigram")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("trigram"))
        .limit(15)
    )


@register(
    "q_privacy_kanonymity",
    oracle="""
    WITH q AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
      FROM customer
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(count(*) AS BIGINT) AS sz
      FROM q GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n_customers,
                   CAST(count(*) AS BIGINT) AS n_classes FROM cls)
    SELECT k, n_classes,
           CAST(n_small AS BIGINT) AS n_small_classes,
           CAST(at_risk AS BIGINT) AS n_customers_at_risk,
           round(CAST(at_risk AS DOUBLE) / n_customers, 4) + 0.0 AS risk_pct
    FROM (
      SELECT CAST(2 AS BIGINT) AS k,
             count(*) FILTER (WHERE sz < 2) AS n_small,
             coalesce(sum(sz) FILTER (WHERE sz < 2), 0) AS at_risk
      FROM cls
      UNION ALL
      SELECT 5, count(*) FILTER (WHERE sz < 5),
             coalesce(sum(sz) FILTER (WHERE sz < 5), 0) FROM cls
      UNION ALL
      SELECT 10, count(*) FILTER (WHERE sz < 10),
             coalesce(sum(sz) FILTER (WHERE sz < 10), 0) FROM cls
    ) s, tot
    ORDER BY k
    """,
)
def q_privacy_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over the customer quasi-identifier
    (nation, market segment, account-balance-in-thousands band): how
    many equivalence classes fall below k ∈ {2, 5, 10} and what
    fraction of customers is re-identifiable at each k — the
    privacy-risk readout that gates a dataset release, next to
    q_gdpr_erasure's deletion cascade.

    One hash aggregate builds the class-size relation; the three
    thresholds are conditional counts over that bounded table plus a
    1-row total fold — the fact table is scanned ONCE regardless of
    how many k values the audit reports."""
    q = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    cls = q.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count("*").cast("long").alias("sz")
    )
    tot = cls.agg(
        F.sum("sz").cast("long").alias("n_customers"),
        F.count("*").cast("long").alias("n_classes"),
    )
    ks = cls.agg(
        *[
            a
            for k in (2, 5, 10)
            for a in (
                F.count(F.when(F.col("sz") < k, 1))
                .cast("long")
                .alias(f"small_{k}"),
                F.coalesce(F.sum(F.when(F.col("sz") < k, F.col("sz"))), F.lit(0))
                .cast("long")
                .alias(f"risk_{k}"),
            )
        ]
    )
    wide = ks.crossJoin(F.broadcast(tot))
    stack = ", ".join(
        f"CAST({k} AS BIGINT), small_{k}, risk_{k}" for k in (2, 5, 10)
    )
    return wide.select(
        F.expr(f"stack(3, {stack}) AS (k, n_small_classes, n_customers_at_risk)"),
        "n_classes",
        "n_customers",
    ).select(
        "k",
        "n_classes",
        "n_small_classes",
        "n_customers_at_risk",
        (
            F.round(
                F.col("n_customers_at_risk").cast("double") / F.col("n_customers"),
                4,
            )
            + 0.0
        ).alias("risk_pct"),
    ).orderBy("k")


@register(
    "q_eval_calibration",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    mm AS (SELECT min(score) AS lo, max(score) AS hi FROM scored),
    p AS (
      SELECT least(CAST(floor((score - lo) / (hi - lo) * 10) AS BIGINT), 9)
               AS bin,
             CAST(floor((score - lo) / (hi - lo) * 1000000) AS BIGINT) AS pq,
             y
      FROM scored, mm
    ),
    b AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pq) AS BIGINT) AS spq,
             CAST(sum(y) AS BIGINT) AS pos
      FROM p GROUP BY bin
    ),
    e AS (
      SELECT CAST(sum(abs(spq - pos * 1000000)) AS BIGINT) AS num,
             CAST(sum(n) AS BIGINT) AS nn
      FROM b
    )
    SELECT bin, n,
           round(CAST(spq AS DOUBLE) / n / 1000000, 4) + 0.0 AS mean_pred,
           round(CAST(pos AS DOUBLE) / n, 4) + 0.0 AS pos_rate,
           round(CAST(e.num AS DOUBLE) / e.nn / 1000000, 4) + 0.0 AS ece
    FROM b, e ORDER BY bin
    """,
)
def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability diagram for a scalar score (the
    q_eval_auc score column min-max-normalized to a [0,1]
    pseudo-probability): 10 equal-width bins with mean predicted vs
    empirical positive rate, plus the expected calibration error —
    the model-eval readout that says WHERE a well-ranked score is
    over/under-confident (AUC alone cannot).

    Exactness: the normalization uses a 1-row min/max fold, every
    predicted probability quantizes to a 1e-6 integer from ONE
    deterministic double expression, and each bin's ECE contribution
    is the exact integer |Σp_q − pos·10⁶| — the weighted-mean folds
    are divisions of exact sums, never float accumulations. (No
    logistic: exp() is not correctly-rounded and could disagree
    across engines; min-max is monotone and engine-exact.)"""
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("embedding")[0].cast("double").alias("score"),
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("y"),
    )
    mm = F.broadcast(e.agg(F.min("score").alias("lo"), F.max("score").alias("hi")))
    p = e.crossJoin(mm).select(
        F.least(
            F.floor((F.col("score") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 10),
            F.lit(9),
        )
        .cast("long")
        .alias("bin"),
        F.floor(
            (F.col("score") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 1000000
        )
        .cast("long")
        .alias("pq"),
        "y",
    )
    b = p.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pq").cast("long").alias("spq"),
        F.sum("y").cast("long").alias("pos"),
    )
    ece = F.broadcast(
        b.agg(
            F.sum(F.abs(F.col("spq") - F.col("pos") * 1000000))
            .cast("long")
            .alias("num"),
            F.sum("n").cast("long").alias("nn"),
        )
    )
    return (
        b.crossJoin(ece)
        .select(
            "bin",
            "n",
            (F.round(F.col("spq").cast("double") / F.col("n") / 1000000, 4) + 0.0)
            .alias("mean_pred"),
            (F.round(F.col("pos").cast("double") / F.col("n"), 4) + 0.0).alias(
                "pos_rate"
            ),
            (
                F.round(F.col("num").cast("double") / F.col("nn") / 1000000, 4)
                + 0.0
            ).alias("ece"),
        )
        .orderBy("bin")
    )


@register(
    "q_sample_kfold",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5('fold:' || CAST(doc_id AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 5 AS fold
      FROM documents
    ),
    cell AS (
      SELECT fold, lang, CAST(count(*) AS BIGINT) AS n
      FROM d GROUP BY fold, lang
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn FROM cell
    ),
    lt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM cell GROUP BY lang),
    ft AS (SELECT fold, CAST(sum(n) AS BIGINT) AS nf FROM cell GROUP BY fold),
    chi AS (
      SELECT CAST(sum(CAST((n * nn - nl * nf) AS HUGEINT)
                      * (n * nn - nl * nf) * 1000000
                      // (CAST(nl AS HUGEINT) * nf * nn)) AS HUGEINT) AS chi_q
      FROM cell JOIN lt USING (lang) JOIN ft USING (fold), tot
    )
    SELECT fold, nf AS n_docs,
           round(CAST(nf AS DOUBLE) / nn, 4) + 0.0 AS share,
           round(CAST(chi_q AS DOUBLE) / 1000000 / nn, 4) + 0.0
             AS balance_chi2
    FROM ft, tot, chi ORDER BY fold
    """,
)
def q_sample_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment with a fold
    balance audit: docs shard by content-addressed md5 (reproducible
    across runs, engines, and shards — the q_split_hash discipline
    applied to CV), and the audit reports each fold's share plus the
    fold×language independence chi² — a skewed chi² means the folds
    are NOT exchangeable and CV estimates will be biased.

    The chi² cell terms (n·N − n_l·n_f)²/(n_l·n_f·N) quantize to 1e-6
    units by 128-bit integer floor-division, so the ≤|folds|·|langs|
    cell sum is exact; marginals are two tiny re-aggregates of the
    cell table; the fact table is scanned once."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 5
        ).alias("fold"),
    )
    cell = d.groupBy("fold", "lang").agg(F.count("*").cast("long").alias("n"))
    lt = cell.groupBy("lang").agg(F.sum("n").cast("long").alias("nl"))
    ft = cell.groupBy("fold").agg(F.sum("n").cast("long").alias("nf"))
    tot = F.broadcast(cell.agg(F.sum("n").cast("long").alias("nn")))
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    chi = F.broadcast(
        cell.join(F.broadcast(lt), "lang")
        .join(F.broadcast(ft), "fold")
        .crossJoin(tot)
        .agg(
            # per-cell EXACT integral division (Spark `div` on decimals
            # truncates the exact quotient; the QUOTIENT ~1e8 fits
            # long — unlike q_seasonality_strength's 1e24 case), so
            # the cell quantization floors identically to DuckDB's //
            F.sum(
                F.expr(
                    "CAST((CAST(n AS DECIMAL(38,0)) * nn - CAST(nl AS DECIMAL(38,0)) * nf)"
                    " * (CAST(n AS DECIMAL(38,0)) * nn - CAST(nl AS DECIMAL(38,0)) * nf)"
                    " * 1000000 AS DECIMAL(38,0))"
                    " div (CAST(nl AS DECIMAL(38,0)) * nf * nn)"
                )
            ).cast("long").alias("chi_q")
        )
    )
    return (
        ft.crossJoin(tot)
        .crossJoin(chi)
        .select(
            "fold",
            F.col("nf").alias("n_docs"),
            (F.round(F.col("nf").cast("double") / F.col("nn"), 4) + 0.0).alias(
                "share"
            ),
            (
                F.round(
                    F.col("chi_q").cast("double") / 1000000 / F.col("nn"), 4
                )
                + 0.0
            ).alias("balance_chi2"),
        )
        .orderBy("fold")
    )


@register(
    "q_eval_confusion",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN CAST(embedding[1] AS DOUBLE) >= 0 THEN 1 ELSE 0 END
               AS yhat,
             CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    c AS (
      SELECT CAST(count(*) FILTER (WHERE yhat = 1 AND y = 1) AS BIGINT) AS tp,
             CAST(count(*) FILTER (WHERE yhat = 1 AND y = 0) AS BIGINT) AS fp,
             CAST(count(*) FILTER (WHERE yhat = 0 AND y = 1) AS BIGINT) AS fn,
             CAST(count(*) FILTER (WHERE yhat = 0 AND y = 0) AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 4) + 0.0
             AS accuracy,
           round(CAST(tp AS DOUBLE) / (tp + fp), 4) + 0.0 AS precision_,
           round(CAST(tp AS DOUBLE) / (tp + fn), 4) + 0.0 AS recall,
           round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 4) + 0.0 AS f1
    FROM c
    """,
)
def q_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + threshold metrics for the sign-of-score
    classifier (score = first embedding component, label parity as
    ground truth — q_eval_auc's fixture convention): the
    model-evaluation table every training pipeline prints per
    checkpoint. AUC ranks threshold-free; this is the committed-
    threshold readout (accuracy/precision/recall/F1 at ŷ = [s ≥ 0]).

    ONE conditional hash aggregate collapses the corpus to the four
    exact cell counts (map-side combined — the same shape at 10⁹
    rows); every metric is a single IEEE division of exact integers
    (F1 via its 2tp/(2tp+fp+fn) closed form — never the
    harmonic-mean-of-floats form, which would compound two rounded
    divisions). The trailing underscore on precision_ dodges nothing
    in Spark but keeps the column name engine-neutral (PRECISION is
    reserved in some SQL dialects)."""
    scored = _t(spark, sf_dir, "embeddings").select(
        F.when(F.element_at("embedding", 1).cast("double") >= 0, 1)
        .otherwise(0)
        .alias("yhat"),
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("y"),
    )
    c = scored.agg(
        F.count(F.when((F.col("yhat") == 1) & (F.col("y") == 1), 1))
        .cast("long")
        .alias("tp"),
        F.count(F.when((F.col("yhat") == 1) & (F.col("y") == 0), 1))
        .cast("long")
        .alias("fp"),
        F.count(F.when((F.col("yhat") == 0) & (F.col("y") == 1), 1))
        .cast("long")
        .alias("fn"),
        F.count(F.when((F.col("yhat") == 0) & (F.col("y") == 0), 1))
        .cast("long")
        .alias("tn"),
    )
    tot = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        (F.round((F.col("tp") + F.col("tn")).cast("double") / tot, 4) + 0.0).alias(
            "accuracy"
        ),
        (
            F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 4)
            + 0.0
        ).alias("precision_"),
        (
            F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 4)
            + 0.0
        ).alias("recall"),
        (
            F.round(
                (2 * F.col("tp")).cast("double")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
                4,
            )
            + 0.0
        ).alias("f1"),
    )


@register(
    "q_eval_brier",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(greatest(least(
               0.5 + CAST(embedding[1] AS DOUBLE), 1.0), 0.0) * 1000000)
             AS BIGINT) AS p6,
             CASE WHEN label % 2 = 1 THEN CAST(1000000 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS y6
      FROM embeddings
    ),
    f AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST((p6 - y6) * (p6 - y6) AS HUGEINT)) AS HUGEINT)
               AS se,
             CAST(sum(y6) AS HUGEINT) AS sy,
             CAST(sum(CAST(y6 AS HUGEINT) * y6) AS HUGEINT) AS syy
      FROM scored
    )
    SELECT n,
           round(CAST(se AS DOUBLE) / (n * 1e12), 6) + 0.0 AS brier,
           round((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                 / (n * 1e12), 6) + 0.0 AS brier_ref,
           CASE WHEN syy * n - sy * sy > 0
                THEN round(1.0 - CAST(se AS DOUBLE) * n
                           / (CAST(syy AS DOUBLE) * n
                              - CAST(sy AS DOUBLE) * sy),
                           6) + 0.0
                ELSE NULL END AS skill
    FROM f
    """,
)
def q_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the calibrated-probability read p = clip(0.5 +
    score, 0, 1) against the binary label (q_eval_auc's fixture
    convention), plus the climatology reference (the Brier score of
    always predicting the base rate) and the resulting skill score
    1 − BS/BS_ref — the proper-scoring-rule companion to
    q_eval_calibration's ECE: ECE localizes MIScalibration; Brier
    skill says whether the probabilities beat the prior at all.

    Exactness: probabilities land on a 1e-6 integer grid BEFORE the
    squared-error sum (floats summed in shuffle order would drift;
    quantized squares are exact 128-bit integers — decimal(38,0) /
    HUGEINT), the reference expands to Σy² − (Σy)²/n on the same
    grid, and each reported value is one division-and-round of
    exactly-aggregated integers. ONE map-side-combined hash aggregate
    total; no window, no join."""
    p6 = F.floor(
        F.greatest(
            F.least(0.5 + F.element_at("embedding", 1).cast("double"), F.lit(1.0)),
            F.lit(0.0),
        )
        * 1000000
    ).cast("long")
    y6 = (
        F.when(F.col("label") % 2 == 1, F.lit(1000000)).otherwise(F.lit(0))
    ).cast("long")
    scored = _t(spark, sf_dir, "embeddings").select(
        p6.alias("p6"), y6.alias("y6")
    )
    dec = lambda c_: c_.cast("decimal(38,0)")  # noqa: E731
    f = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec((F.col("p6") - F.col("y6")) * (F.col("p6") - F.col("y6"))))
        .alias("se"),
        F.sum("y6").cast("decimal(38,0)").alias("sy"),
        F.sum(dec(F.col("y6")) * F.col("y6")).alias("syy"),
    )
    return f.select(
        "n",
        (F.round(F.col("se").cast("double") / (F.col("n") * 1e12), 6) + 0.0).alias(
            "brier"
        ),
        (
            F.round(
                (
                    F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                )
                / (F.col("n") * 1e12),
                6,
            )
            + 0.0
        ).alias("brier_ref"),
        (
            # Degenerate-label guard (ADVICE r6): with constant labels
            # (all 0 or all 1) the exact denominator syy·n − sy·sy is
            # ZERO and the engines diverge (Spark double /0 → NULL,
            # DuckDB → ±inf). Decide on the exact decimal integers and
            # emit NULL skill explicitly on both sides — the
            # q_graph_assortativity / q_stats_cohens_d idiom.
            F.when(
                F.col("syy") * F.col("n") - F.col("sy") * F.col("sy") > 0,
                F.round(
                    1.0
                    - F.col("se").cast("double")
                    * F.col("n")
                    / (
                        F.col("syy").cast("double") * F.col("n")
                        - F.col("sy").cast("double") * F.col("sy")
                    ),
                    6,
                )
                + 0.0,
            ).otherwise(F.lit(None).cast("double"))
        ).alias("skill"),
    )


def _kcore_oracle(rounds: int = 64) -> str:
    """Recursive-CTE h-index fixpoint oracle (r7 — kcore's rows-only
    → full-oracle conversion): the coreness fixpoint is UNIQUE and
    every h-index round is idempotent once reached, so replaying a
    fixed number of rounds ≥ the convergence count computes the
    identical answer the engine's convergence-certified loop does.
    DuckDB executes the recursion ITERATIVELY (the recursive term
    sees only the previous round's rows), so 64 rounds cost 64
    edge-join/window passes — unlike a 48-deep unrolled CTE chain,
    which the optimizer inlined into an exponential plan (measured
    >600 s; this text runs in seconds). 64 matches the engine's own
    round bound: past it the engine RAISES, so both sides either
    agree on the fixpoint or fail loudly."""
    return f"""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    bp AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING count(*) >= 2
    ),
    e AS (SELECT pa AS src, pb AS dst FROM bp
          UNION ALL SELECT pb AS src, pa AS dst FROM bp),
    c AS (
      SELECT 0 AS rnd, src, CAST(count(*) AS BIGINT) AS v
      FROM e GROUP BY src
      UNION ALL
      SELECT rnd + 1, src, v FROM (
        SELECT any_value(x.rnd) AS rnd, x.src,
               CAST(max(least(x.rn, x.nc)) AS BIGINT) AS v
        FROM (
          SELECT c.rnd, e.src, c.v AS nc,
                 row_number() OVER (PARTITION BY e.src
                                    ORDER BY c.v DESC, e.dst ASC) AS rn
          FROM e JOIN c ON e.dst = c.src
        ) x GROUP BY x.src
      ) WHERE rnd < {rounds}
    ),
    fin AS (SELECT src, v FROM c WHERE rnd = {rounds}),
    hist AS (
      SELECT v AS k, CAST(count(*) AS BIGINT) AS n_coreness
      FROM fin GROUP BY v
    )
    SELECT k, n_coreness,
           CAST(sum(n_coreness) OVER (ORDER BY k DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS core_size
    FROM hist ORDER BY k
    """


@register("q_graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness decomposition of the co-purchase graph: every node's
    core number (the largest k for which it survives in the k-core),
    reported as the coreness histogram with cumulative k-core sizes —
    the density/robustness profile of a graph (community cores
    survive peeling; whiskers fall off early). Completes the graph
    family: degree (local), components (connectivity), triangles
    (closure), pagerank (centrality), k-core (density strata).

    Algorithm: the h-index fixpoint (Lu et al., "The H-index of a
    network node", Nature Comm. 7:10168) — start every node at its
    degree and repeatedly replace each node's value with the H-INDEX
    of its neighbors' values; the unique fixpoint IS the coreness.
    Chosen over naive level-by-level peeling because it is ONE
    converging loop of hash joins (each round: edge join + per-node
    neighbor-rank window + aggregate, lineage truncated by
    localCheckpoint) instead of k_max nested peel loops — measured 3x
    fewer Spark jobs on the fixture, and every round's shuffle is
    bounded by the CURRENT edge count. The h-index per node computes
    relationally: sort each node's neighbor values desc, h = max over
    ranks r of min(r, value_r).

    Full oracle since r7 (was rows-only): the coreness fixpoint is
    unique and h-index rounds are idempotent at the fixpoint, so the
    oracle replays a FIXED 64 rounds of the identical update inside a
    DuckDB recursive CTE (iterative execution — an unrolled CTE chain
    inlines exponentially; see _kcore_oracle) and reads the final
    round. 64 matches the engine's own bound: the engine keeps its
    convergence-certified loop (sum of values strictly decreases
    until fixpoint) and RAISES past 64 rounds, so both sides agree on
    the fixpoint or fail loudly. tests/test_stats.py still recomputes
    the full decomposition with pure python peeling and demands exact
    equality, plus the defining invariants (min degree >= k inside
    each core; maximality)."""
    from engine.relational import q_basket_pairs

    e0 = q_basket_pairs(spark, sf_dir).select("part_a", "part_b")
    e = (
        e0.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        .unionAll(e0.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    c = e.groupBy("src").agg(F.count("*").cast("long").alias("c"))
    c = c.localCheckpoint(eager=True)
    total = c.agg(F.sum("c")).collect()[0][0]
    w = Window.partitionBy("src").orderBy(F.desc("nc"), F.asc("dst"))
    for _ in range(64):
        nbr = e.join(
            c.select(F.col("src").alias("dst"), F.col("c").alias("nc")), "dst"
        )
        h = (
            nbr.select("src", "dst", "nc")
            .withColumn("rn", F.row_number().over(w))
            .groupBy("src")
            .agg(F.max(F.least(F.col("rn").cast("long"), F.col("nc"))).alias("c"))
        )
        c = h.localCheckpoint(eager=True)
        # monotone non-increasing from degree start: the sum is a
        # convergence certificate (strictly decreases until fixpoint)
        new_total = c.agg(F.sum("c")).collect()[0][0]
        if new_total == total:
            break
        total = new_total
    else:
        raise RuntimeError("coreness h-index iteration did not converge")
    hist = c.groupBy(F.col("c").cast("long").alias("k")).agg(
        F.count("*").cast("long").alias("n_coreness")
    )
    wc = Window.orderBy(F.desc("k")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.select(
            "k",
            "n_coreness",
            F.sum("n_coreness").over(wc).cast("long").alias("core_size"),
        )
        .orderBy("k")
    )


@register(
    "q_eval_gains",
    oracle="""
    WITH s AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    r AS (
      SELECT y,
             row_number() OVER (ORDER BY score DESC, vec_id) AS rn,
             count(*) OVER () AS n,
             CAST(sum(y) OVER () AS BIGINT) AS p
      FROM s
    ),
    d AS (SELECT ((rn - 1) * 10) // n + 1 AS decile, y, n, p FROM r),
    g AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(y) AS BIGINT) AS n_pos,
             any_value(n) AS n, any_value(p) AS p
      FROM d GROUP BY decile
    ),
    c AS (
      SELECT decile, n_rows, n_pos, n, p,
             CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
             CAST(sum(n_rows) OVER w AS BIGINT) AS cum_n
      FROM g
      WINDOW w AS (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT decile, n_rows, n_pos,
           round(CAST(cum_pos AS DOUBLE) / p, 4) + 0.0 AS gain,
           round(CAST(cum_pos * n AS DOUBLE) / (cum_n * p), 4) + 0.0 AS lift
    FROM c ORDER BY decile
    """,
)
def q_eval_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table by score decile (decile 1 = the
    highest-scored tenth) — the campaign-targeting readout next to
    q_eval_auc (AUC summarizes the whole curve; gains answers "if I
    can only act on the top 20%, what fraction of positives do I
    capture, and at what multiple of random?"). Scores and labels
    follow the q_eval_auc fixture conventions.

    The global DESC rank is engine.stats.banded_cum of 1 in descending
    floor(score·64) bands (bounded band count; descending band order
    refines (score desc, vec_id)), so the data-sized relation is never
    single-partition-sorted; its totals are n and p, deciles are
    closed-form from the exact rank, and gain/lift are single IEEE
    divisions of exact counts (lift via cum_pos·n / cum_n·p — one
    division, never a ratio of two rounded ratios)."""
    from engine.stats import banded_cum

    s = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("y"),
    )
    r = banded_cum(
        s,
        F.floor(F.col("score") * 64).cast("long"),
        [F.desc("score"), F.asc("vec_id")],
        {"rn": F.lit(1), "y": F.col("y")},
        descending=True,
    )
    d = r.select(
        (F.expr("((cum_rn - 1) * 10) div tot_rn") + 1).cast("long").alias("decile"),
        "y",
        F.col("tot_rn").alias("n"),
        F.col("tot_y").alias("p"),
    )
    g = d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("y").cast("long").alias("n_pos"),
        F.any_value("n").alias("n"),
        F.any_value("p").alias("p"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        "decile",
        "n_rows",
        "n_pos",
        (
            F.round(F.sum("n_pos").over(wcum).cast("double") / F.col("p"), 4) + 0.0
        ).alias("gain"),
        (
            F.round(
                (F.sum("n_pos").over(wcum) * F.col("n")).cast("double")
                / (F.sum("n_rows").over(wcum) * F.col("p")),
                4,
            )
            + 0.0
        ).alias("lift"),
    ).orderBy("decile")


@register(
    "q_sample_weighted",
    oracle="""
    WITH u AS (
      SELECT doc_id, lang, n_chars,
             (CAST('0x' || substring(md5('wsample:' ||
                    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 99999999
              + 1) / 100000000.0 AS u
      FROM documents WHERE n_chars > 0
    ),
    k AS (
      SELECT doc_id, lang, n_chars,
             ln(u) / n_chars AS es_key
      FROM u
    ),
    r AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rn
      FROM k
    )
    SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, n_chars
    FROM r WHERE rn <= 5
    ORDER BY lang, rn
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, 5 docs per language,
    inclusion probability proportional to document length — the
    Efraimidis-Spirakis one-pass reservoir (each item gets key
    u^(1/w); the top-k keys ARE a weight-proportional sample, so a
    distributed top-k replaces any sequential draw). This is the
    length-weighted cousin of q_sample_quota (uniform per-domain) and
    q_sample_importance (accept/reject): the right primitive when a
    training mix should over-represent long documents without
    replacement artifacts.

    Determinism discipline: u is the md5 content hash mapped to
    (0, 1] on a 1e-8 grid (never 0 — ln(0) guards itself out; no RNG,
    shard-stable, engine-identical), and the rank key compares as
    ln(u)/w — the same monotone transform of u^(1/w) evaluated by the
    IDENTICAL expression on both engines, ties broken by doc_id. The
    per-lang top-k is a partitioned window on the (doc, lang) scan —
    at 100 TB the standard refinement is a per-partition pre-top-k
    before the window (any K rows per map task can be cut to the
    local top-5 per lang first — the q_sample_quota note), keeping
    the shuffle at |langs|×5 per task."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 99999999
            + 1
        )
        / 100000000.0
    )
    k = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (
        k.select("doc_id", "lang", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .select("lang", F.col("rn").cast("long").alias("rn"), "doc_id", "n_chars")
        .orderBy("lang", "rn")
    )


@register(
    "q_graph_assortativity",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM e GROUP BY src),
    ed AS (
      SELECT ds.d AS x, dd.d AS y
      FROM e JOIN deg ds ON e.src = ds.node JOIN deg dd ON e.dst = dd.node
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM ed
    )
    SELECT n // 2 AS n_edges,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * sx)
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * sx), 4) + 0.0 AS assortativity
    FROM m
    WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * sx > 0
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    the Pearson correlation of endpoint degrees over all DIRECTED
    edge copies — positive means hubs attach to hubs (social-network
    shape), negative means hubs attach to leaves (hub-and-spoke /
    technological shape). Completes the graph panel: degree,
    components, triangles, pagerank, k-core, and now mixing
    structure. On the symmetrized edge list both endpoints' marginals
    coincide, so r = (n·Σxy − (Σx)²)/(n·Σx² − (Σx)²) — the standard
    undirected form.

    Shape: one degree hash agg, two broadcast-able joins to attach
    endpoint degrees, ONE moment fold — all integer sums (degrees
    squared in 128-bit), the correlation is a single expression of
    exact integers evaluated identically on both engines. Edge count
    reported as undirected pairs (n/2)."""
    from engine.relational import q_basket_pairs

    e0 = q_basket_pairs(spark, sf_dir).select("part_a", "part_b")
    e = (
        e0.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        .unionAll(
            e0.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    ed = (
        e.join(deg.select(F.col("src").alias("s1"), F.col("d").alias("x")),
               F.col("src") == F.col("s1"))
        .join(deg.select(F.col("src").alias("s2"), F.col("d").alias("y")),
              F.col("dst") == F.col("s2"))
        .select("x", "y")
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    m = ed.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    num = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    den = (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    return m.filter(den > 0).select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        (F.round(num / den, 4) + 0.0).alias("assortativity"),
    )


@register(
    "q_eval_f1_sweep",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(greatest(least(
               0.5 + CAST(embedding[1] AS DOUBLE), 1.0), 0.0) * 1000000)
             AS BIGINT) AS p6,
             CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    cell AS (
      SELECT p6 // 50000 AS bucket, y, CAST(count(*) AS BIGINT) AS c
      FROM scored GROUP BY bucket, y
    ),
    th AS (SELECT unnest(generate_series(1, 19)) AS step),
    cm AS (
      SELECT th.step, CAST(th.step * 50000 AS BIGINT) AS thr6,
             CAST(sum(CASE WHEN cell.bucket >= th.step AND y = 1
                           THEN c ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN cell.bucket >= th.step AND y = 0
                           THEN c ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN cell.bucket < th.step AND y = 1
                           THEN c ELSE 0 END) AS BIGINT) AS fn
      FROM th, cell GROUP BY th.step
    ),
    m AS (
      SELECT step, round(thr6 / 1000000.0, 2) + 0.0 AS threshold, tp, fp, fn,
             CASE WHEN tp + fp > 0
                  THEN round(CAST(tp AS DOUBLE) / (tp + fp), 4) + 0.0
                  ELSE NULL END AS precision,
             CASE WHEN tp + fn > 0
                  THEN round(CAST(tp AS DOUBLE) / (tp + fn), 4) + 0.0
                  ELSE NULL END AS recall,
             CASE WHEN 2 * tp + fp + fn > 0
                  THEN round(2.0 * tp / (2 * tp + fp + fn), 4) + 0.0
                  ELSE NULL END AS f1,
             CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST(2 * tp AS HUGEINT) END AS f1n,
             CAST(2 * tp + fp + fn AS HUGEINT) AS f1d
      FROM cm
    ),
    best AS (
      SELECT step,
             CASE WHEN f1n IS NOT NULL AND NOT EXISTS (
                    SELECT 1 FROM m m2 WHERE m2.f1n IS NOT NULL
                    AND m2.f1n * m.f1d > m.f1n * m2.f1d)
                  THEN 1 ELSE 0 END AS is_best
      FROM m
    )
    SELECT m.threshold, m.tp, m.fp, m.fn, m.precision, m.recall, m.f1,
           best.is_best AS best_f1
    FROM m JOIN best USING (step) ORDER BY m.threshold
    """,
)
def q_eval_f1_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep: precision / recall / F1 at 19 thresholds
    (0.05 … 0.95) with the best-F1 row flagged — the table a team
    reads to PICK the threshold that q_eval_confusion then monitors
    (AUC ranks the model; this chooses where to cut it). Scores and
    labels follow the q_eval_auc fixture conventions.

    Exactness: scores land on the 1e-6 grid, thresholds on the same
    grid (step·50000), so every tp/fp/fn is an exact integer; the
    metric divisions happen once per threshold row. The best-F1 flag
    never compares floats — F1 ratios cross-multiply as 128-bit
    integers (2tp_a·d_b > 2tp_b·d_a), so ties flag every maximal row
    identically on both engines.

    Plan: ONE hash aggregate collapses the corpus to ≤ 42 (bucket,
    label) cells (scores bucket by the same 0.05 grid the thresholds
    live on — a threshold can never split a bucket), the 19-row
    threshold spine cross-joins against those cells (both broadcast-
    sized), and the flag is a tiny self-join. No data-sized shuffle
    beyond the first aggregate's partials."""
    p6 = F.floor(
        F.greatest(
            F.least(0.5 + F.element_at("embedding", 1).cast("double"), F.lit(1.0)),
            F.lit(0.0),
        )
        * 1000000
    ).cast("long")
    y = F.when(F.col("label") % 2 == 1, 1).otherwise(0)
    cell = (
        _t(spark, sf_dir, "embeddings")
        .select((p6 / 50000).cast("long").alias("bucket"), y.alias("y"))
        .groupBy("bucket", "y")
        .agg(F.count("*").cast("long").alias("c"))
    )
    th = spark.range(1, 20).select(F.col("id").cast("long").alias("step"))
    cm = (
        F.broadcast(th)
        .crossJoin(cell)
        .groupBy("step")
        .agg(
            F.sum(
                F.when((F.col("bucket") >= F.col("step")) & (F.col("y") == 1),
                       F.col("c")).otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when((F.col("bucket") >= F.col("step")) & (F.col("y") == 0),
                       F.col("c")).otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when((F.col("bucket") < F.col("step")) & (F.col("y") == 1),
                       F.col("c")).otherwise(0)
            ).cast("long").alias("fn"),
        )
    )
    dec = lambda c_: c_.cast("decimal(38,0)")  # noqa: E731
    m = cm.select(
        "step",
        (F.round(F.col("step") * 50000 / 1000000.0, 2) + 0.0).alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") > 0,
               F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 4)
               + 0.0).alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 4)
               + 0.0).alias("recall"),
        F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
               F.round(2.0 * F.col("tp")
                       / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 4)
               + 0.0).alias("f1"),
        F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
               dec(2 * F.col("tp"))).alias("f1n"),
        dec(2 * F.col("tp") + F.col("fp") + F.col("fn")).alias("f1d"),
    )
    other = m.select(
        F.col("f1n").alias("o_n"), F.col("f1d").alias("o_d")
    ).filter(F.col("o_n").isNotNull())
    beaten = (
        m.join(
            F.broadcast(other),
            F.col("o_n") * F.col("f1d") > F.col("f1n") * F.col("o_d"),
            "left_semi",
        )
        .select("step")
        .withColumn("beat", F.lit(1))
    )
    return (
        m.join(F.broadcast(beaten), "step", "left")
        .select(
            "threshold", "tp", "fp", "fn", "precision", "recall", "f1",
            F.when(
                F.col("f1n").isNotNull() & F.col("beat").isNull(), 1
            ).otherwise(0).alias("best_f1"),
        )
        .orderBy("threshold")
    )


@register(
    "q_privacy_ldiversity",
    oracle="""
    WITH q AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS sens,
             c_custkey
      FROM customer
    ),
    cls AS (
      SELECT nat, seg, CAST(count(*) AS BIGINT) AS sz,
             CAST(count(DISTINCT sens) AS BIGINT) AS l
      FROM q GROUP BY nat, seg
    ),
    tot AS (
      SELECT CAST(sum(sz) AS BIGINT) AS n_customers,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(min(l) AS BIGINT) AS min_l
      FROM cls
    )
    SELECT lvl AS l,
           CAST((SELECT count(*) FROM cls WHERE cls.l < lvl) AS BIGINT)
             AS classes_below,
           CAST(coalesce((SELECT sum(sz) FROM cls WHERE cls.l < lvl), 0)
             AS BIGINT) AS customers_at_risk,
           round(CAST(coalesce((SELECT sum(sz) FROM cls WHERE cls.l < lvl),
                               0) AS DOUBLE) / tot.n_customers, 4) + 0.0
             AS risk_share,
           tot.n_classes, tot.min_l
    FROM (SELECT unnest([2, 3, 5]) AS lvl), tot
    ORDER BY l
    """,
)
def q_privacy_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity audit over the (nation, market segment) quasi-
    identifier with the balance band as the SENSITIVE attribute: a
    class that is k-anonymous but whose members all share one
    sensitive value still leaks it (the homogeneity attack
    q_privacy_kanonymity cannot see) — for l ∈ {2, 3, 5}, how many
    classes expose fewer than l distinct sensitive values and how
    many customers sit in them, plus the dataset's worst class
    (min l).

    Plan: one hash aggregate with an exact count-distinct builds the
    bounded class table (|nations|×|segments| rows); the three audit
    levels are conditional counts over it plus a 1-row total fold —
    one fact scan regardless of how many l values the audit
    reports."""
    c = _t(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("sens"),
    )
    cls = q.groupBy("nat", "seg").agg(
        F.count("*").cast("long").alias("sz"),
        F.countDistinct("sens").cast("long").alias("l"),
    )
    per_l = cls.agg(
        F.sum("sz").cast("long").alias("n_customers"),
        F.count("*").cast("long").alias("n_classes"),
        F.min("l").cast("long").alias("min_l"),
        *[
            a
            for lvl in (2, 3, 5)
            for a in (
                F.count(F.when(F.col("l") < lvl, 1))
                .cast("long")
                .alias(f"cb_{lvl}"),
                F.coalesce(F.sum(F.when(F.col("l") < lvl, F.col("sz"))), F.lit(0))
                .cast("long")
                .alias(f"risk_{lvl}"),
            )
        ],
    )
    rows = []
    for lvl in (2, 3, 5):
        rows.append(
            f"struct(CAST({lvl} AS BIGINT) AS l, cb_{lvl} AS classes_below, "
            f"risk_{lvl} AS customers_at_risk, "
            f"round(CAST(risk_{lvl} AS DOUBLE) / n_customers, 4) + 0.0 "
            f"AS risk_share, n_classes, min_l)"
        )
    return (
        per_l.select(F.explode(F.expr(f"array({', '.join(rows)})")).alias("r"))
        .select("r.*")
        .orderBy("l")
    )


@register(
    "q_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(count(*) FILTER (WHERE l_quantity >= 30) AS BIGINT)
             AS big_lines,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
             AS discounted
    FROM lineitem WHERE l_extendedprice > 0
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight pipeline observability via Spark's ``Observation``
    API: business metrics (row count, revenue, segment counts) are
    attached to the SCAN with ``df.observe(...)`` and harvested from
    the query's own execution — the production pattern for data-
    quality counters on a 100 TB job (metrics ride the existing pass;
    a second aggregate-only scan would double the IO; this is what
    feeds StreamingQueryListener/QueryExecutionListener dashboards).

    The observed run here is a count-collapsing action (metrics are
    a side channel of whatever the job already does); the returned
    1-row frame is built from the harvested metrics, and the oracle
    recomputes them relationally — verifying the observe channel
    end-to-end, exact integers throughout."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
        F.count(F.when(F.col("l_quantity") >= 30, 1)).alias("big_lines"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["revenue_cents"]),
                int(m["big_lines"]),
                int(m["discounted"]),
            )
        ],
        "n_rows long, revenue_cents long, big_lines long, discounted long",
    )


@register(
    "q_eval_ks",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(greatest(least(
               0.5 + CAST(embedding[1] AS DOUBLE), 1.0), 0.0) * 1000000)
             AS BIGINT) AS p6,
             CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    g AS (
      SELECT p6, CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS np,
             CAST(count(*) FILTER (WHERE y = 0) AS BIGINT) AS nn
      FROM scored GROUP BY p6
    ),
    w AS (
      SELECT p6,
             CAST(sum(np) OVER cum AS BIGINT) AS cum_p,
             CAST(sum(nn) OVER cum AS BIGINT) AS cum_n,
             CAST(sum(np) OVER () AS BIGINT) AS n_pos,
             CAST(sum(nn) OVER () AS BIGINT) AS n_neg
      FROM g
      WINDOW cum AS (ORDER BY p6
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    d AS (
      SELECT n_pos, n_neg,
             abs(CAST(cum_p AS HUGEINT) * n_neg
                 - CAST(cum_n AS HUGEINT) * n_pos) AS dn,
             -p6 AS np6
      FROM w
    ),
    m AS (SELECT any_value(n_pos) AS n_pos, any_value(n_neg) AS n_neg,
                 max(struct_pack(dn := dn, np6 := np6)) AS mx
          FROM d)
    SELECT n_pos, n_neg,
           round(CAST(mx.dn AS DOUBLE) / (CAST(n_pos AS DOUBLE) * n_neg), 6)
             + 0.0 AS ks,
           round(-mx.np6 / 1000000.0, 6) + 0.0 AS ks_at_score
    FROM m
    """,
)
def q_eval_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS separation of the classifier — max |ECDF_pos − ECDF_neg| of
    the score (the credit-scoring "KS statistic"): AUC summarizes
    ranking everywhere, KS reports the single score where the classes
    separate MOST (and that score is the natural rule-of-thumb
    cutoff, cross-checking q_eval_f1_sweep's best-F1 row). Fixture
    conventions of q_eval_auc.

    Exactness (the q_stats_ks machinery pointed at model scores):
    the max ECDF gap evaluates as the integer cross-product
    |cum_pos·n_neg − cum_neg·n_pos| on the 1e-6 score grid; the
    argmax tie-breaks to the smallest score via the lexicographic
    struct-max; one division at the end. The cumulative pass is
    engine.stats.banded_cum, whose totals are the class sizes — no
    global single-partition window."""
    from engine.stats import banded_cum

    p6 = F.floor(
        F.greatest(
            F.least(0.5 + F.element_at("embedding", 1).cast("double"), F.lit(1.0)),
            F.lit(0.0),
        )
        * 1000000
    ).cast("long")
    y = F.when(F.col("label") % 2 == 1, 1).otherwise(0)
    g = (
        _t(spark, sf_dir, "embeddings")
        .select(p6.alias("p6"), y.alias("y"))
        .groupBy("p6")
        .agg(
            F.count(F.when(F.col("y") == 1, 1)).cast("long").alias("np"),
            F.count(F.when(F.col("y") == 0, 1)).cast("long").alias("nn"),
        )
    )
    w = banded_cum(g, (F.col("p6") / (1 << 14)).cast("long"), ["p6"], ["np", "nn"])
    d = w.select(
        F.col("tot_np").alias("n_pos"),
        F.col("tot_nn").alias("n_neg"),
        F.abs(
            F.col("cum_np").cast("decimal(38,0)") * F.col("tot_nn")
            - F.col("cum_nn").cast("decimal(38,0)") * F.col("tot_np")
        ).alias("dn"),
        (-F.col("p6")).alias("np6"),
    )
    m = d.agg(
        F.any_value("n_pos").alias("n_pos"),
        F.any_value("n_neg").alias("n_neg"),
        F.max(F.struct(F.col("dn"), F.col("np6"))).alias("mx"),
    )
    return m.select(
        "n_pos",
        "n_neg",
        (
            F.round(
                F.col("mx.dn").cast("double")
                / (F.col("n_pos").cast("double") * F.col("n_neg")),
                6,
            )
            + 0.0
        ).alias("ks"),
        (F.round(-F.col("mx.np6") / 1000000.0, 6) + 0.0).alias("ks_at_score"),
    )


@register(
    "q_funnel_latency",
    oracle="""
    WITH f1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    f2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN f1 ON e.user_id = f1.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > f1.t1
      GROUP BY e.user_id
    ),
    f3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM events e JOIN f2 ON e.user_id = f2.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f2.t2
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT 'a_view_to_click' AS stage_pair, f2.t2 - f1.t1 AS us
      FROM f1 JOIN f2 USING (user_id)
      UNION ALL
      SELECT 'b_click_to_purchase', f3.t3 - f2.t2
      FROM f2 JOIN f3 USING (user_id)
    )
    SELECT stage_pair, CAST(count(*) AS BIGINT) AS n_users,
           round(median(us) / 86400000000.0, 4) + 0.0 AS median_days,
           round(quantile_cont(us, 0.9) / 86400000000.0, 4) + 0.0 AS p90_days
    FROM lat GROUP BY stage_pair ORDER BY stage_pair
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-transition latency distribution for the view → click →
    purchase funnel: per consecutive stage pair, how many users make
    the hop and how long it takes (median / p90 days) — q_funnel
    counts WHO converts, q_time_to_event measures one end-to-end
    latency; this localizes WHICH transition is slow (the funnel-
    debugging readout).

    Same first-hit chaining as q_funnel (per-user min-timestamp hash
    aggs joined stage-to-stage, each strictly after the previous
    stage's first hit); latencies stay exact integer microseconds
    until the final interpolated percentiles (Spark percentile ==
    DuckDB quantile_cont — the q_agg_percentile parity) and one
    display division to days. Stage keys carry sort prefixes."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    f1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    f2 = (
        ev.filter(F.col("event_type") == "click")
        .join(f1, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    f3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(f2, "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    lat = (
        f1.join(f2, "user_id")
        .select(
            F.lit("a_view_to_click").alias("stage_pair"),
            (F.col("t2") - F.col("t1")).alias("us"),
        )
        .unionAll(
            f2.join(f3, "user_id").select(
                F.lit("b_click_to_purchase").alias("stage_pair"),
                (F.col("t3") - F.col("t2")).alias("us"),
            )
        )
    )
    return (
        lat.groupBy("stage_pair")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            (F.round(F.median("us") / 86400000000.0, 4) + 0.0).alias(
                "median_days"
            ),
            (F.round(F.percentile("us", 0.9) / 86400000000.0, 4) + 0.0).alias(
                "p90_days"
            ),
        )
        .orderBy("stage_pair")
    )


@register(
    "q_segment_migration",
    oracle="""
    WITH bounds AS (
      SELECT CAST(floor(epoch(min(o_orderdate)) / 86400) AS BIGINT) AS lo,
             CAST(floor(epoch(max(o_orderdate)) / 86400) AS BIGINT) AS hi
      FROM orders
    ),
    tagged AS (
      SELECT o_custkey,
             CASE WHEN CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
                       * 2 <= bounds.lo + bounds.hi
                  THEN 0 ELSE 1 END AS half
      FROM orders, bounds
    ),
    seg AS (
      SELECT o_custkey, half,
             CASE WHEN count(*) = 1 THEN 'a_one_time'
                  WHEN count(*) <= 3 THEN 'b_repeat'
                  ELSE 'c_loyal' END AS seg
      FROM tagged GROUP BY o_custkey, half
    ),
    mat AS (
      SELECT coalesce(p.seg, 'x_new') AS seg_from,
             coalesce(n.seg, 'x_churned') AS seg_to,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM (SELECT o_custkey, seg FROM seg WHERE half = 0) p
      FULL OUTER JOIN (SELECT o_custkey, seg FROM seg WHERE half = 1) n
        ON p.o_custkey = n.o_custkey
      GROUP BY seg_from, seg_to
    ),
    tot AS (SELECT CAST(sum(n_customers) AS BIGINT) AS nt FROM mat)
    SELECT seg_from, seg_to, n_customers,
           round(CAST(n_customers AS DOUBLE) / tot.nt, 4) + 0.0 AS share
    FROM mat, tot ORDER BY seg_from, seg_to
    """,
)
def q_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment migration matrix between the two halves of the
    order timeline: order-frequency segments (one-time / repeat /
    loyal — exact integer counts, no rank ties to reconcile) plus the
    'new' and 'churned' boundary states from a FULL OUTER join — the
    lifecycle flow behind retention dashboards (q_retention counts
    cohort survival; this says WHERE the survivors moved), feeding
    the same decisions as q_rfm_segments but longitudinally.

    Plan: the half-point is a 1-row min/max broadcast (the
    cross-multiplied 2·day ≤ lo+hi test avoids fractional midpoints);
    per-(customer, half) counts are one hash agg; the matrix is one
    full-outer self-join of the two bounded segment relations plus a
    1-row total fold. Segment keys carry sort prefixes."""
    o = _t(spark, sf_dir, "orders")
    di = F.floor(
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / 86400
    ).cast("long")
    bounds = o.agg(
        F.min(di).alias("lo"), F.max(di).alias("hi")
    )
    tagged = o.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        F.when(di * 2 <= F.col("lo") + F.col("hi"), 0).otherwise(1).alias("half"),
    )
    seg = tagged.groupBy("o_custkey", "half").agg(
        F.when(F.count("*") == 1, "a_one_time")
        .when(F.count("*") <= 3, "b_repeat")
        .otherwise("c_loyal")
        .alias("seg")
    )
    p = seg.filter(F.col("half") == 0).select(
        F.col("o_custkey").alias("ck_p"), F.col("seg").alias("seg_p")
    )
    n = seg.filter(F.col("half") == 1).select(
        F.col("o_custkey").alias("ck_n"), F.col("seg").alias("seg_n")
    )
    mat = (
        p.join(n, F.col("ck_p") == F.col("ck_n"), "full_outer")
        .select(
            F.coalesce(F.col("seg_p"), F.lit("x_new")).alias("seg_from"),
            F.coalesce(F.col("seg_n"), F.lit("x_churned")).alias("seg_to"),
        )
        .groupBy("seg_from", "seg_to")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )
    tot = mat.agg(F.sum("n_customers").cast("long").alias("nt"))
    return (
        mat.crossJoin(F.broadcast(tot))
        .select(
            "seg_from",
            "seg_to",
            "n_customers",
            (F.round(F.col("n_customers").cast("double") / F.col("nt"), 4) + 0.0)
            .alias("share"),
        )
        .orderBy("seg_from", "seg_to")
    )


@register(
    "q_eval_mrr",
    oracle="""
    WITH s AS (
      SELECT label AS qid, vec_id,
             CAST(embedding[2] AS DOUBLE) AS score,
             CAST(least(greatest(floor((CAST(embedding[3] AS DOUBLE) + 1) * 2),
                                 0), 3) AS INTEGER) AS rel
      FROM embeddings),
    r AS (
      SELECT qid, rel,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS pos
      FROM s),
    fr AS (
      SELECT qid, CAST(min(pos) AS BIGINT) AS first_rel_rank
      FROM r WHERE rel >= 2 GROUP BY qid)
    SELECT r.qid AS label,
           CAST(count(*) AS BIGINT) AS n_docs,
           fr.first_rel_rank,
           CASE WHEN fr.first_rel_rank IS NULL THEN 0.0
                ELSE round(1.0 / fr.first_rel_rank, 6) + 0.0 END
             AS reciprocal_rank
    FROM (SELECT DISTINCT qid FROM r) q
    JOIN r ON r.qid = q.qid
    LEFT JOIN fr ON fr.qid = q.qid
    GROUP BY r.qid, fr.first_rel_rank
    ORDER BY label
    """,
)
def q_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank inputs per query: the rank of the FIRST
    relevant document (rel ≥ 2 on q_eval_ndcg's graded-relevance
    fixture) under the score ordering, and its reciprocal — the IR
    metric for known-item search (nDCG grades the whole list; MRR
    asks only "how deep is the first good hit", the latency-of-
    relevance readout). Queries with no relevant doc report rank
    NULL / RR 0.

    Shape: one rank window per query partition (WindowGroupLimit
    cannot prune here — the first relevant doc can sit at any rank —
    but the aggregate collapses immediately to one row per query),
    then a min over relevant positions. Tie-break (score DESC,
    vec_id) keeps ranks cross-engine-exact."""
    e = _t(spark, sf_dir, "embeddings")
    s = e.select(
        F.col("label").alias("qid"),
        "vec_id",
        F.element_at("embedding", 2).cast("double").alias("score"),
        F.least(
            F.greatest(
                F.floor((F.element_at("embedding", 3).cast("double") + 1) * 2),
                F.lit(0),
            ),
            F.lit(3),
        )
        .cast("int")
        .alias("rel"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    r = s.select("qid", "rel", F.row_number().over(w).alias("pos"))
    fr = (
        r.filter(F.col("rel") >= 2)
        .groupBy("qid")
        .agg(F.min("pos").cast("long").alias("first_rel_rank"))
    )
    per_q = r.groupBy("qid").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        per_q.join(fr, "qid", "left")
        .select(
            F.col("qid").alias("label"),
            "n_docs",
            "first_rel_rank",
            F.when(F.col("first_rel_rank").isNull(), F.lit(0.0))
            .otherwise(F.round(1.0 / F.col("first_rel_rank"), 6) + 0.0)
            .alias("reciprocal_rank"),
        )
        .orderBy("label")
    )


@register(
    "q_graph_distances",
    oracle="""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    bp AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING count(*) >= 2
    ),
    e AS (SELECT pa AS src, pb AS dst FROM bp
          UNION ALL SELECT pb AS src, pa AS dst FROM bp),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
    root AS (
      SELECT src FROM deg ORDER BY d DESC, src ASC LIMIT 1
    ),
    walk AS (
      SELECT src AS node, CAST(0 AS BIGINT) AS dist FROM root
      UNION
      SELECT e.dst AS node, walk.dist + 1 AS dist
      FROM walk JOIN e ON e.src = walk.node
      WHERE walk.dist < 32
    ),
    sp AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist
           FROM walk GROUP BY node),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT sp.dist,
           CAST(count(*) AS BIGINT) AS n_at_dist,
           round(CAST(count(*) AS DOUBLE) / nv.n_nodes, 4) + 0.0
             AS reach_share
    FROM sp, nv GROUP BY sp.dist, nv.n_nodes ORDER BY sp.dist
    """,
)
def q_graph_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances on the co-purchase graph from
    its highest-degree node (tie → smallest id): how many parts sit
    1, 2, 3… merchandising hops from the biggest hub, as a distance
    histogram with reach shares — small-world diagnostics (eccentric
    whiskers, disconnected shelves) completing the graph panel next
    to components (WHETHER connected) and k-core (HOW dense).

    Engine: frontier BFS — each round joins the current frontier to
    the edge list, anti-joins the visited set, and localCheckpoints
    both (bounded by the graph diameter; converged when the frontier
    empties, capped at 32 like the oracle's recursion guard). The
    oracle is a recursive CTE whose UNION-dedup on (node, dist)
    bounds every level at |V| rows; min-dist per node afterward. Both
    compute the same unique BFS distance function, or both hit the
    32-hop cap together."""
    from engine.relational import q_basket_pairs

    e0 = q_basket_pairs(spark, sf_dir).select("part_a", "part_b")
    e = (
        e0.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        .unionAll(
            e0.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    n_nodes = deg.count()
    root = deg.orderBy(F.desc("d"), F.asc("src")).limit(1).select("src")
    visited = root.select(F.col("src").alias("node"), F.lit(0).cast("long").alias("dist"))
    visited = visited.localCheckpoint(eager=True)
    frontier = visited
    for depth in range(1, 33):
        nxt = (
            frontier.join(e, F.col("node") == F.col("src"))
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(depth).cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return (
        visited.groupBy("dist")
        .agg(F.count("*").cast("long").alias("n_at_dist"))
        .select(
            "dist",
            "n_at_dist",
            (F.round(F.col("n_at_dist").cast("double") / F.lit(n_nodes), 4) + 0.0)
            .alias("reach_share"),
        )
        .orderBy("dist")
    )


@register(
    "q_graph_transitivity",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    t AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri AS (
      SELECT node, CAST(count(*) AS BIGINT) AS tn
      FROM (SELECT x AS node FROM t
            UNION ALL SELECT y FROM t
            UNION ALL SELECT z FROM t)
      GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY node
    ),
    loc AS (
      SELECT deg.node, deg.d, coalesce(tri.tn, 0) AS tn,
             CAST(floor(2000000.0 * coalesce(tri.tn, 0)
                        / (deg.d * (deg.d - 1))) AS BIGINT) AS cc6
      FROM deg LEFT JOIN tri ON deg.node = tri.node
      WHERE deg.d >= 2
    ),
    s AS (
      SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
             CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
             CAST(sum(tn) AS BIGINT) AS tri3,
             CAST(sum(CAST(d AS HUGEINT) * (d - 1)) AS HUGEINT) AS wedges2,
             CAST(sum(cc6) AS BIGINT) AS cc_sum6,
             CAST(count(*) AS BIGINT) AS n_cc
      FROM loc
    )
    SELECT n_nodes, n_edges,
           CAST(tri3 / 3 AS BIGINT) AS n_triangles,
           round(CAST(tri3 AS DOUBLE) / CAST(wedges2 AS DOUBLE), 6) + 0.0
             AS transitivity,
           round(cc_sum6 / 1000000.0 / n_cc, 6) + 0.0 AS avg_local_cc
    FROM s WHERE wedges2 > 0
    """,
)
def q_graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering summary of the co-purchase graph: transitivity
    (3·triangles / wedges — the probability two co-purchased neighbors
    of a part are themselves co-purchased) and the Watts-Strogatz
    average LOCAL clustering coefficient — the two standard (and
    often divergent) closure measures; q_graph_triangles reports the
    per-node counts this key reduces to the graph-level diagnostic.

    Exactness: per-node triangle incidences and wedge counts
    d·(d−1) are exact integers off the q_graph_triangles wedge join;
    each local coefficient floors to the 1e-6 grid BEFORE the
    |V|-term mean (a float mean's order would differ between
    engines), so both displayed ratios divide exact integers once.

    Scale shape: the co-purchase edge list (a fact-table self-join)
    materializes ONCE via eager localCheckpoint — the three triangle
    join inputs, the degree table, and the two graph-size counts all
    read the checkpointed edges instead of each re-running the
    lineitem self-join (r10: 4.6 s → warm ~1.6 s at sf0.1; at cluster
    scale the edge list is baskets-sized, far smaller than facts)."""
    from engine.relational import q_basket_pairs

    e = (
        q_basket_pairs(spark, sf_dir)
        .select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
        .localCheckpoint(eager=True)
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    t = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    tri = (
        t.select(F.col("x").alias("node"))
        .unionAll(t.select(F.col("y").alias("node")))
        .unionAll(t.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("tn"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    loc = (
        deg.filter(F.col("d") >= 2)
        .join(tri, "node", "left")
        .select(
            "d",
            F.coalesce(F.col("tn"), F.lit(0)).alias("tn"),
            F.floor(
                2000000.0
                * F.coalesce(F.col("tn"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1))
            )
            .cast("long")
            .alias("cc6"),
        )
    )
    n_nodes = deg.count()
    n_edges = e.count()
    s = loc.agg(
        F.sum("tn").cast("long").alias("tri3"),
        F.sum(F.col("d").cast("decimal(38,0)") * (F.col("d") - 1)).alias(
            "wedges2"
        ),
        F.sum("cc6").cast("long").alias("cc_sum6"),
        F.count("*").cast("long").alias("n_cc"),
    )
    return s.filter(F.col("wedges2") > 0).select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        (F.col("tri3") / 3).cast("long").alias("n_triangles"),
        (
            F.round(
                F.col("tri3").cast("double") / F.col("wedges2").cast("double"), 6
            )
            + 0.0
        ).alias("transitivity"),
        (F.round(F.col("cc_sum6") / 1000000.0 / F.col("n_cc"), 6) + 0.0).alias(
            "avg_local_cc"
        ),
    )


@register(
    "q_sample_neyman",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS stratum,
             CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(sum(CAST(floor(o_totalprice * 100) AS HUGEINT)
                      * CAST(floor(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS s2
      FROM orders GROUP BY stratum HAVING count(*) > 1
    ),
    sd AS (
      SELECT stratum, nh,
             sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nh)
                  / (nh - 1)) AS sh
      FROM g
    ),
    tot AS (SELECT CAST(sum(CAST(floor(nh * sh * 1000000) AS HUGEINT))
                   AS DOUBLE) / 1000000 AS w FROM sd),
    q AS (
      SELECT stratum, nh, sh,
             1000.0 * nh * sh / tot.w AS quota,
             CAST(floor(1000.0 * nh * sh / tot.w) AS BIGINT) AS base
      FROM sd, tot
    ),
    lr AS (
      SELECT stratum, nh, sh, quota, base,
             row_number() OVER (ORDER BY quota - base DESC, stratum ASC)
               AS rr,
             CAST(1000 - sum(base) OVER () AS BIGINT) AS leftover
      FROM q
    )
    SELECT stratum, nh AS stratum_size,
           round(sh / 100.0, 4) + 0.0 AS stratum_sd,
           round(quota, 4) + 0.0 AS quota,
           CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS n_allocated
    FROM lr ORDER BY stratum
    """,
)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: for a budget of
    1000 samples across the order priorities, allocate n_h ∝ N_h·S_h
    (more samples where the stratum is bigger OR more variable — the
    design that minimizes the estimator variance at fixed cost),
    integerized by largest-remainder apportionment — the design step
    BEFORE q_sample_stratified/quota draw anything (those sample at
    given rates; this computes what the rates should be).

    Exactness: stratum variances from exact 128-bit moments; quotas
    and remainders are doubles from the identical expression tree on
    both engines (5 strata), and the apportionment (floor quotas +
    rank remainders desc, stratum tie-break) awards the leftover
    deterministically; Σ n_allocated = 1000 by construction."""
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    g = (
        o.select(F.col("o_orderpriority").alias("stratum"), cents.alias("x"))
        .groupBy("stratum")
        .agg(
            F.count("*").cast("long").alias("nh"),
            F.sum("x").cast("long").alias("s1"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
        )
        .filter(F.col("nh") > 1)
    )
    sh = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("nh"))
        / (F.col("nh") - 1)
    )
    sd = g.select("stratum", "nh", sh.alias("sh"))
    # The allocation denominator Σ nh·sh is pinned to a 1e-6 integer
    # grid per term before summing (r7 ADVICE): a plain float sum is
    # order-unpinned across strata, so cross-engine agreement would
    # hold only by the k=5 broadcast-size accident. Integer sums are
    # order-free. Magnitude bound: floor() of a double wraps past
    # 2^63 (ROUND5 note), so the grid term requires nh·sh < 9e12 —
    # holds through ~sf1000 for cents-scale sd; the term count is the
    # stratum cardinality, not the row count.
    tot = sd.agg(
        (
            F.sum(
                F.floor(F.col("nh") * F.col("sh") * 1e6).cast("decimal(38,0)")
            ).cast("double")
            / 1e6
        ).alias("w")
    )
    q = sd.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "nh",
        "sh",
        (1000.0 * F.col("nh") * F.col("sh") / F.col("w")).alias("quota"),
        F.floor(1000.0 * F.col("nh") * F.col("sh") / F.col("w"))
        .cast("long")
        .alias("base"),
    )
    w_r = Window.orderBy(F.desc(F.col("quota") - F.col("base")), F.asc("stratum"))
    w_all = Window.partitionBy()
    lr = q.select(
        "stratum",
        "nh",
        "sh",
        "quota",
        "base",
        F.row_number().over(w_r).alias("rr"),
        (1000 - F.sum("base").over(w_all)).cast("long").alias("leftover"),
    )
    return lr.select(
        "stratum",
        F.col("nh").alias("stratum_size"),
        (F.round(F.col("sh") / 100.0, 4) + 0.0).alias("stratum_sd"),
        (F.round(F.col("quota"), 4) + 0.0).alias("quota"),
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_allocated"),
    ).orderBy("stratum")
