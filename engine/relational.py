"""Relational operators (SURVEY.md §2.2 filters/projections, §2.3 joins,
§2.4 aggregations, §2.6 sorts/top-k, §2.7 set ops).

Reference parity: the reference repo has no code (SURVEY.md §0 —
/root/reference/README.md:1-2 is name-only), so each query implements a
row of the committed inventory in SURVEY.md §2, tagged with its key.

Scale design notes (100 TB intent):
- Filters are Column expressions → Parquet predicate pushdown.
- Dim joins use explicit ``F.broadcast`` hints; fact-fact joins stay
  shuffle joins and rely on AQE for skew/coalesce.
- Theta/range joins are anchored on an equi-key (nation / user) so the
  physical plan is a hash join with a residual condition, never a
  broadcast-nested-loop cartesian.
- Top-k uses ``orderBy().limit()`` → ``TakeOrderedAndProject`` (per-
  partition heaps + single reduce; no global sort).
- Aggregations go through ``groupBy().agg`` → partial/final hash
  aggregation with map-side combine for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.io import load_table as _t
from engine.registry import register


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------


@register(
    "q_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    """,
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning + computed column (SURVEY §2.2 q_project)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "q_filter",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE (p_type LIKE '%PROMO%' OR p_size IN (1, 5, 9))
      AND p_retailprice BETWEEN 500 AND 1500
      AND p_brand IS NOT NULL
    """,
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive/disjunctive predicates, LIKE, IN, BETWEEN, IS NULL."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        (F.col("p_type").like("%PROMO%") | F.col("p_size").isin(1, 5, 9))
        & F.col("p_retailprice").between(500, 1500)
        & F.col("p_brand").isNotNull()
    ).select("p_partkey", "p_name", "p_retailprice")


@register(
    "q_filter_date",
    oracle="""
    SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
    """,
)
def q_filter_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-range predicate (partition-prunable at scale)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").between(F.lit("1996-01-01").cast("timestamp"),
                                    F.lit("1996-12-31").cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


@register(
    "q_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1
    """,
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional projection + group (SURVEY §2.2 q_case_when)."""
    o = _t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
    )
    return (
        o.groupBy(band.alias("price_band"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@register(
    "q_join_broadcast",
    oracle="""
    SELECT p_brand,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue,
           count(*) AS n_rows
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact->dim equi-join, dim broadcast (no shuffle of the fact side)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            (F.sum(F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)) / 100.0).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "q_join_sortmerge",
    oracle="""
    SELECT o_orderpriority,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi-join; AQE picks SMJ/shuffled-hash at scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "q_join_multiway",
    oracle="""
    SELECT r_name, n_name,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way snowflake join: fact joined up the dim chain, dims broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "q_join_left",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS order_cnt,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-extension (zero-order customers kept)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "q_join_outer",
    oracle="""
    WITH neg AS (SELECT c_custkey, c_acctbal AS acctbal
                 FROM customer WHERE c_acctbal < 0),
         big AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS big_total
                 FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey)
    SELECT coalesce(neg.c_custkey, big.o_custkey) AS custkey,
           acctbal, big_total
    FROM neg FULL OUTER JOIN big ON neg.c_custkey = big.o_custkey
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows on both sides."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    neg = c.filter(F.col("c_acctbal") < 0).select(
        "c_custkey", F.col("c_acctbal").alias("acctbal")
    )
    big = (
        o.filter(F.col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("big_total"))
    )
    return neg.join(big, neg.c_custkey == big.o_custkey, "full").select(
        F.coalesce(neg.c_custkey, big.o_custkey).alias("custkey"),
        "acctbal",
        "big_total",
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence test as a left-semi join (no row multiplication)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-existence as a left-anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q_join_theta",
    oracle="""
    SELECT s1.s_suppkey AS a_suppkey, s2.s_suppkey AS b_suppkey,
           s1.s_nationkey AS nationkey
    FROM supplier s1 JOIN supplier s2
      ON s1.s_nationkey = s2.s_nationkey AND s1.s_acctbal > s2.s_acctbal
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join anchored on an equi-key: hash join + residual predicate,
    never a nested-loop cartesian (scale-safe form of inequality joins)."""
    s1 = _t(spark, sf_dir, "supplier").alias("s1")
    s2 = _t(spark, sf_dir, "supplier").alias("s2")
    return s1.join(
        s2,
        (F.col("s1.s_nationkey") == F.col("s2.s_nationkey"))
        & (F.col("s1.s_acctbal") > F.col("s2.s_acctbal")),
    ).select(
        F.col("s1.s_suppkey").alias("a_suppkey"),
        F.col("s2.s_suppkey").alias("b_suppkey"),
        F.col("s1.s_nationkey").alias("nationkey"),
    )


@register(
    "q_join_range_interval",
    oracle="""
    SELECT a.event_id, count(b.event_id) AS clicks_before
    FROM events a
    LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'click'
     AND b.ts >= a.ts - INTERVAL 1 HOUR
     AND b.ts < a.ts
    WHERE a.event_type = 'purchase'
    GROUP BY a.event_id
    """,
)
def q_join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: clicks in the hour before each purchase.
    Equi-anchored on user_id so it stays a hash join with residual range
    predicate (the scalable form — never a pure range cross join)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").alias("a")
    b = ev.filter(F.col("event_type") == "click").alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("b.ts") < F.col("a.ts")),
            "left",
        )
        .groupBy(F.col("a.event_id").alias("event_id"))
        .agg(F.count(F.col("b.event_id")).alias("clicks_before"))
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT event_id, view_id, view_value FROM (
        SELECT a.event_id,
               b.event_id AS view_id,
               b.value AS view_value,
               row_number() OVER (PARTITION BY a.event_id
                                  ORDER BY b.ts DESC, b.event_id DESC) AS rn
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id AND b.event_type = 'view' AND b.ts <= a.ts
        WHERE a.event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (latest 'view' at or before each purchase, per user) —
    the crypto price-at-trade-time pattern (SURVEY §2.3 q_join_asof).

    Spark has no native ASOF JOIN. The naive emulation (equi-join on
    user_id + ``b.ts <= a.ts`` range predicate + keep rn=1) materializes
    every (purchase, earlier view) pair first — Σ_user(purchases×views),
    quadratic on a hot user, a skewed-key scale-killer at 100 TB even
    though it benches fine on uniform fixtures. Linear-state plan
    instead: UNION both event streams, ONE window per user ordered by
    time, and carry the prevailing view forward with
    ``last(..., ignorenulls=True)`` over UNBOUNDED PRECEDING — a single
    Exchange on user_id, per-row constant state, no join at all.

    Tie rule (SURVEY §7 risk register): a view at exactly the purchase
    timestamp is eligible, and equal-ts views resolve to the highest
    event_id — encoded in the sort key (ts ASC, views-before-purchases,
    event_id ASC) so the *last* carried view is the winning one.
    Purchases with no prior view drop out (inner as-of semantics)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    is_view = F.col("event_type") == "view"
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (~is_view).cast("int").alias("is_purchase"),
        F.when(is_view, F.col("event_id")).alias("v_id"),
        F.when(is_view, F.col("value")).alias("v_val"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("is_purchase"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("view_id", F.last("v_id", ignorenulls=True).over(w))
        .withColumn("view_value", F.last("v_val", ignorenulls=True).over(w))
        .filter((F.col("is_purchase") == 1) & F.col("view_id").isNotNull())
        .select("event_id", "view_id", "view_value")
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT r_name, seg
    FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer)
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny inputs (only sane use of crossJoin)."""
    r = _t(spark, sf_dir, "region")
    segs = _t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg")
    ).distinct()
    return r.select("r_name").crossJoin(segs)


@register(
    "q_join_skew_salted",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join: identical result to the plain
    events×customer join (the oracle IS the plain join), but the
    fact side carries a deterministic per-row salt
    (``pmod(xxhash64(event_id), 8)``) and the dimension side is
    replicated once per salt value, so the join key becomes
    (user_id, salt) and a hot user's rows spread across 8 tasks
    instead of one straggler. ``shuffle_hash`` hint keeps the join a
    shuffled hash join — the regime where salting matters (a broadcast
    join needs no salt; at 100 TB the dim side outgrows broadcast and
    this is the fallback). Salt count trades dim-replication (8×) for
    parallelism; AQE's skew-join handles moderate skew automatically,
    salting handles the pathological single-key case AQE splits can't."""
    n_salts = 8
    ev = _t(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("salt_r", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    )
    return (
        ev.join(
            cust.hint("shuffle_hash"),
            (F.col("user_id") == F.col("c_custkey")) & (F.col("salt") == F.col("salt_r")),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@register(
    "q_agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
           strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregates (single-stage partial+final reduce)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
    )


@register(
    "q_agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS sum_disc_price,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) / 100.0 AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary (SURVEY §7 step 1).

    Scan -> pushed-down date filter -> hash aggregate (partial+final).
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            (F.sum(F.floor(disc_price * 100)) / 100.0).alias("sum_disc_price"),
            (F.sum(F.floor(disc_price * (1 + F.col("l_tax")) * 100)) / 100.0).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS supp_cnt,
           count(DISTINCT l_partkey) AS part_cnt,
           round(sum(DISTINCT l_quantity), 2) AS sum_dist_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/SUM(DISTINCT) — expand-based distinct aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("supp_cnt"),
        F.countDistinct("l_partkey").alias("part_cnt"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_dist_qty"),
    )


@register("q_agg_approx_distinct")  # rows-only: HLL sketch has no SQL oracle
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type (active-address
    analytics at 100 TB where exact distinct would shuffle everything).
    Accuracy vs exact checked in tests/test_relational.py."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(median(l_extendedprice), 4) AS med_price,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile == quantile_cont)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 4).alias("med_price"),
        F.round(F.percentile("l_extendedprice", 0.95), 4).alias("p95_price"),
        F.round(F.percentile("l_quantity", 0.25), 4).alias("p25_qty"),
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_linestatus,
           round(stddev_samp(l_extendedprice), 2) AS sd_price,
           round(var_samp(l_quantity), 2) AS var_qty,
           round(corr(l_extendedprice, l_quantity), 4) AS corr_pq,
           round(covar_samp(l_extendedprice, l_discount), 2) AS cov_pd
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_discount"), 2).alias("cov_pd"),
    )


@register(
    "q_agg_collect",
    oracle="""
    SELECT n_name,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group -> sorted distinct array (deterministic collect_set).

    The collected array is emitted joined into a string: the output
    contract (not comparator luck) then guarantees the driver's
    canonicalizer never sorts raw ndarray cells — r01's only red row
    was its pandas lexsort crashing on the array column."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))).alias("segments"),
            F.count("*").alias("n_customers"),
        )
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals region -> nation -> grand total."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderpriority)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube over two dimensions (all 4 grouping sets)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL entry point (SURVEY §3 EP3)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "q_agg_pivot",
    oracle="""
    SELECT user_id,
           round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
           round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
           round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
           round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
           round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
    FROM events
    GROUP BY user_id
    """,
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns (explicit value list: single pass,
    no extra distinct-values job — the scale-correct pivot form)."""
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .sum("value")
    )
    return piv.select(
        "user_id",
        *[F.round(F.col(t), 2).alias(t) for t in ["click", "error", "purchase", "signup", "view"]],
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 5 AND sum(o_totalprice) > 500000
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("_total"),
        )
        .filter((F.col("n_orders") >= 5) & (F.col("_total") > 500000))
        .select("o_custkey", "n_orders", F.round("_total", 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits / top-k
# ---------------------------------------------------------------------------


@register(
    "q_sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice AS totalprice
    FROM orders
    ORDER BY o_orderpriority DESC NULLS LAST, o_totalprice ASC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with nulls placement + deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(
            F.desc_nulls_last("o_orderpriority"),
            F.asc("o_totalprice"),
            F.asc("o_orderkey"),
        )
        .limit(100)
        .select("o_orderkey", "o_orderpriority", F.col("o_totalprice").alias("totalprice"))
    )


@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject (per-partition heaps, no
    global sort — the only top-k that survives 100 TB)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.col("o_totalprice").alias("totalprice"))
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice AS totalprice, rn AS rank_in_cust
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: window row_number, rank filter pushed
    through WindowGroupLimit at the physical level (Spark 3.5+)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("rn").alias("rank_in_cust"),
        )
    )


@register(
    "q_limit_offset",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    ORDER BY o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Limit/offset pagination over a deterministic sort."""
    o = _t(spark, sf_dir, "orders")
    return o.orderBy("o_orderkey").offset(100).limit(50).select("o_orderkey", "o_orderstatus")


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------


@register(
    "q_union_all",
    oracle="""
    SELECT c_custkey AS id, 'customer' AS src FROM customer
    UNION ALL
    SELECT s_suppkey AS id, 'supplier' AS src FROM supplier
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union by name (multi-source ingestion merge)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.lit("customer").alias("src")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.lit("supplier").alias("src")
    )
    return c.unionByName(s)


@register(
    "q_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union (union + distinct)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "q_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "q_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@register(
    "q_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact row dedup (hash-groupBy under the hood)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# §2.4b reshaping + sketch aggregation (round 3)
# ---------------------------------------------------------------------------


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
           CAST(l_quantity AS DOUBLE) AS metric_value
    FROM lineitem WHERE l_linenumber = 1
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', CAST(l_extendedprice AS DOUBLE)
    FROM lineitem WHERE l_linenumber = 1
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', CAST(l_tax AS DOUBLE)
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT / melt) — the inverse of
    q_agg_pivot: three measure columns become (metric, metric_value)
    rows. ``DataFrame.unpivot`` is a pure map-side Expand node (each
    input row emits 3 output rows in place): no shuffle, no join, scales
    as a linear scan at any size. The oracle is the equivalent
    3-way UNION ALL."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_tax"],
        "metric",
        "metric_value",
    ).withColumn(
        "metric",
        F.regexp_replace("metric", "^l_", ""),
    ).withColumn("metric_value", F.col("metric_value").cast("double"))


@register("q_agg_hll_sketch")  # rows-only: HLL estimates are approximate
def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark 3.5+ ``hll_sketch_agg``) — the 100 TB pattern for COUNT
    DISTINCT over nested groupings: each partition builds a partial
    sketch (map-side combine), per-group sketches merge with
    ``hll_union_agg`` WITHOUT re-touching the raw data — re-aggregation
    over a rollup dimension costs sketch-merge, not a second scan.
    Output: per-segment estimated distinct customers plus a TOTAL row
    whose estimate comes only from merging the per-segment sketches.
    Estimate accuracy vs exact COUNT DISTINCT asserted in
    tests/test_relational.py (lgConfigK=12 -> ~1.6% rel. std. error)."""
    o = _t(spark, sf_dir, "orders")
    per_seg = (
        o.join(
            F.broadcast(
                _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk"))
    )
    total = per_seg.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("TOTAL").alias("c_mktsegment"), "sk"
    )
    return (
        per_seg.unionByName(total)
        .select(
            "c_mktsegment",
            F.hll_sketch_estimate("sk").cast("long").alias("approx_customers"),
        )
    )


@register(
    "q_join_asof_tolerance",
    oracle="""
    SELECT event_id, view_id, view_value FROM (
        SELECT a.event_id,
               b.event_id AS view_id,
               b.value AS view_value,
               row_number() OVER (PARTITION BY a.event_id
                                  ORDER BY b.ts DESC, b.event_id DESC) AS rn
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id AND b.event_type = 'view' AND b.ts <= a.ts
         AND epoch_us(a.ts) - epoch_us(b.ts) <= 3600000000
        WHERE a.event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound: latest view at or before each
    purchase, but only if it is at most 1 hour old — the crypto
    price-at-trade pattern with a max-quote-age guard. Same linear
    union + last_value carry-forward plan as q_join_asof (one Exchange
    on user_id, no join); the tolerance is a post-window filter on the
    carried view's timestamp. Equivalence note: the newest prior view
    is the only candidate — if IT is stale, every earlier view is
    staler, so filtering the carried row equals the bounded-range
    join's rn=1."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    is_view = F.col("event_type") == "view"
    us = F.unix_micros("ts")
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        us.alias("us"),
        "event_id",
        (~is_view).cast("int").alias("is_purchase"),
        F.when(is_view, F.col("event_id")).alias("v_id"),
        F.when(is_view, F.col("value")).alias("v_val"),
        F.when(is_view, us).alias("v_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("us"), F.asc("is_purchase"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("view_id", F.last("v_id", ignorenulls=True).over(w))
        .withColumn("view_value", F.last("v_val", ignorenulls=True).over(w))
        .withColumn("view_us", F.last("v_us", ignorenulls=True).over(w))
        .filter(
            (F.col("is_purchase") == 1)
            & F.col("view_id").isNotNull()
            & (F.col("us") - F.col("view_us") <= 3600 * 1_000_000)
        )
        .select("event_id", "view_id", "view_value")
    )


@register(
    "q_agg_mode",
    oracle="""
    SELECT l_returnflag, mode_status, cnt FROM (
        SELECT l_returnflag, l_linestatus AS mode_status, count(*) AS cnt,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY count(*) DESC, l_linestatus ASC) AS rn
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    ) WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with an explicit tie rule (smallest
    value wins) — engines' built-in ``mode()`` breaks ties arbitrarily,
    so the portable form is count-then-rank: a two-level hash aggregate
    (map-side combine does the heavy lifting) followed by a window over
    the tiny (group, value) count table. No raw-row window anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    counts = li.groupBy("l_returnflag", F.col("l_linestatus").alias("mode_status")).agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("cnt"), F.asc("mode_status"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", "mode_status", "cnt")
    )


@register("q_agg_kll_quantiles")  # rows-only: KLL estimates are approximate
def q_agg_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (Apache DataSketches KLL via Spark
    4.0+ ``kll_sketch_agg_double``) — the 100 TB pattern for
    percentiles over nested groupings: per-segment sketches of
    l_extendedprice answer p50/p95/p99, and the TOTAL row's quantiles
    come from ``kll_merge_agg_double`` over the per-segment sketches
    WITHOUT a second scan of the raw data. This is what replaces exact
    ``percentile`` (a full sort per group) once groups stop fitting in
    memory. Estimate accuracy vs exact percentiles asserted in
    tests/test_relational.py."""
    li = _t(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("l_extendedprice", F.lit(400)).alias("sk")
    )
    total = per_flag.agg(F.kll_merge_agg_double("sk").alias("sk")).select(
        F.lit("TOTAL").alias("l_returnflag"), "sk"
    )
    q = lambda r: F.round(  # noqa: E731
        F.kll_sketch_get_quantile_double("sk", F.lit(r)), 2
    )
    return per_flag.unionByName(total).select(
        "l_returnflag",
        q(0.5).alias("approx_p50"),
        q(0.95).alias("approx_p95"),
        q(0.99).alias("approx_p99"),
    )


@register("q_agg_theta_sketch")  # rows-only: theta estimates are approximate
def q_agg_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable set-operation sketches (Apache DataSketches Theta via
    Spark 4.1 ``theta_sketch_agg``): per-event-type sketches of the
    user_id set support estimated UNION (reach across both types) and
    INTERSECTION (overlap audiences) WITHOUT re-scanning raw events —
    the segment-overlap query that is quadratic-in-segments if done
    with exact DISTINCT joins. Output: one row per event-type pair
    (type_a < type_b) with estimated distinct users in a, b, their
    union and intersection. The pair join runs over the tiny per-type
    sketch table (5 rows here; segments, never ticks, at scale).
    Accuracy vs exact counts asserted in tests/test_relational.py."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    a = per_type.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = per_type.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    est = F.theta_sketch_estimate
    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            est(F.col("sk_a")).cast("long").alias("approx_users_a"),
            est(F.col("sk_b")).cast("long").alias("approx_users_b"),
            est(F.theta_union(F.col("sk_a"), F.col("sk_b"))).cast("long").alias("approx_union"),
            est(F.theta_intersection(F.col("sk_a"), F.col("sk_b"))).cast("long").alias(
                "approx_intersection"
            ),
        )
    )


@register(
    "q_join_null_safe",
    oracle="""
    WITH cg AS (SELECT CASE WHEN c_nationkey % 5 = 0 THEN NULL
                            ELSE c_nationkey % 5 END AS grp,
                       count(*) AS n_cust
                FROM customer GROUP BY 1),
         sg AS (SELECT CASE WHEN s_nationkey % 5 = 0 THEN NULL
                            ELSE s_nationkey % 5 END AS grp,
                       count(*) AS n_supp
                FROM supplier GROUP BY 1)
    SELECT cg.grp, n_cust, n_supp
    FROM cg JOIN sg ON cg.grp IS NOT DISTINCT FROM sg.grp
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out — the semantics CDC and
    sentinel-key pipelines need. ``EqualNullSafe`` is a first-class
    equi-join key for Catalyst, so this still plans as a hash/sort-merge
    join (not a nested loop) and scales like any other equi-join. The
    nullable key is derived (bucket 0 -> NULL) because the fixture
    tables are null-free."""
    grp = lambda c: F.when(F.col(c) % 5 == 0, None).otherwise(F.col(c) % 5)  # noqa: E731
    cg = (
        _t(spark, sf_dir, "customer")
        .groupBy(grp("c_nationkey").alias("grp"))
        .agg(F.count("*").alias("n_cust"))
    )
    sg = (
        _t(spark, sf_dir, "supplier")
        .groupBy(grp("s_nationkey").alias("grp"))
        .agg(F.count("*").alias("n_supp"))
    )
    return cg.join(sg, cg["grp"].eqNullSafe(sg["grp"])).select(
        cg["grp"], "n_cust", "n_supp"
    )


@register(
    "q_join_lateral",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
    ) t
    """,
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (top-2 orders per customer) through the
    SQL entry point — the dependent-subquery surface users port from
    warehouse SQL. Catalyst decorrelates the per-row ORDER BY/LIMIT
    subquery into a joined window top-k, so execution is one shuffle on
    the join key, never a per-customer re-scan of orders (the thing a
    naive lateral executor would do and the reason this is usually the
    first query to die at scale)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lv")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lv")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_lv c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders_lv o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) t
        """
    )


@register(
    "q_except_all",
    oracle="""
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber <= 2
    EXCEPT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference, duplicate counts preserved) —
    the bag semantics ETL reconciliation needs, vs q_except's set
    semantics. Spark plans ``exceptAll`` as a count-tagged aggregate +
    generate (no sort), one shuffle per side on the row key."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") <= 2).select("l_orderkey", "l_partkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_partkey")
    return a.exceptAll(b)


@register(
    "q_intersect_all",
    oracle="""
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber <= 2
    INTERSECT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset intersection): min(dup counts) per row
    key, same single-shuffle count-tagged plan as q_except_all."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") <= 2).select("l_orderkey", "l_partkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_partkey")
    return a.intersectAll(b)


@register(
    "q_agg_histogram",
    oracle="""
    SELECT CAST(floor(value / 25.0) + 1 AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events
    GROUP BY 1
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of tick values via ``width_bucket`` (20
    buckets over [0, 500)) — the profiling/monitoring primitive. One
    hash aggregate over the bucket id; map-side combine collapses the
    tick volume to <=22 rows before the (tiny) shuffle. The oracle is
    the arithmetic definition of the same bucketing (all fixture values
    are strictly inside the range, so no under/overflow buckets)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.width_bucket("value", F.lit(0.0), F.lit(500.0), F.lit(20)).alias("bucket"),
            "value",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


@register(
    "q_win_gaps_islands",
    oracle="""
    WITH t AS (SELECT user_id, event_id, event_type,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC) AS rn,
                      row_number() OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts ASC, event_id ASC) AS rnt
               FROM events)
    SELECT user_id, event_type, count(*) AS streak_len,
           min(event_id) AS first_event
    FROM t GROUP BY user_id, event_type, rn - rnt
    HAVING count(*) >= 3
    """,
)
def q_win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive same-type events
    per user (>=3 long) — the streak/uptime/consecutive-login analysis
    pattern. The classic two-rank difference trick: rn (per user) minus
    rnt (per user+type) is constant exactly within a run, so islands
    fall out of a hash aggregate — no iterative logic, no self-join.
    Two window exchanges (user_id, then user_id+type) and a final agg;
    state per row is one long, so the plan is skew-safe at any scale."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    wt = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            (F.row_number().over(wu) - F.row_number().over(wt)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count("*").alias("streak_len"), F.min("event_id").alias("first_event"))
        .filter(F.col("streak_len") >= 3)
        .drop("grp")
    )


@register(
    "q_join_point_in_time",
    oracle="""
    WITH v AS (SELECT user_id, event_id AS version_id, value AS attr_value,
                      epoch_us(ts) AS eff_from,
                      lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                               ORDER BY ts ASC, event_id ASC)
                          AS eff_to
               FROM events WHERE event_type = 'signup')
    SELECT p.event_id, v.version_id, v.attr_value
    FROM events p JOIN v ON p.user_id = v.user_id
     AND epoch_us(p.ts) >= v.eff_from
     AND (v.eff_to IS NULL OR epoch_us(p.ts) < v.eff_to)
    WHERE p.event_type = 'purchase'
    """,
)
def q_join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase picks the dimension version
    (q_scd2's [eff_from, eff_to) rows) valid at its timestamp — the
    feature-store correctness primitive that prevents training-serving
    leakage. The oracle states it as the interval join over the
    versioned dimension; the Spark plan is the scale-safe equivalent:
    versions and facts union into ONE stream, a single carry-forward
    window per user resolves the valid version (intervals partition
    time, so latest-at-or-before == interval membership) — one Exchange
    on user_id, no range join, no pair blow-up on hot users."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    is_v = F.col("event_type") == "signup"
    tagged = ev.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id",
        us.alias("us"),
        "event_id",
        (~is_v).cast("int").alias("is_fact"),
        F.when(is_v, F.col("event_id")).alias("v_id"),
        F.when(is_v, F.col("value")).alias("v_val"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("us"), F.asc("is_fact"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("version_id", F.last("v_id", ignorenulls=True).over(w))
        .withColumn("attr_value", F.last("v_val", ignorenulls=True).over(w))
        .filter((F.col("is_fact") == 1) & F.col("version_id").isNotNull())
        .select("event_id", "version_id", "attr_value")
    )


@register(
    "q_agg_filter",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
           round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
               AS discounted_rev,
           count(*) AS n_total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (the SQL FILTER clause / count_if
    surface): multiple differently-filtered aggregates in ONE scan and
    ONE hash aggregate — the alternative users otherwise write as N
    self-joining subqueries. ``count_if`` and when()-guarded sums are
    pure codegen partial aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.round(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))), 2
        ).alias("discounted_rev"),
        F.count("*").alias("n_total"),
    )


@register(
    "q_win_nth_value",
    oracle="""
    SELECT event_id, user_id,
           nth_value(value, 3) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS third_seen
    FROM events
    """,
)
def q_win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running nth_value (the value of each user's 3rd tick, NULL until
    it exists) — completes the analytic-function surface next to
    first/last/lag/lead. Single partitioned window, running frame."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.nth_value("value", 3).over(w).alias("third_seen")
    )


@register(
    "q_basket_pairs",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    HAVING count(*) >= 2
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in >= 2
    orders (the candidate-generation step of frequent-itemset mining /
    "bought together" recommendations).

    Scale shape: ONE lineitem scan and ONE shuffle (on l_orderkey) —
    each order's distinct parts collapse to a sorted array (bounded by
    the ~7 lines-per-order), pairs generate MAP-SIDE from that array
    (sorted order gives part_a < part_b for free), and the pair count
    is a hash aggregate with map-side combine; HAVING filters after
    it. Pair volume is lines-per-order-squared PER ORDER — linear in
    orders, never corpus-quadratic. (A naive self-join on l_orderkey
    reads and DISTINCTs the corpus twice — Catalyst does not reuse the
    exchange across the two sides — which this shape avoids.)"""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    parts = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    p = F.col("parts")
    pair_structs = F.flatten(
        F.transform(
            p,
            lambda x, i: F.transform(
                F.slice(p, i + 2, F.greatest(F.size(p) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        parts.select(F.explode(pair_structs).alias("pr"))
        .groupBy(
            F.col("pr.part_a").alias("part_a"), F.col("pr.part_b").alias("part_b")
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@register(
    "q_join_range_banded",
    oracle="""
    SELECT a.event_id, count(b.event_id) AS n_prior_5min
    FROM events a
    LEFT JOIN events b
      ON b.ts >= a.ts - INTERVAL 5 MINUTE AND b.ts < a.ts
    GROUP BY a.event_id
    """,
)
def q_join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join — no equi anchor anywhere in the predicate:
    market-wide activity in the 5 minutes before each event, across ALL
    users (the cross-entity temporal-proximity query). Spark plans a
    raw inequality join as a BroadcastNestedLoopJoin — quadratic, the
    one shape that can never survive 100 TB — so the interval is BANDED
    into 5-minute buckets: the build side registers at its bucket, the
    probe side explodes to the 2 buckets its window can overlap, the
    join is a plain equi hash join on the bucket id, and the exact
    range predicate filters residually (each pair matches at most once
    because the probe buckets are distinct). DuckDB's IEJoin computes
    the same relation for the oracle. Bucket skew (hot minutes) is AQE
    skew-join territory — same mitigation as any hot hash key."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    w_us = 300 * 1_000_000
    bucket = (F.col("us") / w_us).cast("long")
    build = ev.select(
        F.col("event_id").alias("b_id"),
        F.col("us").alias("b_us"),
        bucket.alias("bucket"),
    )
    probe = ev.select(
        "event_id",
        "us",
        F.explode(F.array(bucket, bucket - 1)).alias("bucket"),
    )
    counts = (
        probe.join(build, "bucket")
        .filter(
            (F.col("b_us") >= F.col("us") - w_us) & (F.col("b_us") < F.col("us"))
        )
        .groupBy("event_id")
        .agg(F.count("b_id").alias("n_prior_5min"))
    )
    return ev.select("event_id").join(counts, "event_id", "left").select(
        "event_id", F.coalesce("n_prior_5min", F.lit(0)).alias("n_prior_5min")
    )


@register(
    "q_agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
               AS gid,
           count(*) AS n,
           CAST(floor(sum(l_extendedprice) * 100) AS BIGINT) AS revenue_cents
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with ``grouping_id`` disambiguation — the bitmask
    that tells a NULL produced by aggregation apart from a NULL data
    value (the classic rollup-report correctness trap). One Expand +
    one hash aggregate pass, same plan family as q_agg_grouping_sets;
    money sums floor to cents per the cross-engine float contract."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.floor(F.sum("l_extendedprice") * 100).cast("long").alias(
                "revenue_cents"
            ),
        )
        .filter(F.grouping_id().isin(0, 1, 3))
        .select("l_returnflag", "l_linestatus", "gid", "n", "revenue_cents")
    )


@register(
    "q_join_bloom",
    oracle="""
    SELECT o_orderpriority,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
             / 100.0 AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY o_orderpriority
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit bloom-filter semi-join reduction (the runtime-filter
    pattern): revenue of lineitem rows joining a selective orders
    subset, with the probe side pre-filtered MAP-SIDE by a bloom
    filter built from the build side's keys.

    Why it exists: at 100 TB the equi-join's cost is dominated by
    shuffling the probe side; when the build side is selective, a
    bloom filter over its keys — a few KB, broadcast — drops most
    probe rows BEFORE the exchange. Spark's own runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled) injects exactly
    this when stats allow; this operator is the explicit, always-on
    form of that rewrite, built from relational primitives:

    - build: k=3 xxhash64 positions per key -> explode -> (word, bits)
      hash agg via bit_or -> ONE row holding the dense 1024-word
      bitmap (map_from_entries + sequence/transform), broadcast;
    - probe: pure-codegen bit tests (element_at >> shift & mask) — no
      join, no shuffle, applied at the scan;
    - the surviving ~|build|-proportional probe rows flow into the
      EXACT equi-join, so bloom false positives are removed and the
      result is bit-identical to the plain join (the oracle IS the
      plain join — the differential gate proves losslessness; no
      false negatives is a bloom-filter structural property).

    The 2^16-bit / k=3 sizing targets ~1% FP at the fixture's build
    cardinality; at scale m scales with the build side (or use
    Spark's native bloom_filter_agg sizing).
    """
    m_bits, n_words, k = 1 << 16, (1 << 16) >> 6, 3

    def _positions(col: F.Column) -> list[F.Column]:
        return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k)]

    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderpriority")

    words = (
        orders.select(
            F.explode(F.array(*_positions(F.col("o_orderkey")))).alias("p")
        )
        .groupBy(F.expr("p div 64").alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, cast(p % 64 AS INT))")).alias("bits"))
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("long")), F.lit(0).cast("long")),
        ).alias("bloom")
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    probe = li.crossJoin(F.broadcast(bloom))
    for j, p in enumerate(_positions(F.col("l_orderkey"))):
        probe = probe.withColumn(f"_p{j}", p)
    cond = F.lit(True)
    for j in range(k):
        cond = cond & (
            F.expr(
                f"element_at(bloom, cast(_p{j} div 64 AS INT) + 1) "
                f"& shiftleft(1L, cast(_p{j} % 64 AS INT)) != 0"
            )
        )
    survivors = probe.filter(cond).drop("bloom", *[f"_p{j}" for j in range(k)])

    return (
        survivors.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            (
                F.sum(
                    F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                )
                / 100.0
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q_rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT c_custkey,
             datediff('day', max(o_orderdate), TIMESTAMP '2001-09-01') AS recency,
             count(*) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    ),
    scored AS (
      SELECT c_custkey, monetary_cents,
             ntile(5) OVER (ORDER BY recency ASC, c_custkey) AS r,
             ntile(5) OVER (ORDER BY frequency DESC, c_custkey) AS f,
             ntile(5) OVER (ORDER BY monetary_cents DESC, c_custkey) AS m
      FROM cust
    )
    SELECT r, f, m, count(*) AS n_customers,
           floor(CAST(sum(monetary_cents) AS DOUBLE) / count(*)) / 100.0
             AS avg_monetary
    FROM scored GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles) —
    the classic customer-analytics composite; output is the segment
    grid (≤125 cells) with sizes and average monetary value.

    One customer⋈orders aggregate builds the per-customer RFM triple.
    The oracle writes three global ``ntile(5)`` windows over that
    table; the Spark plan computes the IDENTICAL assignment fully
    distributed: per dimension, the global row number is
    engine.stats.banded_cum of 1 over a band consistent with the sort
    order (recency and frequency band on their own small-integer
    value; monetary on floor(log2(cents)) — ≤64 bands whose order
    refines cents DESC), and engine.stats.closed_ntile maps it to its
    quintile, so no single-partition pass ever touches the
    |customers|-sized table. A custkey tiebreak makes each total order
    deterministic on both engines; exact integer cents keep the cell
    averages float-free.
    """
    from engine.stats import banded_cum, closed_ntile

    cust = (
        _t(spark, sf_dir, "customer")
        .join(_t(spark, sf_dir, "orders"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.datediff(
                F.lit("2001-09-01").cast("timestamp"), F.max("o_orderdate")
            ).alias("recency"),
            F.count("*").alias("frequency"),
            F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias(
                "monetary_cents"
            ),
        )
    )

    ranked = banded_cum(cust, F.col("recency"), ["c_custkey"], {"r": F.lit(1)})
    ranked = banded_cum(
        ranked, F.col("frequency"), ["c_custkey"], {"f": F.lit(1)}, descending=True
    )
    ranked = banded_cum(
        ranked,
        F.floor(F.log2(F.col("monetary_cents").cast("double") + 1.5)),
        [F.desc("monetary_cents"), F.asc("c_custkey")],
        {"m": F.lit(1)},
        descending=True,
    )
    scored = ranked.select(
        "c_custkey",
        "monetary_cents",
        *[closed_ntile(F.col(f"cum_{d}"), F.col("tot_m"), 5).alias(d) for d in "rfm"],
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count("*").alias("n_customers"),
            # floor on the exact-integer quotient, not round on a
            # double: round() lands cell averages on .xx5 boundaries
            # where the engines' rounding implementations disagree
            # (found at sf0.001); floor of a <2^53 quotient is stable.
            (F.floor(F.sum("monetary_cents").cast("double") / F.count("*")) / 100.0)
            .alias("avg_monetary"),
        )
        .orderBy("r", "f", "m")
    )


@register(
    "q_abc_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_cents,
             sum(cents) OVER () AS total_cents
      FROM rev
    )
    SELECT CASE WHEN CAST(run_cents AS DOUBLE) / total_cents <= 0.8 THEN 'A'
                WHEN CAST(run_cents AS DOUBLE) / total_cents <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class,
           count(*) AS n_parts,
           sum(cents) / 100.0 AS revenue
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def q_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts binned by cumulative revenue
    share (A ≤ 80%, B ≤ 95%, C the tail) — the inventory-analytics
    composite whose core is a GLOBAL ordered prefix sum.

    The oracle writes the naive global running-sum window; the Spark
    plan computes the identical prefix sum and total DISTRIBUTED with
    engine.stats.banded_cum on band = floor(log2(cents)), ordered DESC.
    Bands are totally ordered consistently with the (cents DESC,
    partkey) sort (any higher band's every value exceeds any lower
    band's), so no single-partition pass ever touches the |parts|-sized
    table; the ≤64-row band table is the only global window. Exact
    cents make the 0.8/0.95 boundary comparisons cross-engine stable.
    """
    from engine.stats import banded_cum

    rev = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100))
            .cast("long")
            .alias("cents")
        )
    )
    ranked = banded_cum(
        rev,
        F.floor(F.log2(F.col("cents").cast("double") + 1.5)),
        [F.desc("cents"), F.asc("l_partkey")],
        ["cents"],
        descending=True,
    )
    share = F.col("cum_cents").cast("double") / F.col("tot_cents")
    return (
        ranked.select(
            F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
                "abc_class"
            ),
            "cents",
        )
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            (F.sum("cents") / 100.0).alias("revenue"),
        )
        .orderBy("abc_class")
    )


@register(
    "q_quality_rules",
    oracle="""
    WITH li AS (
      SELECT *,
             CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END AS bad_qty,
             CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END AS bad_price,
             CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END
               AS bad_disc,
             CASE WHEN l_shipdate < TIMESTAMP '1995-01-01'
                    OR l_shipdate >= TIMESTAMP '2002-01-01' THEN 1 ELSE 0 END
               AS bad_date
      FROM lineitem
    ),
    dup AS (
      SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS n
      FROM lineitem
    ),
    orphan AS (
      SELECT count(*) AS n FROM lineitem
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT count(*) AS n_rows,
           CAST(sum(bad_qty) AS BIGINT) AS bad_quantity,
           CAST(sum(bad_price) AS BIGINT) AS bad_price,
           CAST(sum(bad_disc) AS BIGINT) AS bad_discount,
           CAST(sum(bad_date) AS BIGINT) AS bad_shipdate,
           (SELECT n FROM dup) AS dup_line_keys,
           (SELECT n FROM orphan) AS orphan_lines,
           round(CAST(count(*) - CAST(sum(bad_qty + bad_price + bad_disc
                                          + bad_date) AS BIGINT) AS DOUBLE)
                 / count(*), 6) AS clean_rate
    FROM li
    """,
)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality rule summary over lineitem — the constraint-check
    pass an ETL pipeline runs before publishing a partition: range
    rules (quantity/price/discount/shipdate), primary-key duplicate
    count, referential orphans against orders, and the overall clean
    rate.

    All range rules ride ONE scan as conditional sums (map-side
    combined to a single row); the duplicate check is a count-distinct
    on the composite key (two-phase hash agg, no window); the orphan
    check is a LEFT ANTI join against the orders key column — at scale
    the anti join shuffles only the key columns, and a bloom pre-filter
    (q_join_bloom's pattern) slots in front of it unchanged. The
    fixture is clean by construction, so the zeros ARE the assertion —
    the operator's value is the plan shape plus the differential gate
    on the arithmetic.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    bad_qty = F.when(F.col("l_quantity") <= 0, 1).otherwise(0)
    bad_price = F.when(F.col("l_extendedprice") < 0, 1).otherwise(0)
    bad_disc = F.when(
        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1
    ).otherwise(0)
    bad_date = F.when(
        (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
        | (F.col("l_shipdate") >= F.lit("2002-01-01").cast("timestamp")),
        1,
    ).otherwise(0)
    base = li.agg(
        F.count("*").alias("n_rows"),
        F.sum(bad_qty).alias("bad_quantity"),
        F.sum(bad_price).alias("bad_price"),
        F.sum(bad_disc).alias("bad_discount"),
        F.sum(bad_date).alias("bad_shipdate"),
        (
            F.count("*")
            - F.countDistinct(F.col("l_orderkey"), F.col("l_linenumber"))
        ).alias("dup_line_keys"),
        F.sum(bad_qty + bad_price + bad_disc + bad_date).alias("_bad_total"),
    )
    orphans = (
        li.select("l_orderkey")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count("*").alias("orphan_lines"))
    )
    return base.crossJoin(F.broadcast(orphans)).select(
        "n_rows",
        "bad_quantity",
        "bad_price",
        "bad_discount",
        "bad_shipdate",
        "dup_line_keys",
        "orphan_lines",
        F.round(
            (F.col("n_rows") - F.col("_bad_total")).cast("double") / F.col("n_rows"), 6
        ).alias("clean_rate"),
    )


# One SQL text, two engines: the string below is written in the
# Spark-SQL ∩ DuckDB shared dialect and is executed VERBATIM by both
# sides of the differential gate — proving the engine's SQL entry
# point (SURVEY §3 entry point 3), not just the DataFrame API.
_SQL_API_TEXT = """
    WITH rev AS (
      SELECT n_name, l_partkey,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               AS cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name, l_partkey
    ),
    rnk AS (
      SELECT n_name, l_partkey, cents,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY cents DESC, l_partkey) AS rn
      FROM rev
    )
    SELECT n_name, l_partkey, CAST(cents AS DOUBLE) / 100.0 AS revenue
    FROM rnk WHERE rn <= 3
    ORDER BY n_name, revenue DESC, l_partkey
"""


@register("q_sql_api", oracle=_SQL_API_TEXT)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point: top-3 revenue parts per supplier nation,
    expressed as ONE SQL string executed verbatim by ``spark.sql``
    (over temp views of the fixture tables) AND by the DuckDB oracle —
    the same text, two engines, hash-equal results.

    The query exercises CTEs, a snowflake join, exact-cents
    aggregation, a ranked window, and top-k-per-group filtering in the
    shared dialect. Catalyst plans it identically to the DataFrame
    form (WindowGroupLimit pushes rn <= 3 below the sort); at scale
    the same text runs unchanged on a cluster because the views are
    just the parquet scans.
    """
    for t in ("lineitem", "supplier", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_API_TEXT)


@register(
    "q_source_python",
    oracle="""
    SELECT i AS tick_id, CAST(i % 8 AS INT) AS bucket,
           ((i * 2654435761) % 4294967296) % 10007 AS value_cents
    FROM generate_series(0, 19999) t(i)
    """,
)
def q_source_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source (Spark 4 ``pyspark.sql.datasource``):
    read 20k deterministic ticks through the engine's registered
    ``synthetic_ticks`` source — 8 InputPartitions, executor-side row
    generation (never a driver-built DataFrame) — and hash-match the
    SAME arithmetic replayed by DuckDB over generate_series. The
    oracle-checked *connector*: schema declaration, option parsing,
    partition planning, and per-partition reads all sit on the
    verified path.
    """
    from engine.io import register_python_sources

    register_python_sources(spark)
    return (
        spark.read.format("synthetic_ticks")
        .option("n", "20000")
        .option("parts", "8")
        .load()
    )


@register(
    "q_join_asof_forward",
    oracle="""
    SELECT event_id, next_view_id, next_view_value, wait_s FROM (
        SELECT a.event_id,
               b.event_id AS next_view_id,
               b.value AS next_view_value,
               CAST(floor((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000.0)
                    AS BIGINT) AS wait_s,
               row_number() OVER (PARTITION BY a.event_id
                                  ORDER BY b.ts ASC, b.event_id ASC) AS rn
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id AND b.event_type = 'view' AND b.ts > a.ts
        WHERE a.event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: the first 'view' strictly after each
    purchase, per user (the re-engagement / next-quote direction;
    completes the as-of family: backward, tolerance, point-in-time,
    forward).

    Same linear-state plan as q_join_asof, mirrored: UNION both
    streams, ONE (user_id) window, and carry the NEXT view backward
    with ``first(..., ignorenulls=True)`` over the [1, +∞) FOLLOWING
    frame — same Exchange, same sort direction (no descending re-sort:
    the forward carry is just the opposite frame on the identical
    ordering, exactly like q_resample_interpolate's next-carry).
    Strictly-after semantics: at equal ts the purchase sorts BEFORE
    same-ts views in frame terms — but `b.ts > a.ts` excludes them, so
    same-ts views are pushed before purchases in the sort and the
    [1, +∞) frame naturally skips them. Purchases with no later view
    drop (inner semantics).
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    is_view = F.col("event_type") == "view"
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (~is_view).cast("int").alias("is_purchase"),
        F.when(is_view, F.col("event_id")).alias("v_id"),
        F.when(is_view, F.col("value")).alias("v_val"),
        F.when(is_view, F.unix_micros("ts")).alias("v_us"),
    )
    # same-ts views sort BEFORE purchases (is_purchase ASC) so the
    # strictly-following frame of a purchase contains only later-ts
    # views — matching the b.ts > a.ts oracle exactly
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("is_purchase"), F.asc("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
    )
    return (
        tagged.withColumn("next_view_id", F.first("v_id", ignorenulls=True).over(w))
        .withColumn("next_view_value", F.first("v_val", ignorenulls=True).over(w))
        .withColumn("next_view_us", F.first("v_us", ignorenulls=True).over(w))
        .filter((F.col("is_purchase") == 1) & F.col("next_view_id").isNotNull())
        .select(
            "event_id",
            "next_view_id",
            "next_view_value",
            # floor, not cast: DuckDB CAST(double AS BIGINT) rounds
            # while Spark's cast truncates — floor agrees everywhere
            F.floor((F.col("next_view_us") - F.unix_micros("ts")) / 1_000_000.0)
            .cast("long")
            .alias("wait_s"),
        )
    )


@register(
    "q_skyline",
    oracle="""
    WITH pts AS (
      SELECT p_partkey, CAST(floor(p_retailprice * 100) AS BIGINT) AS cents,
             p_size
      FROM part
    ),
    gm AS (SELECT cents, min(p_size) AS msize FROM pts GROUP BY cents),
    run AS (
      SELECT cents, msize,
             min(msize) OVER (ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_min
      FROM gm
    )
    SELECT p_partkey, cents / 100.0 AS price, p_size
    FROM pts JOIN run USING (cents)
    WHERE p_size = msize AND (prev_min IS NULL OR msize < prev_min)
    ORDER BY price, p_partkey
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier: parts not dominated on (price ↓,
    size ↓) — the preference-query operator (dominated = some part is
    ≤ on both dimensions and strictly better on one; exact duplicates
    survive together since domination requires one strict inequality).

    The quadratic NOT-EXISTS dominance test decorrelates into the
    plane-sweep: per-price minimum size, then "survives iff its
    price-group min beats every strictly-cheaper group's min" — a
    prefix-min over the price-group table, which runs DISTRIBUTED via
    the banded two-level scheme ($1000 cents-bands as the outer key:
    within-band running min in parallel + a ≤bands-row carry-in
    broadcast), never a single-partition pass over the group table.
    Exact floor-cents prices make group boundaries and the strict <
    comparisons cross-engine stable.
    """
    from pyspark.sql import Window

    pts = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        "p_size",
    )
    gm = pts.groupBy("cents").agg(F.min("p_size").alias("msize")).withColumn(
        "band", F.expr("cents div 100000")
    )
    w_in = Window.partitionBy("band").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    within = gm.withColumn("prev_in_band", F.min("msize").over(w_in))
    band_min = (
        gm.groupBy("band")
        .agg(F.min("msize").alias("bmin"))
        .withColumn(
            "carry_min",
            F.min("bmin").over(
                Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select(F.col("band").alias("b2"), "carry_min")
    )
    run = within.join(F.broadcast(band_min), F.col("band") == F.col("b2")).select(
        F.col("cents").alias("rcents"),
        "msize",
        F.least(
            F.coalesce(F.col("prev_in_band"), F.lit(2_147_483_647)),
            F.coalesce(F.col("carry_min"), F.lit(2_147_483_647)),
        ).alias("prev_min_raw"),
    )
    return (
        pts.join(run, F.col("cents") == F.col("rcents"))
        .filter(
            (F.col("p_size") == F.col("msize"))
            & (
                (F.col("prev_min_raw") == 2_147_483_647)
                | (F.col("msize") < F.col("prev_min_raw"))
            )
        )
        .select("p_partkey", (F.col("cents") / 100.0).alias("price"), "p_size")
        .orderBy("price", "p_partkey")
    )


@register(
    "q_agg_gini",
    oracle="""
    WITH cust AS (
      SELECT c_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, c_custkey) AS i
      FROM cust
    ),
    agg AS (
      SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS total,
             CAST(sum(i * cents) AS BIGINT) AS weighted
      FROM ranked
    )
    SELECT n AS n_customers, total / 100.0 AS total_revenue,
           round(2.0 * weighted / (n * CAST(total AS DOUBLE))
                 - (n + 1.0) / n, 4) AS gini
    FROM agg
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the whale-concentration
    measure (0 = equal spend, →1 = one customer is the business):
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted spend.

    The global rank i over |customers| runs DISTRIBUTED: per-customer
    cents aggregate once, then engine.stats.banded_cum of 1 on band =
    floor(log2(cents+1.5)) (order-consistent with cents ASC — the
    q_abc_pareto property); Σ(i·xᵢ) then sums exact bigints (i ≤ n,
    cents ≤ ~1e9 → products ≤ ~1e15·SF, inside bigint at any fixture
    SF; at true 100 TB scale the product pre-scales like
    q_anomaly_seasonal's Σc²). The ties-broken (cents, custkey) order
    matches the oracle's row_number exactly.
    """
    from engine.stats import banded_cum

    cust = (
        _t(spark, sf_dir, "orders")
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("cents")
        )
    )
    ranked = banded_cum(
        cust,
        F.floor(F.log2(F.col("cents").cast("double") + 1.5)),
        ["cents", "c_custkey"],
        {"i": F.lit(1)},
    ).select("cents", F.col("cum_i").alias("i"))
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("long").alias("total"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("weighted"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        (F.col("total") / 100.0).alias("total_revenue"),
        F.round(
            2.0 * F.col("weighted") / (F.col("n") * F.col("total").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            4,
        ).alias("gini"),
    )


@register(
    "q_agg_weighted_median",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ),
    grp AS (
      SELECT flag, price_cents, CAST(sum(wt) AS BIGINT) AS w
      FROM pts GROUP BY flag, price_cents
    ),
    cum AS (
      SELECT flag, price_cents, w,
             CAST(sum(w) OVER (PARTITION BY flag ORDER BY price_cents
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cw,
             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS total
      FROM grp
    )
    SELECT flag, min(price_cents) / 100.0 AS weighted_median,
           CAST(any_value(total) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cw >= total
    GROUP BY flag ORDER BY flag
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median price per return flag (quantity-weighted — the
    robust 'typical traded price' the plain median misrepresents when
    big lots cluster at one end).

    Price points collapse to exact (flag, cents) → weight groups; the
    cumulative weight runs per flag (parallel across the 3 flags —
    within a flag the group table is |distinct prices|-bounded, and at
    a scale where that itself is too big the banded scheme of
    q_abc_pareto slots in unchanged), and the median is the first
    group where 2·cumweight ≥ total (lower weighted median — exact
    integer comparison, no interpolation ambiguity cross-engine).
    """
    from pyspark.sql import Window

    pts = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    grp = pts.groupBy("flag", "price_cents").agg(
        F.sum("wt").cast("long").alias("w")
    )
    w_cum = Window.partitionBy("flag").orderBy("price_cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.withColumn("cw", F.sum("w").over(w_cum).cast("long")).withColumn(
        "total", F.sum("w").over(Window.partitionBy("flag")).cast("long")
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("total"))
        .groupBy("flag")
        .agg(
            (F.min("price_cents") / 100.0).alias("weighted_median"),
            F.any_value("total").cast("long").alias("total_weight"),
        )
        .orderBy("flag")
    )


@register(
    "q_join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_orderdate AS DATE) AS d0,
             CAST(o_orderdate AS DATE) + 6 AS d1
      FROM orders)
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS a_key, b.o_orderkey AS b_key,
           CAST(datediff('day', greatest(a.d0, b.d0),
                         least(a.d1, b.d1)) + 1 AS BIGINT) AS overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND a.d0 <= b.d1 AND b.d0 <= a.d1
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: every pair of orders from the SAME
    customer whose 7-day fulfillment windows intersect, with the
    overlap length — the interval×interval join semantic (both sides
    are ranges), distinct from the point-probe range joins
    (q_join_range_interval) and the as-of family.

    The equi key (custkey) carries the join; the interval conditions
    ride as residual predicates on pairs that already share a
    customer, so the pair space is per-customer, never global. At
    100 TB with no natural equi key the same query runs with an
    epoch-week bucket key instead (each interval explodes to the
    ≤2 week buckets it touches, pairs dedup on the lower bucket) —
    the standard interval-bucketing rewrite; the fixture's customer
    blocking keeps the oracle exact and the plan an equi hash join.
    Day arithmetic is integer end-to-end."""
    iv = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("d0"),
        F.date_add(F.to_date("o_orderdate"), 6).alias("d1"),
    )
    a = iv.alias("a")
    b = iv.alias("b")
    return a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.col("a.d0") <= F.col("b.d1"))
        & (F.col("b.d0") <= F.col("a.d1")),
    ).select(
        F.col("a.o_custkey").alias("custkey"),
        F.col("a.o_orderkey").alias("a_key"),
        F.col("b.o_orderkey").alias("b_key"),
        (
            F.datediff(
                F.least(F.col("a.d1"), F.col("b.d1")),
                F.greatest(F.col("a.d0"), F.col("b.d0")),
            )
            + 1
        )
        .cast("long")
        .alias("overlap_days"),
    )


@register(
    "q_agg_bitmap_distinct",
    oracle="""
    WITH w AS (
      SELECT o_orderpriority, o_custkey // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(o_custkey % 32 AS INTEGER)) AS bits
      FROM orders GROUP BY o_orderpriority, word)
    SELECT o_orderpriority, CAST(sum(bit_count(bits)) AS BIGINT) AS n_customers
    FROM w GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-count per group via bitmap aggregation — the
    roaring-bitmap pattern for a bounded integer domain: each 32-key
    block of the custkey space collapses to one BIGINT word per group
    (32, not 64: a signed-bigint left shift of bit 63 overflows in
    DuckDB, and the half-width word keeps both engines in range)
    (bit_or with map-side combine), and the distinct count is the sum
    of popcounts. Unlike COUNT(DISTINCT) this never re-shuffles raw
    (group, key) pairs — the shuffle is |groups| × |domain|/64 words
    regardless of row count, and the words union losslessly across
    any partitioning (the same merge a segmented bitmap index runs at
    100 TB). Exact, unlike the HLL path (q_agg_approx_distinct)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        o.select(
            "o_orderpriority",
            (F.col("o_custkey") / 32).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 32 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("o_orderpriority", "word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    return (
        w.groupBy("o_orderpriority")
        .agg(F.sum(F.bit_count("bits")).cast("long").alias("n_customers"))
        .orderBy("o_orderpriority")
    )


def _tdigest_merge(means, weights, delta: int = 100):
    """One merging pass of the t-digest (Dunning's merging variant,
    k1/asin scale function), FULLY numpy-vectorized (r6): sorted
    centroids bucket by floor(k) of their RIGHT-EDGE quantile
    (cumsum of weights, no midpoint shift), i.e. a cluster closes
    whenever the cumulative k value crosses an integer — the
    size invariant is defined on cluster EDGES, and edge bucketing
    keeps every merged cluster's k-span ≤ 1 k-unit up to indivisible
    inputs (a single input centroid whose own weight spans multiple
    k-units cannot be split by ANY merge strategy; its bucket may
    exceed one unit by less than one extra unit). Midpoint bucketing
    (the first r6 cut) was up to ~2 k-units loose because edges
    extend w/2 beyond midpoints — ADVICE r6. Centroid count stays
    bounded by the k range (≤ delta/2 + 1). The r5 greedy loop cost
    one interpreted-Python iteration per input POINT amortized (the
    2.7×-per-10× wall driver); this is three numpy passes (argsort,
    cumsum/arcsin, reduceat). Deterministic for a fixed input
    order."""
    import numpy as np

    means = np.asarray(means, dtype=np.float64)
    weights = np.asarray(weights, dtype=np.float64)
    idx = np.argsort(means, kind="stable")
    m, w = means[idx], weights[idx]
    tot = w.sum()
    q = np.cumsum(w) / tot
    kv = np.floor(delta / (2 * np.pi) * np.arcsin(np.clip(2 * q - 1, -1.0, 1.0)))
    starts = np.empty(len(kv), dtype=bool)
    starts[0] = True
    np.not_equal(kv[1:], kv[:-1], out=starts[1:])
    at = np.flatnonzero(starts)
    out_w = np.add.reduceat(w, at)
    out_m = np.add.reduceat(w * m, at) / out_w
    return out_m, out_w


def _tdigest_quantile(means, weights, q: float) -> float:
    """Quantile estimate from a merged digest: linear interpolation
    between centroid midpoints (the standard t-digest read path)."""
    import numpy as np

    m = np.asarray(means, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    tot = w.sum()
    target = q * tot
    # midpoint ranks: cumulative weight up to the centroid's center
    cum = np.cumsum(w) - w / 2.0
    if target <= cum[0]:
        return float(m[0])
    if target >= cum[-1]:
        return float(m[-1])
    i = int(np.searchsorted(cum, target)) - 1
    frac = (target - cum[i]) / (cum[i + 1] - cum[i])
    # lerp-stable form: m[i] + frac*(m[i+1]-m[i]) lands 1 ulp BELOW
    # m[i+1] at frac == 1.0 (a + (b-a) != b in floats), which walks the
    # estimate past an exact data point and off its rank (caught by
    # hypothesis in r9); the two-product form is exact at both ends
    return float(m[i] * (1.0 - frac) + m[i + 1] * frac)


@register("q_agg_tdigest")  # rows-only: sketch estimates have no SQL oracle
def q_agg_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantiles (p50/p95/p99 of extended price per return
    flag) via a distributed t-digest — the mergeable quantile sketch
    for data too large to sort: each PARTITION builds a ≤O(δ)-centroid
    digest inside ``mapInPandas`` (Arrow batches, bounded state
    regardless of partition size), the per-partition centroids — at
    most δ rows each — shuffle by group, and one ``applyInPandas``
    merge per group re-compresses and reads the quantiles. Shuffle
    volume is |groups| × partitions × δ tiny rows, independent of row
    count; the k1 (asin) scale function concentrates centroids at the
    tails so p99 stays tight where a uniform-bin sketch blurs.

    Rows-only by design (estimates; no cross-engine float contract) —
    the accuracy contract vs exact quantiles is pinned in
    tests/test_relational.py. Companions: q_agg_kll_quantiles (KLL),
    q_agg_percentile (exact)."""
    import pandas as pd

    delta = 100

    def partials(batches):
        # Per-flag buffers hold numpy ARRAYS (never per-row Python
        # floats — the r5 tolist() conversion was the Arrow-boundary
        # cost): batches append as arrays, and a vectorized merge
        # re-compresses whenever the buffered weight passes 8·delta.
        import numpy as np
        from collections import defaultdict

        acc: dict[str, list] = defaultdict(list)
        npts: dict[str, int] = defaultdict(int)

        def compress(flag):
            nm, nw = _tdigest_merge(
                np.concatenate([a for a, _ in acc[flag]]),
                np.concatenate([b for _, b in acc[flag]]),
                delta,
            )
            acc[flag] = [(nm, nw)]
            npts[flag] = len(nm)

        for pdf in batches:
            for flag, grp in pdf.groupby("flag"):
                arr = grp["price"].to_numpy(dtype=np.float64)
                acc[flag].append((arr, np.ones_like(arr)))
                npts[flag] += len(arr)
                if npts[flag] > 8 * delta:
                    compress(flag)
        rows = []
        for flag in acc:
            compress(flag)
            nm, nw = acc[flag][0]
            rows.append(pd.DataFrame({"flag": flag, "mean": nm, "weight": nw}))
        if rows:
            yield pd.concat(rows, ignore_index=True)

    def merge(key, pdf):
        nm, nw = _tdigest_merge(pdf["mean"].to_numpy(), pdf["weight"].to_numpy(), delta)
        return pd.DataFrame(
            {
                "flag": [key[0]],
                "n": [int(round(sum(nw)))],
                "p50": [round(_tdigest_quantile(nm, nw, 0.50), 4)],
                "p95": [round(_tdigest_quantile(nm, nw, 0.95), 4)],
                "p99": [round(_tdigest_quantile(nm, nw, 0.99), 4)],
            }
        )

    pts = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").cast("double").alias("price"),
    )
    cents = pts.mapInPandas(partials, "flag string, mean double, weight double")
    return (
        cents.groupBy("flag")
        .applyInPandas(merge, "flag string, n long, p50 double, p95 double, p99 double")
        .orderBy("flag")
    )


@register(
    "q_agg_skew_kurt",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice / 100) AS BIGINT) AS x
      FROM lineitem
    ),
    m AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(x*x) AS BIGINT) AS s2,
             CAST(sum(x*x*x) AS BIGINT) AS s3,
             CAST(sum(x*x*x*x) AS BIGINT) AS s4
      FROM v GROUP BY flag
    ),
    c AS (
      SELECT flag, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM m
    )
    SELECT flag, n,
           round((r3 - 3*mu*r2 + 2*mu*mu*mu)
                 / ((r2 - mu*mu) * sqrt(r2 - mu*mu)), 4) + 0.0 AS skewness,
           round((r4 - 4*mu*r3 + 6*mu*mu*r2 - 3*mu*mu*mu*mu)
                 / ((r2 - mu*mu) * (r2 - mu*mu)) - 3, 4) + 0.0 AS kurtosis_excess
    FROM c ORDER BY flag
    """,
)
def q_agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of price per return
    flag from RAW MOMENTS — the higher-moment profiling aggregate.
    Built from closed-form raw-moment identities rather than
    F.skewness/F.kurtosis because the builtin sample-correction
    conventions differ between engines (Spark population g1/g2 vs
    DuckDB sample-corrected) — raw moments have exactly one
    definition.

    Float policy: values land on a 100-dollar grid (bigint) so the
    four power sums are EXACT bigints (Σx⁴ ≤ 1.5e12·n stays in range;
    at a scale where it would not, the sums widen to decimal(38) /
    HUGEINT — both exact) and every double in the closed form is
    computed from identical integers on both engines. One hash
    aggregate with map-side combine; no window, no join."""
    v = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") / 100).cast("long").alias("x"),
    )
    x = F.col("x")
    m = v.groupBy("flag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("long").alias("s1"),
        F.sum(x * x).cast("long").alias("s2"),
        F.sum(x * x * x).cast("long").alias("s3"),
        F.sum(x * x * x * x).cast("long").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - 3 * mu * r2 + 2 * mu * mu * mu
    m4 = r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu
    return m.select(
        "flag",
        "n",
        (F.round(m3 / (m2 * F.sqrt(m2)), 4) + 0.0).alias("skewness"),
        (F.round(m4 / (m2 * m2) - 3, 4) + 0.0).alias("kurtosis_excess"),
    ).orderBy("flag")


@register(
    "q_join_asof_nearest",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS is_purchase,
             CASE WHEN event_type = 'view' THEN event_id END AS v_id,
             CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS v_us
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    w AS (
      SELECT *,
             last_value(v_id IGNORE NULLS) OVER win_prev AS prev_id,
             last_value(v_us IGNORE NULLS) OVER win_prev AS prev_us,
             first_value(v_id IGNORE NULLS) OVER win_next AS next_id,
             first_value(v_us IGNORE NULLS) OVER win_next AS next_us
      FROM tagged
      WINDOW
        win_prev AS (PARTITION BY user_id
                     ORDER BY ts, is_purchase, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        win_next AS (PARTITION BY user_id
                     ORDER BY ts, is_purchase, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id,
           CASE WHEN next_id IS NULL THEN prev_id
                WHEN prev_id IS NULL THEN next_id
                WHEN abs(next_us - epoch_us(ts)) < abs(prev_us - epoch_us(ts))
                  THEN next_id ELSE prev_id END AS view_id,
           CAST(floor(least(
                  coalesce(abs(prev_us - epoch_us(ts)), 9223372036854775807),
                  coalesce(abs(next_us - epoch_us(ts)), 9223372036854775807)
                ) / 1000000.0) AS BIGINT) AS gap_s
    FROM w
    WHERE is_purchase = 1 AND (prev_id IS NOT NULL OR next_id IS NOT NULL)
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: for each purchase, the view event closest
    in time in EITHER direction (tie → the earlier view) — completes
    the as-of family (backward, forward, tolerance, point-in-time,
    nearest; the Pandas ``merge_asof(direction='nearest')``
    semantic).

    Single-Exchange plan: both candidate carries share ONE
    (user_id, ts, is_purchase, event_id) sort — the backward carry is
    ``last(..., ignorenulls)`` over (−∞, −1], the forward carry
    ``first(..., ignorenulls)`` over [1, +∞) — exactly the
    q_join_asof / q_join_asof_forward frames fused into one window
    pass, then a codegen CASE picks the smaller |Δt|. Same-ts views
    sort before the purchase, landing in the backward frame with
    gap 0, which wins every comparison — consistent on both engines.
    No join operator anywhere; purchases with no view at all drop."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    is_view = F.col("event_type") == "view"
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (~is_view).cast("int").alias("is_purchase"),
        F.when(is_view, F.col("event_id")).alias("v_id"),
        F.when(is_view, F.unix_micros("ts")).alias("v_us"),
    )
    base = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("is_purchase"), F.asc("event_id")
    )
    w_prev = base.rowsBetween(Window.unboundedPreceding, -1)
    w_next = base.rowsBetween(1, Window.unboundedFollowing)
    us = F.unix_micros("ts")
    big = F.lit(9223372036854775807).cast("long")
    out = (
        tagged.withColumn("prev_id", F.last("v_id", ignorenulls=True).over(w_prev))
        .withColumn("prev_us", F.last("v_us", ignorenulls=True).over(w_prev))
        .withColumn("next_id", F.first("v_id", ignorenulls=True).over(w_next))
        .withColumn("next_us", F.first("v_us", ignorenulls=True).over(w_next))
        .filter(
            (F.col("is_purchase") == 1)
            & (F.col("prev_id").isNotNull() | F.col("next_id").isNotNull())
        )
    )
    prev_gap = F.coalesce(F.abs(F.col("prev_us") - us), big)
    next_gap = F.coalesce(F.abs(F.col("next_us") - us), big)
    return out.select(
        "event_id",
        F.when(F.col("next_id").isNull(), F.col("prev_id"))
        .when(F.col("prev_id").isNull(), F.col("next_id"))
        .when(next_gap < prev_gap, F.col("next_id"))
        .otherwise(F.col("prev_id"))
        .alias("view_id"),
        F.floor(F.least(prev_gap, next_gap) / 1_000_000.0).cast("long").alias("gap_s"),
    )


@register(
    "q_agg_argmax",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2, 3
    ),
    m AS (
      SELECT event_type,
             max(struct_pack(c := cents, nd := -di,
                             ds := strftime(day, '%Y-%m-%d'))) AS mx
      FROM d GROUP BY event_type
    )
    SELECT event_type, mx.ds AS peak_day,
           mx.c / 100.0 AS peak_revenue
    FROM m ORDER BY event_type
    """,
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX aggregate: the day each event type took its highest
    revenue (max_by / arg_max semantics) — with a DETERMINISTIC
    tiebreak, which the engines' native max_by/arg_max do not
    guarantee: the aggregate is a plain lexicographic MAX over a
    (cents, −day, day_string) struct, so equal-revenue ties resolve
    to the earliest day identically everywhere (struct comparison is
    the portable argmax). Two hash aggregates (ticks → daily → peak),
    both map-side combined; no window, no join."""
    from engine.crypto import day_index

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            day_index(),
            F.floor(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "day", "di")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    mx = daily.groupBy("event_type").agg(
        F.max(
            F.struct(
                F.col("cents").alias("c"),
                (-F.col("di")).alias("nd"),
                F.date_format("day", "yyyy-MM-dd").alias("ds"),
            )
        ).alias("mx")
    )
    return mx.select(
        "event_type",
        F.col("mx.ds").alias("peak_day"),
        (F.col("mx.c") / 100.0).alias("peak_revenue"),
    ).orderBy("event_type")


@register(
    "q_agg_string_agg",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
             AS statuses,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): the distinct
    statuses seen per priority as one sorted CSV cell — the report
    column every BI export wants. Spelled collect_set → array_sort →
    array_join so the cell is deterministic under Spark's
    nondeterministic aggregation order (a bare string_agg is not) and
    lands as a flat STRING the driver canonicalizer can hash. One
    hash aggregate; set size bounded by the status domain."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
                "statuses"
            ),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_pivot_dynamic",
    oracle="""
    WITH p AS (
      SELECT * FROM (PIVOT (SELECT user_id, event_type, value FROM events)
                     ON event_type USING sum(value))
    )
    SELECT user_id,
           round("click", 2) AS click, round("error", 2) AS error,
           round("purchase", 2) AS purchase, round("signup", 2) AS signup,
           round("view", 2) AS view
    FROM p
    """,
)
def q_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC pivot: the column set is DISCOVERED from the data
    (distinct event_type, sorted) before the single-pass pivot —
    DuckDB's bare `PIVOT ... ON col` semantics. The discovery job
    collects only the |domain| distinct values (bounded by the
    category domain, never row count), exactly the two-pass shape a
    BI layer runs when the category list is not known at authoring
    time. q_agg_pivot is the one-pass static form; this key pins the
    discovery pass stays domain-sized."""
    ev = _t(spark, sf_dir, "events")
    values = sorted(
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    )
    piv = ev.groupBy("user_id").pivot("event_type", values).sum("value")
    return piv.select(
        "user_id", *[F.round(F.col(t), 2).alias(t) for t in values]
    )


@register(
    "q_basket_rules",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
    item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM b
             GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM b a JOIN b b2
        ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3)
    SELECT part_a, part_b, c_ab,
           round(CAST(c_ab AS DOUBLE) / ia.c, 6) AS confidence,
           round(CAST(c_ab AS DOUBLE) * n_orders / (ia.c * ib.c), 6) AS lift
    FROM pairs
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b, n
    ORDER BY lift DESC, part_a, part_b LIMIT 25
    """,
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchase pairs: support, confidence
    P(b|a), and lift P(ab)/(P(a)P(b)) for part pairs in ≥3 common
    orders — the metric layer of frequent-itemset mining on top of
    q_basket_pairs' candidate generation (same map-side pair
    construction; the oracle writes the naive self-join).

    Scale shape: pair counts come from the per-order sorted-array
    explode (pair volume linear in orders), item supports are one
    hash agg bounded by |parts| (broadcast back), and the 1-row order
    count folds in for lift; every metric is a ratio of exact
    integers, ranked on the rounded value with a pair tiebreak."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.distinct()
    n = baskets.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    item = baskets.groupBy("l_partkey").agg(F.count("*").cast("long").alias("c"))
    parts = baskets.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    p = F.col("parts")
    pair_structs = F.flatten(
        F.transform(
            p,
            lambda x, i: F.transform(
                F.slice(p, i + 2, F.greatest(F.size(p) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        parts.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.part_a").alias("part_a"), F.col("pr.part_b").alias("part_b"))
        .agg(F.count("*").cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(F.col("c_ab").cast("double") / F.col("ca"), 6).alias("confidence"),
            F.round(
                F.col("c_ab").cast("double") * F.col("n_orders")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(25)
    )


@register(
    "q_join_spatial",
    oracle="""
    WITH p AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y,
             CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.02) AS BIGINT) AS cx,
             CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.02) AS BIGINT) AS cy
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)), 6) + 0.0 AS dist
    FROM p a JOIN p b
      ON a.vec_id < b.vec_id
     AND b.cx BETWEEN a.cx - 1 AND a.cx + 1
     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.0004
    """,
)
def q_join_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join: all point pairs within L2 distance
    0.02 in the plane spanned by the first two embedding dimensions —
    the grid-blocked proximity-join pattern (geo joins, collision
    detection, spatial dedup) that replaces the quadratic cross join.

    Blocking: each point lands in ONE grid cell of side r; the probe
    side explodes to its 3×3 cell neighbourhood, so the equi-join on
    the cell key finds every true pair EXACTLY once (cell side = r
    guarantees any pair within r spans at most one cell boundary per
    axis, and the 9 exploded cells are distinct). Candidate volume is
    Σ|cell|·|neighbourhood| — local density, never corpus-quadratic —
    and Catalyst runs it as a plain shuffled hash join on the cell.
    The exact distance refine happens post-join in codegen.
    Determinism: float32 coords widen to double identically on both
    engines, the refine compares identically-computed doubles, and
    only the final reported distance is rounded."""
    r = 0.02
    e = _t(spark, sf_dir, "embeddings")
    p = e.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    ).select(
        "*",
        F.floor(F.col("x") / r).cast("long").alias("cx"),
        F.floor(F.col("y") / r).cast("long").alias("cy"),
    )
    a = p.select(
        F.col("vec_id").alias("vec_a"), F.col("x").alias("xa"),
        F.col("y").alias("ya"), "cx", "cy",
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    b = (
        p.select(
            F.col("vec_id").alias("vec_b"), F.col("x").alias("xb"),
            F.col("y").alias("yb"), "cx", "cy",
            F.explode(offsets).alias("o"),
        )
        .select(
            "vec_b", "xb", "yb",
            (F.col("cx") + F.col("o.dx")).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
        )
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(b, ["cx", "cy"])
        .filter((F.col("vec_a") < F.col("vec_b")) & (d2 <= r * r))
        .select(
            "vec_a", "vec_b", (F.round(F.sqrt(d2), 6) + 0.0).alias("dist")
        )
    )


@register(
    "q_quality_freshness",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT event_type, di, day, n,
             CAST(coalesce(sum(n) OVER t, 0) AS BIGINT) AS sum_w,
             CAST(count(*) OVER t AS BIGINT) AS cnt_w,
             lag(di) OVER (PARTITION BY event_type ORDER BY di) AS prev_di
      FROM d
      WINDOW t AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, n,
           CASE WHEN cnt_w > 0
                THEN round(CAST(n * cnt_w AS DOUBLE) / sum_w, 4) END AS ratio,
           CAST(coalesce(di - prev_di - 1, 0) AS BIGINT) AS gap_before,
           cnt_w > 0 AND 2 * n * cnt_w < sum_w AS is_stale
    FROM w ORDER BY event_type, day
    """,
)
def q_quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness / completeness monitor: each (type, day) ingest
    count vs its trailing-7-day average, plus calendar gaps — the
    pipeline-health check that pages before a silent upstream stall
    poisons downstream aggregates (q_quality_rules' temporal
    companion).

    Exactness: the staleness flag is the INTEGER cross-multiplication
    2·n·cnt < Σ (n below half the trailing mean) — no float division
    decides anything; the reported ratio is the only double and is
    rounded. Gap detection is pure epoch-day lag arithmetic.

    Scale shape: one fact-scan hash aggregate to |types|×|days| rows;
    both windows share ONE (event_type) exchange and sort. Bounded
    frames, no joins."""
    from pyspark.sql import Window

    from engine.crypto import daily_bars

    d = daily_bars(_t(spark, sf_dir, "events"), day=True, n=F.count("*").cast("long"))
    t = Window.partitionBy("event_type").orderBy("di").rowsBetween(-7, -1)
    lagw = Window.partitionBy("event_type").orderBy("di")
    w = d.select(
        "event_type",
        "di",
        "day",
        "n",
        F.coalesce(F.sum("n").over(t), F.lit(0)).cast("long").alias("sum_w"),
        F.count("*").over(t).cast("long").alias("cnt_w"),
        F.lag("di").over(lagw).alias("prev_di"),
    )
    return w.select(
        "event_type",
        "day",
        "n",
        F.when(
            F.col("cnt_w") > 0,
            F.round(
                (F.col("n") * F.col("cnt_w")).cast("double") / F.col("sum_w"), 4
            ),
        ).alias("ratio"),
        F.coalesce(F.col("di") - F.col("prev_di") - 1, F.lit(0))
        .cast("long")
        .alias("gap_before"),
        ((F.col("cnt_w") > 0) & (2 * F.col("n") * F.col("cnt_w") < F.col("sum_w"))).alias(
            "is_stale"
        ),
    ).orderBy("event_type", "day")


_SQL_RECURSIVE_TEXT = """
    WITH RECURSIVE b AS (
      SELECT CAST(floor(epoch(min(o_orderdate)) / 86400) AS BIGINT) AS lo
      FROM orders
    ),
    d AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY di
    ),
    cal(di, k) AS (
        SELECT lo, CAST(0 AS BIGINT) FROM b
        UNION ALL
        SELECT di + 1, k + 1 FROM cal WHERE k < 89
    )
    SELECT strftime(DATE '1970-01-01' + CAST(cal.di AS INT), '%Y-%m-%d') AS day,
           CAST(coalesce(d.cents, 0) AS BIGINT) AS cents,
           d.di IS NULL AS is_gap
    FROM cal LEFT JOIN d ON d.di = cal.di
    ORDER BY day
"""


@register("q_sql_recursive", oracle=_SQL_RECURSIVE_TEXT)
def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (Spark 4 ``WITH RECURSIVE``): a 90-day
    calendar spine generated by recursion from the first order date,
    left-joined to daily revenue so zero-activity days surface as
    explicit gap rows — the gap-filling date-spine every reporting
    stack needs (a GROUP BY alone silently drops empty days).

    The recursion is 90 levels of one row each (under Spark's default
    100-level vanilla-session limit — longer spines chunk the
    recursion or use ``sequence()``; the recursive form is the point
    here), and the spine joins the |days|-bounded aggregate hash-side.
    The SAME SQL text runs on Spark and DuckDB except the final date
    rendering (strftime vs date_format) — epoch-day arithmetic keeps
    the recursion engine-neutral."""
    d = _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_sqlrec")
    return spark.sql(
        """
        WITH RECURSIVE b AS (
          SELECT CAST(floor(unix_timestamp(min(o_orderdate)) / 86400) AS BIGINT)
            AS lo
          FROM orders_sqlrec
        ),
        d AS (
          SELECT CAST(floor(unix_timestamp(o_orderdate) / 86400) AS BIGINT) AS di,
                 CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM orders_sqlrec GROUP BY di
        ),
        cal AS (
            SELECT lo AS di, CAST(0 AS BIGINT) AS k FROM b
            UNION ALL
            SELECT di + 1, k + 1 FROM cal WHERE k < 89
        )
        SELECT date_format(date_add(DATE '1970-01-01', CAST(cal.di AS INT)),
                           'yyyy-MM-dd') AS day,
               CAST(coalesce(d.cents, 0) AS BIGINT) AS cents,
               d.di IS NULL AS is_gap
        FROM cal LEFT JOIN d ON d.di = cal.di
        ORDER BY day
        """
    )


@register(
    "q_user_lorenz",
    oracle="""
    WITH u AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT m,
             row_number() OVER (ORDER BY m, o_custkey) AS rn,
             count(*) OVER () AS n,
             CAST(sum(m) OVER () AS BIGINT) AS total
      FROM u
    ),
    d AS (
      SELECT ((rn - 1) * 10) // n + 1 AS decile, m, n, total
      FROM r
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(m) AS DOUBLE) / any_value(total), 6) + 0.0
             AS revenue_share,
           round(CAST(sum(sum(m)) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / any_value(any_value(total)) OVER (), 6) + 0.0 AS cum_share
    FROM d GROUP BY decile ORDER BY decile
    """,
)
def q_user_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration: decile revenue
    shares and the cumulative curve (the picture behind q_agg_gini's
    single number — 'the top decile carries X% of revenue').

    Deciles come CLOSED-FORM from the exact global rank
    (((rn−1)·10) div n); the rank, n and the revenue total come from
    one engine.stats.banded_cum on floor(log2(cents)) bands (≤64 bands
    whose ascending order refines (m, custkey)), so the
    |customers|-sized relation is never globally sorted on one
    partition. The only single-partition stages are the ≤64-row band
    carry window and the 10-row cumulative decile window. Shares are
    ratios of exact integer cent sums rounded once for display."""
    from pyspark.sql import Window

    from engine.stats import banded_cum

    u = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("m"))
    )
    r = banded_cum(
        u,
        F.floor(F.log2(F.col("m").cast("double") + 1.5)),
        ["m", "o_custkey"],
        {"rn": F.lit(1), "m": F.col("m")},
    )
    d = r.select(
        (F.expr("((cum_rn - 1) * 10) div tot_rn") + 1).cast("long").alias("decile"),
        "m",
        F.col("tot_m").alias("total"),
    )
    g = d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("m").cast("long").alias("dm"),
        F.any_value("total").alias("total"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return g.select(
        "decile",
        "n_customers",
        (F.round(F.col("dm").cast("double") / F.col("total"), 6) + 0.0).alias(
            "revenue_share"
        ),
        (
            F.round(
                F.sum("dm").over(wcum).cast("double") / F.col("total"), 6
            )
            + 0.0
        ).alias("cum_share"),
    ).orderBy("decile")


@register(
    "q_supplier_scorecard",
    oracle="""
    WITH m AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS n_returned,
             CAST(sum(CAST(floor(l_discount * 10000) AS BIGINT)) AS BIGINT)
               AS disc_bp,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_name, n.n_name AS nation,
           m.n_lines, round(m.rev_cents / 100.0, 2) AS revenue,
           round(CAST(m.n_returned AS DOUBLE) / m.n_lines, 4) + 0.0
             AS return_rate,
           round(CAST(m.disc_bp AS DOUBLE) / m.n_lines / 10000, 4) + 0.0
             AS avg_discount,
           m.n_parts
    FROM m JOIN supplier s ON m.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY m.rev_cents DESC, s.s_name LIMIT 20
    """,
)
def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier scorecard: the top-20 suppliers by net revenue with
    their return rate, average discount given, and part breadth — the
    procurement BI composite (one row per supplier a category manager
    reviews).

    One fact-table hash aggregate (map-side combined; the distinct
    part count is a partial-distinct expand, not a self-join) joins
    TWO broadcast dims; discounts accumulate as exact basis-point
    integers and the return rate is a ratio of exact counts. The
    top-20 lowers to TakeOrderedAndProject on (revenue, name)."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        )
        .cast("long")
        .alias("rev_cents"),
        F.count(F.when(F.col("l_returnflag") == "R", 1))
        .cast("long")
        .alias("n_returned"),
        F.sum(F.floor(F.col("l_discount") * 10000)).cast("long").alias("disc_bp"),
        F.count_distinct("l_partkey").cast("long").alias("n_parts"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        m.join(F.broadcast(s), m["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            "s_name",
            F.col("n_name").alias("nation"),
            "n_lines",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            (
                F.round(F.col("n_returned").cast("double") / F.col("n_lines"), 4)
                + 0.0
            ).alias("return_rate"),
            (
                F.round(
                    F.col("disc_bp").cast("double") / F.col("n_lines") / 10000, 4
                )
                + 0.0
            ).alias("avg_discount"),
            "n_parts",
            F.col("rev_cents").alias("_rc"),
        )
        .orderBy(F.desc("_rc"), F.asc("s_name"))
        .limit(20)
        .drop("_rc")
    )


@register(
    "q_fn_variant",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max,
           CAST(count(*) FILTER (
             WHERE json_extract_string(props, '$.missing') IS NOT NULL)
                AS BIGINT) AS n_with_missing
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT ingestion (Spark 4 `parse_json` +
    `try_variant_get`): the props JSON column parses ONCE into the
    binary VARIANT encoding and typed paths extract from it — the
    modern lakehouse path for schema-on-read JSON (vs
    q_fn_json's per-path string re-parsing), including the
    missing-path NULL semantics that try_variant_get guarantees.

    The oracle reads the same paths with DuckDB's JSON extractor —
    the differential proves the VARIANT path extraction agrees with
    a plain JSON reader on values, types, and missing-path NULLs."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.parse_json(F.col("props"))
    )
    k = F.expr("try_variant_get(v, '$.k', 'bigint')")
    missing = F.expr("try_variant_get(v, '$.missing', 'string')")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(k).cast("long").alias("k_sum"),
            F.max(k).cast("long").alias("k_max"),
            F.count(missing).cast("long").alias("n_with_missing"),
        )
        .orderBy("event_type")
    )


@register(
    "q_abc_xyz",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_cents,
             sum(cents) OVER () AS total_cents
      FROM rev
    ),
    abc AS (
      SELECT l_partkey, cents,
             CASE WHEN CAST(run_cents AS DOUBLE) / total_cents <= 0.8 THEN 'A'
                  WHEN CAST(run_cents AS DOUBLE) / total_cents <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    ),
    wk AS (
      SELECT l_partkey,
             CAST(floor(epoch(l_shipdate) / 604800) AS BIGINT) AS week,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    horizon AS (
      SELECT CAST(max(week) - min(week) + 1 AS BIGINT) AS w FROM wk
    ),
    xyz AS (
      SELECT l_partkey,
             CASE WHEN w * sq2 - sq * sq <= 14 * sq * sq THEN 'X'
                  WHEN w * sq2 - sq * sq <= 18 * sq * sq THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM (SELECT l_partkey, CAST(sum(q) AS HUGEINT) AS sq,
                   CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sq2
            FROM wk GROUP BY l_partkey) p, horizon
    )
    SELECT abc.abc_class, xyz.xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(abc.cents) AS DOUBLE)
                 / (SELECT sum(cents) FROM rev), 4) + 0.0 AS revenue_share
    FROM abc JOIN xyz ON abc.l_partkey = xyz.l_partkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: revenue importance (the q_abc_pareto
    cumulative-share classes) crossed with demand variability (weekly
    demand coefficient of variation; the textbook cv cutoffs 1/2 are
    degenerate on this fixture's sparse demand — measured cv² spans
    12–21 at every SF, so the class bounds are calibrated to
    cv² ≤ 14 / ≤ 18, which split the parts roughly in thirds) — the
    9-cell
    planning grid (AX = automate, CZ = review manually) that
    operations teams actually run.

    The ABC rank is q_abc_pareto's engine.stats.banded_cum over ≤64
    log2 bands (the oracle writes the naive global window, the plan
    never single-partitions the parts table). The XYZ class counts
    ZERO-DEMAND weeks via the global horizon W (a 1-row fold):
    cv² = (W·Σq²−(Σq)²)/(Σq)², and
    the class test cross-multiplies (varn ≤ k·(Σq)²) so it is an
    EXACT 128-bit integer comparison — no float cv ever computed."""
    from engine.stats import banded_cum

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100))
        .cast("long")
        .alias("cents")
    )
    ranked = banded_cum(
        rev,
        F.floor(F.log2(F.col("cents").cast("double") + 1.5)),
        [F.desc("cents"), F.asc("l_partkey")],
        ["cents"],
        descending=True,
    )
    share = F.col("cum_cents").cast("double") / F.col("tot_cents")
    abc = ranked.select(
        "l_partkey",
        "cents",
        F.col("tot_cents").alias("total_cents"),
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )
    wk = li.groupBy(
        "l_partkey",
        F.floor(F.unix_timestamp("l_shipdate") / 604800).cast("long").alias("week"),
    ).agg(F.sum(F.floor("l_quantity")).cast("long").alias("q"))
    horizon = F.broadcast(
        wk.agg((F.max("week") - F.min("week") + 1).cast("long").alias("w"))
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    p = (
        wk.groupBy("l_partkey")
        .agg(
            F.sum(dec("q")).alias("sq"),
            F.sum(dec("q") * dec("q")).alias("sq2"),
        )
        .crossJoin(horizon)
    )
    varn = dec("w") * F.col("sq2") - F.col("sq") * F.col("sq")
    xyz = p.select(
        "l_partkey",
        F.when(varn <= 14 * F.col("sq") * F.col("sq"), "X")
        .when(varn <= 18 * F.col("sq") * F.col("sq"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            (
                F.round(
                    F.sum("cents").cast("double") / F.any_value("total_cents"), 4
                )
                + 0.0
            ).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


@register(
    "q_price_elasticity",
    oracle="""
    WITH lines AS (
      SELECT p.p_type,
             CAST(round(ln(CAST(floor(l_extendedprice * (1 - l_discount)
                                      / l_quantity * 100) AS BIGINT))
                        * 1000000) AS BIGINT) AS lp,
             CAST(round(ln(CAST(floor(l_quantity) AS BIGINT)) * 1000000)
                  AS BIGINT) AS lq
      FROM lineitem JOIN part p ON l_partkey = p_partkey
      WHERE l_quantity >= 1
        AND l_extendedprice * (1 - l_discount) / l_quantity >= 0.01
    ),
    m AS (
      SELECT p_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(lp) AS HUGEINT) AS sx, CAST(sum(lq) AS HUGEINT) AS sy,
             CAST(sum(CAST(lp AS HUGEINT) * lp) AS HUGEINT) AS sxx,
             CAST(sum(CAST(lp AS HUGEINT) * lq) AS HUGEINT) AS sxy
      FROM lines GROUP BY p_type
    )
    SELECT p_type, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) + 0.0 AS elasticity
    FROM m ORDER BY p_type
    """,
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own-price elasticity of demand per part type: the OLS slope of
    ln(quantity) on ln(unit price) across order lines — the pricing
    econometric every revenue team estimates (elasticity < −1 means
    cutting price grows revenue).

    Unit price floors to exact cents; both logs land on the house
    1e-6 bigint grid, so the four regression moments accumulate as
    exact 128-bit integers per type (one map-side-combined agg after
    one broadcast dim join) and the slope divides once."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    unit_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) / F.col("l_quantity") * 100
    ).cast("long")
    lines = (
        li.filter(
            (F.col("l_quantity") >= 1)
            & (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                / F.col("l_quantity")
                >= 0.01
            )
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_type",
            F.round(F.log(unit_cents.cast("double")) * 1000000)
            .cast("long")
            .alias("lp"),
            F.round(F.log(F.floor("l_quantity").cast("double")) * 1000000)
            .cast("long")
            .alias("lq"),
        )
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    m = lines.groupBy("p_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec("lp")).alias("sx"),
        F.sum(dec("lq")).alias("sy"),
        F.sum(dec("lp") * dec("lp")).alias("sxx"),
        F.sum(dec("lp") * dec("lq")).alias("sxy"),
    )
    num = (dec("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (dec("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        "p_type", "n", (F.round(num / den, 4) + 0.0).alias("elasticity")
    ).orderBy("p_type")


@register(
    "q_basket_sequential",
    oracle="""
    WITH ord AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS seq
      FROM orders
    ),
    ob AS (
      SELECT DISTINCT o.o_custkey, o.seq, p.p_brand
      FROM ord o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                 JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_from, b.p_brand AS brand_to
      FROM ob a JOIN ob b
        ON a.o_custkey = b.o_custkey AND b.seq = a.seq + 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pairs),
    f AS (SELECT brand_from, CAST(count(*) AS BIGINT) AS nf
          FROM pairs GROUP BY brand_from),
    t AS (SELECT brand_to, CAST(count(*) AS BIGINT) AS nt
          FROM pairs GROUP BY brand_to)
    SELECT p.brand_from, p.brand_to,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(count(*) AS DOUBLE) * tot.n_total / (f.nf * t.nt), 4)
             + 0.0 AS lift
    FROM pairs p, tot
    JOIN f ON p.brand_from = f.brand_from
    JOIN t ON p.brand_to = t.brand_to
    GROUP BY p.brand_from, p.brand_to, tot.n_total, f.nf, t.nt
    ORDER BY n_pairs DESC, p.brand_from, p.brand_to LIMIT 15
    """,
)
def q_basket_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential market-basket mining: which part BRAND follows which
    in a customer's NEXT order — the top-15 (brand_from, brand_to)
    next-purchase transitions with their lift vs independence, the
    cross-sell/replenishment signal q_basket_rules (same-basket) does
    not see.

    One (customer) sort sequences orders; the basket relation
    dedupes to (customer, seq, brand); the adjacent-order pair join
    is an equi-join on (custkey, seq+1) — never a time-range join;
    lift folds the two marginal tables back by equi-join; top-15
    lowers to TakeOrderedAndProject with a full tiebreak."""
    from pyspark.sql import Window

    ords = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        )
        .alias("seq"),
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        ords.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("o_custkey", "seq", "p_brand")
        .distinct()
    )
    a = ob.select(
        F.col("o_custkey").alias("ck"),
        F.col("seq").alias("sa"),
        F.col("p_brand").alias("brand_from"),
    )
    b = ob.select(
        F.col("o_custkey").alias("ck2"),
        F.col("seq").alias("sb"),
        F.col("p_brand").alias("brand_to"),
    )
    pairs = a.join(
        b, (F.col("ck") == F.col("ck2")) & (F.col("sb") == F.col("sa") + 1)
    ).select("brand_from", "brand_to")
    tot = F.broadcast(pairs.agg(F.count("*").cast("long").alias("n_total")))
    f = pairs.groupBy("brand_from").agg(F.count("*").cast("long").alias("nf"))
    t = pairs.groupBy("brand_to").agg(F.count("*").cast("long").alias("nt"))
    g = (
        pairs.groupBy("brand_from", "brand_to")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .join(F.broadcast(f), "brand_from")
        .join(F.broadcast(t), "brand_to")
        .crossJoin(tot)
    )
    return (
        g.select(
            "brand_from",
            "brand_to",
            "n_pairs",
            (
                F.round(
                    F.col("n_pairs").cast("double")
                    * F.col("n_total")
                    / (F.col("nf") * F.col("nt")),
                    4,
                )
                + 0.0
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pairs"), F.asc("brand_from"), F.asc("brand_to"))
        .limit(15)
    )


@register(
    "q_agg_geomean",
    oracle="""
    WITH t AS (
      SELECT event_type,
             CAST(round(ln(CAST(floor(value * 100) AS BIGINT)) * 1000000)
                  AS BIGINT) AS lq
      FROM events WHERE value >= 0.01
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(exp(CAST(sum(lq) AS DOUBLE) / count(*) / 1000000) / 100.0,
                 4) + 0.0 AS geomean,
           round(CAST(sum(lq) AS DOUBLE) / count(*) / 1000000, 6) + 0.0
             AS mean_ln_cents
    FROM t GROUP BY event_type ORDER BY event_type
    """,
)
def q_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of event values per type — the multiplicative
    average (the right mean for ratios/growth factors, and the
    log-domain companion to q_agg_global's arithmetic mean).

    Each ln lands on the 1e-6 bigint grid MAP-SIDE, so the per-type
    sum is exact and order-independent; exp evaluates ONCE per group
    on the exact mean. exp() is not correctly-rounded in general,
    but its argument here is bit-identical on both engines and both
    use the same libm-class implementation on this fixture — the
    mean_ln_cents column is the fully-exact invariant, geomean the
    display form."""
    t = _t(spark, sf_dir, "events").filter(F.col("value") >= 0.01).select(
        "event_type",
        F.round(F.log(F.floor(F.col("value") * 100).cast("double")) * 1000000)
        .cast("long")
        .alias("lq"),
    )
    return (
        t.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            (
                F.round(
                    F.exp(F.sum("lq").cast("double") / F.count("*") / 1000000)
                    / 100.0,
                    4,
                )
                + 0.0
            ).alias("geomean"),
            (
                F.round(F.sum("lq").cast("double") / F.count("*") / 1000000, 6)
                + 0.0
            ).alias("mean_ln_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "q_price_index",
    oracle="""
    WITH pm AS (
      SELECT l_partkey AS pk,
             strftime(date_trunc('month', l_shipdate), '%Y-%m') AS m,
             CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS s,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    base AS (
      SELECT pk, s AS s0, q AS q0 FROM pm
      WHERE m = (SELECT min(m) FROM pm)
    ),
    t AS (
      SELECT pm.m, count(*) AS n_parts,
             CAST(sum((pm.s * base.q0 * 10000) // pm.q) AS BIGINT) AS l_num,
             CAST(sum((base.s0 * base.q0 * 10000) // base.q0) AS BIGINT)
               AS l_den,
             CAST(sum(pm.s * 10000) AS BIGINT) AS p_num,
             CAST(sum((base.s0 * pm.q * 10000) // base.q0) AS BIGINT) AS p_den
      FROM pm JOIN base ON pm.pk = base.pk
      GROUP BY pm.m
    )
    SELECT m AS month, CAST(n_parts AS BIGINT) AS n_parts,
           round(CAST(l_num AS DOUBLE) / l_den, 4) + 0.0 AS laspeyres,
           round(CAST(p_num AS DOUBLE) / p_den, 4) + 0.0 AS paasche,
           round(sqrt((CAST(l_num AS DOUBLE) / l_den)
                      * (CAST(p_num AS DOUBLE) / p_den)), 4) + 0.0 AS fisher
    FROM t ORDER BY month
    """,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indexes per ship-month over
    the matched part sample (parts traded in BOTH the base month and
    the report month) — the canonical inflation-style aggregate an
    analytics engine computes over transactional data: Laspeyres
    weights today's unit prices by BASE-period quantities, Paasche by
    current quantities, Fisher is their geometric mean.

    Exactness without rational arithmetic: a part's unit price is the
    rational s/q (cents spend over quantity), so each index term
    lands on a 1e-4 cents grid by INTEGER division — Laspeyres terms
    (s_t·q_0·10⁴) div q_t, Paasche denominator (s_0·q_t·10⁴) div q_0,
    and the Paasche numerator collapses exactly to Σs_t·10⁴ (since
    p_t·q_t = s_t identically) — every sum order-independent bigint,
    ONE IEEE division per index. Scale shape: lineitem collapses once
    to the (part, month) panel (map-side hash agg); the base-month
    slice joins back and at cluster scale broadcasts (|parts| rows);
    the per-month reduce is domain-bounded (|months| groups). The
    1-row min-month scalar is the house scalar-subquery fold."""
    li = _t(spark, sf_dir, "lineitem")
    pm = (
        li.groupBy(
            F.col("l_partkey").alias("pk"),
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("m"),
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("s"),
            F.sum(F.floor(F.col("l_quantity")).cast("long"))
            .cast("long")
            .alias("q"),
        )
        .persist()
    )
    m0 = pm.agg(F.min("m").alias("m0"))
    base = (
        pm.join(F.broadcast(m0), pm["m"] == F.col("m0"))
        .select(
            F.col("pk").alias("bpk"),
            F.col("s").alias("s0"),
            F.col("q").alias("q0"),
        )
    )
    j = pm.join(base, pm["pk"] == F.col("bpk"))
    t = j.groupBy("m").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(
            F.expr("(s * q0 * 10000) div q")
        ).cast("long").alias("l_num"),
        F.sum(
            F.expr("(s0 * q0 * 10000) div q0")
        ).cast("long").alias("l_den"),
        F.sum(F.col("s") * 10000).cast("long").alias("p_num"),
        F.sum(
            F.expr("(s0 * q * 10000) div q0")
        ).cast("long").alias("p_den"),
    )
    lasp = F.col("l_num").cast("double") / F.col("l_den")
    paas = F.col("p_num").cast("double") / F.col("p_den")
    return t.select(
        F.col("m").alias("month"),
        "n_parts",
        (F.round(lasp, 4) + 0.0).alias("laspeyres"),
        (F.round(paas, 4) + 0.0).alias("paasche"),
        (F.round(F.sqrt(lasp * paas), 4) + 0.0).alias("fisher"),
    ).orderBy("month")


@register(
    "q_market_concentration",
    oracle="""
    WITH rev AS (
      SELECT c.c_custkey AS ck, r.r_name AS region,
             CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT region, CAST(sum(s) AS BIGINT) AS st,
             CAST(count(*) AS BIGINT) AS n
      FROM rev GROUP BY region
    ),
    rk AS (
      SELECT region, s,
             row_number() OVER (PARTITION BY region
                                ORDER BY s DESC, ck) AS rk
      FROM rev
    ),
    h AS (
      SELECT rk.region,
             CAST(sum((CAST(rk.s AS HUGEINT) * rk.s * 100000000)
                      // (CAST(tot.st AS HUGEINT) * tot.st)) AS BIGINT)
               AS hhi8,
             CAST(sum(CASE WHEN rk.rk <= 4 THEN rk.s ELSE 0 END) AS BIGINT)
               AS top4
      FROM rk JOIN tot USING (region)
      GROUP BY rk.region
    )
    SELECT h.region, tot.n AS n_customers,
           round(hhi8 / 100000000.0, 6) + 0.0 AS hhi,
           round(100000000.0 / hhi8, 2) + 0.0 AS effective_n,
           round(CAST(top4 AS DOUBLE) / tot.st, 4) + 0.0 AS cr4,
           CASE WHEN hhi8 >= 25000000 THEN 'high'
                WHEN hhi8 >= 15000000 THEN 'moderate'
                ELSE 'low' END AS doj_band
    FROM h JOIN tot USING (region)
    ORDER BY region
    """,
)
def q_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration panel per region over customer order
    revenue: Herfindahl-Hirschman index, effective number of customers
    (1/HHI), 4-firm concentration ratio, and the DOJ merger-guidelines
    band (0.15/0.25) — the industrial-organization read that
    complements q_agg_gini/q_user_lorenz inequality curves with the
    antitrust-standard summary.

    Exactness: each customer's squared revenue share lands on a 1e-8
    grid by 128-bit integer division ((s²·10⁸) div S² — HUGEINT /
    decimal(38,0), the house idiom; s² clears int64 once a customer
    passes ~$10⁷ lifetime), so the HHI sum is order-independent and
    the DOJ band compares the exact grid integer against 25·10⁶ /
    15·10⁶ — no float in the label. CR4 ranks customers per region
    (the q_topk_per_group window — partition-bounded by the region's
    customer count) and divides once. Scale: orders collapse to the
    (customer, region) panel in one hash agg; everything after is
    dimension-sized."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("c_custkey").alias("ck"), F.col("r_name").alias("region"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("s")
        )
        .persist()
    )
    tot = rev.groupBy("region").agg(
        F.sum("s").cast("long").alias("st"),
        F.count("*").cast("long").alias("n_customers"),
    )
    from pyspark.sql import Window as W

    wrk = W.partitionBy("region").orderBy(F.desc("s"), F.asc("ck"))
    rk = rev.select("region", "s", F.row_number().over(wrk).alias("rk"))
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    h = (
        rk.join(tot, "region")
        .groupBy("region")
        .agg(
            F.sum(
                F.expr(
                    "CAST((CAST(s AS DECIMAL(38,0)) * s * 100000000)"
                    " div (CAST(st AS DECIMAL(38,0)) * st) AS LONG)"
                )
            )
            .cast("long")
            .alias("hhi8"),
            F.sum(F.when(F.col("rk") <= 4, F.col("s")).otherwise(F.lit(0)))
            .cast("long")
            .alias("top4"),
        )
    )
    return (
        h.join(tot, "region")
        .select(
            "region",
            "n_customers",
            (F.round(F.col("hhi8") / 100000000.0, 6) + 0.0).alias("hhi"),
            (F.round(100000000.0 / F.col("hhi8"), 2) + 0.0).alias("effective_n"),
            (F.round(F.col("top4").cast("double") / F.col("st"), 4) + 0.0).alias(
                "cr4"
            ),
            F.when(F.col("hhi8") >= 25000000, "high")
            .when(F.col("hhi8") >= 15000000, "moderate")
            .otherwise("low")
            .alias("doj_band"),
        )
        .orderBy("region")
    )


@register(
    "q_agg_ddsketch",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem WHERE l_extendedprice > 0
    ),
    b AS (
      SELECT flag,
             CAST(ceil(ln(CAST(cents AS DOUBLE)) / ln(1.02)) AS BIGINT) AS bk,
             CAST(count(*) AS BIGINT) AS c
      FROM v GROUP BY 1, 2
    ),
    r AS (
      SELECT flag, bk, c,
             CAST(sum(c) OVER (PARTITION BY flag ORDER BY bk
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS n
      FROM b
    ),
    q AS (
      SELECT flag, n,
             min(CASE WHEN cum >= (n + 1) // 2 THEN bk END) AS b50,
             min(CASE WHEN cum >= (95 * n + 99) // 100 THEN bk END) AS b95,
             min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bk END) AS b99
      FROM r GROUP BY flag, n
    )
    SELECT flag, n,
           round(2 * pow(1.02, b50) / 2.02 / 100.0, 2) AS p50,
           round(2 * pow(1.02, b95) / 2.02 / 100.0, 2) AS p95,
           round(2 * pow(1.02, b99) / 2.02 / 100.0, 2) AS p99,
           round((1.02 - 1) / (1.02 + 1), 6) AS max_rel_err
    FROM q ORDER BY flag
    """,
)
def q_agg_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantiles (Masson et al., VLDB'19) of extended price
    per return flag: log-γ bucketed counts with γ = 1.02 give p50 /
    p95 / p99 with a GUARANTEED ≤(γ−1)/(γ+1) ≈ 0.99% relative error —
    the quantile sketch whose buckets are a pure deterministic
    function of the value (unlike KLL/t-digest whose state depends on
    arrival order / implementation), which is why this is the one
    sketch key that carries a full DuckDB oracle.

    Merge-friendly by construction: the (flag, bucket) count table is
    an ordinary additive hash aggregate — map-side combined, mergeable
    across shards/streams exactly like a histogram; the bucket domain
    is log-bounded (ln(maxcents)/ln γ ≈ a few hundred rows per flag),
    so the cumulative window runs on a domain-sized relation. Rank
    selection is exact integer arithmetic (ceil(q·n) as
    (q·100·n + 99) div 100); the only floats are the bucket transform
    (one ln per row, identical libm expression both engines) and the
    final γ^b display estimates."""
    v = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice") > 0)
        .select(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
    )
    from pyspark.sql import Window as W

    b = (
        v.select(
            "flag",
            F.ceil(F.log(F.col("cents").cast("double")) / F.log(F.lit(1.02)))
            .cast("long")
            .alias("bk"),
        )
        .groupBy("flag", "bk")
        .agg(F.count("*").cast("long").alias("c"))
    )
    wc = W.partitionBy("flag").orderBy("bk").rowsBetween(W.unboundedPreceding, 0)
    wn = W.partitionBy("flag")
    r = b.select(
        "flag",
        "bk",
        F.sum("c").over(wc).cast("long").alias("cum"),
        F.sum("c").over(wn).cast("long").alias("n"),
    )
    pick = lambda rank: F.min(  # noqa: E731
        F.when(F.col("cum") >= rank, F.col("bk"))
    )
    q = r.groupBy("flag", "n").agg(
        pick(F.expr("(n + 1) div 2")).alias("b50"),
        pick(F.expr("(95 * n + 99) div 100")).alias("b95"),
        pick(F.expr("(99 * n + 99) div 100")).alias("b99"),
    )
    est = lambda c_: F.round(  # noqa: E731
        2 * F.pow(F.lit(1.02), F.col(c_)) / 2.02 / 100.0, 2
    )
    return q.select(
        "flag",
        "n",
        est("b50").alias("p50"),
        est("b95").alias("p95"),
        est("b99").alias("p99"),
        F.round(F.lit((1.02 - 1) / (1.02 + 1)), 6).alias("max_rel_err"),
    ).orderBy("flag")


@register(
    "q_audit_duplicates",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok, o_custkey AS ck,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS di,
             CAST(ceil(ln(CAST(floor(o_totalprice * 100) AS BIGINT))
                       / ln(1.02)) AS BIGINT) AS band
      FROM orders WHERE o_totalprice > 0
    ),
    probe AS (
      SELECT ok, ck, cents, di, band + d.d AS band
      FROM o, (SELECT unnest([-1, 0, 1]) AS d) d
    ),
    hits AS (
      SELECT a.ok AS order_a, b.ok AS order_b, a.ck AS custkey,
             abs(a.di - b.di) AS day_gap,
             abs(a.cents - b.cents) AS cents_diff,
             greatest(a.cents, b.cents) AS mx
      FROM probe a JOIN o b ON a.ck = b.ck AND a.band = b.band
      WHERE a.ok < b.ok
    )
    SELECT custkey, order_a, order_b,
           CAST(day_gap AS BIGINT) AS day_gap,
           CAST(cents_diff AS BIGINT) AS cents_diff
    FROM hits
    WHERE day_gap <= 7 AND 100 * cents_diff <= mx
    ORDER BY custkey, order_a, order_b
    """,
)
def q_audit_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection — the classic financial-audit
    query: two orders by the SAME customer within 7 days whose
    amounts differ by at most 1% are flagged as suspected duplicates
    (fat-finger resubmissions, double billing). The relational shape
    is the fuzzy self-join every audit/reconciliation system runs.

    Sub-quadratic by banding (the q_dedup_edit / q_multimodal_phash
    blocking discipline): amounts band on ceil(ln(cents)/ln 1.02).
    A qualifying pair satisfies 100·(a−b) ≤ a, i.e. log-ratio
    ln(a/b) ≤ ln(100/99) ≈ 0.01005 — barely HALF the band width
    ln(1.02) ≈ 0.01980, so by pigeonhole (with ~2× headroom against
    libm rounding) the pair's bands differ by at most one, and
    probing each order against bands {b−1, b, b+1} (a 3× map-side
    expansion + one equi join on (customer, band)) is LOSSLESS for
    the 1% predicate. (A 1.01 band base would NOT be: ln(1.01) <
    ln(100/99), so a qualifying pair could straddle two boundaries —
    e.g. cents 2419 vs 2395, diff 24 ≤ 1% of 2419, lands in 1.01
    bands 784 vs 782 and would be silently dropped; ADVICE r6.)
    Every join bucket is bounded by a customer's orders inside one
    2% price band — never all-pairs per customer. The final
    predicates are exact integers: the 1% test cross-multiplies
    100·|Δcents| ≤ max(cents) and the recency test compares day
    indexes; a pair can match through exactly one band copy, so no
    dedup pass is needed."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.col("o_orderkey").alias("ok"),
            F.col("o_custkey").alias("ck"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.floor(F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / 86400)
            .cast("long")
            .alias("di"),
        )
        .withColumn(
            "band",
            F.ceil(F.log(F.col("cents").cast("double")) / F.log(F.lit(1.02)))
            .cast("long"),
        )
    )
    probe = o.select(
        "ok",
        "ck",
        "cents",
        "di",
        F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)).alias(
            "band"
        ),
    )
    b = o.select(
        F.col("ok").alias("b_ok"),
        F.col("ck").alias("b_ck"),
        F.col("cents").alias("b_cents"),
        F.col("di").alias("b_di"),
        F.col("band").alias("b_band"),
    )
    hits = probe.join(
        b, (F.col("ck") == F.col("b_ck")) & (F.col("band") == F.col("b_band"))
    ).filter(F.col("ok") < F.col("b_ok"))
    day_gap = F.abs(F.col("di") - F.col("b_di"))
    cents_diff = F.abs(F.col("cents") - F.col("b_cents"))
    mx = F.greatest("cents", "b_cents")
    return (
        hits.filter((day_gap <= 7) & (100 * cents_diff <= mx))
        .select(
            F.col("ck").alias("custkey"),
            F.col("ok").alias("order_a"),
            F.col("b_ok").alias("order_b"),
            day_gap.cast("long").alias("day_gap"),
            cents_diff.cast("long").alias("cents_diff"),
        )
        .orderBy("custkey", "order_a", "order_b")
    )


@register(
    "q_revenue_waterfall",
    oracle="""
    WITH l AS (
      SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS ec,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dpct,
             CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tpct
      FROM lineitem
    ),
    t AS (
      SELECT month,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(ec) AS BIGINT) AS gross,
             CAST(sum((ec * dpct) // 100) AS BIGINT) AS disc,
             CAST(sum(((ec - (ec * dpct) // 100) * tpct) // 100) AS BIGINT)
               AS tax
      FROM l GROUP BY month
    )
    SELECT month, n_lines,
           round(gross / 100.0, 2) AS gross,
           round(disc / 100.0, 2) AS discount,
           round((gross - disc) / 100.0, 2) AS net,
           round(tax / 100.0, 2) AS tax,
           round((gross - disc + tax) / 100.0, 2) AS billed,
           round(CAST(disc AS DOUBLE) / gross, 4) + 0.0 AS discount_rate
    FROM t WHERE gross > 0 ORDER BY month
    """,
)
def q_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall per ship-month: gross → discount → net →
    tax → billed, plus the effective discount rate — the finance
    bridge table that reconciles top-line to billed revenue and
    surfaces discount leakage month over month (the decomposition
    behind every margin review; TPC-H Q1 aggregates the same fields,
    this restates them as the additive bridge).

    Exactness: every waterfall step is an exact integer PER LINE
    before summing — the discount percentage is the 2-dp integer
    floor(l_discount·100 + 0.5) (the +0.5 floor absorbs the float
    representation of 0.07·100), the line's discount amount is
    (cents·pct) div 100, and tax applies to the already-discounted
    integer — so the monthly sums are order-independent bigints, the
    bridge identity gross − discount + tax = billed holds EXACTLY by
    construction (pinned in tests), and the only IEEE ops are the
    /100 displays and one discount-rate division. One map-side hash
    agg; |months| output rows."""
    li = _t(spark, sf_dir, "lineitem")
    l = li.select(
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("month"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("ec"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("dpct"),
        F.floor(F.col("l_tax") * 100 + 0.5).cast("long").alias("tpct"),
    )
    t = l.groupBy("month").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("ec").cast("long").alias("gross"),
        F.sum(F.expr("(ec * dpct) div 100")).cast("long").alias("disc"),
        F.sum(F.expr("((ec - (ec * dpct) div 100) * tpct) div 100"))
        .cast("long")
        .alias("tax"),
    )
    return (
        t.filter(F.col("gross") > 0)
        .select(
            "month",
            "n_lines",
            F.round(F.col("gross") / 100.0, 2).alias("gross"),
            F.round(F.col("disc") / 100.0, 2).alias("discount"),
            F.round((F.col("gross") - F.col("disc")) / 100.0, 2).alias("net"),
            F.round(F.col("tax") / 100.0, 2).alias("tax"),
            F.round((F.col("gross") - F.col("disc") + F.col("tax")) / 100.0, 2).alias(
                "billed"
            ),
            (F.round(F.col("disc").cast("double") / F.col("gross"), 4) + 0.0).alias(
                "discount_rate"
            ),
        )
        .orderBy("month")
    )


@register(
    "q_quality_referential",
    oracle="""
    WITH checks AS (
      SELECT 'lineitem->orders' AS relationship,
             (SELECT count(*) FROM lineitem) AS n_child,
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
               AS n_orphans
      UNION ALL
      SELECT 'lineitem->part',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'lineitem->supplier',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                WHERE s.s_suppkey = l.l_suppkey))
      UNION ALL
      SELECT 'orders->customer',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'customer->nation',
             (SELECT count(*) FROM customer),
             (SELECT count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = c.c_nationkey))
      UNION ALL
      SELECT 'nation->region',
             (SELECT count(*) FROM nation),
             (SELECT count(*) FROM nation n
              WHERE NOT EXISTS (SELECT 1 FROM region r
                                WHERE r.r_regionkey = n.n_regionkey))
    )
    SELECT relationship,
           CAST(n_child AS BIGINT) AS n_child,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           round(CAST(n_orphans AS DOUBLE) / n_child, 6) + 0.0
             AS orphan_rate,
           CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS intact
    FROM checks ORDER BY relationship
    """,
)
def q_quality_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit panel: orphan counts for every
    foreign-key relationship of the star schema (lineitem→orders/
    part/supplier, orders→customer, customer→nation, nation→region) —
    the DQ check run before trusting ANY join-based metric, because a
    broken FK silently drops rows from every inner join downstream
    (q_quality_rules spot-checks one relationship inside its summary;
    this is the dedicated full-schema panel).

    Each check is a LEFT ANTI join (the relational NOT EXISTS) —
    Spark lowers it to a broadcast-anti against the smaller parent or
    a shuffled anti at scale, never a row-at-a-time probe; parents
    prune to their key column before the join (ReadSchema shows only
    the key). Counts are exact; the rate is one IEEE division; the
    intact flag compares an integer to zero. Six bounded rows out."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")

    def check(name, child, ckey, parent, pkey):
        total = child.count()
        orphans = (
            child.select(F.col(ckey))
            .join(parent.select(F.col(pkey)), F.col(ckey) == F.col(pkey), "left_anti")
            .count()
        )
        return (name, total, orphans)

    rows = [
        check("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        check("lineitem->part", li, "l_partkey", p, "p_partkey"),
        check("lineitem->supplier", li, "l_suppkey", s, "s_suppkey"),
        check("orders->customer", o, "o_custkey", c, "c_custkey"),
        check("customer->nation", c, "c_nationkey", n, "n_nationkey"),
        check("nation->region", n, "n_regionkey", r, "r_regionkey"),
    ]
    return (
        li.sparkSession.createDataFrame(
            rows, "relationship STRING, n_child BIGINT, n_orphans BIGINT"
        )
        .select(
            "relationship",
            "n_child",
            "n_orphans",
            (
                F.round(F.col("n_orphans").cast("double") / F.col("n_child"), 6) + 0.0
            ).alias("orphan_rate"),
            F.when(F.col("n_orphans") == 0, 1).otherwise(0).alias("intact"),
        )
        .orderBy("relationship")
    )


@register(
    "q_orders_backlog",
    oracle="""
    WITH mx AS (
      SELECT CAST(floor(epoch(max(o_orderdate)) / 86400) AS BIGINT) AS today
      FROM orders
    ),
    open_o AS (
      SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             mx.today - CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
               AS age
      FROM orders, mx WHERE o_orderstatus <> 'F'
    ),
    banded AS (
      SELECT CASE WHEN age <= 30 THEN 'a_0_30'
                  WHEN age <= 90 THEN 'b_31_90'
                  WHEN age <= 365 THEN 'c_91_365'
                  ELSE 'd_over_365' END AS age_band,
             cents
      FROM open_o
    ),
    agg AS (
      SELECT age_band, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS value_cents
      FROM banded GROUP BY age_band
    ),
    tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS nt,
                   CAST(sum(value_cents) AS BIGINT) AS vt FROM agg)
    SELECT age_band, n_orders,
           round(value_cents / 100.0, 2) + 0.0 AS value,
           round(CAST(n_orders AS DOUBLE) / tot.nt, 4) + 0.0 AS order_share,
           round(CAST(value_cents AS DOUBLE) / tot.vt, 4) + 0.0 AS value_share
    FROM agg, tot ORDER BY age_band
    """,
)
def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging as of the data's horizon (max order
    date): unfinished orders banded 0-30 / 31-90 / 91-365 / 365+ days
    with counts, value, and shares — the AR/fulfillment aging report
    every finance and ops team runs (old open orders are stuck cash),
    complementing q_quality_freshness (table-level staleness) with
    the entity-level view.

    Plan: the as-of day is a 1-row max broadcast (never a self-join
    on the fact table), banding is one CASE over the scan, and the
    report is a 4-row hash aggregate plus a 1-row total fold. The
    band keys carry sort prefixes so ORDER BY needs no custom
    collation on either engine."""
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(
        F.floor(F.unix_timestamp(F.max("o_orderdate").cast("timestamp")) / 86400)
        .cast("long")
        .alias("today")
    )
    age = F.col("today") - F.floor(
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / 86400
    ).cast("long")
    banded = (
        o.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(age <= 30, "a_0_30")
            .when(age <= 90, "b_31_90")
            .when(age <= 365, "c_91_365")
            .otherwise("d_over_365")
            .alias("age_band"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    agg = banded.groupBy("age_band").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("value_cents"),
    )
    tot = agg.agg(
        F.sum("n_orders").cast("long").alias("nt"),
        F.sum("value_cents").cast("long").alias("vt"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "age_band",
            "n_orders",
            (F.round(F.col("value_cents") / 100.0, 2) + 0.0).alias("value"),
            (F.round(F.col("n_orders").cast("double") / F.col("nt"), 4) + 0.0).alias(
                "order_share"
            ),
            (
                F.round(F.col("value_cents").cast("double") / F.col("vt"), 4) + 0.0
            ).alias("value_share"),
        )
        .orderBy("age_band")
    )
