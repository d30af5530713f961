"""Classic OLAP benchmark suite (SURVEY.md §2.13, added r3).

TPC-H-shaped multi-join analytics adapted to the fixture schema
(TESTDATA.md tables; the fixture drops a few TPC-H columns such as
``o_shippriority`` / ``l_commitdate``, and its dates span 1995–2001, so
the classic filter constants are shifted accordingly). ``q_agg_group``
in engine/relational.py already covers Q1; this module adds the
recognizable join-heavy shapes Q3 / Q5 / Q10 / Q18.

Reference parity: the reference repo has no code (SURVEY.md §0), so
these implement the committed inventory rows in SURVEY.md §2.13.

Scale design notes (100 TB intent):
- ``nation``/``region`` are constant-size → explicit ``F.broadcast``.
- ``customer``/``supplier``/``orders``×``lineitem`` grow with the
  dataset → left as shuffle equi-joins; AQE promotes to broadcast when
  runtime stats allow and splits skewed partitions otherwise.
- Q18 computes the per-order quantity sums ONCE (hash agg, map-side
  combine) and joins the filtered survivors back — never the classic
  IN-subquery double scan of lineitem.
- Money sums use the floor-cents contract (sum of ``floor(x*100)`` as
  BIGINT / 100.0) so Spark and DuckDB hash identically.
- Top-k outputs carry a total order (measure DESC, key ASC) so LIMIT is
  deterministic cross-engine; ``orderBy().limit()`` lowers to
  ``TakeOrderedAndProject`` (per-partition heaps, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.io import load_table as _t
from engine.registry import register


def _cents_sum(col: F.Column) -> F.Column:
    """Exact cross-engine money sum: floor to cents, sum as BIGINT."""
    return F.sum(F.floor(col * 100)) / 100.0


@register(
    "q_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
             AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15'
      AND l_shipdate  > TIMESTAMP '1997-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): top unshipped-revenue orders.

    Segment filter is pushed to the customer scan, both date filters to
    their own scans; the three-way join shuffles on the two join keys
    and the top-10 lowers to TakeOrderedAndProject.
    """
    cutoff = F.lit("1997-03-15").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q_tpch_q5",
    oracle="""
    SELECT n_name,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue where the supplying
    nation equals the customer nation, by nation, one region, one year.

    nation⋈region collapses to a broadcast before touching any fact;
    the local-supplier condition rides the supplier equi-join as an
    extra key (both sides hash on (s_suppkey, s_nationkey)), so no
    post-join filter scans mismatched pairs.
    """
    nr = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(_cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
             AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): customers who returned the
    most revenue in one quarter.

    Both filters push to their scans; lineitem⋈orders shuffles on the
    orderkey, the result shuffles once more onto custkey for the
    customer join + final agg; nation broadcasts.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(_t(spark, sf_dir, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q_tpch_q18",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o_totalprice, 2) AS totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders above a quantity cap.

    The per-order quantity sum is computed once (partial+final hash agg
    collapses 4 lines/order map-side) and the >250 survivors — a tiny
    fraction — drive the orders/customer joins, which AQE demotes to
    broadcast at runtime. No IN-subquery, no second lineitem scan.
    """
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q_tpch_q6",
    oracle="""
    SELECT sum(CAST(floor(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0
             AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-agg.

    The whole query is one vectorized parquet scan: all four predicates
    push to the scan (row-group min/max skipping on l_shipdate at
    scale), only the three touched columns are read, and the global
    aggregate reduces map-side to one row per partition before the
    single-row final agg. The canonical "is pushdown working" probe.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _cents_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "q_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           sum(cents) / 100.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               AS cents
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade between two nations
    by ship year.

    The classic disjunction ((n1=A AND n2=B) OR (n1=B AND n2=A)) is
    factored scale-side: BOTH dimension sides are pre-filtered to the
    two nations via broadcast nation joins (supplier and customer
    shrink ~2/25 before touching any fact), and the residual condition
    collapses to ``supp_nation != cust_nation`` — evaluated after the
    equi-joins, touching only surviving rows. No OR reaches a join
    condition, so every join stays hash-based.
    """
    nations = F.broadcast(
        _t(spark, sf_dir, "nation").filter(
            F.col("n_name").isin("NATION_1", "NATION_2")
        )
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(nations, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q_tpch_q14",
    oracle="""
    SELECT round(100.0 * promo_cents / total_cents, 4) AS promo_pct,
           promo_cents / 100.0 AS promo_revenue,
           total_cents / 100.0 AS total_revenue
    FROM (
      SELECT sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS promo_cents,
             sum(cents) AS total_cents
      FROM (
        SELECT p_type,
               CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                 AS cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate <  TIMESTAMP '1996-10-01'
      )
    )
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): promo share of one month's revenue.

    One month of lineitem (date filter pushed to the scan) joins part on
    the part key; the conditional and unconditional sums ride the SAME
    hash aggregate — one scan, one join, one agg. Both sums are exact
    cents integers, so the final ratio is a deterministic double on
    both engines.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
    agg = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(0)).alias(
                "promo_cents"
            ),
            F.sum(cents).alias("total_cents"),
        )
    )
    return agg.select(
        F.round(100.0 * F.col("promo_cents") / F.col("total_cents"), 4).alias(
            "promo_pct"
        ),
        (F.col("promo_cents") / 100.0).alias("promo_revenue"),
        (F.col("total_cents") / 100.0).alias("total_revenue"),
    )


@register(
    "q_tpch_q19",
    oracle="""
    SELECT sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
             / 100.0 AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1  AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): disjunctive mixed-table predicate.

    The OR-of-conjunctions can't push down as-is, so the per-side
    implications are factored by hand (the rewrite CNF-based pushdown
    would derive): part pre-filters to the union of (brand, size)
    branches, lineitem to the union of quantity ranges — both reach the
    scans — and only the residual cross-table disjunction evaluates
    after the hash join. At 100 TB the factored filters cut the join
    inputs by orders of magnitude; without them every row of both
    tables shuffles.
    """
    b1 = (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
    b2 = (F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
    b3 = (F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
    q1 = F.col("l_quantity").between(1, 11)
    q2 = F.col("l_quantity").between(10, 20)
    q3 = F.col("l_quantity").between(20, 30)
    part = _t(spark, sf_dir, "part").filter(b1 | b2 | b3).select(
        "p_partkey", "p_brand", "p_size"
    )
    li = _t(spark, sf_dir, "lineitem").filter(q1 | q2 | q3).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter((b1 & q1) | (b2 & q2) | (b3 & q3))
        .agg(
            _cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): orders in one quarter with at
    least one line shipped after the order date, counted by priority.

    (The fixture lacks l_commitdate/l_receiptdate, so "late line"
    becomes l_shipdate > o_orderdate — same EXISTS shape.) The
    correlated EXISTS is a LEFT SEMI join on the order key: lineitem
    never duplicates orders, no DISTINCT repair pass, and the date
    filter prunes orders before the join. The residual
    ``l_shipdate > o_orderdate`` comparison rides the semi join as a
    non-equi condition on already-matched keys.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q_tpch_q15",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               AS cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, cents / 100.0 AS total_revenue
    FROM rev JOIN supplier ON s_suppkey = suppkey
    WHERE cents = (SELECT max(cents) FROM rev)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) with the maximum revenue in
    one quarter.

    The revenue view aggregates once and is localCheckpoint-ed; the
    scalar max is a 1-row aggregate of that materialized (small,
    post-agg) table broadcast back — the fact scan happens exactly
    once (pinned by the plan test). Exact cents integers make the max/equality
    cross-engine stable (no float-max tie ambiguity).
    """
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)).alias("cents"))
        .localCheckpoint(eager=True)
    )
    best = rev.agg(F.max("cents").alias("best_cents"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("cents") == F.col("best_cents"))
        .join(supp, F.col("s_suppkey") == F.col("suppkey"))
        .select("s_suppkey", "s_name", (F.col("cents") / 100.0).alias("total_revenue"))
    )


@register(
    "q_tpch_q17",
    oracle="""
    WITH pa AS (
      SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) / 700.0
             AS avg_yearly,
           count(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = 'Brand#13' AND l_quantity < 0.2 * avg_qty
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): lines of one brand
    whose quantity is below 20% of that part's average quantity.

    The correlated scalar subquery (per-part average) decorrelates into
    one per-part aggregate joined back on the part key — lineitem scans
    twice (once aggregated, once probed), both shuffles on l_partkey so
    AQE can reuse the exchange layout; the brand filter prunes the part
    side before its join. avg(l_quantity) is sum-of-doubles over exact
    .0 fixture values — order-independent, so the 0.2× threshold is
    cross-engine stable.
    """
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select(
        "p_partkey"
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(pa, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(F.floor(F.col("l_extendedprice") * 100)) / 700.0).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_tpch_q22",
    oracle="""
    WITH pos AS (SELECT avg(c_acctbal) AS cutoff FROM customer
                 WHERE c_acctbal > 0.0
                   AND (c_nationkey % 10) IN (1, 3, 5, 7)),
    cand AS (SELECT c_custkey, (c_nationkey % 10) AS cntrycode, c_acctbal
             FROM customer, pos
             WHERE (c_nationkey % 10) IN (1, 3, 5, 7) AND c_acctbal > cutoff)
    SELECT cntrycode, count(*) AS numcust,
           sum(CAST(floor(c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
    FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntrycode
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): well-funded customers in
    selected country codes with no RECENT order.

    (Country code = c_nationkey % 10 — the fixture has no phone column;
    and because every fixture customer has at least one lifetime order,
    the classic "never ordered" predicate is vacuous here, so the anti
    join runs against orders since 2000 — the lapsed-customer variant
    with the identical plan shape.) Three classic shapes in one: a
    scalar subquery (the positive-balance average, a 1-row broadcast),
    an anti join against date-pruned orders (never materializing the
    match), and the final hash agg. The candidate filter runs BEFORE
    the anti join, so the expensive probe sees only qualifying
    customers. avg() over doubles is safe here because the filter
    compares against it with strict >, and the fixture balances are
    .01-grained — a 1-ulp avg shift cannot cross a balance value
    (asserted by the driver hash staying green).
    """
    cust = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.col("c_nationkey") % 10
    )
    sel = cust.filter(F.col("cntrycode").isin(1, 3, 5, 7))
    cutoff = sel.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("cutoff")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        sel.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("cutoff"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            (F.sum(F.floor(F.col("c_acctbal") * 100)) / 100.0).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 completion: the remaining TPC-H shapes (Q2 Q8 Q9 Q11 Q12 Q13
# Q16 Q20 Q21; Q1 is q_agg_group in engine/relational.py). The fixture
# has no partsupp / l_shipmode / l_commitdate / comment columns, so the
# affected queries are ADAPTED: the distinct (l_partkey, l_suppkey)
# pairs of lineitem stand in for partsupp (with min historical unit
# price as supply cost), priority/status columns stand in for the
# comment LIKE filters, and lateness is l_shipdate vs o_orderdate.
# Each keeps the classic PLAN SHAPE the query exists to exercise.
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q2",
    oracle="""
    WITH bridge AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             min(CAST(floor(100 * l_extendedprice / l_quantity) AS BIGINT))
               AS cost_cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eur AS (
      SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p_partkey, s_suppkey, s_name, acctbal, n_name, cost_cents,
             min(cost_cents) OVER (PARTITION BY p_partkey) AS best_cents
      FROM part JOIN bridge ON pk = p_partkey
                JOIN eur    ON s_suppkey = sk
      WHERE p_size <= 15 AND p_type = 'LARGE'
    )
    SELECT acctbal, s_name, n_name, p_partkey, cost_cents / 100.0 AS supplycost
    FROM cand WHERE cost_cents = best_cents
    ORDER BY acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted: supply cost of a
    (part, supplier) pair = its minimum historical unit sale price from
    lineitem (the fixture has no partsupp — SURVEY.md §2.13 adaptation).

    Classic shape preserved: a correlated min-cost subquery per part,
    decorrelated into a window min over the part key — the bridge
    aggregate shuffles ONCE on (partkey, suppkey), the per-part min
    rides a window on the same data (no second lineitem scan, no
    join-back), and the region/nation dimension chain collapses to a
    broadcast before touching the bridge. Costs are exact floor-cents
    integers so the min/equality tie set is cross-engine identical.
    """
    from pyspark.sql import Window

    eur = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").join(
                    F.broadcast(
                        _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("acctbal"),
            "n_name",
        )
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    ).select("p_partkey")
    bridge = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.min(
                F.floor(100 * F.col("l_extendedprice") / F.col("l_quantity"))
            ).alias("cost_cents")
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        bridge.join(part, F.col("p_partkey") == F.col("pk"))
        .join(eur, F.col("s_suppkey") == F.col("sk"))
        .withColumn("best_cents", F.min("cost_cents").over(w))
        .filter(F.col("cost_cents") == F.col("best_cents"))
        .select(
            "acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("cost_cents") / 100.0).alias("supplycost"),
        )
        .orderBy(
            F.col("acctbal").desc(), F.col("n_name"), F.col("s_name"), F.col("p_partkey")
        )
        .limit(100)
    )


@register(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN cents ELSE 0 END)
                      AS DOUBLE) / sum(cents), 4) AS mkt_share,
           sum(cents) / 100.0 AS total_revenue
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             n2.n_name AS supp_nation,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN supplier  ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year ORDER BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_5's share of AMERICA-
    customer PROMO-part revenue, per order year.

    The two dimension chains shrink scale-side before any fact join:
    customers pre-join their (broadcast) region-filtered nation,
    suppliers pre-join (broadcast) nation for the label. The PROMO part
    filter prunes lineitem through its first join, and the share is a
    conditional-over-unconditional sum on ONE hash aggregate of exact
    cents — identical plan discipline to q_tpch_q14's promo ratio.
    """
    amer = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cnk"))
    )
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(amer), F.col("c_nationkey") == F.col("cnk")
    ).select("c_custkey")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(_t(spark, sf_dir, "nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", cents).otherwise(0)
                ).cast("double")
                / F.sum(cents),
                4,
            ).alias("mkt_share"),
            (F.sum(cents) / 100.0).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


@register(
    "q_tpch_q9",
    oracle="""
    SELECT nation, o_year, sum(profit_cents) / 100.0 AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(floor((l_extendedprice * (1 - l_discount)
                         - 0.5 * p_retailprice * l_quantity) * 100) AS BIGINT)
               AS profit_cents
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: cost side is
    0.5 × p_retailprice × quantity (the fixture has no ps_supplycost).

    Classic shape preserved: a LIKE-filtered part table prunes lineitem
    through the first join (at 100 TB the '%widget%' parts are ~1/7 of
    the table, so the join input shrinks before the orders shuffle);
    supplier→nation is a broadcast chain; profit is summed as exact
    floor-cents (floor is toward −∞ on both engines, so negative-profit
    lines agree bit-for-bit).
    """
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(_t(spark, sf_dir, "nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    profit_cents = F.floor(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(profit_cents) / 100.0).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@register(
    "q_tpch_q11",
    oracle="""
    WITH val AS (
      SELECT l_partkey AS pk,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               AS cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY l_partkey
    )
    SELECT pk AS p_partkey, cents / 100.0 AS value
    FROM val, (SELECT sum(cents) AS total, count(*) AS n_parts FROM val)
    WHERE cents > 2.0 * total / n_parts
    ORDER BY value DESC, p_partkey
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted: per-part traded value from
    ASIA-region suppliers, keeping parts above 2x the average per-part
    value (the fixture has no partsupp availqty/supplycost; the classic
    0.0001/SF fraction is SF-dependent by spec -- the 2x-average form
    is the same predicate expressed scale-free, so the operator returns
    a stable "important parts" slice at ANY data size).

    Classic shape preserved: one per-part aggregate feeds BOTH the
    candidate rows and the scalar global-total subquery — the value
    table is localCheckpoint-ed so BOTH branches reuse one materialized
    aggregate (one lineitem scan total; pinned by the plan test), and
    the 1-row total broadcasts back. The region filter prunes
    suppliers via a broadcast dim chain before the fact join. Exact
    cents make the 0.1% threshold comparison cross-engine stable.
    """
    asia_supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").join(
                    F.broadcast(
                        _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        _t(spark, sf_dir, "lineitem")
        .join(asia_supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            ).alias("cents")
        )
        .localCheckpoint(eager=True)
    )
    total = val.agg(F.sum("cents").alias("total"), F.count("*").alias("n_parts"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("cents") > 2.0 * F.col("total") / F.col("n_parts"))
        .select(
            F.col("pk").alias("p_partkey"), (F.col("cents") / 100.0).alias("value")
        )
        .orderBy(F.col("value").desc(), F.col("p_partkey"))
    )


@register(
    "q_tpch_q12",
    oracle="""
    SELECT l_linestatus AS shipmode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_shipdate >  o_orderdate + INTERVAL 30 DAY
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / priority), adapted: l_linestatus
    stands in for l_shipmode and "late" is shipped >30 days after the
    order date (no commit/receipt dates in the fixture).

    Classic shape preserved: the year filter pushes to the lineitem
    scan, the cross-table lateness residual rides the equi-join, and
    both conditional counts share ONE hash aggregate (map-side partials
    collapse to |linestatus| = 2 rows before the exchange).
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 30 DAYS"))
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("shipmode")
    )


@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution), adapted: the
    "special requests" comment filter becomes an order-priority filter
    (the fixture has no comment column).

    Classic shape preserved: the filter is part of the LEFT join
    condition, not a WHERE (customers with zero qualifying orders must
    survive with count 0); count(o_orderkey) counts matches only. The
    first agg shuffles on custkey; the second groups the tiny
    (distinct-count-valued) domain. At scale the orders-side filter
    halves the shuffle before the join.
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    return (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT sk) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem)
    JOIN part ON p_partkey = pk
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted: the distinct
    (part, supplier) pairs of lineitem stand in for partsupp, and the
    excluded-supplier comment filter becomes s_acctbal < 0.

    Classic shape preserved: the NOT IN over a filtered supplier scan
    is a LEFT ANTI join (the excluded set is small → broadcast); the
    part attribute filters prune before the bridge join; and the final
    count(DISTINCT suppkey) per attribute triple is a two-phase
    distinct-then-count aggregate. The bridge DISTINCT shuffles once on
    the pair key — at scale this is the dominant exchange and is
    map-side-combined first.
    """
    bridge = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excluded = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select(
        "s_suppkey"
    )
    return (
        bridge.join(part, F.col("p_partkey") == F.col("pk"))
        .join(F.broadcast(excluded), F.col("sk") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("sk").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand"), F.col("p_type"),
            F.col("p_size"),
        )
    )


@register(
    "q_tpch_q20",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey AS sk, l_partkey AS pk,
             round(sum(l_quantity), 2) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey = (SELECT r_regionkey FROM region WHERE r_name = 'AFRICA')
      AND s_suppkey IN (
        SELECT sk FROM shipped
        WHERE pk IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red %')
          AND qty > 30.0)
    ORDER BY s_suppkey
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), adapted: AFRICA-region
    suppliers who shipped >30 units of any 'red …' part during 1996
    (the fixture has no partsupp availqty, so the half-of-stock
    threshold becomes a fixed quantity threshold).

    Classic shape preserved: the nested IN-chain is a semi-join
    pipeline — the LIKE-filtered part set semi-joins the per-(supplier,
    part) year aggregate (date filter pushed to the scan, agg combined
    map-side), the surviving supplier keys DISTINCT down to a small
    set, and the final supplier⋈nation probe is a semi join, so no
    duplicate suppliers ever materialize. The region scalar subquery is
    a broadcast 1-row filter.
    """
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red %")).select(
        "p_partkey"
    )
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(red), F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy(F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
        .filter(F.col("qty") > 30.0)
        .select("sk")
        .distinct()
    )
    africa = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(africa), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(shipped, F.col("s_suppkey") == F.col("sk"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@register(
    "q_tpch_q21",
    oracle="""
    WITH l1 AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    ),
    per_supp AS (
      SELECT l_orderkey, l_suppkey, sum(late) AS n_late
      FROM l1 GROUP BY l_orderkey, l_suppkey
    ),
    flagged AS (
      SELECT l_orderkey, l_suppkey, n_late,
             count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
             sum(CASE WHEN n_late > 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY l_orderkey) AS n_late_supp
      FROM per_supp
    )
    SELECT s_name, CAST(sum(n_late) AS BIGINT) AS numwait
    FROM flagged JOIN supplier ON s_suppkey = l_suppkey
    WHERE n_late > 0 AND n_supp >= 2 AND n_late_supp = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for finished
    orders, count late lines of suppliers who were the SOLE late
    supplier on a multi-supplier order. "Late" is adapted to
    l_shipdate > o_orderdate + 45 days (no commit/receipt dates).

    The classic EXISTS / NOT-EXISTS pair over two extra lineitem scans
    decorrelates into ONE scan + one per-(order, supplier) aggregate +
    one window over the order key: n_supp ≥ 2 encodes the EXISTS
    (another supplier has a line), n_late_supp = 1 encodes the NOT
    EXISTS (no OTHER supplier was late, given this one was). The window
    reuses the aggregate's (l_orderkey, l_suppkey) clustering — one
    extra orderkey exchange, zero extra scans; numwait sums the late
    LINE count, matching the classic l1-row-count semantics.
    """
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_supp = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .withColumn(
            "late",
            F.when(
                F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 45 DAYS"), 1
            ).otherwise(0),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum("late").alias("n_late"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.withColumn("n_supp", F.count("*").over(w)).withColumn(
        "n_late_supp",
        F.sum(F.when(F.col("n_late") > 0, 1).otherwise(0)).over(w),
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.filter(
            (F.col("n_late") > 0) & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
        )
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )


@register(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           round(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
             AS sum_base_price,
           round(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT)) / 100.0, 2) AS sum_disc_price,
           round(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                                * 100) AS BIGINT)) / 100.0, 2) AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                 / count(*), 4) AS avg_qty,
           round(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                 / 100.0 / count(*), 4) AS avg_price,
           round(sum(CAST(floor(l_discount * 10000) AS BIGINT))
                 / 10000.0 / count(*), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report), verbatim shape: per
    (returnflag, linestatus) the full eight-aggregate summary over
    lines shipped on or before 1998-09-02. q_agg_group is the Q1-style
    smoke query; this is the complete report, closing the 22/22 TPC-H
    analog set.

    ONE hash aggregate with map-side combine over a ~4-group domain —
    the canonical whole-stage-codegen scan→agg plan; the ship-date
    predicate pushes to the parquet scan. Float policy: every money
    sum floors to integer cents (discount to 1e-4) BEFORE aggregation
    so the sums are order-independent; averages divide exact integers
    by exact counts at the end (registry docstring discipline)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    cents = lambda c: F.sum(F.floor(c * 100).cast("long")).cast("long")  # noqa: E731
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        cents(F.col("l_extendedprice")).alias("_bp"),
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_dp"),
        cents(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("_ch"),
        F.sum(F.floor(F.col("l_discount") * 10000).cast("long"))
        .cast("long")
        .alias("_disc"),
        F.count("*").cast("long").alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        F.round(F.col("_bp") / 100.0, 2).alias("sum_base_price"),
        F.round(F.col("_dp") / 100.0, 2).alias("sum_disc_price"),
        F.round(F.col("_ch") / 100.0, 2).alias("sum_charge"),
        F.round(
            F.col("sum_qty").cast("double") / F.col("count_order"), 4
        ).alias("avg_qty"),
        F.round(F.col("_bp") / 100.0 / F.col("count_order"), 4).alias("avg_price"),
        F.round(F.col("_disc") / 10000.0 / F.col("count_order"), 6).alias("avg_disc"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")
