"""Window functions (SURVEY.md §2.5): ranking, analytic, frames.

All windows are partitioned (by nation / user) so at 100 TB every window
sorts only within its hash partition — no global sort, no single-task
bottleneck. Every ORDER BY carries a unique tie-break key so results are
deterministic (SURVEY §7 risk register).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_table as _t
from engine.registry import register


@register(
    "q_win_rank",
    oracle="""
    SELECT c_custkey, c_nationkey,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per nation by balance."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "q_win_ntile",
    oracle="""
    SELECT c_custkey, ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
    FROM customer
    """,
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles of account balance without a global sort.

    ``ntile(4) OVER (ORDER BY ...)`` with no PARTITION BY funnels the
    whole table through one WindowExec task. Instead the global row
    number and row count come from engine.stats.banded_cum over
    floor(c_acctbal / 100) bands — TPC-H bounds c_acctbal to
    [-999.99, 9999.99], so at most 111 bands at any scale — and
    engine.stats.closed_ntile maps the rank to its quartile. Building
    the frame launches no Spark job."""
    from engine.stats import banded_cum, closed_ntile

    c = _t(spark, sf_dir, "customer")
    r = banded_cum(
        c,
        F.floor(F.col("c_acctbal") / 100),
        ["c_acctbal", "c_custkey"],
        {"rn": F.lit(1)},
    )
    return r.select(
        "c_custkey", closed_ntile(F.col("cum_rn"), F.col("tot_rn"), 4).alias("quartile")
    )


@register(
    "q_win_lag_lead",
    oracle="""
    SELECT event_id,
           value - lag(value, 1) OVER w AS delta_prev,
           lead(value, 1) OVER w AS next_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user tick-to-tick deltas (lag/lead) — crypto returns pattern."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return ev.select(
        "event_id",
        (F.col("value") - F.lag("value", 1).over(w)).alias("delta_prev"),
        F.lead("value", 1).over(w).alias("next_value"),
    )


@register(
    "q_win_running",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total
    FROM events
    """,
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative volume per user (running sum)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_total"),
    )


@register(
    "q_win_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS sma7
    FROM events
    """,
)
def q_win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row simple moving average per user (SMA pattern)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("sma7"),
    )


@register(
    "q_win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_s
                                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2)
               AS vol_1h
    FROM (SELECT event_id, user_id, value,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
          FROM events)
    """,
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: trailing 1-hour volume per user over epoch seconds.
    (RANGE frames include ALL peers at equal epoch_s, so the result is
    deterministic without a unique tie-break.)"""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn(
        "epoch_s", F.unix_timestamp(F.date_trunc("second", F.col("ts"))).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("epoch_s").rangeBetween(-3600, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("vol_1h"),
    )


@register(
    "q_win_first_last",
    oracle="""
    SELECT event_id, user_id,
           first_value(value) OVER w AS open_value,
           last_value(value) OVER w AS close_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open/close per user: first_value/last_value over the full frame
    (the OHLCV bar open/close pattern)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("open_value"),
        F.last("value").over(w).alias("close_value"),
    )


@register(
    "q_win_pct",
    oracle="""
    SELECT c_custkey, c_nationkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
)
def q_win_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist of balances within nation."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "q_win_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           round(median(value) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
                 4) + 0.0 AS med10
    FROM events
    """,
)
def q_win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median over the trailing 10 ticks per user — the
    robust-location counterpart of q_win_moving_avg (outlier-resistant
    smoothing for noisy market data). Spark's ``median`` aggregate
    rejects window frames, so the frame's values ride a bounded
    ``collect_list`` (≤10 doubles per row — constant state, unlike the
    full-series anti-pattern) and the midpoint interpolates in codegen:
    odd count → middle element, even count → mean of the two middles,
    matching the oracle's interpolated median. One Exchange on
    user_id; zero-sign folded per the registry contract."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-9, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = (
        # collect_list drops NULLs: an all-NULL frame is empty and must
        # yield NULL like the oracle's median — element_at(arr, 0)
        # would raise instead
        F.when(n == 0, F.lit(None).cast("double"))
        .when(n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int")))
        .otherwise((F.element_at(arr, (n / 2).cast("int")) + mid_hi) / 2)
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.round(med, 4) + 0.0).alias("med10"),
    )


@register(
    "q_win_theil_sen",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY di
    ),
    p AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / (b.di - a.di) AS slope
      FROM d a JOIN d b ON b.di > a.di
    ),
    r AS (
      SELECT slope,
             row_number() OVER (ORDER BY slope) AS rn,
             count(*) OVER () AS n_pairs
      FROM p
    ),
    m AS (SELECT slope, n_pairs FROM r WHERE rn = (n_pairs + 1) // 2)
    SELECT (SELECT count(*) FROM d) AS n_days,
           n_pairs,
           round(slope / 100.0, 6) + 0.0 AS ts_slope
    FROM m
    """,
)
def q_win_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: the median of all
    pairwise slopes between day totals — the outlier-immune companion
    to q_stats_trend's OLS slope (one wild flash-crash day moves OLS
    arbitrarily; it moves the median slope not at all).

    Exactness: each slope is one IEEE division of exact integers
    (Δcents / Δdays — both far under 2⁵³), identical on any engine;
    the LOWER median is selected by row_number, and because only the
    slope VALUE is returned, ties need no ordering tie-break — every
    row tied at the cut position carries the same value.

    Scale shape: the O(n²) pair join runs on the AGGREGATED day
    series, whose size is calendar-bounded (~2.4k days here, so ~3M
    pairs) and INDEPENDENT of corpus size — the fact-table scan is one
    hash aggregate, and the pair stage costs the same at sf0.001 and
    100 TB. The median selection is one sort of those pairs; at much
    longer horizons the standard refinements are the repeated-median
    estimator or per-band medians (the q_rfm_segments banded-rank
    scheme on the slope key)."""
    o = _t(spark, sf_dir, "orders")
    d = (
        o.select(
            F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("di"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("di")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    a = d.select(F.col("di").alias("di1"), F.col("y").alias("y1"))
    b = d.select(F.col("di").alias("di2"), F.col("y").alias("y2"))
    p = a.join(b, F.col("di2") > F.col("di1")).select(
        ((F.col("y2") - F.col("y1")).cast("double") / (F.col("di2") - F.col("di1"))).alias(
            "slope"
        )
    )
    w = Window.orderBy("slope")
    r = p.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_pairs"),
    )
    m = r.filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
    n_days = d.agg(F.count("*").cast("long").alias("n_days"))
    return m.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        (F.round(F.col("slope") / 100.0, 6) + 0.0).alias("ts_slope"),
    )
