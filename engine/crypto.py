"""Crypto-ETL domain composites (SURVEY.md §1.1 [NAME] surface).

The reference's domain — a US-crypto / Zilliqa ETL pipeline — implies a
canonical set of market-data transforms beyond the generic operator
inventory: OHLCV bar construction, volume-weighted average price, and
rolling volatility. Each is a pure composition of already-verified
engine primitives (time-bucketed groupBy, min_by/max_by, range-frame
windows), registered with full DuckDB oracles.

Scale notes: bars and VWAP are single-shuffle hash aggregations on
(bucket, key); volatility is a partitioned range-frame window — none
funnels data through a single task and all run in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_table as _t
from engine.registry import register


def day_index() -> Column:
    """The UTC day number of the tick time ``ts`` as long ``di``:
    ``floor(unix_timestamp(date_trunc('day', ts)) / 86400)``. See
    ``daily_bars`` for the conventions it belongs to."""
    return F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400).cast("long").alias("di")


def props_volume() -> Column:
    """The integer trade volume of a tick as long: the digits after
    ``"k":`` in its JSON ``props`` string
    (``regexp_extract(props, '"k":\\s*([0-9]+)', 1)`` cast to long).
    The oracles parse the same ``"k":`` convention with the same regex."""
    return F.regexp_extract("props", r'"k":\s*([0-9]+)', 1).cast("long")


def daily_bars(ev: DataFrame, *aggs: str, day: bool = False, **custom: Column) -> DataFrame:
    """The integer-cent daily bar per exchange (``event_type``) — the one
    place that holds the cross-engine bar conventions every daily
    technical-analysis key and its DuckDB oracle share:

    - integer cents: ``c = floor(value * 100)`` cast to long;
    - UTC day index: ``di = floor(unix_timestamp(date_trunc('day', ts))
      / 86400)`` (``day_index``);
    - day label: ``day = date_format(date_trunc('day', ts), 'yyyy-MM-dd')``;
    - open and close: the tick with the smallest / largest
      ``(ts, event_id)``, taken as ``min`` / ``max`` of
      ``struct(ts, event_id, c)`` — ``event_id`` breaks equal timestamps.

    The ticks project ``event_type``, ``di``, ``day`` (only when ``day``),
    ``c``, ``ts`` and ``event_id`` and group by ``event_type``, ``di``
    (and ``day``). Each name in ``aggs`` is one of ``hi`` (max cents),
    ``lo`` (min cents), ``op`` and ``cl``; each ``custom`` name is an
    aggregate Column over those tick columns (``cents=F.sum("c")``).
    The result carries the group keys, then ``aggs``, then ``custom``,
    in the caller's order. One partial+final hash aggregate; columns no
    aggregate reads are pruned by the optimizer."""
    tick = F.struct(F.col("ts").alias("t"), F.col("event_id").alias("e"), F.col("c").alias("v"))
    bar = {"hi": F.max("c"), "lo": F.min("c"), "op": F.min(tick)["v"], "cl": F.max(tick)["v"]}
    keys = ["event_type", "di", "day"] if day else ["event_type", "di"]
    label = [F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")] if day else []
    return (
        ev.select(
            "event_type",
            day_index(),
            *label,
            F.floor(F.col("value") * 100).cast("long").alias("c"),
            "ts",
            "event_id",
        )
        .groupBy(*keys)
        .agg(
            *[bar[a].alias(a) for a in aggs],
            *[col.alias(name) for name, col in custom.items()],
        )
    )


@register(
    "q_bars_ohlcv",
    oracle="""
    SELECT DISTINCT
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bar_start,
           event_type,
           first_value(value) OVER w AS open,
           max(value) OVER w AS high,
           min(value) OVER w AS low,
           last_value(value) OVER w AS close,
           count(*) OVER w AS n_trades,
           round(sum(value) OVER w, 2) AS volume
    FROM events
    WINDOW w AS (PARTITION BY date_trunc('hour', ts), event_type
                 ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_bars_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLCV bars per event_type — the core market-data ETL
    transform. One hash aggregation: open/close via ``min_by``/``max_by``
    on the (ts, event_id) order key (no window, no second shuffle), so
    the plan is a single partial+final aggregate over (hour, type)."""
    ev = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.withColumn("bar_start", F.unix_timestamp(F.date_trunc("hour", F.col("ts"))))
        .groupBy("bar_start", "event_type")
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count("*").alias("n_trades"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
    )


@register(
    "q_vwap",
    oracle="""
    SELECT l_partkey,
           round(sum(l_extendedprice) / sum(l_quantity), 4) AS vwap,
           sum(l_quantity) AS total_qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING count(*) >= 3
    """,
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per part (lineitem's extendedprice
    is already price x quantity, TPC-H semantics): single hash agg +
    post-aggregation filter."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.round(F.sum("l_extendedprice") / F.sum("l_quantity"), 4).alias("vwap"),
            F.sum("l_quantity").alias("total_qty"),
            F.count("*").alias("_n"),
        )
        .filter(F.col("_n") >= 3)
        .drop("_n")
    )


@register(
    "q_win_volatility",
    oracle="""
    SELECT event_id, user_id,
           round(stddev_samp(value) OVER (PARTITION BY user_id ORDER BY epoch_s
                                          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4)
               AS vol_1h
    FROM (SELECT event_id, user_id, value,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
          FROM events)
    """,
)
def q_win_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour volatility (sample stddev) per user over a RANGE
    frame — the tick-data risk metric. Partitioned window, no global
    sort; RANGE includes all peers at equal epoch_s so the result is
    deterministic without a unique tie-break."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn(
        "epoch_s", F.unix_timestamp(F.date_trunc("second", F.col("ts"))).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("epoch_s").rangeBetween(-3600, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.stddev_samp("value").over(w), 4).alias("vol_1h"),
    )


@register(
    "q_anomaly_zscore",
    oracle="""
    WITH s AS (SELECT event_id, user_id, value,
                      avg(value) OVER w AS mu,
                      stddev_samp(value) OVER w AS sigma
               FROM events
               WINDOW w AS (PARTITION BY user_id))
    SELECT event_id, user_id, round((value - mu) / sigma, 4) AS z
    FROM s
    WHERE abs((value - mu) / sigma) > 2.5
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier ticks: |z| > 2.5 against the user's own value
    distribution — the wash-trade / fat-finger surveillance primitive.
    Mean and stddev come from an unordered window over the user
    partition (no self-join, one shuffle); the z expression stays in
    codegen. At 100 TB this is the same single-exchange shape as
    q_win_volatility."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    mu = F.avg("value").over(w)
    sigma = F.stddev_samp("value").over(w)
    z = (F.col("value") - mu) / sigma
    return (
        ev.select("event_id", "user_id", "value", mu.alias("mu"), sigma.alias("sigma"))
        .filter(F.abs((F.col("value") - F.col("mu")) / F.col("sigma")) > 2.5)
        .select(
            "event_id",
            "user_id",
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
        )
    )


@register(
    "q_win_corr",
    oracle="""
    SELECT user_id,
           round(corr(value, epoch_us(ts) - 1704067200000000), 4) AS drift_corr,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 20
    """,
)
def q_win_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value-vs-time correlation (price-drift detector): the
    co-moment aggregate ``corr`` with map-side partial aggregation —
    one shuffle of constant-size partial states per user, never the
    ticks themselves. Time is centered on the 2024-01-01 epoch before
    entering the co-moment sums so both engines do the arithmetic at
    the same (small) magnitude; HAVING suppresses degenerate tiny
    groups."""
    ev = _t(spark, sf_dir, "events")
    centered = (F.unix_micros("ts") - F.lit(1704067200000000)).cast("double")
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(F.corr(F.col("value"), centered), 4).alias("drift_corr"),
            F.count("*").alias("n_events"),
        )
        .filter(F.col("n_events") >= 20)
    )


@register(
    "q_drawdown",
    oracle="""
    SELECT event_id, user_id,
           round(max(value) OVER w, 2) AS peak,
           round(value / max(value) OVER w - 1.0, 4) AS drawdown
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak and drawdown per user — the risk metric every
    portfolio dashboard computes. Single partitioned window with a
    running MAX frame (constant state per row); the ratio stays in
    codegen. Same one-Exchange shape as q_win_volatility, so it scales
    with user cardinality, not tick volume per task."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.round(peak, 2).alias("peak"),
        F.round(F.col("value") / peak - 1.0, 4).alias("drawdown"),
    )


@register(
    "q_twap",
    oracle="""
    WITH t AS (SELECT user_id, value, epoch_us(ts) AS us,
                      lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                               ORDER BY ts ASC, event_id ASC) AS nxt
               FROM events)
    SELECT user_id,
           round(sum(value * (nxt - us)) / sum(nxt - us), 4) AS twap,
           count(*) AS n_intervals
    FROM t WHERE nxt IS NOT NULL
    GROUP BY user_id
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per user: each tick's value is held
    until the next tick, so the weight is the interval length (the
    standard TWAP benchmark execution quality is measured against).
    One window (lead) + one hash aggregate — both shuffle on user_id,
    and AQE reuses the exchange; the last tick of each user has no
    holding interval and is excluded on both sides."""
    ev = _t(spark, sf_dir, "events")
    # us = unix_micros(ts) is order-isomorphic to ts (full microsecond
    # precision), so ordering the lead window on it matches the oracle's
    # ORDER BY ts without carrying the timestamp column along.
    w = Window.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id"))
    us = F.unix_micros("ts")
    t = ev.select("user_id", "value", us.alias("us"), "event_id").withColumn(
        "nxt", F.lead("us").over(w)
    )
    dt = F.col("nxt") - F.col("us")
    return (
        t.filter(F.col("nxt").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value") * dt) / F.sum(dt), 4).alias("twap"),
            F.count("*").alias("n_intervals"),
        )
    )


@register(
    "q_bar_gaps",
    oracle="""
    WITH p AS (SELECT DISTINCT event_type,
                      CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bar_start
               FROM events),
         r AS (SELECT event_type, min(bar_start) AS lo, max(bar_start) AS hi
               FROM p GROUP BY event_type),
         g AS (SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS bar_start
               FROM r)
    SELECT event_type, bar_start FROM g
    WHERE NOT EXISTS (SELECT 1 FROM p
                      WHERE p.event_type = g.event_type
                        AND p.bar_start = g.bar_start)
    """,
)
def q_bar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-bar detection: hours inside each event_type's active
    range with zero ticks — the data-quality check run before any
    backfill. The distinct (type, hour) set is tiny (hours x types,
    independent of tick volume), so the expected grid is generated from
    a 5-row min/max aggregate via ``sequence``/``explode`` and the
    anti-join against present hours is a broadcast — at 100 TB the only
    full-data pass is the first aggregation."""
    ev = _t(spark, sf_dir, "events")
    present = ev.select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("bar_start"),
    ).distinct()
    rng = present.groupBy("event_type").agg(
        F.min("bar_start").alias("lo"), F.max("bar_start").alias("hi")
    )
    grid = rng.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"), F.lit(3600))).alias("bar_start"),
    )
    return grid.join(present, ["event_type", "bar_start"], "left_anti")


@register(
    "q_resample_ffill",
    oracle="""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us, value, event_id, 0 AS is_grid
               FROM events),
         r AS (SELECT user_id,
                      CAST(ceil(min(us) / 3600000000.0) AS BIGINT) AS lo,
                      CAST(floor(max(us) / 3600000000.0) AS BIGINT) AS hi
               FROM t GROUP BY user_id),
         g AS (SELECT user_id, unnest(range(lo, hi + 1)) * 3600000000 AS us,
                      CAST(NULL AS DOUBLE) AS value, CAST(NULL AS BIGINT) AS event_id,
                      1 AS is_grid
               FROM r),
         u AS (SELECT * FROM t UNION ALL SELECT * FROM g),
         c AS (SELECT user_id, us, is_grid,
                      last_value(value IGNORE NULLS)
                          OVER (PARTITION BY user_id
                                ORDER BY us ASC, is_grid ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price
               FROM u)
    SELECT user_id, CAST(us / 1000000 AS BIGINT) AS bar_start, round(price, 2) AS price
    FROM c WHERE is_grid = 1
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's irregular tick stream onto a regular hourly
    grid with forward-fill (the gap-filling / `LOCF` hypertable
    operation). Grid rows are generated from a per-user min/max
    aggregate (so the grid is bounded by active range, never global
    time), unioned with the ticks, and a single carry-forward window
    per user fills the price — the same scale-safe union + last_value
    plan as q_join_asof: one Exchange on user_id, no pair join, linear
    state. Ticks at exactly a grid instant win via the is_grid sort
    key; ties between ticks resolve to the highest event_id."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    ticks = ev.select(
        "user_id",
        us.alias("us"),
        "value",
        "event_id",
        F.lit(0).alias("is_grid"),
    )
    hour_us = 3600 * 1_000_000
    rng = ticks.groupBy("user_id").agg(
        F.ceil(F.min("us") / F.lit(float(hour_us))).cast("long").alias("lo"),
        F.floor(F.max("us") / F.lit(float(hour_us))).cast("long").alias("hi"),
    )
    grid = rng.select(
        "user_id", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("slot")
    ).select(
        "user_id",
        (F.col("slot") * hour_us).alias("us"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(1).alias("is_grid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("us"), F.asc("is_grid"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ticks.unionByName(grid)
        .withColumn("price", F.last("value", ignorenulls=True).over(w))
        .filter(F.col("is_grid") == 1)
        .select(
            "user_id",
            (F.col("us") / 1_000_000).cast("long").alias("bar_start"),
            F.round("price", 2).alias("price"),
        )
    )


@register(
    "q_rollup_time",
    oracle="""
    WITH e AS (SELECT event_type,
                      strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
                      strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      value
               FROM events)
    SELECT event_type, month, day,
           round(sum(value), 2) AS volume, count(*) AS n_ticks
    FROM e
    GROUP BY GROUPING SETS ((event_type, month, day), (event_type, month),
                            (event_type), ())
    """,
)
def q_rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup (day -> month -> type -> grand
    total) in ONE pass via GROUPING SETS — the hypertable continuous-
    aggregate shape: Spark's Expand node emits one row per grouping set
    per input row before a single hash aggregate, so 100 TB of ticks is
    scanned once, not once per granularity. Calendar buckets are
    emitted as ISO date strings (cross-engine-stable per the float/date
    policy in engine/registry.py)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_rt")
    return spark.sql(
        """
        WITH e AS (SELECT event_type,
                          date_format(date_trunc('month', ts), 'yyyy-MM-dd') AS month,
                          date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day,
                          value
                   FROM events_rt)
        SELECT event_type, month, day,
               round(sum(value), 2) AS volume, count(*) AS n_ticks
        FROM e
        GROUP BY GROUPING SETS ((event_type, month, day), (event_type, month),
                                (event_type), ())
        """
    )


@register(
    "q_win_bollinger",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER w, 4) AS mid,
           round(avg(value) OVER w + 2 * stddev_samp(value) OVER w, 4) AS upper,
           round(avg(value) OVER w - 2 * stddev_samp(value) OVER w, 4) AS lower,
           CASE WHEN value > avg(value) OVER w + 2 * stddev_samp(value) OVER w
                  OR value < avg(value) OVER w - 2 * stddev_samp(value) OVER w
                THEN 1 ELSE 0 END AS breach
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    QUALIFY count(*) OVER w = 20
    """,
)
def q_win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands: 20-tick rolling mean ±2 sample-stddev per user,
    plus a band-breach flag (the volatility-breakout signal). One
    partitioned ROWS-frame window — constant state per row, single
    Exchange on user_id, all arithmetic in codegen. Warm-up rows
    (frame < 20 ticks) are excluded on both sides, so every emitted
    band is a full window."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-19, Window.currentRow)
    )
    mid, sd = F.avg("value").over(w), F.stddev_samp("value").over(w)
    up, lo = mid + 2 * sd, mid - 2 * sd
    return (
        ev.withColumn("n_in_frame", F.count("*").over(w))
        .withColumn("mid", F.round(mid, 4))
        .withColumn("upper", F.round(up, 4))
        .withColumn("lower", F.round(lo, 4))
        .withColumn(
            "breach",
            F.when((F.col("value") > up) | (F.col("value") < lo), 1).otherwise(0),
        )
        .filter(F.col("n_in_frame") == 20)
        .select("event_id", "user_id", "mid", "upper", "lower", "breach")
    )


@register(
    "q_win_rsi",
    oracle="""
    WITH d AS (
      SELECT event_id, user_id, ts,
             value - lag(value) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC) AS delta
      FROM events
    )
    SELECT event_id, user_id,
           round(CASE WHEN avg(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w = 0
                      THEN 100.0
                      ELSE 100.0 - 100.0 /
                           (1.0 + avg(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER w
                                / avg(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w)
                 END, 4) AS rsi
    FROM d WHERE delta IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    QUALIFY count(*) OVER w = 14
    """,
)
def q_win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-tick relative strength index per user (simple-average form):
    RSI = 100 − 100/(1 + avgGain/avgLoss), RSI = 100 when the frame has
    no losses. Two stacked windows on the SAME (user_id, ts) ordering —
    lag for tick deltas, then a 14-row frame for the gain/loss means —
    so Catalyst plans one Exchange and one Sort shared by both. Warm-up
    rows (fewer than 14 deltas) are excluded on both sides."""
    ev = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    w = wo.rowsBetween(-13, Window.currentRow)
    d = (
        ev.withColumn("delta", F.col("value") - F.lag("value").over(wo))
        .filter(F.col("delta").isNotNull())
    )
    gain = F.when(F.col("delta") > 0, F.col("delta")).otherwise(0.0)
    loss = F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0.0)
    ag, al = F.avg(gain).over(w), F.avg(loss).over(w)
    rsi = F.when(al == 0, 100.0).otherwise(100.0 - 100.0 / (1.0 + ag / al))
    return (
        d.withColumn("n_in_frame", F.count("*").over(w))
        .withColumn("rsi", F.round(rsi, 4))
        .filter(F.col("n_in_frame") == 14)
        .select("event_id", "user_id", "rsi")
    )


@register(
    "q_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, med, median(abs(value - med)) AS mad
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, med
    )
    SELECT e.event_type,
           round(med, 4) AS med,
           round(mad, 4) AS mad,
           count(CASE WHEN abs(value - med) > 3 * 1.4826 * mad THEN 1 END)
             AS n_outliers,
           count(*) AS n_ticks
    FROM events e JOIN mad USING (event_type)
    GROUP BY e.event_type, med, mad
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier surveillance: flag ticks beyond 3 scaled median-
    absolute-deviations of their event-type median — immune to the
    outliers polluting the threshold itself, unlike q_anomaly_zscore's
    mean/stddev. Two exact-median hash aggregates with tiny (one row
    per event_type) results broadcast back between passes; the fact
    table is scanned, never shuffled on a data-volume key."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type", "med").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    scored = ev.join(F.broadcast(mad), "event_type")
    is_out = F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    return scored.groupBy("event_type", "med", "mad").agg(
        F.count(F.when(is_out, 1)).alias("n_outliers"),
        F.count("*").alias("n_ticks"),
    ).select(
        "event_type",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        "n_outliers",
        "n_ticks",
    )


def _seg_ticks(ev: DataFrame) -> DataFrame:
    """Per-(user, day-segment) time-ordered value arrays.

    The segmented-scan building block for sequential per-key recursions
    (EWMA/MACD): each tick is the affine map y -> (1-a)*y + a*x, and
    affine maps compose associatively ((m2,b2)∘(m1,b1) = (m2*m1,
    m2*b1+b2)), so a segment's ticks fold into ONE (m, b) pair and the
    per-user state is one row per SEGMENT, never the full series. The
    segment key is a deterministic time bucket (day), so no task ever
    materializes more than one key-day of ticks — at 100 TB a hot key's
    series spreads across (user, day) tasks instead of one task holding
    tens of millions of ticks (the r3 collect_list plan's failure mode).
    """
    return (
        ev.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("seg"))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
                )
            ).alias("ticks")
        )
        .select(
            "user_id",
            "seg",
            F.transform(F.col("ticks"), lambda s: s["value"].cast("double")).alias(
                "vs"
            ),
        )
    )


def _tail(arr: str):
    return F.slice(F.col(arr), 2, F.greatest(F.size(arr) - 1, F.lit(0)))


@register(
    "q_win_ewma",
    oracle="""
    WITH s AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts ASC, event_id ASC) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           round(list_reduce(vs, (acc, x) -> 0.2 * x + 0.8 * acc), 4) AS ewma,
           len(vs) AS n_ticks
    FROM s
    """,
)
def q_win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.2) per user —
    the smoothing recursion y_t = 0.2*x_t + 0.8*y_{t-1} seeded with the
    first tick, evaluated to the latest tick (the live smoothed price).

    Segmented-scan plan (replaces r3's per-key full-series
    collect_list): ticks fold per (user, day) segment into the affine
    composition (m, b) = (0.8^n, folded additive part) plus fb (the
    segment folded seeded with its own first tick, used when the
    segment is the user's first); the per-user pass then folds ONE ROW
    PER SEGMENT in day order: y = m*y_prev + b, seeded with the first
    segment's fb. Two shuffles, both codegen, zero Python; per-task
    state is bounded by one key-day of ticks / one key's segment count.
    The additive fold step (0.2*x + 0.8*acc) is the exact expression
    the sequential oracle folds, so within a segment the b-chain is
    bit-identical to the sequential recursion; across segment
    boundaries the affine re-association drifts O(ulp), far below the
    round(4) output contract.
    """
    ev = _t(spark, sf_dir, "events")
    comp = F.aggregate(
        F.col("vs"),
        F.struct(F.lit(1.0).alias("m"), F.lit(0.0).alias("b")),
        lambda acc, x: F.struct(
            (0.8 * acc["m"]).alias("m"), (0.2 * x + 0.8 * acc["b"]).alias("b")
        ),
    )
    fb = F.aggregate(
        _tail("vs"),
        F.element_at(F.col("vs"), 1),
        lambda acc, x: 0.2 * x + 0.8 * acc,
    )
    segs = _seg_ticks(ev).select(
        "user_id",
        F.struct(
            F.col("seg"),
            comp["m"].alias("m"),
            comp["b"].alias("b"),
            fb.alias("fb"),
            F.size("vs").cast("long").alias("n"),
        ).alias("s"),
    )
    per_user = segs.groupBy("user_id").agg(
        F.sort_array(F.collect_list("s")).alias("ss")
    )
    ewma = F.aggregate(
        _tail("ss"),
        F.element_at(F.col("ss"), 1)["fb"],
        lambda acc, s: s["m"] * acc + s["b"],
    )
    n = F.aggregate(F.col("ss"), F.lit(0).cast("long"), lambda acc, s: acc + s["n"])
    return per_user.select(
        "user_id", F.round(ewma, 4).alias("ewma"), n.alias("n_ticks")
    )


@register(
    "q_win_macd",
    oracle="""
    WITH s AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts ASC, event_id ASC) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           round(list_reduce(vs, (acc, x) -> 2.0/13 * x + (1 - 2.0/13) * acc)
                 - list_reduce(vs, (acc, x) -> 2.0/27 * x + (1 - 2.0/27) * acc),
                 4) + 0.0 AS macd,
           len(vs) AS n_ticks
    FROM s
    """,
)
def q_win_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD line (EMA-12 minus EMA-26, both seeded with the first tick,
    standard alpha = 2/(n+1)) per user at the latest tick — the trend/
    momentum crossover signal.

    Same segmented-scan plan as q_win_ewma (see its docstring), with
    BOTH EMA recursions carried through one pass: the per-segment fold
    state is the 4-field struct (m12, b12, m26, b26) plus the two
    first-segment seeds (fb12, fb26), and the per-user segment fold
    advances both chains together. Two shuffles, bounded per-task
    state, zero Python. macd hovers near zero by construction, so the
    rounded output folds the IEEE zero sign per the registry contract.
    """
    a12 = 2.0 / 13
    a26 = 2.0 / 27
    ev = _t(spark, sf_dir, "events")
    comp = F.aggregate(
        F.col("vs"),
        F.struct(
            F.lit(1.0).alias("m12"),
            F.lit(0.0).alias("b12"),
            F.lit(1.0).alias("m26"),
            F.lit(0.0).alias("b26"),
        ),
        lambda acc, x: F.struct(
            ((1 - a12) * acc["m12"]).alias("m12"),
            (a12 * x + (1 - a12) * acc["b12"]).alias("b12"),
            ((1 - a26) * acc["m26"]).alias("m26"),
            (a26 * x + (1 - a26) * acc["b26"]).alias("b26"),
        ),
    )

    def fseed(a: float):
        return F.aggregate(
            _tail("vs"),
            F.element_at(F.col("vs"), 1),
            lambda acc, x: a * x + (1 - a) * acc,
        )

    segs = _seg_ticks(ev).select(
        "user_id",
        F.struct(
            F.col("seg"),
            comp["m12"].alias("m12"),
            comp["b12"].alias("b12"),
            comp["m26"].alias("m26"),
            comp["b26"].alias("b26"),
            fseed(a12).alias("fb12"),
            fseed(a26).alias("fb26"),
            F.size("vs").cast("long").alias("n"),
        ).alias("s"),
    )
    per_user = segs.groupBy("user_id").agg(
        F.sort_array(F.collect_list("s")).alias("ss")
    )
    first = F.element_at(F.col("ss"), 1)
    folded = F.aggregate(
        _tail("ss"),
        F.struct(first["fb12"].alias("e12"), first["fb26"].alias("e26")),
        lambda acc, s: F.struct(
            (s["m12"] * acc["e12"] + s["b12"]).alias("e12"),
            (s["m26"] * acc["e26"] + s["b26"]).alias("e26"),
        ),
    )
    n = F.aggregate(F.col("ss"), F.lit(0).cast("long"), lambda acc, s: acc + s["n"])
    return per_user.select(
        "user_id",
        (F.round(folded["e12"] - folded["e26"], 4) + 0.0).alias("macd"),
        n.alias("n_ticks"),
    )


@register(
    "q_win_obv",
    oracle="""
    WITH t AS (
      SELECT event_id, user_id, ts, value,
             CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS BIGINT) AS vol,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    )
    SELECT event_id, user_id,
           CAST(sum(CASE WHEN prev IS NULL THEN 0
                         WHEN value > prev THEN vol
                         WHEN value < prev THEN -vol
                         ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS obv
    FROM t
    """,
)
def q_win_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per user: running sum of volume signed by the
    tick-to-tick price direction (the classic accumulation/distribution
    indicator; price = ``value``, volume = the integer ``props.k``).

    Two window passes over the SAME (user_id, ts, event_id) ordering —
    lag then running sum — share one Exchange + Sort; state per row is
    constant. The flow is an exact integer, so the running sum is
    deterministic under any partial ordering (no float fold concerns).
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    vol = props_volume()
    prev = F.lag("value").over(w)
    flow = (
        F.when(prev.isNull(), 0)
        .when(F.col("value") > prev, vol)
        .when(F.col("value") < prev, -vol)
        .otherwise(0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(flow)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("obv"),
    )


@register(
    "q_win_stochastic",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts, value,
             min(value)  OVER w AS lo14,
             max(value)  OVER w AS hi14,
             count(*)    OVER w AS n14
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    k AS (
      SELECT event_id, user_id, ts,
             CASE WHEN hi14 = lo14 THEN 50.0
                  ELSE 100.0 * (value - lo14) / (hi14 - lo14) END AS pk
      FROM base WHERE n14 = 14
    )
    SELECT event_id, user_id,
           round(pk, 4) AS pct_k,
           round(avg(pk) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                 4) AS pct_d
    FROM k
    """,
)
def q_win_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator per user: %K = position of the latest tick
    inside the trailing 14-tick low/high channel, %D = 3-tick SMA of %K
    (the overbought/oversold momentum pair).

    Warm-up rows (frame < 14) are excluded BEFORE the %D window on both
    engines, so the two stages see identical row sets. All three
    windows — min/max/count, then the %D average — partition on
    user_id with the same ordering: one Exchange, chained Sort-free
    window nodes. Flat channels (hi = lo) pin %K to 50 rather than
    dividing by zero. %D averages at most 3 doubles in frame order —
    a deterministic fold on both engines.
    """
    ev = _t(spark, sf_dir, "events")
    w14 = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-13, Window.currentRow)
    )
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.min("value").over(w14).alias("lo14"),
        F.max("value").over(w14).alias("hi14"),
        F.count("*").over(w14).alias("n14"),
    ).filter(F.col("n14") == 14)
    pk = F.when(F.col("hi14") == F.col("lo14"), F.lit(50.0)).otherwise(
        100.0 * (F.col("value") - F.col("lo14")) / (F.col("hi14") - F.col("lo14"))
    )
    k = base.select("event_id", "user_id", "ts", pk.alias("pk"))
    w3 = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-2, Window.currentRow)
    )
    return k.select(
        "event_id",
        "user_id",
        F.round("pk", 4).alias("pct_k"),
        F.round(F.avg("pk").over(w3), 4).alias("pct_d"),
    )


@register(
    "q_event_paths",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition (path) analysis: counts of consecutive
    event-type pairs per user stream — the Markov-transition table
    behind funnel discovery and next-action modeling.

    One shuffle on user_id for the lag window; the transition agg
    map-side-combines to at most |types|² rows, so the second exchange
    is constant-size at any event volume."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_corr_matrix",
    oracle="""
    WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                      avg(value) AS v
               FROM events GROUP BY event_type, day)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           round(corr(a.v, b.v), 4) + 0.0 AS corr
    FROM d a JOIN d b ON a.day = b.day AND a.event_type < b.event_type
    GROUP BY type_a, type_b
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-asset correlation matrix: pairwise correlation of daily
    average values between event types — the portfolio/risk co-movement
    table.

    Scale shape: the raw ticks collapse FIRST to one row per
    (type, day) — a single hash aggregate whose output is
    |types| × |days| regardless of tick volume — and the pair
    self-join + corr run on that constant-size table (broadcast join,
    |types|²/2 output rows). The daily table is localCheckpoint-ed
    because BOTH sides of the self-join read it and Catalyst does not
    reuse the exchange across a broadcast build and a probe side —
    without it the tick scan + aggregate would run twice."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.avg("value").alias("v"))
        .localCheckpoint(eager=True)
    )
    a, b = daily.alias("a"), daily.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg((F.round(F.corr(F.col("a.v"), F.col("b.v")), 4) + 0.0).alias("corr"))
    )


@register(
    "q_win_cusum",
    oracle="""
    WITH s AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts ASC, event_id ASC) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           round(list_reduce(list_prepend(0.0, vs),
                             (acc, x) -> greatest(0.0, acc + x - 100.0)), 4)
               + 0.0 AS cusum,
           len(vs) AS n_ticks
    FROM s
    """,
)
def q_win_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift statistic per user — the classic
    change-point detector: S_t = max(0, S_{t-1} + x_t - k) with
    reference k=100, seeded S_0 = 0, reported at the latest tick.

    Second instance of the segmented-scan pattern (see q_win_ewma):
    the per-tick map f(s) = max(0, s + d) lives in the max-plus
    closure {s -> max(c, s + a)}, which composes in closed form —
    f2∘f1 = max(c2, c1 + a2, s + a1 + a2), i.e. (a, c) ∘ per segment.
    Ticks fold per (user, day) segment into that (a, c) pair, the
    per-user pass folds ONE ROW PER SEGMENT in day order seeded with
    0, and no task ever materializes a full series. Two shuffles, all
    codegen. The within-segment fold step is the exact oracle
    expression (greatest(0, acc + x - k)), so per-segment arithmetic
    is bit-identical; segment boundaries re-associate O(ulp) under
    round(4)."""
    k = 100.0
    ev = _t(spark, sf_dir, "events")
    # per-segment composition: state (a = sum of deltas, c = floor term)
    # identity map = (0, -inf); composing tick d: a' = a + d,
    # c' = max(c + d, 0)
    comp = F.aggregate(
        F.col("vs"),
        F.struct(
            F.lit(0.0).alias("a"), F.lit(float("-inf")).alias("c")
        ),
        lambda acc, x: F.struct(
            (acc["a"] + (x - k)).alias("a"),
            F.greatest(acc["c"] + (x - k), F.lit(0.0)).alias("c"),
        ),
    )
    segs = _seg_ticks(ev).select(
        "user_id",
        F.struct(
            F.col("seg"),
            comp["a"].alias("a"),
            comp["c"].alias("c"),
            F.size("vs").cast("long").alias("n"),
        ).alias("s"),
    )
    per_user = segs.groupBy("user_id").agg(
        F.sort_array(F.collect_list("s")).alias("ss")
    )
    cusum = F.aggregate(
        F.col("ss"),
        F.lit(0.0),
        lambda acc, s: F.greatest(s["c"], acc + s["a"]),
    )
    n = F.aggregate(F.col("ss"), F.lit(0).cast("long"), lambda acc, s: acc + s["n"])
    return per_user.select(
        "user_id",
        (F.round(cusum, 4) + 0.0).alias("cusum"),
        n.alias("n_ticks"),
    )


@register(
    "q_win_atr",
    oracle="""
    WITH bars AS (
      SELECT DISTINCT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             max(value) OVER b AS high, min(value) OVER b AS low,
             last_value(value) OVER b AS close
      FROM events
      WINDOW b AS (PARTITION BY date_trunc('day', ts), event_type
                   ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ),
    tr AS (
      SELECT event_type, day,
             greatest(high - low,
                      abs(high - lag(close) OVER w),
                      abs(low  - lag(close) OVER w)) AS true_range
      FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(avg(true_range) OVER (PARTITION BY event_type ORDER BY day
                                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 4)
             + 0.0 AS atr14
    FROM tr WHERE true_range IS NOT NULL
    """,
)
def q_win_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range (14-day) per event_type — the classic
    volatility indicator over daily bars.

    Two-level plan: ticks collapse to |types|x|days| daily bars in ONE
    hash aggregate (map-side combined — the only full-data exchange),
    then the lag/greatest/trailing-avg windows run over the tiny bar
    table partitioned by type. greatest() ignoring-null semantics
    differ between engines on the first bar (lag NULL), so the NULL
    first row is filtered on both sides; the trailing frame is bounded
    (14 rows of state per task at any series length).
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        ev.withColumn("day", F.date_trunc("day", F.col("ts")).cast("date"))
        .groupBy("event_type", "day")
        .agg(
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev_close = F.lag("close").over(w)
    tr = bars.withColumn(
        "true_range",
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev_close),
            F.abs(F.col("low") - prev_close),
        ),
    ).filter(F.col("true_range").isNotNull())
    w14 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-13, 0)
    return tr.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.round(F.avg("true_range").over(w14), 4) + 0.0).alias("atr14"),
    )


@register(
    "q_candle_patterns",
    oracle="""
    WITH bars AS (
      SELECT DISTINCT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             first_value(value) OVER b AS open,
             max(value) OVER b AS high, min(value) OVER b AS low,
             last_value(value) OVER b AS close
      FROM events
      WINDOW b AS (PARTITION BY date_trunc('day', ts), event_type
                   ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ),
    flagged AS (
      SELECT event_type,
             CASE WHEN abs(close - open) <= 0.1 * (high - low)
                  THEN 1 ELSE 0 END AS doji,
             CASE WHEN least(open, close) - low >= 2 * abs(close - open)
                   AND high - greatest(open, close) <= abs(close - open)
                  THEN 1 ELSE 0 END AS hammer,
             CASE WHEN lag(close) OVER w < lag(open) OVER w
                   AND close > open
                   AND open <= lag(close) OVER w
                   AND close >= lag(open) OVER w
                  THEN 1 ELSE 0 END AS bull_engulf
      FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           CAST(sum(doji) AS BIGINT) AS n_doji,
           CAST(sum(hammer) AS BIGINT) AS n_hammer,
           CAST(sum(bull_engulf) AS BIGINT) AS n_bull_engulf,
           count(*) AS n_bars
    FROM flagged GROUP BY event_type
    """,
)
def q_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern screen (doji / hammer / bullish engulfing)
    over daily bars, counted per event_type.

    Same two-level discipline as q_win_atr: ONE full-data hash
    aggregate builds the bars, then the pattern predicates are pure
    codegen arithmetic over the |types|x|days| table (one lag window
    for the engulfing check). The engulfing CASE is NULL on the first
    bar (lag NULL) and both engines' CASE-on-NULL yields the ELSE 0 —
    asserted identical by the differential gate. All comparisons are
    on raw double arithmetic both engines compute identically from the
    same bar values (no rounding in predicates).
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        ev.withColumn("day", F.date_trunc("day", F.col("ts")).cast("date"))
        .groupBy("event_type", "day")
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    body = F.abs(F.col("close") - F.col("open"))
    doji = F.when(body <= 0.1 * (F.col("high") - F.col("low")), 1).otherwise(0)
    hammer = F.when(
        (F.least("open", "close") - F.col("low") >= 2 * body)
        & (F.col("high") - F.greatest("open", "close") <= body),
        1,
    ).otherwise(0)
    prev_open, prev_close = F.lag("open").over(w), F.lag("close").over(w)
    engulf = F.when(
        (prev_close < prev_open)
        & (F.col("close") > F.col("open"))
        & (F.col("open") <= prev_close)
        & (F.col("close") >= prev_open),
        1,
    ).otherwise(0)
    return (
        bars.select(
            "event_type",
            doji.alias("doji"),
            hammer.alias("hammer"),
            engulf.alias("bull_engulf"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("doji").alias("n_doji"),
            F.sum("hammer").alias("n_hammer"),
            F.sum("bull_engulf").alias("n_bull_engulf"),
            F.count("*").alias("n_bars"),
        )
    )


@register(
    "q_time_intelligence",
    oracle="""
    WITH monthly AS (
      SELECT event_type,
             CAST(date_trunc('month', ts) AS DATE) AS month,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(month, '%Y-%m') AS month,
           cents / 100.0 AS revenue,
           round((cents - lag(cents) OVER w) * 100.0
                 / lag(cents) OVER w, 4) + 0.0 AS mom_pct,
           round((cents - lag(cents, 12) OVER w) * 100.0
                 / lag(cents, 12) OVER w, 4) + 0.0 AS yoy_pct
    FROM monthly
    WINDOW w AS (PARTITION BY event_type ORDER BY month)
    ORDER BY event_type, month
    """,
)
def q_time_intelligence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-intelligence comparison: monthly revenue per event_type
    with month-over-month and year-over-year growth — the BI staple
    (PoP/YoY) every reporting layer ships.

    Ticks collapse to |types|x|months| exact cents in ONE map-side-
    combined aggregate; both growth columns are lag windows over that
    bounded table sharing a single (event_type) exchange and sort.
    First-period rows carry NULL growth on both engines (lag over the
    frame edge). Percentages divide exact integers, so the doubles are
    cross-engine deterministic.
    """
    from pyspark.sql import Window

    monthly = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("month")
    mom = F.lag("cents").over(w)
    yoy = F.lag("cents", 12).over(w)
    return monthly.select(
        "event_type",
        F.date_format("month", "yyyy-MM").alias("month"),
        (F.col("cents") / 100.0).alias("revenue"),
        (F.round((F.col("cents") - mom) * 100.0 / mom, 4) + 0.0).alias("mom_pct"),
        (F.round((F.col("cents") - yoy) * 100.0 / yoy, 4) + 0.0).alias("yoy_pct"),
    ).orderBy("event_type", "month")


@register(
    "q_seasonality",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    dow AS (
      SELECT event_type, CAST(dayofweek(day) + 1 AS INT) AS dow,
             count(*) AS n_days, CAST(sum(cents) AS BIGINT) AS s
      FROM daily GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(sum(n_days) AS BIGINT) AS tot_days,
             CAST(sum(s) AS BIGINT) AS tot_cents
      FROM dow GROUP BY event_type
    )
    SELECT d.event_type, dow, n_days,
           floor(CAST(s AS DOUBLE) / n_days) / 100.0 AS avg_daily,
           round((CAST(s AS DOUBLE) / n_days)
                 / (CAST(tot_cents AS DOUBLE) / tot_days), 4) AS seasonal_idx
    FROM dow d JOIN tot t ON d.event_type = t.event_type
    ORDER BY d.event_type, dow
    """,
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile per event_type: average daily revenue
    by day-of-week and the seasonal index (day-of-week average over the
    type's overall daily average) — the decomposition a capacity
    planner or market-hours analysis starts from.

    Three-level collapse, each map-side combined: ticks →
    |types|x|days| exact daily cents → |types|x7 day-of-week sums →
    |types| totals joined back (broadcast — constant size). avg_daily
    floors the exact-integer quotient (the RFM lesson: round() on a
    quotient can land on engine-disagreeing half-boundaries); the
    seasonal index is a ratio of quotients of exact integers,
    deterministic on both engines. Spark's dayofweek is 1=Sunday..7;
    DuckDB's is 0=Sunday..6, so the oracle shifts by one.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    )
    dow = daily.groupBy(
        "event_type", F.dayofweek("day").cast("int").alias("dow")
    ).agg(F.count("*").alias("n_days"), F.sum("cents").cast("long").alias("s"))
    tot = dow.groupBy(F.col("event_type").alias("et")).agg(
        F.sum("n_days").cast("long").alias("tot_days"),
        F.sum("s").cast("long").alias("tot_cents"),
    )
    avg_daily = F.col("s").cast("double") / F.col("n_days")
    overall = F.col("tot_cents").cast("double") / F.col("tot_days")
    return (
        dow.join(F.broadcast(tot), F.col("event_type") == F.col("et"))
        .select(
            "event_type",
            "dow",
            "n_days",
            (F.floor(avg_daily) / 100.0).alias("avg_daily"),
            F.round(avg_daily / overall, 4).alias("seasonal_idx"),
        )
        .orderBy("event_type", "dow")
    )


@register(
    "q_resample_interpolate",
    oracle="""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us, value, event_id, 0 AS is_grid
               FROM events),
         r AS (SELECT user_id,
                      CAST(ceil(min(us) / 3600000000.0) AS BIGINT) AS lo,
                      CAST(floor(max(us) / 3600000000.0) AS BIGINT) AS hi
               FROM t GROUP BY user_id),
         g AS (SELECT user_id, unnest(range(lo, hi + 1)) * 3600000000 AS us,
                      CAST(NULL AS DOUBLE) AS value, CAST(NULL AS BIGINT) AS event_id,
                      1 AS is_grid
               FROM r),
         u AS (SELECT * FROM t UNION ALL SELECT * FROM g),
         c AS (SELECT user_id, us, is_grid,
                      last_value(value IGNORE NULLS) OVER wp AS vp,
                      last_value(CASE WHEN is_grid = 0 THEN us END IGNORE NULLS)
                          OVER wp AS tp,
                      first_value(value IGNORE NULLS) OVER wn AS vn,
                      first_value(CASE WHEN is_grid = 0 THEN us END IGNORE NULLS)
                          OVER wn AS tn
               FROM u
               WINDOW wp AS (PARTITION BY user_id
                             ORDER BY us ASC, is_grid ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      wn AS (PARTITION BY user_id
                             ORDER BY us ASC, is_grid ASC, event_id ASC
                             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
    SELECT user_id, CAST(us / 1000000 AS BIGINT) AS bar_start,
           round(CASE WHEN us = tp THEN vp
                      ELSE vp + (vn - vp) * (us - tp) / (tn - tp) END, 4) + 0.0
             AS price
    FROM c WHERE is_grid = 1
    """,
)
def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-grid resample with LINEAR time-weighted interpolation —
    the numeric complement of q_resample_ffill's LOCF: each empty grid
    instant takes vp + (vn−vp)·(t−tp)/(tn−tp) between its bracketing
    ticks (NULL outside the first/last tick, exactly like SQL).

    Same scale-safe skeleton as the LOCF form (bounded per-user grid
    from a min/max agg, union with ticks — never a pair join), but
    BOTH directions carry in ONE sort: prev (value, tick-us) via a
    trailing last(ignorenulls) frame and next via a [1, +∞)
    first(ignorenulls) frame over the SAME partition+ordering, so
    Catalyst plans one Exchange + one Sort with two Window passes.
    The us = tp guard keeps exact-tick grid instants finite when no
    later tick exists. Epochs are exact integers; the interpolation
    expression is written identically on both engines.
    """
    ev = _t(spark, sf_dir, "events")
    ticks = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "value",
        "event_id",
        F.lit(0).alias("is_grid"),
    )
    hour_us = 3600 * 1_000_000
    rng = ticks.groupBy("user_id").agg(
        F.ceil(F.min("us") / F.lit(float(hour_us))).cast("long").alias("lo"),
        F.floor(F.max("us") / F.lit(float(hour_us))).cast("long").alias("hi"),
    )
    grid = rng.select(
        "user_id", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("slot")
    ).select(
        "user_id",
        (F.col("slot") * hour_us).alias("us"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(1).alias("is_grid"),
    )
    order = [F.asc("us"), F.asc("is_grid"), F.asc("event_id")]
    wp = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        1, Window.unboundedFollowing
    )
    tick_us = F.when(F.col("is_grid") == 0, F.col("us"))
    c = (
        ticks.unionByName(grid)
        .withColumn("vp", F.last("value", ignorenulls=True).over(wp))
        .withColumn("tp", F.last(tick_us, ignorenulls=True).over(wp))
        .withColumn("vn", F.first("value", ignorenulls=True).over(wn))
        .withColumn("tn", F.first(tick_us, ignorenulls=True).over(wn))
        .filter(F.col("is_grid") == 1)
    )
    interp = F.when(F.col("us") == F.col("tp"), F.col("vp")).otherwise(
        F.col("vp")
        + (F.col("vn") - F.col("vp"))
        * (F.col("us") - F.col("tp"))
        / (F.col("tn") - F.col("tp"))
    )
    return c.select(
        "user_id",
        (F.col("us") / 1_000_000).cast("long").alias("bar_start"),
        (F.round(interp, 4) + 0.0).alias("price"),
    )


@register(
    "q_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM events WHERE value >= 0.01
    ),
    counts AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / total, 4) AS observed,
           round(log10(1.0 + 1.0 / digit), 4) AS benford_expected,
           round(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit), 4)
             AS deviation
    FROM counts, tot
    ORDER BY digit
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over transaction amounts — the
    classic fraud/synthetic-data screen (natural multiplicative data
    follows P(d) = log10(1 + 1/d); fabricated values usually don't —
    and the uniform synthetic fixture deliberately deviates, which the
    deviation column exposes).

    Map-only digit extraction (first character of the exact cents
    integer — no float formatting), one 9-row hash aggregate, and a
    1-row total broadcast. The expected distribution is closed-form
    log10 arithmetic on integer digits — identical doubles on both
    engines.
    """
    d = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value") >= 0.01)
        .select(
            F.substring(
                F.floor(F.col("value") * 100).cast("long").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
    )
    counts = d.groupBy("digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    exp = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(obs, 4).alias("observed"),
            F.round(exp, 4).alias("benford_expected"),
            F.round(obs - exp, 4).alias("deviation"),
        )
        .orderBy("digit")
    )


@register(
    "q_market_beta",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    mkt AS (
      SELECT day, CAST(sum(cents) AS BIGINT) AS mcents FROM daily GROUP BY day
    ),
    rets AS (
      SELECT d.event_type, d.day,
             CAST(round(ln(CAST(d.cents AS DOUBLE)
                           / lag(d.cents) OVER (PARTITION BY d.event_type
                                                ORDER BY d.day))
                        * 1000000) AS BIGINT) AS qx,
             CAST(round(ln(CAST(m.mcents AS DOUBLE)
                           / lag(m.mcents) OVER (PARTITION BY d.event_type
                                                 ORDER BY d.day))
                        * 1000000) AS BIGINT) AS qm
      FROM daily d JOIN mkt m ON d.day = m.day
    ),
    mom AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qm) AS BIGINT) AS sm,
             CAST(sum(qx * qm) AS BIGINT) AS sxm,
             CAST(sum(qm * qm) AS BIGINT) AS smm
      FROM rets WHERE qx IS NOT NULL AND qm IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * sm)
                 / (n * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm),
                 4) + 0.0 AS beta
    FROM mom WHERE n > 1
    ORDER BY event_type
    """,
)
def q_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market beta per event_type: cov(asset, market)/var(market) over
    daily revenue returns, the CAPM systematic-risk measure (which
    series amplify market-wide swings).

    Ticks collapse once to |types|x|days| exact cents; the market
    series is the per-day total of that bounded table. Daily returns
    QUANTIZE to 1e-9-grid bigints before the moment sums — raw double
    covariance sums are partial-order dependent, but quantized
    integers (and their /1e9-rescaled products, computed identically
    on both engines via bigint division) sum exactly in any order.
    Beta is the closed-form ratio of those exact moments. Lag windows
    run per type over the bounded daily table; one tick exchange
    total.
    """
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    )
    mkt = daily.groupBy(F.col("day").alias("mday")).agg(
        F.sum("cents").cast("long").alias("mcents")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    joined = daily.join(F.broadcast(mkt), F.col("day") == F.col("mday"))
    qx = F.round(
        F.log(F.col("cents").cast("double") / F.lag("cents").over(w))
        * 1_000_000
    ).cast("long")
    qm = F.round(
        F.log(F.col("mcents").cast("double") / F.lag("mcents").over(w))
        * 1_000_000
    ).cast("long")
    rets = joined.select(
        "event_type", qx.alias("qx"), qm.alias("qm")
    ).filter(F.col("qx").isNotNull() & F.col("qm").isNotNull())
    mom = rets.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("qx").cast("long").alias("sx"),
        F.sum("qm").cast("long").alias("sm"),
        F.sum(F.col("qx") * F.col("qm")).cast("long").alias("sxm"),
        F.sum(F.col("qm") * F.col("qm")).cast("long").alias("smm"),
    ).filter(F.col("n") > 1)
    beta = (
        F.col("n") * F.col("sxm").cast("double")
        - F.col("sx").cast("double") * F.col("sm")
    ) / (
        F.col("n") * F.col("smm").cast("double")
        - F.col("sm").cast("double") * F.col("sm")
    )
    return mom.select(
        "event_type", "n", (F.round(beta, 4) + 0.0).alias("beta")
    ).orderBy("event_type")


@register(
    "q_anomaly_seasonal",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    dow AS (
      SELECT event_type, CAST(dayofweek(day) + 1 AS INT) AS dw,
             count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents * cents // 100) AS BIGINT) AS ss
      FROM daily GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.event_type, day, cents, n, s, ss
      FROM daily d JOIN dow w
        ON d.event_type = w.event_type
       AND CAST(dayofweek(day) + 1 AS INT) = w.dw
      WHERE n > 1
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           cents / 100.0 AS revenue,
           round((cents - CAST(s AS DOUBLE) / n)
                 / sqrt(greatest((ss * 100.0 - CAST(s AS DOUBLE) * s / n)
                                 / (n - 1), 1.0)), 4) + 0.0 AS seasonal_z
    FROM scored
    ORDER BY event_type, day
    """,
)
def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly score: each day's revenue z-scored
    against ITS OWN day-of-week population per type (a quiet Sunday is
    normal; a quiet Tuesday is the anomaly plain z-scores miss —
    q_anomaly_zscore's seasonal-aware complement).

    Ticks collapse once to daily cents; the day-of-week moment table
    (|types|×7 rows of exact n, Σ, Σ²÷100) broadcasts back onto the
    daily table. The squared sums pre-scale by INTEGER division
    (Spark ``div`` == DuckDB ``//`` — both exact; DuckDB's ``/`` on
    bigints yields an inexact double at this magnitude) to stay inside
    bigint range (daily cents reach ~3e8 at sf0.1, so c² ~ 9e16 and a
    30-day sum would overflow without the ÷100), and the ×100.0
    rescale restores the variance scale with at most a 100-unit
    truncation error per term — invisible at the z's 4-decimal round.
    greatest(var, 1) floors the degenerate zero-variance cell on both
    engines.
    """
    from pyspark.sql import functions as F  # noqa: F811

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    )
    dow_col = F.dayofweek("day").cast("int")
    dw = daily.groupBy(
        F.col("event_type").alias("et"), dow_col.alias("dw")
    ).agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.expr("cents * cents div 100")).cast("long").alias("ss"),
    ).filter(F.col("n") > 1)
    mean = F.col("s").cast("double") / F.col("n")
    var = F.greatest(
        (F.col("ss") * 100.0 - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1),
        F.lit(1.0),
    )
    return (
        daily.join(
            F.broadcast(dw),
            (F.col("event_type") == F.col("et")) & (dow_col == F.col("dw")),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("cents") / 100.0).alias("revenue"),
            (F.round((F.col("cents") - mean) / F.sqrt(var), 4) + 0.0).alias(
                "seasonal_z"
            ),
        )
        .orderBy("event_type", "day")
    )


@register(
    "q_win_autocorr",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    rets AS (
      SELECT event_type, day,
             CAST(round(ln(CAST(cents AS DOUBLE)
                           / lag(cents) OVER w) * 1000000) AS BIGINT) AS q
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    pairs AS (
      SELECT event_type, q AS x, lag(q) OVER w2 AS y
      FROM rets WINDOW w2 AS (PARTITION BY event_type ORDER BY day)
    ),
    mom AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs WHERE x IS NOT NULL AND y IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
                 4) + 0.0 AS autocorr_lag1
    FROM mom WHERE n > 2
    ORDER BY event_type
    """,
)
def q_win_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily log returns per event_type — the
    momentum / mean-reversion screen (positive: trends persist;
    negative: overreaction reverts).

    Same exact-arithmetic discipline as q_market_beta: ticks collapse
    once, log returns quantize to the 1e-6 grid, the (x, lag x) pairs
    come from a second lag on the SAME bounded per-type window
    ordering (one exchange), and Pearson r evaluates closed-form from
    exact bigint moments.
    """
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    q = F.round(
        F.log(F.col("cents").cast("double") / F.lag("cents").over(w)) * 1_000_000
    ).cast("long")
    rets = daily.select("event_type", "day", q.alias("q"))
    pairs = rets.select(
        "event_type", F.col("q").alias("x"), F.lag("q").over(w).alias("y")
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    mom = pairs.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    ).filter(F.col("n") > 2)
    r = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / F.sqrt(
        (
            F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            F.col("n") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return mom.select(
        "event_type", "n", (F.round(r, 4) + 0.0).alias("autocorr_lag1")
    ).orderBy("event_type")


@register(
    "q_events_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hour,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS volume
    FROM events
    GROUP BY 1, 2
    ORDER BY dow, hour
    """,
)
def q_events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event count and volume per (day-of-week,
    hour-of-day) cell — the 7x24 ops-dashboard matrix (when does the
    market breathe; when do the bots run).

    ONE map-side-combined hash aggregate straight to the 168-cell
    output — the map-side combine means each of the 100 TB's tasks
    emits at most 168 partial rows regardless of input size. Same
    dayofweek convention shift as q_seasonality (Spark 1-7, DuckDB
    0-6).
    """
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.dayofweek("ts").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100).cast("long")) / 100.0).alias(
                "volume"
            ),
        )
        .orderBy("dow", "hour")
    )


@register(
    "q_topk_movers",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    chg AS (
      SELECT event_type, day, cents,
             lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS prev
      FROM daily
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           cents / 100.0 AS revenue,
           round((cents - prev) * 100.0 / prev, 4) AS pct_change
    FROM chg WHERE prev IS NOT NULL AND prev > 0
    ORDER BY abs(round((cents - prev) * 100.0 / prev, 4)) DESC,
             event_type, day
    LIMIT 10
    """,
)
def q_topk_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top movers: the 10 biggest absolute day-over-day revenue swings
    across all (type, day) cells — the screener view every market
    dashboard opens with.

    Daily collapse once; lag per type over the bounded daily table;
    the global top-10 on |pct| lowers to TakeOrderedAndProject
    (per-partition heaps, no global sort). pct ranks on the SAME
    rounded value both engines emit, with (type, day) tiebreaks, so
    the cut line is deterministic.
    """
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    chg = daily.withColumn("prev", F.lag("cents").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("prev") > 0)
    )
    pct = F.round((F.col("cents") - F.col("prev")) * 100.0 / F.col("prev"), 4)
    return (
        chg.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("cents") / 100.0).alias("revenue"),
            pct.alias("pct_change"),
        )
        .orderBy(F.abs(F.col("pct_change")).desc(), "event_type", "day")
        .limit(10)
    )


@register(
    "q_win_holt",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id
    ),
    h(user_id, i, n, vs, l, b) AS (
      SELECT user_id, 1, len(vs), vs, vs[1], CAST(0.0 AS DOUBLE) FROM s
      UNION ALL
      SELECT user_id, i + 1, n, vs,
             CAST(0.3 * vs[i+1] + 0.7 * (l + b) AS DOUBLE),
             CAST(0.1 * (0.3 * vs[i+1] + 0.7 * (l + b) - l) + 0.9 * b AS DOUBLE)
      FROM h WHERE i < n
    )
    SELECT user_id, round(l, 4) AS level, round(b, 4) AS trend,
           CAST(n AS BIGINT) AS n_ticks
    FROM h WHERE i = n
    """,
)
def q_win_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend; α=0.3, β=0.1)
    per user — the trend-aware forecaster a price pipeline runs beside
    the plain EWMA. Recursion: l_t = αx + (1−α)(l+b);
    b_t = β(l_t − l) + (1−β)b, seeded (l₁, b₁) = (x₁, 0).

    This is q_win_ewma's segmented-scan plan generalized to VECTOR
    state: each tick is the affine map s → L·s + c·x on (l, b) with a
    CONSTANT 2×2 L = [[1−α, 1−α], [−αβ, 1−αβ]] (substitute l_t into
    b_t to see the linear form), and affine maps compose
    associatively, so a (user, day) segment folds into one (M, v)
    pair — 6 doubles — plus the segment's own seeded fold (fl, fb)
    used when it is the user's first. The per-user pass folds ONE ROW
    PER SEGMENT in day order (s → M·s + v), identical task-state
    bounds to q_win_ewma: one key-day of ticks, one key's segment
    count. All codegen, zero Python. The oracle runs the sequential
    recursion as a DuckDB recursive CTE; within segments the op order
    is identical, across boundaries the re-association drifts O(ulp),
    far below the round(4) contract."""
    A, B = 0.3, 0.1
    ab = A * B
    ev = _t(spark, sf_dir, "events")

    zero = F.lit(0.0)
    one = F.lit(1.0)
    aff0 = F.struct(
        one.alias("m11"), zero.alias("m12"), zero.alias("m21"), one.alias("m22"),
        zero.alias("v1"), zero.alias("v2"),
    )
    comp = F.aggregate(
        F.col("vs"),
        aff0,
        lambda s, x: F.struct(
            ((1 - A) * (s["m11"] + s["m21"])).alias("m11"),
            ((1 - A) * (s["m12"] + s["m22"])).alias("m12"),
            (-ab * s["m11"] + (1 - ab) * s["m21"]).alias("m21"),
            (-ab * s["m12"] + (1 - ab) * s["m22"]).alias("m22"),
            ((1 - A) * (s["v1"] + s["v2"]) + A * x).alias("v1"),
            (-ab * s["v1"] + (1 - ab) * s["v2"] + ab * x).alias("v2"),
        ),
    )
    seeded = F.aggregate(
        _tail("vs"),
        F.struct(F.element_at(F.col("vs"), 1).alias("l"), zero.alias("b")),
        lambda s, x: F.struct(
            (A * x + (1 - A) * (s["l"] + s["b"])).alias("l"),
            (-ab * s["l"] + (1 - ab) * s["b"] + ab * x).alias("b"),
        ),
    )
    segs = _seg_ticks(ev).select(
        "user_id",
        F.struct(
            F.col("seg"),
            comp.alias("aff"),
            seeded.alias("fb"),
            F.size("vs").cast("long").alias("n"),
        ).alias("s"),
    )
    per_user = segs.groupBy("user_id").agg(
        F.sort_array(F.collect_list("s")).alias("ss")
    )
    state = F.aggregate(
        _tail("ss"),
        F.element_at(F.col("ss"), 1)["fb"],
        lambda st, s: F.struct(
            (
                s["aff"]["m11"] * st["l"] + s["aff"]["m12"] * st["b"] + s["aff"]["v1"]
            ).alias("l"),
            (
                s["aff"]["m21"] * st["l"] + s["aff"]["m22"] * st["b"] + s["aff"]["v2"]
            ).alias("b"),
        ),
    )
    n = F.aggregate(F.col("ss"), F.lit(0).cast("long"), lambda acc, s: acc + s["n"])
    return per_user.select(
        "user_id",
        F.round(state["l"], 4).alias("level"),
        F.round(state["b"], 4).alias("trend"),
        n.alias("n_ticks"),
    )


@register(
    "q_win_rolling_ols",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, di,
             CAST(count(*) OVER win AS BIGINT) AS n,
             CAST(sum(di) OVER win AS BIGINT) AS sx,
             CAST(sum(cents) OVER win AS BIGINT) AS sy,
             CAST(sum(di * cents) OVER win AS BIGINT) AS sxy,
             CAST(sum(di * di) OVER win AS BIGINT) AS sxx
      FROM d
      WINDOW win AS (PARTITION BY event_type ORDER BY di
                     ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, di, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) + 0.0 AS slope_cents_per_day
    FROM w WHERE n >= 2
    """,
)
def q_win_rolling_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day OLS revenue slope per event type — the
    trailing-trend screener (q_stats_trend is the single global fit;
    this is its windowed form). The five regression moments (n, Σx,
    Σy, Σxy, Σx²) accumulate as EXACT BIGINTS inside one 30-row frame
    — integer addition commutes, so the frame sums are
    order-independent, and the closed-form slope divides two exact
    integers. That exactness is load-bearing here: n·Σx² and (Σx)²
    agree to ~5 significant digits on epoch-day x values, so a float
    accumulation would catastrophically cancel in the denominator.
    One exchange (event_type), all five sums share the frame; ticks
    collapse to the |types|×|days| daily table first."""
    daily = daily_bars(_t(spark, sf_dir, "events"), cents=F.sum("c").cast("long"))
    from pyspark.sql import Window

    win = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rowsBetween(-29, Window.currentRow)
    )
    w = daily.select(
        "event_type",
        "di",
        F.count("*").over(win).cast("long").alias("n"),
        F.sum("di").over(win).cast("long").alias("sx"),
        F.sum("cents").over(win).cast("long").alias("sy"),
        F.sum(F.col("di") * F.col("cents")).over(win).cast("long").alias("sxy"),
        F.sum(F.col("di") * F.col("di")).over(win).cast("long").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    return w.filter(n >= 2).select(
        "event_type",
        "di",
        "n",
        (
            F.round((n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx), 6) + 0.0
        ).alias("slope_cents_per_day"),
    )


@register(
    "q_risk_metrics",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY di
    ),
    r AS (
      SELECT CAST(floor(ln(CAST(y AS DOUBLE)
                           / lag(y) OVER (ORDER BY di)) * 1000000)
                  AS BIGINT) AS qr
      FROM d
    ),
    rr AS (
      SELECT qr,
             row_number() OVER (ORDER BY qr) AS rk,
             count(*) OVER () AS n
      FROM r WHERE qr IS NOT NULL
    ),
    k AS (SELECT rr.*, greatest(1, CAST(floor(0.05 * n) AS BIGINT)) AS kk FROM rr),
    a AS (
      SELECT any_value(n) AS n_days,
             CAST(sum(qr) AS BIGINT) AS s1,
             CAST(sum(CAST(qr AS HUGEINT) * qr) AS HUGEINT) AS s2,
             max(CASE WHEN rk = kk THEN qr END) AS var_q,
             CAST(sum(CASE WHEN rk <= kk THEN qr END) AS BIGINT) AS tail_s,
             CAST(sum(CASE WHEN rk <= kk THEN 1 END) AS BIGINT) AS tail_n
      FROM k
    )
    SELECT n_days,
           round(sqrt((CAST(s2 AS DOUBLE) / n_days
                       - pow(CAST(s1 AS DOUBLE) / n_days, 2)) * 365)
                 / 1000000, 6) + 0.0 AS vol_ann,
           round((CAST(s1 AS DOUBLE) / n_days) * 365
                 / (sqrt((CAST(s2 AS DOUBLE) / n_days
                          - pow(CAST(s1 AS DOUBLE) / n_days, 2)) * 365)), 4)
             + 0.0 AS sharpe_ann,
           round(-var_q / 1000000.0, 6) + 0.0 AS var5,
           round(-(CAST(tail_s AS DOUBLE) / tail_n) / 1000000.0, 6) + 0.0 AS cvar5
    FROM a
    """,
)
def q_risk_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue risk report: annualized volatility and Sharpe of
    the log-return series plus historical 5% VaR and CVaR (expected
    shortfall) — the standing risk page of any crypto trading desk.

    Float policy: each day's log return is ONE deterministic double
    (ln of a ratio of exact cent totals) quantized to a bigint 1e-6
    grid (the q_text_zipf idiom), so every downstream moment, the
    order-statistic VaR cut (k = max(1, floor(0.05n)) smallest) and
    the tail mean are order-independent integer arithmetic; doubles
    reappear only in the final rounded columns.

    Scale shape: the fact table collapses to the calendar-bounded
    daily series in ONE hash aggregate; the lag and rank windows run
    on those ~2.4k rows (constant at any corpus size); the report is
    a single aggregate of that."""
    o = _t(spark, sf_dir, "orders")
    d = (
        o.select(
            F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("di"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("di")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    wlag = Window.orderBy("di")
    r = d.select(
        F.floor(
            F.log(F.col("y").cast("double") / F.lag("y").over(wlag)) * 1000000
        )
        .cast("long")
        .alias("qr")
    ).filter(F.col("qr").isNotNull())
    rr = r.select(
        "qr",
        F.row_number().over(Window.orderBy("qr")).alias("rk"),
        F.count("*")
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    k = rr.withColumn(
        "kk", F.greatest(F.lit(1), F.floor(0.05 * F.col("n")).cast("long"))
    )
    a = k.agg(
        F.any_value("n").cast("long").alias("n_days"),
        F.sum("qr").cast("long").alias("s1"),
        F.sum((F.col("qr") * F.col("qr")).cast("decimal(38,0)")).alias("s2"),
        F.max(F.when(F.col("rk") == F.col("kk"), F.col("qr"))).alias("var_q"),
        F.sum(F.when(F.col("rk") <= F.col("kk"), F.col("qr")))
        .cast("long")
        .alias("tail_s"),
        F.sum(F.when(F.col("rk") <= F.col("kk"), 1)).cast("long").alias("tail_n"),
    )
    mean = F.col("s1").cast("double") / F.col("n_days")
    var = F.col("s2").cast("double") / F.col("n_days") - F.pow(mean, 2)
    vol_ann = F.sqrt(var * 365)
    return a.select(
        "n_days",
        (F.round(vol_ann / 1000000, 6) + 0.0).alias("vol_ann"),
        (F.round(mean * 365 / vol_ann, 4) + 0.0).alias("sharpe_ann"),
        (F.round(-F.col("var_q") / 1000000.0, 6) + 0.0).alias("var5"),
        (
            F.round(
                -(F.col("tail_s").cast("double") / F.col("tail_n")) / 1000000.0, 6
            )
            + 0.0
        ).alias("cvar5"),
    )


@register(
    "q_seasonal_decompose",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS di,
             strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY di, day
    ),
    w AS (
      SELECT di, day, y, (di + 3) % 7 AS dow,
             CAST(sum(y) OVER f AS BIGINT) AS s7,
             CAST(count(*) OVER f AS BIGINT) AS c7
      FROM d
      WINDOW f AS (ORDER BY di ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    s AS (
      SELECT dow,
             CAST(sum(CASE WHEN c7 = 7 THEN 7 * y - s7 END) AS BIGINT) AS ssum,
             CAST(count(CASE WHEN c7 = 7 THEN 1 END) AS BIGINT) AS scnt
      FROM w GROUP BY dow
    )
    SELECT day,
           round(y / 100.0, 2) AS revenue,
           round(CASE WHEN c7 = 7 THEN s7 / 700.0 END, 4) + 0.0 AS trend,
           round(CAST(ssum AS DOUBLE) / (700.0 * scnt), 4) + 0.0 AS seasonal,
           round(CASE WHEN c7 = 7
                      THEN y / 100.0 - s7 / 700.0
                           - CAST(ssum AS DOUBLE) / (700.0 * scnt) END, 4) + 0.0
             AS resid
    FROM w JOIN s USING (dow)
    ORDER BY day
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue:
    trend = centered 7-observation moving average, seasonal = per
    day-of-week mean of the detrended series, residual = the rest —
    the decomposition q_seasonality's index view is a summary of.

    Exactness: the detrended value is carried as the exact integer
    7y − Σ₇ (no division before aggregation), so the day-of-week means
    are ratios of exact integers; day-of-week itself is pure epoch-day
    arithmetic ((di+3) % 7 — no engine calendar involved); doubles
    appear only in the final rounded columns (trend/resid NULL at the
    3-row series edges on both engines, +0.0 folds −0.0).

    Scale shape: one fact-scan hash aggregate to the calendar-bounded
    daily series; the centered window and the 7-row day-of-week
    aggregate run on that (~2.4k rows, constant at any corpus size);
    the seasonal table broadcasts back."""
    o = _t(spark, sf_dir, "orders")
    d = (
        o.select(
            F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("di"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("di", "day")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    f = Window.orderBy("di").rowsBetween(-3, 3)
    w = d.select(
        "di",
        "day",
        "y",
        ((F.col("di") + 3) % 7).alias("dow"),
        F.sum("y").over(f).cast("long").alias("s7"),
        F.count("*").over(f).cast("long").alias("c7"),
    )
    s = w.groupBy("dow").agg(
        F.sum(F.when(F.col("c7") == 7, 7 * F.col("y") - F.col("s7")))
        .cast("long")
        .alias("ssum"),
        F.count(F.when(F.col("c7") == 7, 1)).cast("long").alias("scnt"),
    )
    seasonal = F.col("ssum").cast("double") / (700.0 * F.col("scnt"))
    trend = F.when(F.col("c7") == 7, F.col("s7") / 700.0)
    resid = F.when(
        F.col("c7") == 7, F.col("y") / 100.0 - F.col("s7") / 700.0 - seasonal
    )
    return (
        w.join(F.broadcast(s), "dow")
        .select(
            "day",
            F.round(F.col("y") / 100.0, 2).alias("revenue"),
            (F.round(trend, 4) + 0.0).alias("trend"),
            (F.round(seasonal, 4) + 0.0).alias("seasonal"),
            (F.round(resid, 4) + 0.0).alias("resid"),
        )
        .orderBy("day")
    )


@register(
    "q_drawdown_duration",
    oracle="""
    WITH w AS (
      SELECT user_id, value, ts, event_id,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
      FROM events
    ),
    f AS (
      SELECT user_id, CASE WHEN value < peak THEN 1 ELSE 0 END AS uw,
             sum(CASE WHEN value < peak THEN 0 ELSE 1 END)
               OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
            FROM w)
    ),
    s AS (
      SELECT user_id, grp, CAST(sum(uw) AS BIGINT) AS streak
      FROM f WHERE uw = 1 GROUP BY user_id, grp
    )
    SELECT user_id, CAST(max(streak) AS BIGINT) AS max_streak,
           CAST(sum(streak) AS BIGINT) AS n_underwater
    FROM s GROUP BY user_id
    ORDER BY max_streak DESC, user_id ASC
    LIMIT 20
    """,
)
def q_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown duration: each user's longest unbroken run of events
    below their running peak value (plus total underwater events),
    top-20 — the time-in-drawdown readout that complements
    q_drawdown's depth ratio (how LONG underwater, not how deep).

    Gaps-islands on the running-max flag: the island id is the running
    count of at-peak rows, so one (user_id) exchange and ONE sort
    serve the peak window, the flag, and the island id; streak sizing
    and the per-user max are hash aggregates with map-side combine,
    and the top-20 lowers to TakeOrderedAndProject. Every decision is
    an integer count or a comparison of identical doubles — nothing to
    quantize."""
    ev = _t(spark, sf_dir, "events")
    wpk = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = ev.select(
        "user_id",
        "value",
        "ts",
        "event_id",
        F.max("value").over(wpk).alias("peak"),
    )
    uw = F.when(F.col("value") < F.col("peak"), 1).otherwise(0)
    grpw = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = w.select(
        "user_id",
        uw.alias("uw"),
        F.sum(1 - uw).over(grpw).alias("grp"),
    )
    s = (
        f.filter(F.col("uw") == 1)
        .groupBy("user_id", "grp")
        .agg(F.sum("uw").cast("long").alias("streak"))
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.max("streak").cast("long").alias("max_streak"),
            F.sum("streak").cast("long").alias("n_underwater"),
        )
        .orderBy(F.desc("max_streak"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "q_variance_ratio",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY di
    ),
    r AS (
      SELECT di,
             CAST(floor(ln(CAST(y AS DOUBLE)
                           / lag(y) OVER (ORDER BY di)) * 1000000)
                  AS BIGINT) AS qr
      FROM d
    ),
    rr AS (SELECT di, qr, row_number() OVER (ORDER BY di) AS rn
           FROM r WHERE qr IS NOT NULL),
    ks AS (SELECT unnest([2, 4, 8]) AS k),
    sums AS (
      SELECT ks.k, rr.rn,
             CAST(sum(rr2.qr) AS BIGINT) AS sk,
             CAST(count(rr2.qr) AS BIGINT) AS cnt
      FROM ks, rr JOIN rr rr2 ON rr2.rn BETWEEN rr.rn - ks.k + 1 AND rr.rn
      GROUP BY ks.k, rr.rn
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n1,
             CAST(sum(qr) AS BIGINT) AS s1,
             CAST(sum(CAST(qr AS HUGEINT) * qr) AS HUGEINT) AS ss1
      FROM rr
    ),
    agg AS (
      SELECT k, CAST(count(*) AS BIGINT) AS nk,
             CAST(sum(sk) AS BIGINT) AS sks,
             CAST(sum(CAST(sk AS HUGEINT) * sk) AS HUGEINT) AS ssk
      FROM sums WHERE cnt = k GROUP BY k
    )
    SELECT k, nk AS n_obs,
           round(
             ((CAST(ssk AS DOUBLE) / nk) - pow(CAST(sks AS DOUBLE) / nk, 2))
             / (k * ((CAST(ss1 AS DOUBLE) / n1)
                     - pow(CAST(s1 AS DOUBLE) / n1, 2))), 4) + 0.0 AS vr
    FROM agg, base ORDER BY k
    """,
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-ratio test (Lo-MacKinlay shape, overlapping sums, no
    bias correction) of the daily log-return series at horizons
    k = 2, 4, 8: VR(k) = Var(k-period return) / (k · Var(1-period)) —
    the random-walk / mean-reversion diagnostic a quant desk runs
    before trusting any momentum signal (VR < 1 → mean-reverting).

    Exactness: returns live on the 1e-6 ln bigint grid; every
    k-period return is an exact integer WINDOW SUM of those, so both
    variances come from exact (Σ, Σ²) integer moments (HUGEINT /
    decimal — squares of summed grid values overflow bigint at long
    horizons) and the ratio is one deterministic double, rounded.

    Scale shape: fact table → calendar-bounded daily series in one
    hash aggregate; three bounded-frame window passes (or one join
    against a 3-row horizon table) over ~2.4k rows; constant work at
    any corpus size."""
    o = _t(spark, sf_dir, "orders")
    d = (
        o.select(
            F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("di"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("di")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    wlag = Window.orderBy("di")
    rr = (
        d.select(
            "di",
            F.floor(
                F.log(F.col("y").cast("double") / F.lag("y").over(wlag)) * 1000000
            )
            .cast("long")
            .alias("qr"),
        )
        .filter(F.col("qr").isNotNull())
        .persist()
    )
    base = rr.agg(
        F.count("*").cast("long").alias("n1"),
        F.sum("qr").cast("long").alias("s1"),
        F.sum((F.col("qr") * F.col("qr")).cast("decimal(38,0)")).alias("ss1"),
    )
    parts = []
    for k in (2, 4, 8):
        wk = Window.orderBy("di").rowsBetween(-(k - 1), 0)
        sums = rr.select(
            F.sum("qr").over(wk).cast("long").alias("sk"),
            F.count("qr").over(wk).cast("long").alias("cnt"),
        ).filter(F.col("cnt") == k)
        parts.append(
            sums.agg(
                F.lit(k).cast("long").alias("k"),
                F.count("*").cast("long").alias("nk"),
                F.sum("sk").cast("long").alias("sks"),
                F.sum((F.col("sk") * F.col("sk")).cast("decimal(38,0)")).alias("ssk"),
            )
        )
    agg = parts[0].unionByName(parts[1]).unionByName(parts[2])
    var_k = F.col("ssk").cast("double") / F.col("nk") - F.pow(
        F.col("sks").cast("double") / F.col("nk"), 2
    )
    var_1 = F.col("ss1").cast("double") / F.col("n1") - F.pow(
        F.col("s1").cast("double") / F.col("n1"), 2
    )
    return (
        agg.crossJoin(F.broadcast(base))
        .select(
            "k",
            F.col("nk").alias("n_obs"),
            (F.round(var_k / (F.col("k") * var_1), 4) + 0.0).alias("vr"),
        )
        .orderBy("k")
    )


@register(
    "q_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di
      FROM events
    ),
    mx AS (SELECT max(di) AS max_di FROM ud),
    c AS (
      SELECT user_id, di,
             lag(di) OVER (PARTITION BY user_id ORDER BY di) AS prev,
             lead(di) OVER (PARTITION BY user_id ORDER BY di) AS next
      FROM ud
    ),
    act AS (
      SELECT di,
             CAST(count(*) FILTER (WHERE prev IS NULL) AS BIGINT) AS n_new,
             CAST(count(*) FILTER (WHERE prev = di - 1) AS BIGINT) AS n_retained,
             CAST(count(*) FILTER (WHERE prev < di - 1) AS BIGINT) AS n_resurrected
      FROM c GROUP BY di
    ),
    ch AS (
      SELECT c.di + 1 AS di, CAST(count(*) AS BIGINT) AS n_churned
      FROM c, mx
      WHERE (c.next IS NULL OR c.next > c.di + 1) AND c.di + 1 <= mx.max_di
      GROUP BY c.di + 1
    )
    SELECT strftime(DATE '1970-01-01' + CAST(coalesce(act.di, ch.di) AS INT),
                    '%Y-%m-%d') AS day,
           coalesce(n_new, 0) AS n_new,
           coalesce(n_retained, 0) AS n_retained,
           coalesce(n_resurrected, 0) AS n_resurrected,
           coalesce(n_churned, 0) AS n_churned
    FROM act FULL OUTER JOIN ch ON act.di = ch.di
    ORDER BY day
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, how many active users are NEW
    (first-ever day), RETAINED (also active yesterday), RESURRECTED
    (returning after a gap), and how many CHURNED that day (active
    yesterday or earlier, next activity not today) — the
    new/retained/resurrected/churned ledger every growth team reports.

    One (user_id) exchange serves both the lag and lead; day
    classification is pure epoch-day integer arithmetic; the active
    and churn sides are |days|-bounded aggregates full-outer-joined on
    the day; the 1-row max-day bound stops churn attribution past the
    series end. Identity new+retained+resurrected = DAU holds by
    construction and is pinned in tests."""
    ud = _t(spark, sf_dir, "events").select("user_id", day_index()).distinct()
    w = Window.partitionBy("user_id").orderBy("di")
    c = ud.select(
        "user_id",
        "di",
        F.lag("di").over(w).alias("prev"),
        F.lead("di").over(w).alias("next"),
    ).persist()
    act = c.groupBy("di").agg(
        F.count(F.when(F.col("prev").isNull(), 1)).cast("long").alias("n_new"),
        F.count(F.when(F.col("prev") == F.col("di") - 1, 1))
        .cast("long")
        .alias("n_retained"),
        F.count(F.when(F.col("prev") < F.col("di") - 1, 1))
        .cast("long")
        .alias("n_resurrected"),
    )
    mx = c.agg(F.max("di").alias("max_di"))
    ch = (
        c.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("next").isNull() | (F.col("next") > F.col("di") + 1))
            & (F.col("di") + 1 <= F.col("max_di"))
        )
        .select((F.col("di") + 1).alias("di"))
        .groupBy("di")
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    j = act.join(ch, "di", "full_outer")
    return j.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("di").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained"),
        F.coalesce("n_resurrected", F.lit(0)).cast("long").alias("n_resurrected"),
        F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
    ).orderBy("day")


@register(
    "q_win_hurst",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY di
    ),
    r AS (
      SELECT di, CAST(floor(ln(CAST(y AS DOUBLE)
                               / lag(y) OVER (ORDER BY di)) * 1000000)
                      AS BIGINT) AS qr
      FROM d
    ),
    rr AS (SELECT qr, row_number() OVER (ORDER BY di) AS rn
           FROM r WHERE qr IS NOT NULL),
    ks AS (SELECT unnest([8, 16, 32]) AS m),
    blk AS (
      SELECT m, qr, rn, (rn - 1) // m AS b,
             row_number() OVER (PARTITION BY m, (rn - 1) // m ORDER BY rn) AS k,
             sum(qr) OVER (PARTITION BY m, (rn - 1) // m ORDER BY rn
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             CAST(sum(qr) OVER (PARTITION BY m, (rn - 1) // m) AS BIGINT) AS sb,
             CAST(sum(CAST(qr AS HUGEINT) * qr)
                  OVER (PARTITION BY m, (rn - 1) // m) AS HUGEINT) AS ssb,
             CAST(count(*) OVER (PARTITION BY m, (rn - 1) // m) AS BIGINT) AS cb
      FROM ks, rr
    ),
    pb AS (
      SELECT m, b,
             CAST(max(m * cum - k * sb) - min(m * cum - k * sb) AS BIGINT)
               AS r_scaled,
             any_value(sb) AS sb, any_value(ssb) AS ssb
      FROM blk WHERE cb = m GROUP BY m, b
    ),
    rs AS (
      SELECT m,
             CAST(floor(
               (CAST(r_scaled AS DOUBLE) / m)
               / sqrt(CAST(ssb AS DOUBLE) / m
                      - pow(CAST(sb AS DOUBLE) / m, 2))
               * 1000000) AS BIGINT) AS qrs
      FROM pb
    ),
    pm AS (
      SELECT m, CAST(count(*) AS BIGINT) AS nb, CAST(sum(qrs) AS BIGINT) AS s
      FROM rs GROUP BY m
    ),
    pts AS (
      SELECT CAST(floor(ln(m) * 1000000) AS BIGINT) AS qx,
             CAST(floor(ln(CAST(s AS DOUBLE) / nb / 1000000.0) * 1000000)
                  AS BIGINT) AS qy,
             m, nb, s
      FROM pm
    ),
    ols AS (
      SELECT CAST(count(*) AS BIGINT) AS np,
             CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
             CAST(sum((qx * qy) // 1000000) AS BIGINT) AS sxy,
             CAST(sum((qx * qx) // 1000000) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT round(CAST(np * sxy - (sx * sy) // 1000000 AS DOUBLE)
                 / (np * sxx - (sx * sx) // 1000000), 4) + 0.0 AS hurst,
           (SELECT round(CAST(s AS DOUBLE) / nb / 1000000.0, 4)
            FROM pm WHERE m = 8) AS rs_8,
           (SELECT round(CAST(s AS DOUBLE) / nb / 1000000.0, 4)
            FROM pm WHERE m = 16) AS rs_16,
           (SELECT round(CAST(s AS DOUBLE) / nb / 1000000.0, 4)
            FROM pm WHERE m = 32) AS rs_32
    FROM ols
    """,
)
def q_win_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of the daily
    log-return series at block sizes 8/16/32 — the long-memory
    diagnostic (H≈0.5 random walk, >0.5 trending, <0.5 mean-reverting)
    that complements q_variance_ratio's fixed-horizon test.

    Exactness: within each block the mean-adjusted cumulative
    deviation is carried SCALED BY m (D_k = m·Σ₁..k − k·Σ_block — no
    division), so R is an exact integer; S comes from exact block
    moments; each block's R/S quantizes to the 1e-6 grid before the
    per-size mean, and the final ln-ln OLS runs on grid integers (the
    q_text_zipf discipline).

    Scale shape: the block partitioning key (m, ⌊rn/m⌋) makes every
    window frame ≤32 rows; one exchange serves the within-block
    cumsum, the block totals, and the per-block reduce; everything
    downstream is ≤|blocks| rows. The base series is calendar-bounded."""
    o = _t(spark, sf_dir, "orders")
    d = (
        o.select(
            F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("di"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("di")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    rr = (
        d.select(
            "di",
            F.floor(
                F.log(F.col("y").cast("double") / F.lag("y").over(Window.orderBy("di")))
                * 1000000
            )
            .cast("long")
            .alias("qr"),
        )
        .filter(F.col("qr").isNotNull())
        .select("qr", F.row_number().over(Window.orderBy("di")).alias("rn"))
    )
    blk = rr.select(
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("m"), "qr", "rn"
    ).select("*", F.expr("(rn - 1) div m").alias("b"))
    wcum = (
        Window.partitionBy("m", "b")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("m", "b")
    w = blk.select(
        "m",
        "b",
        F.row_number().over(Window.partitionBy("m", "b").orderBy("rn")).alias("k"),
        F.sum("qr").over(wcum).cast("long").alias("cum"),
        F.sum("qr").over(wall).cast("long").alias("sb"),
        F.sum((F.col("qr") * F.col("qr")).cast("decimal(38,0)")).over(wall).alias(
            "ssb"
        ),
        F.count("*").over(wall).cast("long").alias("cb"),
    )
    dk = F.col("m") * F.col("cum") - F.col("k") * F.col("sb")
    pb = (
        w.filter(F.col("cb") == F.col("m"))
        .groupBy("m", "b")
        .agg(
            (F.max(dk) - F.min(dk)).cast("long").alias("r_scaled"),
            F.any_value("sb").alias("sb"),
            F.any_value("ssb").alias("ssb"),
        )
    )
    s_dev = F.sqrt(
        F.col("ssb").cast("double") / F.col("m")
        - F.pow(F.col("sb").cast("double") / F.col("m"), 2)
    )
    rs = pb.select(
        "m",
        F.floor((F.col("r_scaled").cast("double") / F.col("m")) / s_dev * 1000000)
        .cast("long")
        .alias("qrs"),
    )
    pm = rs.groupBy("m").agg(
        F.count("*").cast("long").alias("nb"), F.sum("qrs").cast("long").alias("s")
    )
    pts = pm.select(
        "m",
        "nb",
        "s",
        F.floor(F.log(F.col("m").cast("double")) * 1000000).cast("long").alias("qx"),
        F.floor(
            F.log(F.col("s").cast("double") / F.col("nb") / 1000000.0) * 1000000
        )
        .cast("long")
        .alias("qy"),
    ).persist()
    ols = pts.agg(
        F.count("*").cast("long").alias("np"),
        F.sum("qx").cast("long").alias("sx"),
        F.sum("qy").cast("long").alias("sy"),
        F.sum(F.expr("(qx * qy) div 1000000")).cast("long").alias("sxy"),
        F.sum(F.expr("(qx * qx) div 1000000")).cast("long").alias("sxx"),
    )
    h = (
        F.col("np") * F.col("sxy") - F.expr("(sx * sy) div 1000000")
    ).cast("double") / (F.col("np") * F.col("sxx") - F.expr("(sx * sx) div 1000000"))
    rs_col = lambda mm: F.any_value(  # noqa: E731
        F.when(F.col("m") == mm, F.round(F.col("s") / F.col("nb") / 1000000.0, 4))
        , True
    )
    wide = pts.agg(
        rs_col(8).alias("rs_8"), rs_col(16).alias("rs_16"), rs_col(32).alias("rs_32")
    )
    return ols.select((F.round(h, 4) + 0.0).alias("hurst")).crossJoin(
        F.broadcast(wide)
    )


@register(
    "q_win_ichimoku",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo
      FROM events GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT event_type, di, day,
             (max(hi) OVER w9 + min(lo) OVER w9) / 200.0 AS tenkan,
             (max(hi) OVER w26 + min(lo) OVER w26) / 200.0 AS kijun,
             CAST(count(*) OVER w9 AS BIGINT) AS c9,
             CAST(count(*) OVER w26 AS BIGINT) AS c26
      FROM d
      WINDOW
        w9 AS (PARTITION BY event_type ORDER BY di
               ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        w26 AS (PARTITION BY event_type ORDER BY di
                ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT event_type, di, day,
             CASE WHEN c9 = 9 THEN tenkan END AS tenkan,
             CASE WHEN c26 = 26 THEN kijun END AS kijun,
             CASE WHEN c9 = 9 AND c26 = 26
                  THEN (tenkan + kijun) / 2.0 END AS senkou_a_now
      FROM w
    )
    SELECT event_type, day,
           round(tenkan, 4) + 0.0 AS tenkan,
           round(kijun, 4) + 0.0 AS kijun,
           round(lag(senkou_a_now, 26) OVER
                   (PARTITION BY event_type ORDER BY di), 4) + 0.0 AS senkou_a
    FROM s ORDER BY event_type, day
    """,
)
def q_win_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku baseline set per event type's daily bars: Tenkan-sen
    (9-day channel midpoint), Kijun-sen (26-day), and Senkou span A
    (their mean projected 26 days forward) — completing the
    technical-analysis family beside ATR/Bollinger/RSI/MACD/
    stochastic/OBV.

    Midpoints are (max+min)/2 over integer cent extremes — exact
    halves, no accumulation — so rounding is safe without
    quantization; warm-up rows (incomplete 9/26 frames) are NULL on
    both engines, and the forward projection is a plain lag(…, 26) on
    the same exchange. One hash agg to |types|×|days| bars, then ALL
    windows (9, 26, and the lag) share ONE (event_type, di)
    exchange+sort; frames are ≤26 rows."""
    d = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", day=True)
    w9 = Window.partitionBy("event_type").orderBy("di").rowsBetween(-8, 0)
    w26 = Window.partitionBy("event_type").orderBy("di").rowsBetween(-25, 0)
    wl = Window.partitionBy("event_type").orderBy("di")
    tenkan = (F.max("hi").over(w9) + F.min("lo").over(w9)) / 200.0
    kijun = (F.max("hi").over(w26) + F.min("lo").over(w26)) / 200.0
    s = d.select(
        "event_type",
        "di",
        "day",
        F.when(F.count("*").over(w9) == 9, tenkan).alias("tenkan"),
        F.when(F.count("*").over(w26) == 26, kijun).alias("kijun"),
        F.when(
            (F.count("*").over(w9) == 9) & (F.count("*").over(w26) == 26),
            (tenkan + kijun) / 2.0,
        ).alias("senkou_a_now"),
    )
    return s.select(
        "event_type",
        "day",
        (F.round("tenkan", 4) + 0.0).alias("tenkan"),
        (F.round("kijun", 4) + 0.0).alias("kijun"),
        (F.round(F.lag("senkou_a_now", 26).over(wl), 4) + 0.0).alias("senkou_a"),
    ).orderBy("event_type", "day")


@register(
    "q_liquidity_metrics",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS vol,
             CAST(count(*) AS BIGINT) AS n_ticks
      FROM events WHERE value > 0 GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, di, hi, lo, vol, n_ticks,
             CAST(floor(abs(ln(CAST(vol AS DOUBLE)
                               / lag(vol) OVER (PARTITION BY event_type
                                                ORDER BY di))) * 1000000)
                  AS BIGINT) AS qaret,
             CAST(floor(pow(ln(CAST(hi AS DOUBLE) / lo), 2) * 1000000000)
                  AS BIGINT) AS qhl2
      FROM b
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CAST(qaret AS HUGEINT) * 1000000 // vol) AS BIGINT)
               AS amihud_q,
             CAST(count(qaret) AS BIGINT) AS n_ret,
             CAST(sum(qhl2) AS BIGINT) AS hl2_q
      FROM r GROUP BY event_type
    )
    SELECT event_type, n_days,
           round(CAST(amihud_q AS DOUBLE) / n_ret, 4) + 0.0 AS amihud,
           round(sqrt(CAST(hl2_q AS DOUBLE) / 1000000000
                      / (4 * ln(2) * n_days)), 6) + 0.0 AS parkinson_vol
    FROM m ORDER BY event_type
    """,
)
def q_liquidity_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market liquidity/efficiency metrics per event type from daily
    bars: Amihud illiquidity (mean |return| per unit volume, scaled)
    and Parkinson high-low range volatility — the microstructure
    screen beside q_win_volatility's close-to-close estimate.

    Exactness: |log return| and ln(hi/lo)² each quantize to a bigint
    grid immediately after their ONE deterministic double evaluation
    (inputs are exact cent integers); the Amihud per-day ratio divides
    the grid integer by exact volume with integer division before the
    sum, so both aggregates are order-independent.

    Scale shape: ticks → |types|×|days| bars in one hash aggregate;
    one lag window on that bounded table; one re-aggregate to |types|
    rows."""
    b = daily_bars(
        _t(spark, sf_dir, "events").filter(F.col("value") > 0),
        "hi",
        "lo",
        vol=F.sum("c").cast("long"),
        n_ticks=F.count("*").cast("long"),
    )
    wlag = Window.partitionBy("event_type").orderBy("di")
    r = b.select(
        "event_type",
        "di",
        "vol",
        F.floor(
            F.abs(F.log(F.col("vol").cast("double") / F.lag("vol").over(wlag)))
            * 1000000
        )
        .cast("long")
        .alias("qaret"),
        F.floor(
            F.pow(F.log(F.col("hi").cast("double") / F.col("lo")), 2) * 1000000000
        )
        .cast("long")
        .alias("qhl2"),
    )
    m = r.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.expr("(CAST(qaret AS DECIMAL(38,0)) * 1000000) div vol"))
        .cast("long")
        .alias("amihud_q"),
        F.count("qaret").cast("long").alias("n_ret"),
        F.sum("qhl2").cast("long").alias("hl2_q"),
    )
    import math

    return m.select(
        "event_type",
        "n_days",
        (F.round(F.col("amihud_q").cast("double") / F.col("n_ret"), 4) + 0.0).alias(
            "amihud"
        ),
        (
            F.round(
                F.sqrt(
                    F.col("hl2_q").cast("double")
                    / 1000000000
                    / (4 * math.log(2) * F.col("n_days"))
                ),
                6,
            )
            + 0.0
        ).alias("parkinson_vol"),
    ).orderBy("event_type")


@register(
    "q_orderflow_imbalance",
    oracle="""
    WITH t AS (
      SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) AS c,
             lag(CAST(floor(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT event_type,
           CAST(count(*) FILTER (WHERE c > prev) AS BIGINT) AS n_up,
           CAST(count(*) FILTER (WHERE c < prev) AS BIGINT) AS n_down,
           CAST(sum(c) FILTER (WHERE c > prev) AS BIGINT) AS buy_cents,
           CAST(sum(c) FILTER (WHERE c < prev) AS BIGINT) AS sell_cents,
           round(CAST(sum(c) FILTER (WHERE c > prev)
                      - sum(c) FILTER (WHERE c < prev) AS DOUBLE)
                 / (sum(c) FILTER (WHERE c > prev)
                    + sum(c) FILTER (WHERE c < prev)), 6) + 0.0 AS imbalance
    FROM t GROUP BY event_type ORDER BY event_type
    """,
)
def q_orderflow_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule order-flow imbalance per event type: upticks classify
    as buys, downticks as sells (the simplified tick test), and the
    signed volume imbalance (b−s)/(b+s) summarizes flow direction —
    the microstructure pressure gauge beside q_liquidity_metrics.

    One (event_type) exchange+sort for the lag; classification and
    the conditional integer sums collapse in the same hash aggregate
    with map-side combine; the only double is the final rounded
    ratio of exact integers. Zero-change ticks are unclassified
    (excluded from both sides) on both engines."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    c = F.floor(F.col("value") * 100).cast("long")
    t = ev.select("event_type", c.alias("c"), F.lag(c).over(w).alias("prev"))
    up, dn = F.col("c") > F.col("prev"), F.col("c") < F.col("prev")
    g = t.groupBy("event_type").agg(
        F.count(F.when(up, 1)).cast("long").alias("n_up"),
        F.count(F.when(dn, 1)).cast("long").alias("n_down"),
        F.sum(F.when(up, F.col("c"))).cast("long").alias("buy_cents"),
        F.sum(F.when(dn, F.col("c"))).cast("long").alias("sell_cents"),
    )
    return g.select(
        "event_type",
        "n_up",
        "n_down",
        "buy_cents",
        "sell_cents",
        (
            F.round(
                (F.col("buy_cents") - F.col("sell_cents")).cast("double")
                / (F.col("buy_cents") + F.col("sell_cents")),
                6,
            )
            + 0.0
        ).alias("imbalance"),
    ).orderBy("event_type")


@register(
    "q_win_pivot_points",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    p AS (
      SELECT event_type, di, day,
             lag(hi) OVER w AS ph, lag(lo) OVER w AS pl, lag(cl) OVER w AS pc
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY di)
    )
    SELECT event_type, day,
           round((ph + pl + pc) / 300.0, 4) AS pivot,
           round((2 * (ph + pl + pc) / 3.0 - pl) / 100.0, 4) AS r1,
           round((2 * (ph + pl + pc) / 3.0 - ph) / 100.0, 4) AS s1,
           round(((ph + pl + pc) / 3.0 + (ph - pl)) / 100.0, 4) AS r2,
           round(((ph + pl + pc) / 3.0 - (ph - pl)) / 100.0, 4) AS s2
    FROM p WHERE ph IS NOT NULL ORDER BY event_type, day
    """,
)
def q_win_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot points per type and day: pivot,
    R1/S1, R2/S2 derived from the PREVIOUS day's high/low/close —
    the support/resistance levels published before each session.

    The previous-day carry is one lag window on the |types|×|days|
    bar table (the close is a deterministic max_by on (ts, event_id));
    every level is arithmetic on three exact integers divided once
    for display — no accumulation, no quantization needed. Warm-up
    (first day per type) is excluded on both engines."""
    b = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    w = Window.partitionBy("event_type").orderBy("di")
    p = b.select(
        "event_type",
        "day",
        F.lag("hi").over(w).alias("ph"),
        F.lag("lo").over(w).alias("pl"),
        F.lag("cl").over(w).alias("pc"),
    ).filter(F.col("ph").isNotNull())
    piv3 = (F.col("ph") + F.col("pl") + F.col("pc")) / 3.0
    return p.select(
        "event_type",
        "day",
        F.round((F.col("ph") + F.col("pl") + F.col("pc")) / 300.0, 4).alias("pivot"),
        F.round((2 * piv3 - F.col("pl")) / 100.0, 4).alias("r1"),
        F.round((2 * piv3 - F.col("ph")) / 100.0, 4).alias("s1"),
        F.round((piv3 + (F.col("ph") - F.col("pl"))) / 100.0, 4).alias("r2"),
        F.round((piv3 - (F.col("ph") - F.col("pl"))) / 100.0, 4).alias("s2"),
    ).orderBy("event_type", "day")


@register(
    "q_roll_spread",
    oracle="""
    WITH t AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 100) AS BIGINT)
             - lag(CAST(floor(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS d
      FROM events
    ),
    p AS (
      SELECT event_type, d AS cur,
             lag(d) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
      FROM t WHERE d IS NOT NULL
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(prev) AS HUGEINT) AS s1,
             CAST(sum(cur) AS HUGEINT) AS s2,
             CAST(sum(CAST(prev AS HUGEINT) * cur) AS HUGEINT) AS s12
      FROM p WHERE prev IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n_pairs,
           round(CAST(n_pairs * s12 - s1 * s2 AS DOUBLE)
                 / n_pairs / n_pairs / 10000.0, 6) + 0.0 AS serial_cov,
           CASE WHEN n_pairs * s12 - s1 * s2 < 0
                THEN round(2 * sqrt(-CAST(n_pairs * s12 - s1 * s2 AS DOUBLE)
                                    / n_pairs / n_pairs) / 100.0, 4) + 0.0
                END AS roll_spread
    FROM m ORDER BY event_type
    """,
)
def q_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll (1984) effective-spread estimator per event type: the
    bid-ask bounce makes consecutive price CHANGES negatively serially
    correlated, and spread = 2·sqrt(−Cov(Δp_t, Δp_{t−1})) recovers the
    effective spread from trade prices alone — the microstructure
    companion to q_liquidity_metrics' Amihud measure (positive serial
    covariance → NULL, the estimator's documented undefined case, on
    both engines).

    The WRONG plan is a self-join of the tick series on adjacent
    rows; here the (type)-partitioned (ts, event_id) sort order is
    REUSED by both lag passes (Spark plans one exchange+sort — the
    diff filter preserves the ordering), and the covariance folds
    from four exact decimal(38,0) moments per type —
    order-independent, divided once; sqrt on a deterministic double
    is IEEE-exact on both engines."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    c = F.floor(F.col("value") * 100).cast("long")
    t = ev.select(
        "event_type", "ts", "event_id", (c - F.lag(c).over(w)).alias("d")
    ).filter(F.col("d").isNotNull())
    p = t.select(
        "event_type",
        F.col("d").alias("cur"),
        F.lag("d").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    m = p.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(dec("prev")).alias("s1"),
        F.sum(dec("cur")).alias("s2"),
        F.sum(dec("prev") * dec("cur")).alias("s12"),
    )
    num = (dec("n_pairs") * F.col("s12") - F.col("s1") * F.col("s2"))
    return m.select(
        "event_type",
        "n_pairs",
        (
            F.round(
                num.cast("double") / F.col("n_pairs") / F.col("n_pairs") / 10000.0,
                6,
            )
            + 0.0
        ).alias("serial_cov"),
        F.when(
            num < 0,
            F.round(
                2
                * F.sqrt(
                    -num.cast("double") / F.col("n_pairs") / F.col("n_pairs")
                )
                / 100.0,
                4,
            )
            + 0.0,
        ).alias("roll_spread"),
    ).orderBy("event_type")


@register(
    "q_vol_estimators",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(min(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS op,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events WHERE value >= 0.01 GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type,
             CAST(floor(ln(CAST(hi AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(floor(ln(CAST(lo AS DOUBLE)) * 1000000) AS BIGINT) AS hl,
             CAST(floor(ln(CAST(cl AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(floor(ln(CAST(op AS DOUBLE)) * 1000000) AS BIGINT) AS co
      FROM b
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CAST(hl AS HUGEINT) * hl) AS HUGEINT) AS shl2,
             CAST(sum(CAST(co AS HUGEINT) * co) AS HUGEINT) AS sco2
      FROM g GROUP BY event_type
    )
    SELECT event_type, n_days,
           round(sqrt(CAST(shl2 AS DOUBLE) / n_days / (4 * ln(2))) / 1000000,
                 6) + 0.0 AS parkinson_vol,
           CASE WHEN 0.5 * CAST(shl2 AS DOUBLE) / n_days
                     - (2 * ln(2) - 1) * CAST(sco2 AS DOUBLE) / n_days > 0
                THEN round(sqrt(0.5 * CAST(shl2 AS DOUBLE) / n_days
                                - (2 * ln(2) - 1) * CAST(sco2 AS DOUBLE)
                                  / n_days) / 1000000, 6) + 0.0
                END AS gk_vol
    FROM m ORDER BY event_type
    """,
)
def q_vol_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based daily volatility estimators per event type:
    Parkinson (high/low range, ~5× more efficient than close-to-close)
    and Garman-Klass (adds the open→close term) — the estimators a
    market-data platform publishes next to realized vol
    (q_win_volatility) because they need only the daily bar, not the
    tick stream.

    The daily (O, H, L, C) bar collapses in ONE map-side-combined
    aggregate (open/close are deterministic struct-min/max on
    (ts, event_id)); ln(H/L) and ln(C/O) land on the house 1e-6
    bigint ln grid as DIFFERENCES of per-price grid values (exact
    ints), their squares sum exactly in decimal, and each estimator
    takes sqrt ONCE on the per-type mean — a negative Garman-Klass
    mean (possible by construction) is NULL on both engines."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value") >= 0.01)
    b = daily_bars(ev, "hi", "lo", "op", "cl")
    grid = lambda col: F.floor(F.log(F.col(col).cast("double")) * 1000000).cast(  # noqa: E731
        "long"
    )
    g = b.select(
        "event_type",
        (grid("hi") - grid("lo")).alias("hl"),
        (grid("cl") - grid("op")).alias("co"),
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    m = g.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(dec("hl") * dec("hl")).alias("shl2"),
        F.sum(dec("co") * dec("co")).alias("sco2"),
    )
    ln2 = 0.6931471805599453
    mhl = F.col("shl2").cast("double") / F.col("n_days")
    mco = F.col("sco2").cast("double") / F.col("n_days")
    gk = 0.5 * mhl - (2 * ln2 - 1) * mco
    return m.select(
        "event_type",
        "n_days",
        (F.round(F.sqrt(mhl / (4 * ln2)) / 1000000, 6) + 0.0).alias(
            "parkinson_vol"
        ),
        F.when(gk > 0, F.round(F.sqrt(gk) / 1000000, 6) + 0.0).alias("gk_vol"),
    ).orderBy("event_type")


@register(
    "q_win_vpin",
    oracle="""
    WITH t AS (
      SELECT event_type, ts, event_id,
             CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS BIGINT) AS vol,
             CAST(floor(value * 100) AS BIGINT)
             - lag(CAST(floor(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS d
      FROM events
    ),
    s AS (
      SELECT event_type, ts, event_id, vol,
             last_value(CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 END
                        IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sgn
      FROM t
    ),
    c AS (
      SELECT event_type, vol, sgn,
             sum(vol) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS cumvol
      FROM s WHERE sgn IS NOT NULL AND vol > 0
    ),
    b AS (
      SELECT event_type, (cumvol - 1) // 5000 AS bkt,
             CAST(sum(CASE WHEN sgn = 1 THEN vol ELSE 0 END) AS BIGINT) AS buy,
             CAST(sum(CASE WHEN sgn = -1 THEN vol ELSE 0 END) AS BIGINT) AS sell
      FROM c GROUP BY 1, 2
    ),
    q AS (
      SELECT event_type,
             (abs(buy - sell) * 1000000000) // (buy + sell) AS qi
      FROM b
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
           round(CAST(sum(qi) AS DOUBLE) / count(*) / 1000000000, 6) + 0.0
             AS vpin
    FROM q GROUP BY event_type ORDER BY event_type
    """,
)
def q_win_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN (volume-synchronized probability of informed trading,
    Easley/López de Prado/O'Hara): ticks classify buy/sell by the
    tick rule WITH sign carry-forward on zero-change ticks, volume
    accumulates into fixed 5000-unit buckets, and VPIN is the mean
    |buy−sell|/(buy+sell) across buckets — the flow-toxicity monitor
    that flagged the 2010 flash crash.

    Scale shape: one (type)-partitioned sort carries all three
    sequential passes (price diff, ignore-nulls sign carry, running
    volume) — no self-join anywhere; buckets collapse in one hash
    agg. Each bucket's imbalance ratio quantizes by INTEGER division
    to 1e-9 units, so the cross-bucket mean is a sum of exact
    bigints — bucket arrival order can never wiggle the float (the
    house quantize-then-average discipline)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    c100 = F.floor(F.col("value") * 100).cast("long")
    t = ev.select(
        "event_type",
        "ts",
        "event_id",
        props_volume().alias("vol"),
        (c100 - F.lag(c100).over(w)).alias("d"),
    )
    s = t.select(
        "event_type",
        "ts",
        "event_id",
        "vol",
        F.last(
            F.when(F.col("d") > 0, 1).when(F.col("d") < 0, -1), ignorenulls=True
        )
        .over(wrun)
        .alias("sgn"),
    )
    c = (
        s.filter(F.col("sgn").isNotNull() & (F.col("vol") > 0))
        .withColumn("cumvol", F.sum("vol").over(wrun))
    )
    b = c.groupBy(
        "event_type", F.expr("(cumvol - 1) div 5000").alias("bkt")
    ).agg(
        F.sum(F.when(F.col("sgn") == 1, F.col("vol")).otherwise(0))
        .cast("long")
        .alias("buy"),
        F.sum(F.when(F.col("sgn") == -1, F.col("vol")).otherwise(0))
        .cast("long")
        .alias("sell"),
    )
    q = b.select(
        "event_type",
        F.expr("(abs(buy - sell) * 1000000000) div (buy + sell)").alias("qi"),
    )
    return (
        q.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            (
                F.round(
                    F.sum("qi").cast("double") / F.count("*") / 1000000000, 6
                )
                + 0.0
            ).alias("vpin"),
        )
        .orderBy("event_type")
    )


@register(
    "q_win_rolling_beta",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    mkt AS (
      SELECT day, CAST(sum(cents) AS BIGINT) AS mcents FROM daily GROUP BY day
    ),
    rets AS (
      SELECT d.event_type, d.day,
             CAST(round(ln(CAST(d.cents AS DOUBLE)
                           / lag(d.cents) OVER (PARTITION BY d.event_type
                                                ORDER BY d.day))
                        * 1000000) AS BIGINT) AS qx,
             CAST(round(ln(CAST(m.mcents AS DOUBLE)
                           / lag(m.mcents) OVER (PARTITION BY d.event_type
                                                 ORDER BY d.day))
                        * 1000000) AS BIGINT) AS qm
      FROM daily d JOIN mkt m ON d.day = m.day
    ),
    roll AS (
      SELECT event_type, day,
             count(*) OVER w AS n,
             CAST(sum(qx) OVER w AS BIGINT) AS sx,
             CAST(sum(qm) OVER w AS BIGINT) AS sm,
             CAST(sum(qx * qm) OVER w AS BIGINT) AS sxm,
             CAST(sum(qm * qm) OVER w AS BIGINT) AS smm
      FROM rets WHERE qx IS NOT NULL AND qm IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round((n * CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * sm)
                 / (n * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm),
                 4) + 0.0 AS beta
    FROM roll WHERE n = 14
    ORDER BY event_type, day
    """,
)
def q_win_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day market beta per event type — q_market_beta's
    single number resolved into the risk-monitoring TIME SERIES every
    desk actually watches (is this series becoming more systematic?).

    Same exactness discipline as q_market_beta: daily returns
    quantize to the 1e-6 ln grid, so the five rolling-frame sums are
    exact bigints (a float frame sum would make beta depend on the
    fold order); beta divides once per row. The frame windows reuse
    the SAME per-type exchange+sort as the lag pass, and only full
    14-return windows emit (warm-up rows drop on both engines)."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("cents"))
    )
    mkt = daily.groupBy("day").agg(F.sum("cents").cast("long").alias("mcents"))
    wl = Window.partitionBy("event_type").orderBy("day")
    rets = (
        daily.join(mkt, "day")
        .select(
            "event_type",
            "day",
            F.round(
                F.log(
                    F.col("cents").cast("double") / F.lag("cents").over(wl)
                )
                * 1000000
            )
            .cast("long")
            .alias("qx"),
            F.round(
                F.log(
                    F.col("mcents").cast("double") / F.lag("mcents").over(wl)
                )
                * 1000000
            )
            .cast("long")
            .alias("qm"),
        )
        .filter(F.col("qx").isNotNull() & F.col("qm").isNotNull())
    )
    wf = Window.partitionBy("event_type").orderBy("day").rowsBetween(-13, 0)
    roll = rets.select(
        "event_type",
        "day",
        F.count("*").over(wf).alias("n"),
        F.sum("qx").over(wf).cast("long").alias("sx"),
        F.sum("qm").over(wf).cast("long").alias("sm"),
        F.sum(F.col("qx") * F.col("qm")).over(wf).cast("long").alias("sxm"),
        F.sum(F.col("qm") * F.col("qm")).over(wf).cast("long").alias("smm"),
    ).filter(F.col("n") == 14)
    num = F.col("n") * F.col("sxm").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sm")
    den = F.col("n") * F.col("smm").cast("double") - F.col("sm").cast(
        "double"
    ) * F.col("sm")
    return roll.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.round(num / den, 4) + 0.0).alias("beta"),
    ).orderBy("event_type", "day")


@register(
    "q_win_renko",
    oracle="""
    WITH t AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 100) AS BIGINT) // 500 AS lev
      FROM events
    ),
    d AS (
      SELECT event_type, ts, event_id, lev,
             lev - lag(lev) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS dlev
      FROM t
    ),
    c AS (
      SELECT event_type, ts, event_id, dlev, dlev > 0 AS up,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn1,
             row_number() OVER (PARTITION BY event_type, dlev > 0
                                ORDER BY ts, event_id) AS rn2
      FROM d WHERE dlev IS NOT NULL AND dlev <> 0
    ),
    runs AS (
      SELECT event_type, up, rn1 - rn2 AS island,
             CAST(count(*) AS BIGINT) AS run_len,
             CAST(sum(abs(dlev)) AS BIGINT) AS run_bricks
      FROM c GROUP BY 1, 2, 3
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN up THEN run_bricks ELSE 0 END) AS BIGINT)
               AS bricks_up,
             CAST(sum(CASE WHEN NOT up THEN run_bricks ELSE 0 END) AS BIGINT)
               AS bricks_down,
             CAST(sum(run_len) AS BIGINT) AS n_moves,
             CAST(count(*) AS BIGINT) AS n_runs,
             CAST(max(run_len) AS BIGINT) AS max_run_moves,
             CAST(max(run_bricks) AS BIGINT) AS max_run_bricks
      FROM runs GROUP BY event_type
    )
    SELECT * FROM agg ORDER BY event_type
    """,
)
def q_win_renko(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Renko-style level-crossing summary per event type: prices
    quantize to $5 brick levels, every level change is a directed
    move, and consecutive same-direction moves form runs — brick
    totals, reversal count, and the longest run (in moves and in
    bricks) are the trend/chop diagnostics renko charts read off.

    One (type)-partitioned sort feeds the level lag; runs are the
    classic gaps-islands rn−rn trick (the second row_number partitions
    by direction but orders identically, so Spark reuses the same
    exchange); everything downstream is exact integer aggregation on
    the bounded runs table."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.expr("CAST(floor(value * 100) AS BIGINT) div 500").alias("lev"),
    )
    d = t.withColumn("dlev", F.col("lev") - F.lag("lev").over(w))
    c = (
        d.filter(F.col("dlev").isNotNull() & (F.col("dlev") != 0))
        .withColumn("up", F.col("dlev") > 0)
        .withColumn("rn1", F.row_number().over(w))
        .withColumn(
            "rn2",
            F.row_number().over(
                Window.partitionBy("event_type", "up").orderBy("ts", "event_id")
            ),
        )
    )
    runs = c.groupBy(
        "event_type", "up", (F.col("rn1") - F.col("rn2")).alias("island")
    ).agg(
        F.count("*").cast("long").alias("run_len"),
        F.sum(F.abs("dlev")).cast("long").alias("run_bricks"),
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("up"), F.col("run_bricks")).otherwise(0))
            .cast("long")
            .alias("bricks_up"),
            F.sum(F.when(~F.col("up"), F.col("run_bricks")).otherwise(0))
            .cast("long")
            .alias("bricks_down"),
            F.sum("run_len").cast("long").alias("n_moves"),
            F.count("*").cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run_moves"),
            F.max("run_bricks").cast("long").alias("max_run_bricks"),
        )
        .orderBy("event_type")
    )


@register(
    "q_seasonality_strength",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY di
    ),
    w AS (
      SELECT di, y, (di + 3) % 7 AS dow,
             CAST(sum(y) OVER f AS BIGINT) AS s7,
             CAST(count(*) OVER f AS BIGINT) AS c7
      FROM d
      WINDOW f AS (ORDER BY di ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT dow, CAST(7 * y - s7 AS HUGEINT) AS det
      FROM w WHERE c7 = 7
    ),
    per_dow AS (
      SELECT dow, CAST(count(*) AS HUGEINT) AS n_d,
             CAST(sum(det) AS HUGEINT) AS sd,
             CAST(sum(det * det) AS HUGEINT) AS sdd
      FROM det GROUP BY dow
    ),
    vr AS (
      SELECT CAST(sum(CAST(
               CAST(n_d * sdd - sd * sd AS DOUBLE) / CAST(n_d AS DOUBLE)
               - fmod(CAST(n_d * sdd - sd * sd AS DOUBLE)
                      / CAST(n_d AS DOUBLE), 1) AS HUGEINT))
                  AS HUGEINT) AS vr_q,
             CAST(sum(n_d) AS HUGEINT) AS n,
             CAST(sum(sd) AS HUGEINT) AS sall,
             CAST(sum(sdd) AS HUGEINT) AS sddall
      FROM per_dow
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(CAST(vr_q AS DOUBLE)
                 / CAST(n * sddall - sall * sall AS DOUBLE) * CAST(n AS DOUBLE),
                 4) + 0.0 AS var_ratio,
           round(greatest(0, 1 - CAST(vr_q AS DOUBLE)
                 / CAST(n * sddall - sall * sall AS DOUBLE)
                 * CAST(n AS DOUBLE)), 4) + 0.0 AS seasonal_strength
    FROM vr
    """,
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal strength of daily revenue: F_s = max(0,
    1 − Var(remainder)/Var(detrended)) under the classical additive
    decomposition — the single number (0 = no weekly pattern, →1 =
    pure seasonality) that decides whether q_seasonal_decompose's
    seasonal component is worth modeling.

    The key identity keeps everything exact: within a day-of-week
    group the seasonal term IS the group mean of the detrended
    series, so Σremainder² = Σ_dow [n_d·Σdet² − (Σdet)²]/n_d — each
    dow's numerator is one exact 128-bit integer, its division
    floor-quantizes in the DOUBLE domain as q − (q % 1) before the
    128-bit cast (identical IEEE result on both engines; two traps
    found the hard way: Spark's decimal `div` silently casts to long
    and wraps at this magnitude, and Spark's floor(double) ALSO
    returns long — the Cauchy-Schwarz-nonnegative numerator makes
    the fmod form a true floor), the 7 quantized terms sum exactly
    as decimals, and
    Var(detrended) is the usual n·Σx²−(Σx)² on the exact ×7-scaled
    integers. ONE double division at the very end. The series is
    calendar-bounded (the centered window runs on the daily table)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    d = (
        o.select(
            F.floor(F.unix_timestamp("o_orderdate") / 86400)
            .cast("long")
            .alias("di"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("di")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    f = Window.orderBy("di").rowsBetween(-3, 3)
    w = d.select(
        "di",
        "y",
        ((F.col("di") + 3) % 7).alias("dow"),
        F.sum("y").over(f).cast("long").alias("s7"),
        F.count("*").over(f).cast("long").alias("c7"),
    )
    det = w.filter(F.col("c7") == 7).select(
        "dow", (7 * F.col("y") - F.col("s7")).cast("decimal(38,0)").alias("det")
    )
    per_dow = det.groupBy("dow").agg(
        F.count("*").cast("decimal(38,0)").alias("n_d"),
        F.sum("det").alias("sd"),
        F.sum(F.col("det") * F.col("det")).alias("sdd"),
    )
    vr = per_dow.agg(
        F.sum(
            F.expr(
                "CAST(CAST(n_d * sdd - sd * sd AS DOUBLE) / CAST(n_d AS DOUBLE)"
                " - (CAST(n_d * sdd - sd * sd AS DOUBLE) / CAST(n_d AS DOUBLE)) % 1"
                " AS DECIMAL(38,0))"
            )
        ).alias("vr_q"),
        F.sum("n_d").alias("n"),
        F.sum("sd").alias("sall"),
        F.sum("sdd").alias("sddall"),
    )
    ratio = (
        F.col("vr_q").cast("double")
        / (
            F.col("n") * F.col("sddall") - F.col("sall") * F.col("sall")
        ).cast("double")
        * F.col("n").cast("double")
    )
    return vr.select(
        F.col("n").cast("long").alias("n_days"),
        (F.round(ratio, 4) + 0.0).alias("var_ratio"),
        (F.round(F.greatest(F.lit(0.0), 1 - ratio), 4) + 0.0).alias(
            "seasonal_strength"
        ),
    )


@register(
    "q_win_mfi",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT)
             + CAST(min(floor(value * 100)) AS BIGINT)
             + CAST(max(struct_pack(t := ts, e := event_id,
                                    v := CAST(floor(value * 100) AS BIGINT))).v
                    AS BIGINT) AS tp3,
             CAST(sum(CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1)
                           AS BIGINT)) AS BIGINT) AS vol
      FROM events GROUP BY 1, 2, 3
    ),
    f AS (
      SELECT event_type, di, day,
             CASE WHEN tp3 > lag(tp3) OVER w THEN tp3 * vol ELSE 0 END AS pos,
             CASE WHEN tp3 < lag(tp3) OVER w THEN tp3 * vol ELSE 0 END AS neg,
             CASE WHEN lag(tp3) OVER w IS NULL THEN NULL ELSE 1 END AS ok
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY di)
    ),
    r AS (
      SELECT event_type, day,
             CAST(sum(pos) OVER v AS HUGEINT) AS p14,
             CAST(sum(neg) OVER v AS HUGEINT) AS n14,
             count(ok) OVER v AS c14
      FROM f
      WINDOW v AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(100.0 * CAST(p14 AS DOUBLE) / CAST(p14 + n14 AS DOUBLE), 4)
             + 0.0 AS mfi
    FROM r WHERE c14 = 14 AND p14 + n14 > 0
    ORDER BY event_type, day
    """,
)
def q_win_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money Flow Index (volume-weighted RSI) per event type: daily
    typical price × volume classifies as positive or negative flow by
    the typical-price direction, and MFI = 100·posMF₁₄/(posMF₁₄ +
    negMF₁₄) over a 14-day window — the overbought/oversold gauge
    that extends q_win_rsi with volume.

    The typical price is carried ×3 (hi+lo+close exact cent sum — no
    /3 before the comparison, which is scale-invariant); flows are
    exact integer products; the rolling sums ride the SAME per-type
    sort as the direction lag; ONE division per emitted row. Warm-up
    (first 14 rows) and zero-flow windows drop on both engines."""
    ev = _t(spark, sf_dir, "events")
    c = F.floor(F.col("value") * 100).cast("long")
    b = (
        ev.select(
            "event_type",
            day_index(),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            c.alias("c"),
            props_volume().alias("k"),
            "ts",
            "event_id",
        )
        .groupBy("event_type", "di", "day")
        .agg(
            (
                F.max("c")
                + F.min("c")
                + F.max(
                    F.struct(
                        F.col("ts").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("c").alias("v"),
                    )
                )["v"]
            ).alias("tp3"),
            F.sum("k").cast("long").alias("vol"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("di")
    f = b.select(
        "event_type",
        "di",
        "day",
        F.when(
            F.col("tp3") > F.lag("tp3").over(w), F.col("tp3") * F.col("vol")
        )
        .otherwise(0)
        .alias("pos"),
        F.when(
            F.col("tp3") < F.lag("tp3").over(w), F.col("tp3") * F.col("vol")
        )
        .otherwise(0)
        .alias("neg"),
        F.when(F.lag("tp3").over(w).isNull(), None).otherwise(1).alias("ok"),
    )
    v = Window.partitionBy("event_type").orderBy("di").rowsBetween(-13, 0)
    r = f.select(
        "event_type",
        "day",
        F.sum("pos").over(v).cast("decimal(38,0)").alias("p14"),
        F.sum("neg").over(v).cast("decimal(38,0)").alias("n14"),
        F.count("ok").over(v).alias("c14"),
    ).filter((F.col("c14") == 14) & (F.col("p14") + F.col("n14") > 0))
    return r.select(
        "event_type",
        "day",
        (
            F.round(
                100.0
                * F.col("p14").cast("double")
                / (F.col("p14") + F.col("n14")).cast("double"),
                4,
            )
            + 0.0
        ).alias("mfi"),
    ).orderBy("event_type", "day")


@register(
    "q_win_pairs_spread",
    oracle="""
    WITH daily AS (
      SELECT event_type AS et,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(round(ln(CAST(sum(CAST(floor(value * 100) AS BIGINT))
                                AS DOUBLE)) * 1000000) AS BIGINT) AS lp
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.et AS type_a, b.et AS type_b, a.di,
             a.lp - b.lp AS spread
      FROM daily a JOIN daily b ON a.di = b.di AND a.et < b.et
    ),
    m AS (
      SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(spread) AS HUGEINT) AS s,
             CAST(sum(CAST(spread AS HUGEINT) * spread) AS HUGEINT) AS ss,
             CAST(max(struct_pack(d := di, v := spread)).v AS BIGINT) AS last_s
      FROM p GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_days,
           round((CAST(last_s AS DOUBLE) - CAST(s AS DOUBLE) / n_days)
                 / sqrt((CAST(n_days * ss - s * s AS DOUBLE))
                        / n_days / (n_days - 1)) , 4) + 0.0 AS z_last,
           abs(CAST(last_s AS DOUBLE) - CAST(s AS DOUBLE) / n_days)
             > 2 * sqrt((CAST(n_days * ss - s * s AS DOUBLE))
                        / n_days / (n_days - 1)) AS diverged
    FROM m ORDER BY type_a, type_b
    """,
)
def q_win_pairs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-trading spread monitor over all type pairs: the
    log-revenue spread lnA − lnB per day, and where TODAY'S spread
    sits (z-score) against the pair's own history — the
    mean-reversion entry signal (|z| > 2 = the legs have diverged),
    the statarb companion to q_market_beta/q_win_rolling_beta.

    The daily log prices land on the 1e-6 grid once, so every
    spread is an exact integer difference; the pair relation is an
    equi-join on the day key of the |types|×|days| bounded table
    (never on the tick stream); mean/sd come from exact 128-bit
    moments and the last spread is a deterministic struct-argmax on
    the day index; z evaluates once per pair."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("et"), day_index())
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("cents"))
        .select(
            "et",
            "di",
            F.round(F.log(F.col("cents").cast("double")) * 1000000)
            .cast("long")
            .alias("lp"),
        )
    )
    a = daily.select(
        F.col("et").alias("type_a"), "di", F.col("lp").alias("lpa")
    )
    b = daily.select(
        F.col("et").alias("type_b"),
        F.col("di").alias("di2"),
        F.col("lp").alias("lpb"),
    )
    p = a.join(
        b, (F.col("di") == F.col("di2")) & (F.col("type_a") < F.col("type_b"))
    ).select("type_a", "type_b", "di", (F.col("lpa") - F.col("lpb")).alias("spread"))
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    m = p.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(dec("spread")).alias("s"),
        F.sum(dec("spread") * dec("spread")).alias("ss"),
        F.max(F.struct(F.col("di").alias("d"), F.col("spread").alias("v")))["v"]
        .cast("long")
        .alias("last_s"),
    )
    mean = F.col("s").cast("double") / F.col("n_days")
    sd = F.sqrt(
        (dec("n_days") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
        / F.col("n_days")
        / (F.col("n_days") - 1)
    )
    return m.select(
        "type_a",
        "type_b",
        "n_days",
        (F.round((F.col("last_s") - mean) / sd, 4) + 0.0).alias("z_last"),
        (F.abs(F.col("last_s") - mean) > 2 * sd).alias("diverged"),
    ).orderBy("type_a", "type_b")


@register(
    "q_win_donchian",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    d AS (
      SELECT event_type, di, day, cl,
             max(hi) OVER w AS ch, min(lo) OVER w AS clow,
             count(*) OVER w AS cn
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day,
           round(ch / 100.0, 2) AS channel_high,
           round(clow / 100.0, 2) AS channel_low,
           CASE WHEN cl > ch THEN 1 WHEN cl < clow THEN -1 ELSE 0 END
             AS breakout
    FROM d WHERE cn = 20
    ORDER BY event_type, day
    """,
)
def q_win_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian 20-day channel per event type: the trailing-window
    high/low band (EXCLUDING today) and a breakout flag when today's
    close escapes it — the turtle-trader breakout system's signal,
    completing the channel family next to Bollinger (stddev band)
    and Keltner-style ranges.

    Everything is exact-integer: daily bars collapse once (close =
    deterministic struct-max), the 20-row trailing frame takes
    max/min of exact cents on the SAME per-type sort, and the
    breakout flag is an integer comparison — no float ever enters
    the signal path."""
    b = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-20, -1)
    d = b.select(
        "event_type",
        "day",
        "cl",
        F.max("hi").over(w).alias("ch"),
        F.min("lo").over(w).alias("clow"),
        F.count("*").over(w).alias("cn"),
    ).filter(F.col("cn") == 20)
    return d.select(
        "event_type",
        "day",
        F.round(F.col("ch") / 100.0, 2).alias("channel_high"),
        F.round(F.col("clow") / 100.0, 2).alias("channel_low"),
        F.when(F.col("cl") > F.col("ch"), 1)
        .when(F.col("cl") < F.col("clow"), -1)
        .otherwise(0)
        .alias("breakout"),
    ).orderBy("event_type", "day")


@register(
    "q_win_keltner",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    k AS (
      SELECT event_type, di, day, cl,
             CAST(sum(hi + lo + cl) OVER w AS BIGINT) AS tp3_sum,
             CAST(sum(hi - lo) OVER w AS BIGINT) AS rng_sum,
             count(*) OVER w AS cn
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(tp3_sum / 3000.0, 2) AS mid,
           round(tp3_sum / 3000.0 + rng_sum / 1000.0, 2) AS upper_band,
           round(tp3_sum / 3000.0 - rng_sum / 1000.0, 2) AS lower_band,
           CASE WHEN cl * 30 > tp3_sum + 3 * rng_sum THEN 1
                WHEN cl * 30 < tp3_sum - 3 * rng_sum THEN -1
                ELSE 0 END AS band_break
    FROM k WHERE cn = 10
    ORDER BY event_type, day
    """,
)
def q_win_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channel (original SMA form) per event type: 10-day SMA
    of the typical price ± the 10-day SMA of the daily range — the
    volatility-scaled band that completes the channel trio next to
    Bollinger (stddev band) and Donchian (extreme band).

    The mid and band are ratios of exact integer window sums (typical
    price carried ×3, range exact cents — divisions happen once per
    emitted row for display), and the band-break flag
    cross-multiplies cl·30 against tp3_sum ± 3·rng_sum so the SIGNAL
    never touches a float. Both window frames ride one per-type
    sort."""
    b = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-9, 0)
    k = b.select(
        "event_type",
        "day",
        "cl",
        F.sum(F.col("hi") + F.col("lo") + F.col("cl")).over(w).cast("long").alias(
            "tp3_sum"
        ),
        F.sum(F.col("hi") - F.col("lo")).over(w).cast("long").alias("rng_sum"),
        F.count("*").over(w).alias("cn"),
    ).filter(F.col("cn") == 10)
    return k.select(
        "event_type",
        "day",
        F.round(F.col("tp3_sum") / 3000.0, 2).alias("mid"),
        F.round(F.col("tp3_sum") / 3000.0 + F.col("rng_sum") / 1000.0, 2).alias(
            "upper_band"
        ),
        F.round(F.col("tp3_sum") / 3000.0 - F.col("rng_sum") / 1000.0, 2).alias(
            "lower_band"
        ),
        F.when(
            F.col("cl") * 30 > F.col("tp3_sum") + 3 * F.col("rng_sum"), 1
        )
        .when(F.col("cl") * 30 < F.col("tp3_sum") - 3 * F.col("rng_sum"), -1)
        .otherwise(0)
        .alias("band_break"),
    ).orderBy("event_type", "day")


@register(
    "q_win_williams_r",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    d AS (
      SELECT event_type, day, cl,
             max(hi) OVER w AS hh, min(lo) OVER w AS ll,
             count(*) OVER w AS cn
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(-100.0 * (hh - cl) / (hh - ll), 4) + 0.0 AS williams_r,
           CASE WHEN 5 * (hh - cl) < (hh - ll) THEN 1
                WHEN 5 * (hh - cl) > 4 * (hh - ll) THEN -1
                ELSE 0 END AS zone
    FROM d WHERE cn = 14 AND hh > ll
    ORDER BY event_type, day
    """,
)
def q_win_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R (14-day) per event type: where today's close sits
    inside the trailing high-low range, scaled to [-100, 0] — the
    overbought/oversold oscillator that complements the stochastic
    (same range, different anchor) in the momentum family.

    Exact-integer signal path: the zone flag cross-multiplies
    5·(hh−cl) against (hh−ll) so the −20/−80 thresholds never touch a
    float; the display value is ONE IEEE division of exact cents
    (identical on both engines). Daily bars collapse in one hash agg;
    the 14-row frame runs on the per-type day sort — flat scaling,
    same as the channel trio."""
    b = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-13, 0)
    d = b.select(
        "event_type",
        "day",
        "cl",
        F.max("hi").over(w).alias("hh"),
        F.min("lo").over(w).alias("ll"),
        F.count("*").over(w).alias("cn"),
    ).filter((F.col("cn") == 14) & (F.col("hh") > F.col("ll")))
    return d.select(
        "event_type",
        "day",
        (
            F.round(
                -100.0 * (F.col("hh") - F.col("cl")) / (F.col("hh") - F.col("ll")), 4
            )
            + 0.0
        ).alias("williams_r"),
        F.when(5 * (F.col("hh") - F.col("cl")) < (F.col("hh") - F.col("ll")), 1)
        .when(5 * (F.col("hh") - F.col("cl")) > 4 * (F.col("hh") - F.col("ll")), -1)
        .otherwise(0)
        .alias("zone"),
    ).orderBy("event_type", "day")


@register(
    "q_win_aroon",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo
      FROM events GROUP BY 1, 2, 3
    ),
    r AS (
      SELECT event_type, di, day, hi, lo,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY di)
                  AS BIGINT) AS rn
      FROM b
    ),
    d AS (
      SELECT event_type, day, rn,
             CAST(max(struct_pack(h := hi, r := rn)) OVER w AS
                  STRUCT(h BIGINT, r BIGINT)).r AS hh_rn,
             CAST(max(struct_pack(nl := 0 - lo, r := rn)) OVER w AS
                  STRUCT(nl BIGINT, r BIGINT)).r AS ll_rn,
             count(*) OVER w AS cn
      FROM r
      WINDOW w AS (PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           10 * (10 - (rn - hh_rn)) AS aroon_up,
           10 * (10 - (rn - ll_rn)) AS aroon_down,
           CASE WHEN hh_rn > ll_rn THEN 1
                WHEN ll_rn > hh_rn THEN -1 ELSE 0 END AS trend
    FROM d WHERE cn = 10
    ORDER BY event_type, day
    """,
)
def q_win_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon indicator (10-row window) per event type: how recently
    the trailing-window extreme high/low printed, scaled to [10, 100]
    — the trend-freshness oscillator (a recent high keeps aroon-up
    pinned at 100; a stale one decays toward the floor).

    Fully integer end to end — the most-recent argmax/argmin inside
    the frame is a struct max ((value, row-number) lexicographic
    compare breaks price ties toward the NEWER bar, identically in
    both engines), and the aroon values are 10·(10−Δrows). No float
    exists anywhere in this operator."""
    b = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", day=True)
    wr = Window.partitionBy("event_type").orderBy("di")
    r = b.select(
        "event_type",
        "day",
        "hi",
        "lo",
        F.row_number().over(wr).cast("long").alias("rn"),
    )
    w = Window.partitionBy("event_type").orderBy("rn").rowsBetween(-9, 0)
    d = r.select(
        "event_type",
        "day",
        "rn",
        F.max(F.struct(F.col("hi").alias("h"), F.col("rn").alias("r")))
        .over(w)["r"]
        .alias("hh_rn"),
        F.max(F.struct((-F.col("lo")).alias("nl"), F.col("rn").alias("r")))
        .over(w)["r"]
        .alias("ll_rn"),
        F.count("*").over(w).alias("cn"),
    ).filter(F.col("cn") == 10)
    return d.select(
        "event_type",
        "day",
        (10 * (10 - (F.col("rn") - F.col("hh_rn")))).alias("aroon_up"),
        (10 * (10 - (F.col("rn") - F.col("ll_rn")))).alias("aroon_down"),
        F.when(F.col("hh_rn") > F.col("ll_rn"), 1)
        .when(F.col("ll_rn") > F.col("hh_rn"), -1)
        .otherwise(0)
        .alias("trend"),
    ).orderBy("event_type", "day")


@register(
    "q_win_cci",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    t AS (SELECT event_type, di, day, hi + lo + cl AS tp3 FROM b),
    d AS (
      SELECT event_type, day, tp3,
             list(tp3) OVER w AS arr,
             CAST(sum(tp3) OVER w AS BIGINT) AS ssum,
             count(*) OVER w AS cn
      FROM t
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    m AS (
      SELECT event_type, day, tp3, ssum,
             CAST(list_sum(list_transform(arr,
                    x -> abs(14 * x - ssum))) AS BIGINT) AS md
      FROM d WHERE cn = 14
    )
    SELECT event_type, day,
           round(tp3 / 300.0, 2) AS typical_price,
           round((14 * tp3 - ssum) * 14000.0 / (15.0 * md), 4) + 0.0 AS cci,
           CASE WHEN 28 * (14 * tp3 - ssum) > 3 * md THEN 1
                WHEN 28 * (14 * tp3 - ssum) < -3 * md THEN -1
                ELSE 0 END AS signal
    FROM m WHERE md > 0
    ORDER BY event_type, day
    """,
)
def q_win_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity Channel Index (14-day) per event type: today's
    typical price vs the window mean, scaled by the window's own MEAN
    ABSOLUTE DEVIATION — the Lambert oscillator whose defining quirk
    is that every window member's deviation is taken from the window's
    OWN mean (a window-over-window shape plain frames cannot express).

    The frame's values ride along as a ``collect_list`` array (frame
    order = the per-type day sort, identical in both engines), so the
    MAD evaluates as an exact-integer fold over 14 elements: with
    D = 14·tp3 − Σtp3 and M = Σ|14·x − Σtp3|, cci = D·4000·14/
    (0.015·…) reduces to D·14000/(15·M) — ONE float division of exact
    integers, and the ±100 signal cross-multiplies 28·D vs 3·M so the
    decision never touches a float. Typical price stays on the ×3
    cent grid (q_win_mfi precedent: /3 never happens)."""
    b = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    t = b.select(
        "event_type", "di", "day", (F.col("hi") + F.col("lo") + F.col("cl")).alias("tp3")
    )
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-13, 0)
    d = t.select(
        "event_type",
        "day",
        "tp3",
        F.collect_list("tp3").over(w).alias("arr"),
        F.sum("tp3").over(w).cast("long").alias("ssum"),
        F.count("*").over(w).alias("cn"),
    ).filter(F.col("cn") == 14)
    m = d.select(
        "event_type",
        "day",
        "tp3",
        "ssum",
        F.aggregate(
            F.transform(F.col("arr"), lambda x: F.abs(14 * x - F.col("ssum"))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("md"),
    ).filter(F.col("md") > 0)
    dd = 14 * F.col("tp3") - F.col("ssum")
    return m.select(
        "event_type",
        "day",
        F.round(F.col("tp3") / 300.0, 2).alias("typical_price"),
        (F.round(dd * 14000.0 / (15.0 * F.col("md")), 4) + 0.0).alias("cci"),
        F.when(28 * dd > 3 * F.col("md"), 1)
        .when(28 * dd < -3 * F.col("md"), -1)
        .otherwise(0)
        .alias("signal"),
    ).orderBy("event_type", "day")


@register(
    "q_win_adx",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    l AS (
      SELECT event_type, di, day, hi, lo,
             lag(hi) OVER s AS hip, lag(lo) OVER s AS lop,
             lag(cl) OVER s AS clp
      FROM b WINDOW s AS (PARTITION BY event_type ORDER BY di)
    ),
    dm AS (
      SELECT event_type, di, day,
             CASE WHEN hi - hip > lop - lo AND hi - hip > 0
                  THEN hi - hip ELSE 0 END AS pdm,
             CASE WHEN lop - lo > hi - hip AND lop - lo > 0
                  THEN lop - lo ELSE 0 END AS mdm,
             greatest(hi - lo, abs(hi - clp), abs(lo - clp)) AS tr
      FROM l WHERE hip IS NOT NULL
    ),
    s AS (
      SELECT event_type, di, day,
             CAST(sum(pdm) OVER w AS BIGINT) AS sp,
             CAST(sum(mdm) OVER w AS BIGINT) AS sm,
             CAST(sum(tr) OVER w AS BIGINT) AS st,
             count(*) OVER w AS cn
      FROM dm
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    x AS (
      SELECT event_type, di, day, sp, sm, st,
             (100000000 * abs(sp - sm)) // (sp + sm) AS dxq
      FROM s WHERE cn = 7 AND st > 0 AND sp + sm > 0
    ),
    a AS (
      SELECT event_type, day, sp, sm, st,
             CAST(sum(dxq) OVER w2 AS BIGINT) AS dxsum,
             count(*) OVER w2 AS cn2
      FROM x
      WINDOW w2 AS (PARTITION BY event_type ORDER BY di
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(100.0 * sp / st, 4) + 0.0 AS di_plus,
           round(100.0 * sm / st, 4) + 0.0 AS di_minus,
           round(dxsum / 7000000.0, 4) + 0.0 AS adx
    FROM a WHERE cn2 = 7
    ORDER BY event_type, day
    """,
)
def q_win_adx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Directional Index (7-day, SMA form) per event type —
    Wilder's trend-STRENGTH gauge: directional movement (+DM/−DM)
    normalized by true range gives DI+/DI−, their normalized spread is
    DX, and ADX is the DX average. SMA-form smoothing (like the
    engine's Keltner/RSI variants) replaces Wilder's recursive EWMA so
    every intermediate stays exact: +DM/−DM/TR are integer cents, the
    7-day sums are exact, DX floors onto a 1e-6 grid via integer
    division ((10^8·|S+−S−|) // (S++S−) — quotient bounded by 10^10,
    far inside BIGINT), and ADX is one division of the exact DX-grid
    sum. DI± are single IEEE divisions of exact integers. Two stacked
    7-row frames on the same per-type sort — one window exchange."""
    b = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    s0 = Window.partitionBy("event_type").orderBy("di")
    lagged = b.select(
        "event_type",
        "di",
        "day",
        "hi",
        "lo",
        F.lag("hi").over(s0).alias("hip"),
        F.lag("lo").over(s0).alias("lop"),
        F.lag("cl").over(s0).alias("clp"),
    ).filter(F.col("hip").isNotNull())
    up, dn = F.col("hi") - F.col("hip"), F.col("lop") - F.col("lo")
    dm = lagged.select(
        "event_type",
        "di",
        "day",
        F.when((up > dn) & (up > 0), up).otherwise(F.lit(0)).alias("pdm"),
        F.when((dn > up) & (dn > 0), dn).otherwise(F.lit(0)).alias("mdm"),
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.col("clp")),
            F.abs(F.col("lo") - F.col("clp")),
        ).alias("tr"),
    )
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-6, 0)
    s = dm.select(
        "event_type",
        "di",
        "day",
        F.sum("pdm").over(w).cast("long").alias("sp"),
        F.sum("mdm").over(w).cast("long").alias("sm"),
        F.sum("tr").over(w).cast("long").alias("st"),
        F.count("*").over(w).alias("cn"),
    ).filter((F.col("cn") == 7) & (F.col("st") > 0) & (F.col("sp") + F.col("sm") > 0))
    x = s.select(
        "event_type",
        "di",
        "day",
        "sp",
        "sm",
        "st",
        F.expr("(100000000 * abs(sp - sm)) div (sp + sm)").alias("dxq"),
    )
    w2 = Window.partitionBy("event_type").orderBy("di").rowsBetween(-6, 0)
    a = x.select(
        "event_type",
        "day",
        "sp",
        "sm",
        "st",
        F.sum("dxq").over(w2).cast("long").alias("dxsum"),
        F.count("*").over(w2).alias("cn2"),
    ).filter(F.col("cn2") == 7)
    return a.select(
        "event_type",
        "day",
        (F.round(100.0 * F.col("sp") / F.col("st"), 4) + 0.0).alias("di_plus"),
        (F.round(100.0 * F.col("sm") / F.col("st"), 4) + 0.0).alias("di_minus"),
        (F.round(F.col("dxsum") / 7000000.0, 4) + 0.0).alias("adx"),
    ).orderBy("event_type", "day")


@register(
    "q_win_vortex",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    l AS (
      SELECT event_type, di, day, hi, lo,
             lag(hi) OVER s AS hip, lag(lo) OVER s AS lop,
             lag(cl) OVER s AS clp
      FROM b WINDOW s AS (PARTITION BY event_type ORDER BY di)
    ),
    m AS (
      SELECT event_type, di, day,
             abs(hi - lop) AS vp, abs(lo - hip) AS vm,
             greatest(hi - lo, abs(hi - clp), abs(lo - clp)) AS tr
      FROM l WHERE hip IS NOT NULL
    ),
    s AS (
      SELECT event_type, day,
             CAST(sum(vp) OVER w AS BIGINT) AS svp,
             CAST(sum(vm) OVER w AS BIGINT) AS svm,
             CAST(sum(tr) OVER w AS BIGINT) AS str,
             count(*) OVER w AS cn
      FROM m
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(CAST(svp AS DOUBLE) / str, 4) + 0.0 AS vi_plus,
           round(CAST(svm AS DOUBLE) / str, 4) + 0.0 AS vi_minus,
           CASE WHEN svp > svm THEN 1 WHEN svm > svp THEN -1 ELSE 0 END
             AS trend
    FROM s WHERE cn = 14 AND str > 0
    ORDER BY event_type, day
    """,
)
def q_win_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex indicator (14-day) per event type: upward movement
    |hi − prev_lo| and downward movement |lo − prev_hi| each
    normalized by the true-range sum — the trend-reversal oscillator
    whose VI+/VI− crossovers flag direction changes (Botes & Siepman).

    Exactness: VM+/VM−/TR are integer cents; the three 14-day sums
    share ONE frame on the per-type day sort; the trend flag compares
    the two exact sums directly (same denominator cancels — no float
    ever decides the signal); VI± are single IEEE divisions of exact
    integers, identical in both engines. Daily bars collapse in one
    hash agg first — the window runs over |types|×|days| rows, never
    ticks, so the shape is flat at any corpus scale."""
    b = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    s0 = Window.partitionBy("event_type").orderBy("di")
    l = b.select(
        "event_type",
        "di",
        "day",
        "hi",
        "lo",
        F.lag("hi").over(s0).alias("hip"),
        F.lag("lo").over(s0).alias("lop"),
        F.lag("cl").over(s0).alias("clp"),
    ).filter(F.col("hip").isNotNull())
    m = l.select(
        "event_type",
        "di",
        "day",
        F.abs(F.col("hi") - F.col("lop")).alias("vp"),
        F.abs(F.col("lo") - F.col("hip")).alias("vm"),
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.col("clp")),
            F.abs(F.col("lo") - F.col("clp")),
        ).alias("tr"),
    )
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-13, 0)
    s = m.select(
        "event_type",
        "day",
        F.sum("vp").over(w).cast("long").alias("svp"),
        F.sum("vm").over(w).cast("long").alias("svm"),
        F.sum("tr").over(w).cast("long").alias("str"),
        F.count("*").over(w).alias("cn"),
    ).filter((F.col("cn") == 14) & (F.col("str") > 0))
    return s.select(
        "event_type",
        "day",
        (F.round(F.col("svp").cast("double") / F.col("str"), 4) + 0.0).alias(
            "vi_plus"
        ),
        (F.round(F.col("svm").cast("double") / F.col("str"), 4) + 0.0).alias(
            "vi_minus"
        ),
        F.when(F.col("svp") > F.col("svm"), 1)
        .when(F.col("svm") > F.col("svp"), -1)
        .otherwise(0)
        .alias("trend"),
    ).orderBy("event_type", "day")


@register(
    "q_win_cmo",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    l AS (
      SELECT event_type, di, day, cl,
             cl - lag(cl) OVER (PARTITION BY event_type ORDER BY di) AS chg
      FROM b
    ),
    s AS (
      SELECT event_type, day,
             CAST(sum(CASE WHEN chg > 0 THEN chg ELSE 0 END) OVER w
                  AS BIGINT) AS su,
             CAST(sum(CASE WHEN chg < 0 THEN -chg ELSE 0 END) OVER w
                  AS BIGINT) AS sd,
             count(chg) OVER w AS cn
      FROM l
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(100.0 * (su - sd) / (su + sd), 4) + 0.0 AS cmo,
           CASE WHEN su > 3 * sd THEN 1
                WHEN sd > 3 * su THEN -1 ELSE 0 END AS zone
    FROM s WHERE cn = 14 AND su + sd > 0
    ORDER BY event_type, day
    """,
)
def q_win_cmo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande Momentum Oscillator (14-day) per event type: net close-
    to-close gain over gross movement, scaled to [−100, 100] — the
    unsmoothed RSI relative (RSI = 50·(1 + CMO/100)) whose symmetric
    range makes over-extension readable as a sign.

    Exactness: daily changes are integer cents off the deterministic
    close (struct-max tie break, q_win_cci precedent); up/down sums
    share one 14-row frame; the ±50 zone flag reduces to su > 3·sd /
    sd > 3·su (cross-multiplied — the label never touches a float);
    CMO itself is ONE IEEE division of exact integers. The count(chg)
    frame-warm-up drops the first 14 bars identically on both
    engines."""
    b = daily_bars(_t(spark, sf_dir, "events"), "cl", day=True)
    s0 = Window.partitionBy("event_type").orderBy("di")
    l = b.select(
        "event_type",
        "di",
        "day",
        (F.col("cl") - F.lag("cl").over(s0)).alias("chg"),
    )
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-13, 0)
    s = l.select(
        "event_type",
        "day",
        F.sum(F.when(F.col("chg") > 0, F.col("chg")).otherwise(F.lit(0)))
        .over(w)
        .cast("long")
        .alias("su"),
        F.sum(F.when(F.col("chg") < 0, -F.col("chg")).otherwise(F.lit(0)))
        .over(w)
        .cast("long")
        .alias("sd"),
        F.count("chg").over(w).alias("cn"),
    ).filter((F.col("cn") == 14) & (F.col("su") + F.col("sd") > 0))
    return s.select(
        "event_type",
        "day",
        (
            F.round(
                100.0 * (F.col("su") - F.col("sd")) / (F.col("su") + F.col("sd")), 4
            )
            + 0.0
        ).alias("cmo"),
        F.when(F.col("su") > 3 * F.col("sd"), 1)
        .when(F.col("sd") > 3 * F.col("su"), -1)
        .otherwise(0)
        .alias("zone"),
    ).orderBy("event_type", "day")


@register(
    "q_win_dpo",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    s AS (
      SELECT event_type, day,
             lag(cl, 11) OVER (PARTITION BY event_type ORDER BY di) AS cls,
             CAST(sum(cl) OVER w AS BIGINT) AS s20,
             count(*) OVER w AS cn
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round((20 * cls - s20) / 2000.0, 4) + 0.0 AS dpo,
           CASE WHEN 20 * cls > s20 THEN 1
                WHEN 20 * cls < s20 THEN -1 ELSE 0 END AS phase
    FROM s WHERE cn = 20 AND cls IS NOT NULL
    ORDER BY event_type, day
    """,
)
def q_win_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended Price Oscillator (20-day) per event type: the close
    from n/2+1 = 11 bars back minus the current 20-day SMA — the
    cycle-isolation transform that strips the longer trend so the
    residual oscillation period is readable (the displaced close
    aligns the SMA's group delay with the price it summarizes).

    Exactness: DPO = (20·cl_{t−11} − Σ₂₀cl)/(20·100) — the displaced
    close and the window sum are both exact cents on the same
    per-type day sort (one window exchange carries the lag AND the
    frame), the phase sign compares the two integers directly, and
    the dollar-scale display value is ONE IEEE division."""
    b = daily_bars(_t(spark, sf_dir, "events"), "cl", day=True)
    s0 = Window.partitionBy("event_type").orderBy("di")
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-19, 0)
    s = b.select(
        "event_type",
        "day",
        F.lag("cl", 11).over(s0).alias("cls"),
        F.sum("cl").over(w).cast("long").alias("s20"),
        F.count("*").over(w).alias("cn"),
    ).filter((F.col("cn") == 20) & F.col("cls").isNotNull())
    d = 20 * F.col("cls") - F.col("s20")
    return s.select(
        "event_type",
        "day",
        (F.round(d / 2000.0, 4) + 0.0).alias("dpo"),
        F.when(d > 0, 1).when(d < 0, -1).otherwise(0).alias("phase"),
    ).orderBy("event_type", "day")


@register(
    "q_win_ultimate",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    l AS (
      SELECT event_type, di, day, hi, lo, cl,
             lag(cl) OVER (PARTITION BY event_type ORDER BY di) AS clp
      FROM b
    ),
    m AS (
      SELECT event_type, di, day,
             cl - least(lo, clp) AS bp,
             greatest(hi, clp) - least(lo, clp) AS tr
      FROM l WHERE clp IS NOT NULL
    ),
    s AS (
      SELECT event_type, day,
             CAST(sum(bp) OVER w7 AS BIGINT) AS s7,
             CAST(sum(tr) OVER w7 AS BIGINT) AS t7,
             CAST(sum(bp) OVER w14 AS BIGINT) AS s14,
             CAST(sum(tr) OVER w14 AS BIGINT) AS t14,
             CAST(sum(bp) OVER w28 AS BIGINT) AS s28,
             CAST(sum(tr) OVER w28 AS BIGINT) AS t28,
             count(*) OVER w28 AS cn
      FROM m
      WINDOW w7 AS (PARTITION BY event_type ORDER BY di
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
             w14 AS (PARTITION BY event_type ORDER BY di
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
             w28 AS (PARTITION BY event_type ORDER BY di
                     ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
    ),
    u AS (
      SELECT event_type, day,
             CAST(100 AS HUGEINT)
               * (4 * CAST(s7 AS HUGEINT) * t14 * t28
                  + 2 * CAST(s14 AS HUGEINT) * t7 * t28
                  + CAST(s28 AS HUGEINT) * t7 * t14) AS num,
             7 * CAST(t7 AS HUGEINT) * t14 * t28 AS den
      FROM s WHERE cn = 28 AND t7 > 0 AND t14 > 0 AND t28 > 0
    )
    SELECT event_type, day,
           round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) + 0.0 AS uo,
           CASE WHEN num > 70 * den THEN 1
                WHEN num < 30 * den THEN -1 ELSE 0 END AS zone
    FROM u ORDER BY event_type, day
    """,
)
def q_win_ultimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ultimate Oscillator (Williams, 7/14/28-day) per event type:
    buying pressure over true range averaged across three horizons
    with 4/2/1 weights — the multi-timeframe momentum gauge built to
    dodge the single-window divergence traps of RSI-family
    oscillators.

    Exactness: BP/TR are integer cents; the three sums share ONE
    window exchange (three frames on the same per-type sort); the
    weighted average collapses over the common denominator to
    num = 100·(4·S₇·T₁₄·T₂₈ + 2·S₁₄·T₇·T₂₈ + S₂₈·T₇·T₁₄) and
    den = 7·T₇·T₁₄·T₂₈ — 128-bit exact products (decimal(38,0) /
    HUGEINT, the q_stats_acf idiom; T-triples clear int64 once daily
    dollar-volume passes ~$10⁵) — so UO is ONE division of two
    exactly-computed integers and the 70/30 zone flag compares
    num against 70·den / 30·den without ever touching a float."""
    b = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    s0 = Window.partitionBy("event_type").orderBy("di")
    l = b.select(
        "event_type", "di", "day", "hi", "lo", "cl",
        F.lag("cl").over(s0).alias("clp"),
    ).filter(F.col("clp").isNotNull())
    m = l.select(
        "event_type",
        "di",
        "day",
        (F.col("cl") - F.least("lo", "clp")).alias("bp"),
        (F.greatest("hi", "clp") - F.least("lo", "clp")).alias("tr"),
    )
    w7 = Window.partitionBy("event_type").orderBy("di").rowsBetween(-6, 0)
    w14 = Window.partitionBy("event_type").orderBy("di").rowsBetween(-13, 0)
    w28 = Window.partitionBy("event_type").orderBy("di").rowsBetween(-27, 0)
    s = m.select(
        "event_type",
        "day",
        F.sum("bp").over(w7).cast("long").alias("s7"),
        F.sum("tr").over(w7).cast("long").alias("t7"),
        F.sum("bp").over(w14).cast("long").alias("s14"),
        F.sum("tr").over(w14).cast("long").alias("t14"),
        F.sum("bp").over(w28).cast("long").alias("s28"),
        F.sum("tr").over(w28).cast("long").alias("t28"),
        F.count("*").over(w28).alias("cn"),
    ).filter(
        (F.col("cn") == 28)
        & (F.col("t7") > 0)
        & (F.col("t14") > 0)
        & (F.col("t28") > 0)
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    u = s.select(
        "event_type",
        "day",
        (
            F.lit(100).cast("decimal(38,0)")
            * (
                4 * dec("s7") * dec("t14") * dec("t28")
                + 2 * dec("s14") * dec("t7") * dec("t28")
                + dec("s28") * dec("t7") * dec("t14")
            )
        ).alias("num"),
        (7 * dec("t7") * dec("t14") * dec("t28")).alias("den"),
    )
    return u.select(
        "event_type",
        "day",
        (
            F.round(F.col("num").cast("double") / F.col("den").cast("double"), 4)
            + 0.0
        ).alias("uo"),
        F.when(F.col("num") > 70 * F.col("den"), 1)
        .when(F.col("num") < 30 * F.col("den"), -1)
        .otherwise(0)
        .alias("zone"),
    ).orderBy("event_type", "day")


@register(
    "q_win_force_index",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl,
             CAST(sum(CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1)
                           AS BIGINT)) AS BIGINT) AS vol
      FROM events GROUP BY 1, 2, 3
    ),
    f AS (
      SELECT event_type, di, day,
             (cl - lag(cl) OVER (PARTITION BY event_type ORDER BY di)) * vol
               AS fi
      FROM b
    ),
    s AS (
      SELECT event_type, day,
             CAST(sum(fi) OVER w AS BIGINT) AS s13,
             count(fi) OVER w AS cn
      FROM f
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(s13 / 1300.0, 4) + 0.0 AS force_13,
           CASE WHEN s13 > 0 THEN 1 WHEN s13 < 0 THEN -1 ELSE 0 END
             AS pressure
    FROM s WHERE cn = 13
    ORDER BY event_type, day
    """,
)
def q_win_force_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Force Index (Elder, 13-day SMA form) per event type: daily
    close-to-close change × volume, smoothed — the gauge that weighs a
    price move by the participation behind it (a small move on huge
    volume out-forces a big move on thin volume). Volume is the
    engine's standard ``props.k`` integer (q_win_obv/q_win_mfi
    convention); smoothing is the SMA form (q_win_adx precedent) so
    every intermediate stays exact.

    Exactness: each day's force is an exact integer product
    (cents × volume); the 13-day sum rides the same per-type sort as
    the close lag (one window exchange); the pressure sign compares
    the exact sum to zero; the dollar-scale display is ONE IEEE
    division. count(fi) drops both the lag warm-up row and short
    windows identically on both engines."""
    ev = _t(spark, sf_dir, "events")
    c = F.floor(F.col("value") * 100).cast("long")
    b = (
        ev.select(
            "event_type",
            day_index(),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            c.alias("c"),
            "ts",
            "event_id",
            props_volume().alias("k"),
        )
        .groupBy("event_type", "di", "day")
        .agg(
            F.max(
                F.struct(
                    F.col("ts").alias("t"),
                    F.col("event_id").alias("e"),
                    F.col("c").alias("v"),
                )
            )["v"].alias("cl"),
            F.sum("k").cast("long").alias("vol"),
        )
    )
    s0 = Window.partitionBy("event_type").orderBy("di")
    f = b.select(
        "event_type",
        "di",
        "day",
        ((F.col("cl") - F.lag("cl").over(s0)) * F.col("vol")).alias("fi"),
    )
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-12, 0)
    s = f.select(
        "event_type",
        "day",
        F.sum("fi").over(w).cast("long").alias("s13"),
        F.count("fi").over(w).alias("cn"),
    ).filter(F.col("cn") == 13)
    return s.select(
        "event_type",
        "day",
        (F.round(F.col("s13") / 1300.0, 4) + 0.0).alias("force_13"),
        F.when(F.col("s13") > 0, 1)
        .when(F.col("s13") < 0, -1)
        .otherwise(0)
        .alias("pressure"),
    ).orderBy("event_type", "day")


@register(
    "q_backtest_sma",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, di, cl,
             CAST(sum(cl) OVER w5 AS BIGINT) AS s5,
             CAST(sum(cl) OVER w20 AS BIGINT) AS s20,
             count(*) OVER w20 AS cn
      FROM b
      WINDOW w5 AS (PARTITION BY event_type ORDER BY di
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w20 AS (PARTITION BY event_type ORDER BY di
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    sig AS (
      SELECT event_type, di, cl,
             CASE WHEN cn = 20 THEN
               CASE WHEN 4 * s5 > s20 THEN 1 ELSE 0 END END AS signal
      FROM s
    ),
    p AS (
      SELECT event_type, di, cl,
             lag(signal) OVER w AS pos,
             lag(cl) OVER w AS clp,
             CASE WHEN signal IS NOT NULL
                  AND signal <> lag(signal) OVER w THEN 1 ELSE 0 END AS flip
      FROM sig WINDOW w AS (PARTITION BY event_type ORDER BY di)
    ),
    r AS (
      SELECT event_type, flip, pos,
             CAST(round(ln(CAST(cl AS DOUBLE) / clp) * 1000000) AS BIGINT)
               AS lr
      FROM p WHERE clp IS NOT NULL
    ),
    f AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE pos IS NOT NULL) AS BIGINT)
               AS n_days,
             CAST(sum(flip) AS BIGINT) AS n_trades,
             CAST(sum(CASE WHEN pos = 1 THEN lr ELSE 0 END) AS BIGINT)
               AS strat_q,
             CAST(sum(CASE WHEN pos IS NOT NULL THEN lr ELSE 0 END)
                  AS BIGINT) AS hold_q,
             CAST(count(*) FILTER (WHERE pos = 1) AS BIGINT) AS n_held,
             CAST(count(*) FILTER (WHERE pos = 1 AND lr > 0) AS BIGINT)
               AS n_up
      FROM r GROUP BY event_type
    )
    SELECT event_type, n_days, n_trades, n_held,
           round(exp(strat_q / 1000000.0) - 1, 4) + 0.0 AS strat_return,
           round(exp(hold_q / 1000000.0) - 1, 4) + 0.0 AS hold_return,
           round(CAST(n_up AS DOUBLE) / n_held, 4) + 0.0 AS hit_rate
    FROM f WHERE n_held > 0
    ORDER BY event_type
    """,
)
def q_backtest_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized SMA-crossover backtest per event type — the
    quant-research loop expressed relationally, no per-bar iteration:
    signal = [SMA5 > SMA20] (exact-integer cross-multiply 4·S₅ > S₂₀
    — the sums are over 5 and 20 full bars, so the comparison clears
    both denominators), position = YESTERDAY's signal (one lag — no
    look-ahead bias, the classic backtest bug), strategy log-return =
    position-gated daily log-returns on the 1e-6 ln grid, and total
    return compounds as exp(Σ grid)/10⁶ — one transcendental at the
    end, exact integer sums in between. Reports trades (signal
    flips), strategy vs buy-and-hold total return, and the hit rate
    (ONE division of exact counts).

    Scale shape: ticks collapse to daily bars in one hash agg; both
    SMAs, the signal lag, and the return lag ride ONE per-type day
    sort (single window exchange); the final reduce is |types| rows.
    At 100 TB (years × thousands of symbols) the same plan holds —
    the window input is the calendar-bounded bar table, never
    ticks."""
    b = daily_bars(_t(spark, sf_dir, "events"), "cl")
    w5 = Window.partitionBy("event_type").orderBy("di").rowsBetween(-4, 0)
    w20 = Window.partitionBy("event_type").orderBy("di").rowsBetween(-19, 0)
    s = b.select(
        "event_type",
        "di",
        "cl",
        F.sum("cl").over(w5).cast("long").alias("s5"),
        F.sum("cl").over(w20).cast("long").alias("s20"),
        F.count("*").over(w20).alias("cn"),
    )
    sig = s.select(
        "event_type",
        "di",
        "cl",
        F.when(
            F.col("cn") == 20,
            F.when(4 * F.col("s5") > F.col("s20"), 1).otherwise(0),
        ).alias("signal"),
    )
    ws = Window.partitionBy("event_type").orderBy("di")
    p = sig.select(
        "event_type",
        "di",
        "cl",
        F.lag("signal").over(ws).alias("pos"),
        F.lag("cl").over(ws).alias("clp"),
        F.when(
            F.col("signal").isNotNull()
            & (F.col("signal") != F.lag("signal").over(ws)),
            1,
        )
        .otherwise(0)
        .alias("flip"),
    ).filter(F.col("clp").isNotNull())
    r = p.select(
        "event_type",
        "flip",
        "pos",
        F.round(F.log(F.col("cl").cast("double") / F.col("clp")) * 1000000)
        .cast("long")
        .alias("lr"),
    )
    f = r.groupBy("event_type").agg(
        F.count(F.when(F.col("pos").isNotNull(), 1)).cast("long").alias("n_days"),
        F.sum("flip").cast("long").alias("n_trades"),
        F.sum(F.when(F.col("pos") == 1, F.col("lr")).otherwise(F.lit(0)))
        .cast("long")
        .alias("strat_q"),
        F.sum(F.when(F.col("pos").isNotNull(), F.col("lr")).otherwise(F.lit(0)))
        .cast("long")
        .alias("hold_q"),
        F.count(F.when(F.col("pos") == 1, 1)).cast("long").alias("n_held"),
        F.count(F.when((F.col("pos") == 1) & (F.col("lr") > 0), 1))
        .cast("long")
        .alias("n_up"),
    )
    return (
        f.filter(F.col("n_held") > 0)
        .select(
            "event_type",
            "n_days",
            "n_trades",
            "n_held",
            (F.round(F.exp(F.col("strat_q") / 1000000.0) - 1, 4) + 0.0).alias(
                "strat_return"
            ),
            (F.round(F.exp(F.col("hold_q") / 1000000.0) - 1, 4) + 0.0).alias(
                "hold_return"
            ),
            (F.round(F.col("n_up").cast("double") / F.col("n_held"), 4) + 0.0).alias(
                "hit_rate"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "q_regime_transitions",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, di,
             abs(CAST(round(ln(CAST(cl AS DOUBLE)
                            / lag(cl) OVER (PARTITION BY event_type
                                            ORDER BY di)) * 1000000)
                      AS BIGINT)) AS ar
      FROM b
    ),
    med AS (
      SELECT event_type,
             CAST(median(ar) AS DOUBLE) AS med
      FROM r WHERE ar IS NOT NULL GROUP BY event_type
    ),
    st AS (
      SELECT r.event_type, r.di,
             CASE WHEN r.ar > med.med THEN 1 ELSE 0 END AS hi
      FROM r JOIN med ON r.event_type = med.event_type
      WHERE r.ar IS NOT NULL
    ),
    tr AS (
      SELECT event_type, hi,
             lag(hi) OVER (PARTITION BY event_type ORDER BY di) AS prev
      FROM st
    ),
    c AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE prev = 0 AND hi = 0) AS BIGINT) AS c00,
             CAST(count(*) FILTER (WHERE prev = 0 AND hi = 1) AS BIGINT) AS c01,
             CAST(count(*) FILTER (WHERE prev = 1 AND hi = 0) AS BIGINT) AS c10,
             CAST(count(*) FILTER (WHERE prev = 1 AND hi = 1) AS BIGINT) AS c11
      FROM tr WHERE prev IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, c00, c01, c10, c11,
           round(CAST(c01 AS DOUBLE) / (c00 + c01), 4) + 0.0 AS p_calm_to_vol,
           round(CAST(c10 AS DOUBLE) / (c10 + c11), 4) + 0.0 AS p_vol_to_calm,
           round(CAST(c01 * (c10 + c11) AS DOUBLE)
                 / (c01 * CAST(c10 + c11 AS BIGINT)
                    + c10 * CAST(c00 + c01 AS BIGINT)), 4) + 0.0
             AS stationary_vol
    FROM c WHERE c00 + c01 > 0 AND c10 + c11 > 0
    ORDER BY event_type
    """,
)
def q_regime_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-state volatility-regime Markov chain per event type: days
    classify as calm/volatile by whether |daily log return| exceeds
    the type's own median, the 2×2 transition counts estimate the
    chain, and the closed-form stationary distribution
    π_vol = p01/(p01 + p10) says what fraction of time the process
    LIVES in the volatile state (persistence read: p11 ≫ π_vol means
    clustering — the phenomenon GARCH models; this is its
    non-parametric screen).

    Exactness: returns on the 1e-6 ln grid (house idiom); the median
    threshold is the exact lower median of grid INTEGERS (both
    engines agree on integer medians of the same multiset — the only
    subtle cross-engine point, and q_agg_weighted_median's rule);
    transitions are exact conditional counts off one lag on the
    bounded daily series; p01/p10 are single divisions and the
    stationary probability is ONE division after clearing both
    denominators (c01(c10+c11) / (c01(c10+c11) + c10(c00+c01)) — no
    ratio-of-ratios)."""
    b = daily_bars(_t(spark, sf_dir, "events"), "cl")
    ws = Window.partitionBy("event_type").orderBy("di")
    r = b.select(
        "event_type",
        "di",
        F.abs(
            F.round(
                F.log(F.col("cl").cast("double") / F.lag("cl").over(ws)) * 1000000
            ).cast("long")
        ).alias("ar"),
    ).filter(F.col("ar").isNotNull())
    med = r.groupBy("event_type").agg(
        F.expr("percentile(ar, 0.5)").alias("med_raw")
    )
    # DuckDB median() interpolates halfway between the two central
    # values on even counts, exactly like Spark's percentile(0.5):
    # both evaluate (a+b)/2 on the same exact grid integers.
    st = r.join(med, "event_type").select(
        "event_type",
        "di",
        F.when(F.col("ar") > F.col("med_raw"), 1).otherwise(0).alias("hi"),
    )
    tr = st.select(
        "event_type", "hi", F.lag("hi").over(ws.orderBy("di")).alias("prev")
    ).filter(F.col("prev").isNotNull())
    c = tr.groupBy("event_type").agg(
        F.count(F.when((F.col("prev") == 0) & (F.col("hi") == 0), 1))
        .cast("long")
        .alias("c00"),
        F.count(F.when((F.col("prev") == 0) & (F.col("hi") == 1), 1))
        .cast("long")
        .alias("c01"),
        F.count(F.when((F.col("prev") == 1) & (F.col("hi") == 0), 1))
        .cast("long")
        .alias("c10"),
        F.count(F.when((F.col("prev") == 1) & (F.col("hi") == 1), 1))
        .cast("long")
        .alias("c11"),
    )
    return (
        c.filter((F.col("c00") + F.col("c01") > 0) & (F.col("c10") + F.col("c11") > 0))
        .select(
            "event_type",
            "c00",
            "c01",
            "c10",
            "c11",
            (
                F.round(F.col("c01").cast("double") / (F.col("c00") + F.col("c01")), 4)
                + 0.0
            ).alias("p_calm_to_vol"),
            (
                F.round(F.col("c10").cast("double") / (F.col("c10") + F.col("c11")), 4)
                + 0.0
            ).alias("p_vol_to_calm"),
            (
                F.round(
                    (F.col("c01") * (F.col("c10") + F.col("c11"))).cast("double")
                    / (
                        F.col("c01") * (F.col("c10") + F.col("c11"))
                        + F.col("c10") * (F.col("c00") + F.col("c01"))
                    ),
                    4,
                )
                + 0.0
            ).alias("stationary_vol"),
        )
        .orderBy("event_type")
    )


@register(
    "q_win_efficiency_ratio",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    l AS (
      SELECT event_type, di, day, cl,
             abs(cl - lag(cl) OVER w) AS ac,
             lag(cl, 10) OVER w AS cl10
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY di)
    ),
    s AS (
      SELECT event_type, day, cl, cl10,
             CAST(sum(ac) OVER v AS BIGINT) AS vol,
             count(ac) OVER v AS cn
      FROM l
      WINDOW v AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(CAST(abs(cl - cl10) AS DOUBLE) / vol, 4) + 0.0
             AS efficiency_ratio,
           CASE WHEN 2 * abs(cl - cl10) > vol THEN 1 ELSE 0 END AS trending
    FROM s WHERE cn = 10 AND cl10 IS NOT NULL AND vol > 0
    ORDER BY event_type, day
    """,
)
def q_win_efficiency_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman Efficiency Ratio (10-day) per event type: net price
    change over the sum of absolute daily changes — 1.0 is a straight
    line, ~0 is pure chop; the regime input Kaufman's adaptive MA
    smooths by, and the cheapest trendiness screen in the family
    (q_regime_transitions classifies variance regimes; this measures
    DIRECTIONAL efficiency).

    Fully exact until display: |net| and the volatility sum are
    integer cents off the deterministic close; the trending flag
    cross-multiplies 2·|net| > Σ|Δ| (ER > 0.5) so no float decides
    it; ER is ONE IEEE division. The 10-bar displaced close and the
    rolling sum ride one per-type window exchange."""
    b = daily_bars(_t(spark, sf_dir, "events"), "cl", day=True)
    w = Window.partitionBy("event_type").orderBy("di")
    l = b.select(
        "event_type",
        "di",
        "day",
        "cl",
        F.abs(F.col("cl") - F.lag("cl").over(w)).alias("ac"),
        F.lag("cl", 10).over(w).alias("cl10"),
    )
    v = Window.partitionBy("event_type").orderBy("di").rowsBetween(-9, 0)
    s = l.select(
        "event_type",
        "day",
        "cl",
        "cl10",
        F.sum("ac").over(v).cast("long").alias("vol"),
        F.count("ac").over(v).alias("cn"),
    ).filter((F.col("cn") == 10) & F.col("cl10").isNotNull() & (F.col("vol") > 0))
    net = F.abs(F.col("cl") - F.col("cl10"))
    return s.select(
        "event_type",
        "day",
        (F.round(net.cast("double") / F.col("vol"), 4) + 0.0).alias(
            "efficiency_ratio"
        ),
        F.when(2 * net > F.col("vol"), 1).otherwise(0).alias("trending"),
    ).orderBy("event_type", "day")


@register(
    "q_win_elder_ray",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    s AS (
      SELECT event_type,
             list(CAST(cl AS DOUBLE) ORDER BY di) AS cls,
             max(struct_pack(d := di, day := day, hi := hi, lo := lo)) AS lastb
      FROM d GROUP BY event_type
    ),
    e AS (
      SELECT event_type, lastb.day AS day,
             CAST(len(cls) AS BIGINT) AS n_days,
             list_reduce(cls, (acc, x) -> (2.0 * x + 12.0 * acc) / 14.0)
               AS ema,
             CAST(lastb.hi AS DOUBLE) AS hi, CAST(lastb.lo AS DOUBLE) AS lo
      FROM s
    )
    SELECT event_type, day, n_days,
           round(ema / 100.0, 4) + 0.0 AS ema13,
           round((hi - ema) / 100.0, 4) + 0.0 AS bull_power,
           round((lo - ema) / 100.0, 4) + 0.0 AS bear_power,
           CASE WHEN hi - ema > 0 THEN 1 ELSE 0 END AS bulls_in_control,
           CASE WHEN lo - ema < 0 THEN 1 ELSE 0 END AS bears_present
    FROM e ORDER BY event_type
    """,
)
def q_win_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder-Ray bull/bear power at the latest bar per event type:
    bull = last high − EMA13(close), bear = last low − EMA13 — the
    oscillator pair that splits q_win_ewma-style smoothing into WHO is
    in control (bulls push highs above the consensus EMA, bears pull
    lows below), completing the momentum family next to MACD (EMA
    differences) and force-index (volume-weighted change).

    Shape: the per-type daily-bar aggregate (deterministic close =
    value of the max (ts, event_id) struct — the house bar idiom),
    then ONE sorted-array fold per type for the EMA — day counts per
    type are bounded, the fold order is pinned by the sort, and both
    engines evaluate the IDENTICAL (2x + 12·acc)/14 expression
    seeded with the first close, so the doubles (and the sign flags
    read off them) agree bit-for-bit."""
    d = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    s = d.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("di"), F.col("cl").cast("double").alias("v")))
        ).alias("ds"),
        F.max(
            F.struct(
                F.col("di").alias("d"),
                F.col("day").alias("day"),
                F.col("hi").alias("hi"),
                F.col("lo").alias("lo"),
            )
        ).alias("lastb"),
    )
    cls = F.transform(F.col("ds"), lambda x: x["v"])
    ema = F.aggregate(
        F.slice(cls, 2, F.greatest(F.size(cls) - 1, F.lit(0))),
        F.element_at(cls, 1),
        lambda acc, x: (2.0 * x + 12.0 * acc) / 14.0,
    )
    e = s.select(
        "event_type",
        F.col("lastb.day").alias("day"),
        F.size(cls).cast("long").alias("n_days"),
        ema.alias("ema"),
        F.col("lastb.hi").cast("double").alias("hi"),
        F.col("lastb.lo").cast("double").alias("lo"),
    )
    return e.select(
        "event_type",
        "day",
        "n_days",
        (F.round(F.col("ema") / 100.0, 4) + 0.0).alias("ema13"),
        (F.round((F.col("hi") - F.col("ema")) / 100.0, 4) + 0.0).alias("bull_power"),
        (F.round((F.col("lo") - F.col("ema")) / 100.0, 4) + 0.0).alias("bear_power"),
        F.when(F.col("hi") - F.col("ema") > 0, 1).otherwise(0).alias(
            "bulls_in_control"
        ),
        F.when(F.col("lo") - F.col("ema") < 0, 1).otherwise(0).alias(
            "bears_present"
        ),
    ).orderBy("event_type")


@register(
    "q_win_heikin_ashi",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(min(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS op,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    s AS (
      SELECT event_type,
             list(struct_pack(di := di, o := CAST(op AS DOUBLE),
                              h := CAST(hi AS DOUBLE),
                              l := CAST(lo AS DOUBLE),
                              c := CAST(cl AS DOUBLE)) ORDER BY di) AS ds,
             max(struct_pack(d := di, day := day)).day AS day
      FROM d GROUP BY event_type
    ),
    f AS (
      SELECT event_type, day,
             CAST(len(ds) AS BIGINT) AS n_days,
             list_transform(ds, b -> (b.o + b.h + b.l + b.c) / 4.0) AS hcs,
             ds[len(ds)] AS lastb,
             (ds[1].o + ds[1].c) / 2.0 AS seed
      FROM s
    ),
    g AS (
      SELECT event_type, day, n_days,
             hcs[len(hcs)] AS ha_close,
             list_reduce(list_prepend(seed, hcs[1:len(hcs) - 1]),
                         (acc, x) -> (acc + x) / 2.0) AS ha_open,
             lastb.h AS hi, lastb.l AS lo
      FROM f
    )
    SELECT event_type, day, n_days,
           round(ha_open / 100.0, 4) + 0.0 AS ha_open,
           round(ha_close / 100.0, 4) + 0.0 AS ha_close,
           round(greatest(hi, ha_open, ha_close) / 100.0, 4) + 0.0 AS ha_high,
           round(least(lo, ha_open, ha_close) / 100.0, 4) + 0.0 AS ha_low,
           CASE WHEN ha_close > ha_open THEN 1 ELSE 0 END AS bullish
    FROM g ORDER BY event_type
    """,
)
def q_win_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi smoothed candle at the latest bar per event type:
    HA close = (O+H+L+C)/4, HA open = midpoint of the PREVIOUS HA
    candle — the trend-smoothing recursion chartists read instead of
    raw candles (a run of same-color HA candles = one trend leg;
    q_candle_patterns reads raw bodies, this reads the smoothed ones).

    The recursion ha_open[t] = (ha_open[t-1] + ha_close[t-1])/2 is a
    sorted-array fold with an explicit seed ((O₀+C₀)/2): both engines
    prepend the seed and fold (acc + x)/2 over the HA closes except
    the last, in the SAME pinned order — bit-identical doubles, so
    the candle color flag agrees too. Per-type day counts bound the
    arrays; one hash agg + one fold, no window."""
    d = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "op", "cl", day=True)
    s = d.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("di"),
                    F.col("op").cast("double").alias("o"),
                    F.col("hi").cast("double").alias("h"),
                    F.col("lo").cast("double").alias("l"),
                    F.col("cl").cast("double").alias("c"),
                )
            )
        ).alias("ds"),
        F.max(F.struct(F.col("di").alias("d"), F.col("day").alias("day")))[
            "day"
        ].alias("day"),
    )
    hcs = F.transform(
        F.col("ds"), lambda b: (b["o"] + b["h"] + b["l"] + b["c"]) / 4.0
    )
    lastb = F.element_at(F.col("ds"), -1)
    seed = (
        F.element_at(F.col("ds"), 1)["o"] + F.element_at(F.col("ds"), 1)["c"]
    ) / 2.0
    ha_open = F.aggregate(
        F.slice(hcs, 1, F.greatest(F.size(hcs) - 1, F.lit(0))),
        seed,
        lambda acc, x: (acc + x) / 2.0,
    )
    g = s.select(
        "event_type",
        "day",
        F.size("ds").cast("long").alias("n_days"),
        F.element_at(hcs, -1).alias("ha_close"),
        ha_open.alias("ha_open"),
        lastb["h"].alias("hi"),
        lastb["l"].alias("lo"),
    )
    return g.select(
        "event_type",
        "day",
        "n_days",
        (F.round(F.col("ha_open") / 100.0, 4) + 0.0).alias("ha_open"),
        (F.round(F.col("ha_close") / 100.0, 4) + 0.0).alias("ha_close"),
        (
            F.round(
                F.greatest("hi", "ha_open", "ha_close") / 100.0, 4
            )
            + 0.0
        ).alias("ha_high"),
        (
            F.round(F.least("lo", "ha_open", "ha_close") / 100.0, 4) + 0.0
        ).alias("ha_low"),
        F.when(F.col("ha_close") > F.col("ha_open"), 1).otherwise(0).alias(
            "bullish"
        ),
    ).orderBy("event_type")


@register(
    "q_win_kama",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, di, cl,
             abs(cl - lag(cl) OVER pw) AS ac,
             lag(cl, 10) OVER pw AS cl10,
             coalesce(first_value(cl) OVER (PARTITION BY event_type
               ORDER BY di ROWS BETWEEN 10 PRECEDING AND CURRENT ROW), cl)
               AS cl_back
      FROM d WINDOW pw AS (PARTITION BY event_type ORDER BY di)
    ),
    s AS (
      SELECT event_type, di, cl,
             CAST(sum(ac) OVER v AS BIGINT) AS vol,
             abs(cl - coalesce(cl10, cl_back)) AS net
      FROM w
      WINDOW v AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    ),
    sc AS (
      SELECT event_type, di, cl,
             pow(CASE WHEN vol IS NULL OR vol = 0 THEN 1.0
                      ELSE CAST(net AS DOUBLE) / vol END
                 * (2.0/3.0 - 2.0/31.0) + 2.0/31.0, 2) AS smooth
      FROM s
    ),
    f AS (
      SELECT event_type,
             list(struct_pack(di := di, sc := smooth, p := CAST(cl AS DOUBLE))
                  ORDER BY di) AS xs
      FROM sc GROUP BY event_type
    )
    SELECT event_type,
           CAST(len(xs) AS BIGINT) AS n_days,
           round(list_reduce(
                   list_transform(xs, x -> struct_pack(sc := x.sc, p := x.p)),
                   (acc, x) -> struct_pack(
                     sc := x.sc, p := acc.p + x.sc * (x.p - acc.p))).p / 100.0,
                 4) + 0.0 AS kama
    FROM f ORDER BY event_type
    """,
)
def q_win_kama(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman Adaptive Moving Average at the latest bar per event
    type — the consumer of q_win_efficiency_ratio's signal: the
    smoothing constant interpolates between a 2-day and a 30-day EMA
    by the 10-day efficiency ratio squared (sc = (ER·(2/3 − 2/31) +
    2/31)²), so the average hugs trends and flattens in chop. The
    textbook adaptive-coefficient recursion kama_t = kama_{t−1} +
    sc_t·(p_t − kama_{t−1}).

    Shape: per-day sc comes from the SAME rolling windows the ER key
    uses (exact integer |net| and Σ|Δ|; flat days with zero
    volatility define ER = 1 — the price went nowhere efficiently);
    the variable-coefficient recursion is a pinned-order fold over
    (sc, price) structs seeded with the first close — both engines
    fold the identical expression over the identical list, so the
    doubles match bit-for-bit. Day counts per type bound the
    arrays."""
    d = daily_bars(_t(spark, sf_dir, "events"), "cl")
    pw = Window.partitionBy("event_type").orderBy("di")
    v10 = pw.rowsBetween(-9, 0)
    back = pw.rowsBetween(-10, 0)
    w = d.select(
        "event_type",
        "di",
        "cl",
        F.abs(F.col("cl") - F.lag("cl").over(pw)).alias("ac"),
        F.lag("cl", 10).over(pw).alias("cl10"),
        F.first("cl").over(back).alias("cl_back"),
    )
    s = w.select(
        "event_type",
        "di",
        "cl",
        F.sum("ac").over(v10).cast("long").alias("vol"),
        F.abs(F.col("cl") - F.coalesce(F.col("cl10"), F.col("cl_back"))).alias(
            "net"
        ),
    )
    er = F.when(
        F.col("vol").isNull() | (F.col("vol") == 0), F.lit(1.0)
    ).otherwise(F.col("net").cast("double") / F.col("vol"))
    sc = s.select(
        "event_type",
        "di",
        "cl",
        F.pow(er * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0, 2).alias("smooth"),
    )
    f = sc.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("di"),
                    F.col("smooth").alias("sc"),
                    F.col("cl").cast("double").alias("p"),
                )
            )
        ).alias("xs")
    )
    kama = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1)["p"],
        lambda acc, x: acc + x["sc"] * (x["p"] - acc),
    )
    return f.select(
        "event_type",
        F.size("xs").cast("long").alias("n_days"),
        (F.round(kama / 100.0, 4) + 0.0).alias("kama"),
    ).orderBy("event_type")


@register(
    "q_win_volume_profile",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) // 500 AS bucket,
             CAST(count(*) AS BIGINT) AS vol
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, bucket, vol,
             row_number() OVER w AS rk,
             CAST(sum(vol) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(vol) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY vol DESC, bucket ASC)
    ),
    va AS (
      SELECT event_type, bucket, vol, rk, cum, tot
      FROM r WHERE (cum - vol) * 10 < tot * 7
    )
    SELECT event_type,
           CAST(any_value(tot) AS BIGINT) AS n_ticks,
           round(max(CASE WHEN rk = 1 THEN bucket END) * 5.0 + 2.5, 2)
             AS poc_price,
           round(min(bucket) * 5.0, 2) AS va_low,
           round((max(bucket) + 1) * 5.0, 2) AS va_high,
           CAST(count(*) AS BIGINT) AS va_buckets,
           round(CAST(max(cum) AS DOUBLE) / any_value(tot), 4) + 0.0
             AS va_coverage
    FROM va GROUP BY event_type ORDER BY event_type
    """,
)
def q_win_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume profile / value area per event type: tick volume binned
    into $5 price buckets, the point of control (modal bucket) and
    the 70% value area (the smallest descending-volume bucket set
    covering ≥ 70% of ticks) — the market-structure readout (where
    did trading actually happen) complementing the time-axis bars of
    q_bars_ohlcv; support/resistance levels are read off exactly this
    table.

    Exactness: bucket volumes are exact counts; the ≥70% inclusion
    test cross-multiplies (cum−vol)·10 < tot·7 (a bucket enters while
    the EXCLUSIVE prefix is under 70%) so no float decides
    membership; ordering ties break bucket-ascending. The windows run
    over the bounded (type × price-bucket) domain, never ticks."""
    ev = _t(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            (F.floor(F.col("value") * 100).cast("long") / 500)
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("vol"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("vol"), F.asc("bucket"))
    wt = Window.partitionBy("event_type")
    r = b.select(
        "event_type",
        "bucket",
        "vol",
        F.row_number().over(w).alias("rk"),
        F.sum("vol")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
        F.sum("vol").over(wt).cast("long").alias("tot"),
    )
    va = r.filter((F.col("cum") - F.col("vol")) * 10 < F.col("tot") * 7)
    return (
        va.groupBy("event_type")
        .agg(
            F.any_value("tot").cast("long").alias("n_ticks"),
            F.round(
                F.max(F.when(F.col("rk") == 1, F.col("bucket"))) * 5.0 + 2.5, 2
            ).alias("poc_price"),
            F.round(F.min("bucket") * 5.0, 2).alias("va_low"),
            F.round((F.max("bucket") + 1) * 5.0, 2).alias("va_high"),
            F.count("*").cast("long").alias("va_buckets"),
            (
                F.round(
                    F.max("cum").cast("double") / F.any_value("tot"), 4
                )
                + 0.0
            ).alias("va_coverage"),
        )
        .orderBy("event_type")
    )


@register(
    "q_win_choppiness",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(floor(value * 100)) AS BIGINT) AS hi,
             CAST(min(floor(value * 100)) AS BIGINT) AS lo,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    tr AS (
      SELECT event_type, di, day, hi, lo,
             greatest(hi - lo,
                      abs(hi - lag(cl) OVER w),
                      abs(lo - lag(cl) OVER w)) AS tr
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY di)
    ),
    s AS (
      SELECT event_type, day,
             CAST(sum(tr) OVER v AS BIGINT) AS atr_sum,
             CAST(max(hi) OVER v AS BIGINT) AS hh,
             CAST(min(lo) OVER v AS BIGINT) AS ll,
             count(tr) OVER v AS cn
      FROM tr
      WINDOW v AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(100.0 * ln(CAST(atr_sum AS DOUBLE) / (hh - ll)) / ln(14.0),
                 4) + 0.0 AS choppiness,
           CASE WHEN CAST(atr_sum AS DOUBLE) / (hh - ll)
                     > pow(14.0, 0.618) THEN 1 ELSE 0 END AS is_choppy
    FROM s
    WHERE cn = 14 AND hh > ll AND atr_sum > 0
    ORDER BY event_type, day
    """,
)
def q_win_choppiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choppiness Index (14-day) per event type: 100·log₁₄ of the
    true-range sum over the window's total high-low range — near 100
    means the price churned inside a box (every TR dollar re-traced),
    near 0 means it traveled (range ≈ sum of moves). The regime
    classifier that tells trend-followers (q_win_adx, q_win_kama)
    when NOT to trust their signals; flag at the Fibonacci 61.8
    threshold.

    Exactness: TR, ΣTR, and the window extremes are exact integer
    cents in the same per-type window exchange; choppiness is one
    ln-ratio of exact integers by the identical expression tree, and
    the flag compares the exact ratio against the CONSTANT 14^0.618
    (evaluated identically on both engines) rather than the rounded
    display value."""
    d = daily_bars(_t(spark, sf_dir, "events"), "hi", "lo", "cl", day=True)
    pw = Window.partitionBy("event_type").orderBy("di")
    tr = d.select(
        "event_type",
        "di",
        "day",
        "hi",
        "lo",
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.lag("cl").over(pw)),
            F.abs(F.col("lo") - F.lag("cl").over(pw)),
        ).alias("tr"),
    )
    v = pw.rowsBetween(-13, 0)
    s = tr.select(
        "event_type",
        "day",
        F.sum("tr").over(v).cast("long").alias("atr_sum"),
        F.max("hi").over(v).cast("long").alias("hh"),
        F.min("lo").over(v).cast("long").alias("ll"),
        F.count("tr").over(v).alias("cn"),
    )
    ratio = F.col("atr_sum").cast("double") / (F.col("hh") - F.col("ll"))
    return (
        s.filter((F.col("cn") == 14) & (F.col("hh") > F.col("ll")) & (F.col("atr_sum") > 0))
        .select(
            "event_type",
            "day",
            (F.round(100.0 * F.log(ratio) / F.log(F.lit(14.0)), 4) + 0.0).alias(
                "choppiness"
            ),
            F.when(ratio > F.pow(F.lit(14.0), F.lit(0.618)), 1)
            .otherwise(0)
            .alias("is_choppy"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "q_win_ulcer_index",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(max(struct_pack(t := ts, e := event_id,
                                  v := CAST(floor(value * 100) AS BIGINT))).v
                  AS BIGINT) AS cl
      FROM events GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT event_type, di, day, cl,
             CAST(max(cl) OVER v AS BIGINT) AS peak,
             count(*) OVER v AS cn
      FROM d
      WINDOW v AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    dd AS (
      SELECT event_type, di, day,
             CAST(floor(10000.0 * (peak - cl) / peak) AS BIGINT) AS ddb,
             cn
      FROM w WHERE peak > 0
    ),
    u AS (
      SELECT event_type, day,
             CAST(sum(CAST(ddb AS HUGEINT) * ddb) OVER v AS HUGEINT) AS sq,
             CAST(count(*) OVER v AS BIGINT) AS n14,
             cn
      FROM dd
      WINDOW v AS (PARTITION BY event_type ORDER BY di
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           round(sqrt(CAST(sq AS DOUBLE) / n14) / 100.0, 4) + 0.0
             AS ulcer_index
    FROM u WHERE cn = 14 AND n14 = 14
    ORDER BY event_type, day
    """,
)
def q_win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer Index (14-day) per event type: RMS of the percentage
    drawdown from the rolling 14-day peak — the downside-only risk
    measure (volatility penalizes upside too; q_drawdown reports the
    single worst excursion; the UI integrates how long and how deep
    the position stayed underwater — what risk committees actually
    feel).

    Exactness: drawdown basis points floor to an integer grid per day
    (10⁴·(peak−close)/peak), their squares accumulate as 128-bit in
    the rolling window, and the RMS is one sqrt of an exact-integer
    mean. Two stacked 14-row windows share the per-type exchange."""
    d = daily_bars(_t(spark, sf_dir, "events"), "cl", day=True)
    pw = Window.partitionBy("event_type").orderBy("di")
    v = pw.rowsBetween(-13, 0)
    w = d.select(
        "event_type",
        "di",
        "day",
        "cl",
        F.max("cl").over(v).cast("long").alias("peak"),
        F.count("*").over(v).alias("cn"),
    )
    dd = w.filter(F.col("peak") > 0).select(
        "event_type",
        "di",
        "day",
        F.floor(10000.0 * (F.col("peak") - F.col("cl")) / F.col("peak"))
        .cast("long")
        .alias("ddb"),
        "cn",
    )
    u = dd.select(
        "event_type",
        "day",
        F.sum(F.col("ddb").cast("decimal(38,0)") * F.col("ddb"))
        .over(v)
        .alias("sq"),
        F.count("*").over(v).cast("long").alias("n14"),
        "cn",
    )
    return (
        u.filter((F.col("cn") == 14) & (F.col("n14") == 14))
        .select(
            "event_type",
            "day",
            (
                F.round(
                    F.sqrt(F.col("sq").cast("double") / F.col("n14")) / 100.0, 4
                )
                + 0.0
            ).alias("ulcer_index"),
        )
        .orderBy("event_type", "day")
    )
