"""Statistical inference operators (SURVEY.md §2.12a adjacency, added
late r4): the experiment-analysis / trend-detection layer of an
analytics engine.

Reference parity: the reference repo has no code (SURVEY.md §0); these
implement the committed inventory — the A/B significance test and the
trend regression every product/market analytics stack ships.

Cross-engine float policy (engine/registry.py docstring): both
operators aggregate EXACT INTEGERS only (floor-cents values, day
indexes) — sums of bigints are order-independent, so the final
double-precision formulas (Welch t, OLS slope) evaluate on identical
inputs on both engines and round() is safe.

Scale design (100 TB intent):
- both collapse the fact table in ONE hash aggregate with map-side
  combine (t-test: conditional sums per event_type; trend: per
  (type, day) partials then a |types|x|days|-bounded re-aggregate);
  no windows, no joins, no per-row Python.
- the A/B assignment is the engine's standard content-addressed md5
  bucket (engine/pipeline.py convention) — deterministic, shard-stable,
  reproducible across engines and runs.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.io import load_table
from engine.registry import register

# md5-hex first-8-hexit bucket, identical in Spark and DuckDB (the
# q_split_hash idiom): even bucket -> arm A, odd -> arm B. Built lazily
# -- Column construction requires an active SparkContext, which does
# not exist at import time.
def _spark_bucket() -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )


_SQL_BUCKET = (
    "CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2"
)


@register(
    "q_stats_ttest",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             count(*) FILTER (WHERE {_SQL_BUCKET} = 0) AS n_a,
             count(*) FILTER (WHERE {_SQL_BUCKET} = 1) AS n_b,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 0
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s_a,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 1
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s_b,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 0
                           THEN CAST(floor(value * 100) AS BIGINT)
                              * CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS ss_a,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 1
                           THEN CAST(floor(value * 100) AS BIGINT)
                              * CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS ss_b
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           round(s_a / 100.0 / n_a, 4) AS mean_a,
           round(s_b / 100.0 / n_b, 4) AS mean_b,
           round(
             (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
             / sqrt(
                 ((ss_a - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1)) / n_a
               + ((ss_b - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1)) / n_b
               ), 4) + 0.0 AS t_stat
    FROM g WHERE n_a > 1 AND n_b > 1
    """,
)
def q_stats_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-statistic per event_type between two
    deterministic md5-hash user arms (the A/B experiment readout).

    ONE conditional hash aggregate computes both arms' (n, Σcents,
    Σcents²) exactly; mean/variance/t evaluate driver-free in codegen
    from those integers. Welch (unequal variances) rather than pooled —
    the form real experiment platforms report. The t close to 0 is the
    expected null result for a hash split, which is itself the A/A
    sanity check those platforms run.
    """
    cents = F.floor(F.col("value") * 100).cast("long")
    in_a, in_b = _spark_bucket() == 0, _spark_bucket() == 1
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.when(in_a, 1)).alias("n_a"),
            F.count(F.when(in_b, 1)).alias("n_b"),
            F.sum(F.when(in_a, cents)).alias("s_a"),
            F.sum(F.when(in_b, cents)).alias("s_b"),
            F.sum(F.when(in_a, cents * cents)).alias("ss_a"),
            F.sum(F.when(in_b, cents * cents)).alias("ss_b"),
        )
        .filter((F.col("n_a") > 1) & (F.col("n_b") > 1))
    )
    mean_a_d = F.col("s_a").cast("double") / F.col("n_a")
    mean_b_d = F.col("s_b").cast("double") / F.col("n_b")
    var_a = (F.col("ss_a") - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("ss_b") - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    t = (mean_a_d - mean_b_d) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(F.col("s_a") / 100.0 / F.col("n_a"), 4).alias("mean_a"),
        F.round(F.col("s_b") / 100.0 / F.col("n_b"), 4).alias("mean_b"),
        (F.round(t, 4) + 0.0).alias("t_stat"),
    )


@register(
    "q_stats_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts))
               AS x,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 / 100.0, 4) + 0.0 AS slope_per_day,
           round((CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * sy)
                   / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)) * sx)
                 / n / 100.0, 4) + 0.0 AS intercept
    FROM s WHERE n > 1
    ORDER BY event_type
    """,
)
def q_stats_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend: slope and intercept of daily revenue vs day
    index (drift/decay detection over the event stream).

    Two-level plan: the fact table collapses to |types|x|days| daily
    cents totals in ONE map-side-combined aggregate; the OLS moments
    (Σx, Σy, Σxy, Σx²) re-aggregate that bounded table as exact
    bigints, and slope/intercept are closed-form doubles from them —
    no window, no join, deterministic on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", F.col("ts")), F.lit("2024-01-01").cast("timestamp")
            ).alias("x"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    ).filter(F.col("n") > 1)
    slope = (
        F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    )
    intercept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "event_type",
        "n",
        (F.round(slope / 100.0, 4) + 0.0).alias("slope_per_day"),
        (F.round(intercept / 100.0, 4) + 0.0).alias("intercept"),
    ).orderBy("event_type")


@register(
    "q_stats_did",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             {_SQL_BUCKET} AS arm,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS post,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    cells AS (
      SELECT event_type, arm, post, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM g GROUP BY 1, 2, 3
    ),
    wide AS (
      SELECT event_type,
             max(CASE WHEN arm = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS a_pre,
             max(CASE WHEN arm = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS a_post,
             max(CASE WHEN arm = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS b_pre,
             max(CASE WHEN arm = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS b_post,
             CAST(sum(n) AS BIGINT) AS n_total
      FROM cells GROUP BY event_type
    )
    SELECT event_type, n_total,
           round(((a_post - a_pre) - (b_post - b_pre)) / 100.0, 4) + 0.0 AS did
    FROM wide
    WHERE a_pre IS NOT NULL AND a_post IS NOT NULL
      AND b_pre IS NOT NULL AND b_post IS NOT NULL
    ORDER BY event_type
    """,
)
def q_stats_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences per event_type: treatment (md5 arm A)
    vs control (arm B), before vs after a cutover date — the causal-
    inference readout for a launch without a randomized holdback
    (parallel-trends estimator). On a hash split with no real
    treatment the DiD ≈ 0, which is the placebo test run before
    trusting the estimator on real data.

    ONE hash aggregate builds the 4 (arm × period) cells per type from
    exact integer (n, Σcents); the 2×2 pivot and the DiD contrast are
    codegen arithmetic on those exact cell means — no joins, no
    windows, deterministic doubles.
    """
    cutover = F.lit("2024-01-16").cast("timestamp")
    cents = F.floor(F.col("value") * 100).cast("long")
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            _spark_bucket().alias("arm"),
            F.when(F.col("ts") >= cutover, 1).otherwise(0).alias("post"),
            cents.alias("cents"),
        )
        .groupBy("event_type", "arm", "post")
        .agg(F.count("*").alias("n"), F.sum("cents").cast("long").alias("s"))
    )
    mean = F.col("s").cast("double") / F.col("n")
    cell = lambda a, p: F.max(  # noqa: E731
        F.when((F.col("arm") == a) & (F.col("post") == p), mean)
    )
    wide = cells.groupBy("event_type").agg(
        cell(0, 0).alias("a_pre"),
        cell(0, 1).alias("a_post"),
        cell(1, 0).alias("b_pre"),
        cell(1, 1).alias("b_post"),
        F.sum("n").cast("long").alias("n_total"),
    )
    did = (
        (F.col("a_post") - F.col("a_pre")) - (F.col("b_post") - F.col("b_pre"))
    ) / 100.0
    return (
        wide.filter(
            F.col("a_pre").isNotNull()
            & F.col("a_post").isNotNull()
            & F.col("b_pre").isNotNull()
            & F.col("b_post").isNotNull()
        )
        .select("event_type", "n_total", (F.round(did, 4) + 0.0).alias("did"))
        .orderBy("event_type")
    )


@register(
    "q_stats_chisq",
    oracle="""
    WITH cell AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY pri, st
    ),
    rt AS (SELECT pri, CAST(sum(o) AS BIGINT) AS row_tot FROM cell GROUP BY pri),
    ct AS (SELECT st, CAST(sum(o) AS BIGINT) AS col_tot FROM cell GROUP BY st),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT pri) AS BIGINT) AS r,
                   CAST(count(DISTINCT st) AS BIGINT) AS c
            FROM cell),
    q AS (
      SELECT CAST(floor(
               pow(cell.o - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
               / (CAST(row_tot AS DOUBLE) * col_tot / n) * 1000000
             ) AS BIGINT) AS qterm, n, r, c
      FROM cell JOIN rt USING (pri) JOIN ct USING (st), tot
    )
    SELECT round(sum(qterm) / 1000000.0, 4) AS chi2,
           any_value((r - 1) * (c - 1)) AS dof,
           any_value(n) AS n
    FROM q
    """,
)
def q_stats_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the order-priority ×
    order-status contingency table — the categorical-association
    companion to the Welch t-test (q_stats_ttest).

    Scale shape: ONE hash aggregate collapses the fact table to the
    r×c cell table (map-side combine; ≤15 rows here, ≤|domains|²
    always); row totals, column totals, and the (n, r, c) scalar are
    re-aggregates of THAT table, broadcast back — the fact table is
    scanned once and nothing larger than the cell table ever joins.
    Float policy: expected counts e = row·col/n evaluate on exact
    bigints (deterministic double division on both engines), each
    cell's (o−e)²/e is quantized to a bigint before the final sum so
    the statistic is order-independent, and dof is pure integer
    arithmetic."""
    cell = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
        )
        .agg(F.count("*").cast("long").alias("o"))
        .persist()
    )
    rt = cell.groupBy("pri").agg(F.sum("o").cast("long").alias("row_tot"))
    ct = cell.groupBy("st").agg(F.sum("o").cast("long").alias("col_tot"))
    tot = cell.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("pri").cast("long").alias("r"),
        F.countDistinct("st").cast("long").alias("c"),
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    qterm = F.floor(F.pow(F.col("o") - e, 2) / e * 1000000).cast("long")
    joined = (
        cell.join(F.broadcast(rt), "pri")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(tot))
    )
    return joined.agg(
        F.round(F.sum(qterm) / 1000000.0, 4).alias("chi2"),
        F.any_value((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        F.any_value(F.col("n")).alias("n"),
    )


@register(
    "q_stats_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT event_type, di, day, y,
             CAST(row_number() OVER win AS BIGINT) AS k,
             CAST(sum(y) OVER win AS BIGINT) AS s1k,
             CAST(sum(y * y) OVER win AS BIGINT) AS s2k,
             CAST(count(*) OVER tot AS BIGINT) AS n,
             CAST(sum(y) OVER tot AS BIGINT) AS s1,
             CAST(sum(y * y) OVER tot AS BIGINT) AS s2
      FROM d
      WINDOW
        win AS (PARTITION BY event_type ORDER BY di
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        tot AS (PARTITION BY event_type)
    ),
    c AS (
      SELECT event_type, day, n, s1, s2,
             CAST(floor(
               (s2k - CAST(s1k AS DOUBLE) * s1k / k)
               + ((s2 - s2k) - CAST(s1 - s1k AS DOUBLE) * (s1 - s1k) / (n - k))
             ) AS BIGINT) AS qcost,
             di
      FROM w WHERE k < n
    ),
    m AS (
      SELECT event_type,
             min(struct_pack(qcost := qcost, di := di, day := day)) AS mx,
             any_value(n) AS n_days,
             any_value(CAST(floor(CAST(s2 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n) AS BIGINT))
               AS qsse_total
      FROM c GROUP BY event_type
    )
    SELECT event_type, mx.day AS split_day, n_days,
           round((qsse_total - mx.qcost) / 10000.0, 2) AS sse_drop
    FROM m ORDER BY event_type
    """,
)
def q_stats_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single changepoint per event type (binary segmentation, the
    first split of PELT/BinSeg): the day index k minimizing
    SSE(1..k) + SSE(k+1..n) of the daily-revenue series, with the
    variance-reduction the split buys — the structural-break screen
    behind regime detection and A/B cutover audits.

    Fully windowed, no iteration: one hash agg to the |types|×|days|
    daily table, then ONE event_type exchange carries the cumulative
    (k, Σy, Σy²) prefix AND the per-type totals; every candidate
    split's cost is closed-form from those exact bigints
    (SSE = Σy² − (Σy)²/k), quantized to a bigint so the per-type
    argmin is the portable lexicographic MIN over a (cost, day)
    struct (the q_agg_argmax trick, tie → earliest day). Cents² units
    divide back to dollars² only in the final rounded column."""
    from pyspark.sql import Window

    from engine.crypto import daily_bars

    d = daily_bars(load_table(spark, sf_dir, "events"), day=True, y=F.sum("c").cast("long"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("event_type")
    w = d.select(
        "event_type",
        "di",
        "day",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("di"))
        .cast("long")
        .alias("k"),
        F.sum("y").over(win).cast("long").alias("s1k"),
        F.sum(F.col("y") * F.col("y")).over(win).cast("long").alias("s2k"),
        F.count("*").over(tot).cast("long").alias("n"),
        F.sum("y").over(tot).cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).over(tot).cast("long").alias("s2"),
    )
    k, s1k, s2k = F.col("k"), F.col("s1k"), F.col("s2k")
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    cost = (s2k - s1k.cast("double") * s1k / k) + (
        (s2 - s2k) - (s1 - s1k).cast("double") * (s1 - s1k) / (n - k)
    )
    c = w.filter(k < n).select(
        "event_type",
        "day",
        "di",
        "n",
        "s1",
        "s2",
        F.floor(cost).cast("long").alias("qcost"),
    )
    sse_total = F.floor(s2.cast("double") - s1.cast("double") * s1 / n).cast("long")
    m = c.groupBy("event_type").agg(
        F.min(
            F.struct(F.col("qcost"), F.col("di"), F.col("day"))
        ).alias("mx"),
        F.any_value(n).alias("n_days"),
        F.any_value(sse_total).alias("qsse_total"),
    )
    return m.select(
        "event_type",
        F.col("mx.day").alias("split_day"),
        "n_days",
        F.round((F.col("qsse_total") - F.col("mx.qcost")) / 10000.0, 2).alias(
            "sse_drop"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Distribution tests over the order-value distribution (added r5 late
# batch): the nonparametric companions to the Welch t / chi-square pair
# above — KS for "did the distribution shift", Mann-Whitney for "did
# the location shift", ANOVA for ">2 groups", PSI for "monitor it".
# All four follow the same scale shape: ONE hash aggregate collapses
# the fact table to a bounded relation (distinct cent values, groups,
# or bins), and every statistic is closed-form arithmetic over exact
# integers from that relation.
# ---------------------------------------------------------------------------


def banded_cum(
    df: DataFrame,
    band: Column,
    order: list[Column | str],
    sums: Sequence[str] | Mapping[str, Column],
    descending: bool = False,
) -> DataFrame:
    """Global inclusive prefix sums in ``order`` without a global sort —
    the two-level "banded" scheme every data-sized rank and running sum
    in the engine uses.

    Precondition: ``band`` is consistent with ``order`` — in ascending
    band order (descending when ``descending``), every row of an earlier
    band precedes every row of a later one — and ``order`` (sort
    columns such as ``F.desc("x")``; names sort ascending) is a total
    order within each band, ties broken by a unique key.

    Plan: one window partitioned by band sums within each band, in
    parallel; one ``groupBy(band)`` totals the bands; one window over
    that table (at most |bands| rows) turns the totals into each band's
    exclusive carry and the grand total; one broadcast join brings them
    back. The join is null-safe, so a NULL band keeps its rows and sorts
    first ascending and last descending, as Spark sorts NULLs.

    ``sums`` names the summed columns, or maps names to expressions
    (``{"rn": F.lit(1)}`` makes ``cum_rn`` the global row number). For
    each name the result adds ``cum_<c>`` (inclusive prefix sum) and
    ``tot_<c>`` (grand total)."""
    from pyspark.sql import Window

    if not isinstance(sums, Mapping):
        sums = {c: F.col(c) for c in sums}
    b = df.withColumn("_band", band)
    win = (
        Window.partitionBy("_band")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = b.select("*", *[F.sum(e).over(win).alias(f"_in_{c}") for c, e in sums.items()])
    bands = Window.orderBy(F.desc("_band") if descending else F.asc("_band"))
    carry = bands.rowsBetween(Window.unboundedPreceding, -1)
    total = bands.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bt = b.groupBy("_band").agg(*[F.sum(e).alias(f"_bt_{c}") for c, e in sums.items()])
    bt = bt.select(
        F.col("_band").alias("_cb"),
        *[
            F.coalesce(F.sum(f"_bt_{c}").over(carry), F.lit(0)).alias(f"_carry_{c}")
            for c in sums
        ],
        *[F.sum(f"_bt_{c}").over(total).alias(f"tot_{c}") for c in sums],
    )
    out = within.join(F.broadcast(bt), F.col("_band").eqNullSafe(F.col("_cb")))
    return out.select(
        *df.columns,
        *[(F.col(f"_carry_{c}") + F.col(f"_in_{c}")).alias(f"cum_{c}") for c in sums],
        *[f"tot_{c}" for c in sums],
    )


def closed_ntile(rn: Column, n: Column, k: int) -> Column:
    """``ntile(k)`` of the 1-based global rank ``rn`` among ``n`` rows,
    in closed form: the first ``n mod k`` tiles hold ``n div k + 1``
    rows, the rest ``n div k``. With n < k every rank takes the first
    branch; the second branch's divisor is still pinned >= 1 so no
    input yields a NULL tile through a 0 division."""
    r = rn - 1
    base = (n / k).cast("long")
    rem = n % k
    head = rem * (base + 1)  # ranks covered by the size-(base+1) tiles
    return (
        F.when(r < head, (r / (base + 1)).cast("long"))
        .otherwise(rem + ((r - head) / F.greatest(base, F.lit(1))).cast("long"))
        + 1
    ).cast("int")


def _ks_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-cent-value counts of the two compared samples
    (finished 'F' vs open 'O' orders) — the shared base relation of
    the KS and Mann-Whitney tests."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select(
            cents.alias("cents"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ia"),
            F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("ib"),
        )
        .groupBy("cents")
        .agg(F.sum("ia").cast("long").alias("na"), F.sum("ib").cast("long").alias("nb"))
    )


_KS_GROUPED_SQL = """
    g AS (
      SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS na,
             CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS nb
      FROM orders WHERE o_orderstatus IN ('F', 'O')
      GROUP BY cents
    )
"""


@register(
    "q_stats_ks",
    oracle=f"""
    WITH {_KS_GROUPED_SQL},
    w AS (
      SELECT cents,
             CAST(sum(na) OVER cum AS BIGINT) AS cum_na,
             CAST(sum(nb) OVER cum AS BIGINT) AS cum_nb,
             CAST(sum(na) OVER () AS BIGINT) AS n_a,
             CAST(sum(nb) OVER () AS BIGINT) AS n_b
      FROM g
      WINDOW cum AS (ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    d AS (
      SELECT n_a, n_b,
             abs(CAST(cum_na AS HUGEINT) * n_b
                 - CAST(cum_nb AS HUGEINT) * n_a) AS dn,
             -cents AS nc
      FROM w
    ),
    m AS (SELECT any_value(n_a) AS n_a, any_value(n_b) AS n_b,
                 max(struct_pack(dn := dn, nc := nc)) AS mx
          FROM d)
    SELECT n_a, n_b,
           round(CAST(mx.dn AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b), 6) + 0.0
             AS ks_d,
           round(-mx.nc / 100.0, 2) AS ks_at
    FROM m
    """,
)
def q_stats_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the finished
    ('F') and open ('O') order-value distributions — the exact
    distribution-shift test behind drift monitors and A/B guardrails.

    Exactness: D = max |ECDF_a - ECDF_b| evaluates as the integer
    cross-product |cum_a·n_b - cum_b·n_a| (decimal/HUGEINT so the
    product never overflows at any n), divided back only in the final
    rounded column; the arg-max value reports WHERE the distributions
    diverge most (tie -> smallest value, via the lexicographic
    struct-max idiom of q_agg_argmax).

    Scale shape: one hash aggregate collapses the fact table to
    distinct cent values (domain-bounded); the cumulative pass is
    :func:`banded_cum` over cents bands of width 2^16, whose totals are
    the sample sizes; the final max is a plain aggregate with map-side
    combine."""
    g = _ks_grouped(spark, sf_dir)
    w = banded_cum(
        g, (F.col("cents") / (1 << 16)).cast("long"), ["cents"], ["na", "nb"]
    )
    d = w.select(
        F.col("tot_na").alias("n_a"),
        F.col("tot_nb").alias("n_b"),
        F.abs(
            F.col("cum_na").cast("decimal(38,0)") * F.col("tot_nb")
            - F.col("cum_nb").cast("decimal(38,0)") * F.col("tot_na")
        ).alias("dn"),
        (-F.col("cents")).alias("nc"),
    )
    m = d.groupBy().agg(
        F.any_value("n_a").alias("n_a"),
        F.any_value("n_b").alias("n_b"),
        F.max(F.struct(F.col("dn"), F.col("nc"))).alias("mx"),
    )
    return m.select(
        "n_a",
        "n_b",
        (
            F.round(
                F.col("mx.dn").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            )
            + 0.0
        ).alias("ks_d"),
        F.round(-F.col("mx.nc") / 100.0, 2).alias("ks_at"),
    )


@register(
    "q_stats_mannwhitney",
    oracle=f"""
    WITH {_KS_GROUPED_SQL},
    w AS (
      SELECT na, nb, na + nb AS t,
             coalesce(sum(na + nb) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS before,
             CAST(sum(na) OVER () AS BIGINT) AS n_a,
             CAST(sum(nb) OVER () AS BIGINT) AS n_b
      FROM g
    ),
    s AS (
      SELECT any_value(n_a) AS n_a, any_value(n_b) AS n_b,
             CAST(sum(CAST(na AS HUGEINT) * (2 * before + t + 1)) AS HUGEINT)
               AS r2a,
             CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS ties
      FROM w
    )
    SELECT n_a, n_b,
           (CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE) * (n_a + 1)) / 2.0 AS u_a,
           round(
             ((CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE) * (n_a + 1)) / 2.0
              - CAST(n_a AS DOUBLE) * n_b / 2.0)
             / sqrt(
                 CAST(n_a AS DOUBLE) * n_b / 12.0
                 * ((n_a + n_b + 1)
                    - CAST(ties AS DOUBLE)
                      / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))
               ), 4) + 0.0 AS z
    FROM s
    """,
)
def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test between finished and open order
    values — the nonparametric location-shift companion to
    q_stats_ks's distribution test and q_stats_ttest's parametric one,
    with the tie-corrected normal approximation real stat packages
    report.

    Exactness: average tie-ranks are carried DOUBLED so the rank sum
    stays an exact integer (2·rank-sum contribution per distinct value
    = na·(2·before + t + 1)); the tie term Σ(t³−t) is exact too; both
    accumulate as decimal/HUGEINT so no n overflows. U and z evaluate
    once, at the end, on those exact integers. Unlike the KS prefix
    sums, the EXCLUSIVE combined-count prefix here feeds a plain SUM —
    order-independent — so no cumulative pass survives to the plan:
    everything after the distinct-value aggregate is one re-aggregate.
    """
    g = _ks_grouped(spark, sf_dir)
    w = banded_cum(
        g.withColumn("t", F.col("na") + F.col("nb")),
        (F.col("cents") / (1 << 16)).cast("long"),
        ["cents"],
        ["t"],
    ).withColumn("before", F.col("cum_t") - F.col("t"))
    tot = g.agg(
        F.sum("na").cast("long").alias("n_a"), F.sum("nb").cast("long").alias("n_b")
    )
    t = F.col("t").cast("decimal(38,0)")
    s = w.crossJoin(F.broadcast(tot)).agg(
        F.any_value("n_a").alias("n_a"),
        F.any_value("n_b").alias("n_b"),
        F.sum(
            F.col("na").cast("decimal(38,0)")
            * (2 * F.col("before") + F.col("t") + 1)
        ).alias("r2a"),
        F.sum(t * t * t - t).alias("ties"),
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    u_a = (F.col("r2a").cast("double") - n_a * (F.col("n_a") + 1)) / 2.0
    mu = n_a * F.col("n_b") / 2.0
    nn = n_a + F.col("n_b")
    sigma = F.sqrt(
        n_a * F.col("n_b") / 12.0
        * ((F.col("n_a") + F.col("n_b") + 1) - F.col("ties").cast("double") / (nn * (nn - 1)))
    )
    return s.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        (F.round((u_a - mu) / sigma, 4) + 0.0).alias("z"),
    )


@register(
    "q_stats_anova",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS s,
             CAST(sum(CAST(floor(o_totalprice * 100) AS HUGEINT)
                      * CAST(floor(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS ss
      FROM orders GROUP BY pri
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(n) AS BIGINT) AS n_total,
                   CAST(sum(s) AS HUGEINT) AS s_total
            FROM g),
    terms AS (
      SELECT k, n_total,
             CAST(floor(n * pow(CAST(s AS DOUBLE) / n
                                - CAST(s_total AS DOUBLE) / n_total, 2))
                  AS BIGINT) AS qssb,
             CAST(floor(CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                  AS BIGINT) AS qssw
      FROM g, tot
    ),
    a AS (SELECT any_value(k) AS k, any_value(n_total) AS n,
                 CAST(sum(qssb) AS HUGEINT) AS ssb,
                 CAST(sum(qssw) AS HUGEINT) AS ssw
          FROM terms)
    SELECT k, n,
           round((CAST(ssb AS DOUBLE) / (k - 1))
                 / (CAST(ssw AS DOUBLE) / (n - k)), 4) + 0.0 AS f_stat,
           round(CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE), 6) + 0.0
             AS eta_sq
    FROM a
    """,
)
def q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F over order value by order priority — the >2-arm
    generalization of q_stats_ttest (is ANY priority tier priced
    differently?), with eta² as the effect size.

    Float policy: each group's (n, Σcents, Σcents²) is exact (decimal/
    HUGEINT sums — Σcents² overflows bigint beyond ~sf0.1); group and
    grand means are deterministic double divisions of those integers;
    each group's between/within term is quantized to a bigint cents²
    unit BEFORE the k-row sum so SSB/SSW are order-independent, and
    the k-row sum itself is decimal(38,0)/HUGEINT (a single group's
    qssw reaches ~6.3e18 cents² at sf0.1, so the summed SSW overflows
    int64 — found by the r10 full-registry sf0.1 snapshot).

    Scale shape: ONE fact-table hash aggregate to |priorities| rows
    (map-side combine), a 1-row broadcast total, and closed-form
    arithmetic — no windows, no joins wider than the group table."""
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(cents.cast("decimal(38,0)")).alias("s"),
            F.sum((cents * cents).cast("decimal(38,0)")).alias("ss"),
        )
    )
    tot = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum("s").alias("s_total"),
    )
    mean_g = F.col("s").cast("double") / F.col("n")
    mean_all = F.col("s_total").cast("double") / F.col("n_total")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_total",
        F.floor(F.col("n") * F.pow(mean_g - mean_all, 2)).cast("long").alias("qssb"),
        F.floor(
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        .cast("long")
        .alias("qssw"),
    )
    # The k-row SSB/SSW sums must NOT be long: each group's qssw is an
    # exact cents² bigint that reaches ~6.3e18 at sf0.1, so the 5-group
    # sum (~3.1e19) overflows int64 — ANSI Spark throws, and the old
    # oracle's CAST(sum(...) AS BIGINT) would too (caught by the first
    # full-registry sf0.1 snapshot, r10). Sum in decimal(38,0)/HUGEINT
    # (still exact integers — order-independent), cast to double only
    # for the final ratios; no DecimalType reaches the output schema.
    a = terms.agg(
        F.any_value("k").alias("k"),
        F.any_value("n_total").alias("n"),
        F.sum(F.col("qssb").cast("decimal(38,0)")).alias("ssb"),
        F.sum(F.col("qssw").cast("decimal(38,0)")).alias("ssw"),
    )
    return a.select(
        "k",
        "n",
        (
            F.round(
                (F.col("ssb").cast("double") / (F.col("k") - 1))
                / (F.col("ssw").cast("double") / (F.col("n") - F.col("k"))),
                4,
            )
            + 0.0
        ).alias("f_stat"),
        (
            F.round(
                F.col("ssb").cast("double")
                / (F.col("ssb") + F.col("ssw")).cast("double"),
                6,
            )
            + 0.0
        ).alias("eta_sq"),
    )


@register(
    "q_quality_drift",
    oracle="""
    WITH b AS (
      SELECT length(bin(CAST(floor(value * 100) AS BIGINT))) AS bin,
             CAST(count(*) FILTER (WHERE date_part('day', ts) <= 15) AS BIGINT)
               AS ref_n,
             CAST(count(*) FILTER (WHERE date_part('day', ts) > 15) AS BIGINT)
               AS cur_n
      FROM events GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rn,
                   CAST(sum(cur_n) AS BIGINT) AS cn,
                   CAST(count(*) AS BIGINT) AS nb
            FROM b),
    t AS (
      SELECT bin, ref_n, cur_n,
             (CAST(cur_n + 1 AS DOUBLE) / (cn + nb)
              - CAST(ref_n + 1 AS DOUBLE) / (rn + nb))
             * ln((CAST(cur_n + 1 AS DOUBLE) / (cn + nb))
                  / (CAST(ref_n + 1 AS DOUBLE) / (rn + nb))) AS term
      FROM b, tot
    ),
    q AS (SELECT bin, ref_n, cur_n,
                 CAST(floor(term * 100000000) AS BIGINT) AS qterm
          FROM t)
    SELECT bin, ref_n, cur_n,
           round(qterm / 100000000.0, 6) + 0.0 AS psi_term,
           round(sum(qterm) OVER () / 100000000.0, 6) + 0.0 AS psi_total
    FROM q ORDER BY bin
    """,
)
def q_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution,
    first half of the month (reference) vs second half (current) — the
    standing drift monitor a production pipeline runs on every score /
    feature column.

    Bins are EXACT power-of-two cent bands computed as the binary
    digit count ``length(bin(cents))`` — no float log at the bin edge,
    so a cent value can never land in different bins on different
    engines. Laplace-smoothed shares ((n+1)/(N+|bins|)) keep one-sided
    bins finite; each bin's PSI term evaluates on deterministic
    doubles from exact counts and is quantized to a bigint before the
    |bins|-row total, so psi_total is order-independent.

    Scale shape: ONE conditional hash aggregate collapses the fact
    table to ≤64 bins (the bigint digit-count domain); everything
    after is arithmetic on that tiny relation — the monitor costs one
    scan regardless of corpus size."""
    from pyspark.sql import Window

    cents = F.floor(F.col("value") * 100).cast("long")
    b = (
        load_table(spark, sf_dir, "events")
        .select(
            F.length(F.bin(cents)).alias("bin"),
            F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("ir"),
            F.when(F.dayofmonth("ts") > 15, 1).otherwise(0).alias("ic"),
        )
        .groupBy("bin")
        .agg(
            F.sum("ir").cast("long").alias("ref_n"),
            F.sum("ic").cast("long").alias("cur_n"),
        )
    )
    tot = b.agg(
        F.sum("ref_n").cast("long").alias("rn"),
        F.sum("cur_n").cast("long").alias("cn"),
        F.count("*").cast("long").alias("nb"),
    )
    p = (F.col("ref_n") + 1).cast("double") / (F.col("rn") + F.col("nb"))
    q = (F.col("cur_n") + 1).cast("double") / (F.col("cn") + F.col("nb"))
    t = b.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_n",
        "cur_n",
        F.floor((q - p) * F.log(q / p) * 100000000).cast("long").alias("qterm"),
    )
    return t.select(
        "bin",
        "ref_n",
        "cur_n",
        (F.round(F.col("qterm") / 100000000.0, 6) + 0.0).alias("psi_term"),
        (
            F.round(
                F.sum("qterm").over(
                    Window.partitionBy()
                    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
                )
                / 100000000.0,
                6,
            )
            + 0.0
        ).alias("psi_total"),
    ).orderBy("bin")


def _rank2_map(df: DataFrame, col: str, band_width: int) -> DataFrame:
    """Value → DOUBLED average tie-rank map for ``col``: one hash
    aggregate to distinct values, :func:`banded_cum` of the counts,
    and r2 = 2·before + t + 1 — an exact integer for any tie pattern.
    Returns (col, r2)."""
    g = df.groupBy(col).agg(F.count("*").cast("long").alias("t"))
    c = banded_cum(g, (F.col(col) / band_width).cast("long"), [col], ["t"])
    return c.select(
        col, (2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1).alias("r2")
    )


@register(
    "q_stats_spearman",
    oracle="""
    WITH gx AS (
      SELECT l_quantity AS v, CAST(count(*) AS BIGINT) AS t FROM lineitem
      GROUP BY v
    ),
    rx AS (
      SELECT v, 2 * (sum(t) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
               + t + 1 AS r2
      FROM gx
    ),
    gy AS (
      SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS t
      FROM lineitem GROUP BY v
    ),
    ry AS (
      SELECT v, 2 * (sum(t) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
               + t + 1 AS r2
      FROM gy
    ),
    j AS (
      SELECT CAST(rx.r2 AS HUGEINT) AS x, CAST(ry.r2 AS HUGEINT) AS y
      FROM lineitem
      JOIN rx ON rx.v = l_quantity
      JOIN ry ON ry.v = CAST(floor(l_extendedprice * 100) AS BIGINT)
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(y * y) AS HUGEINT) AS syy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0
             AS spearman_rho
    FROM m
    """,
)
def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line quantity and extended
    price — the monotonic-association companion to q_corr_matrix's
    Pearson (robust to the price distribution's heavy tail).

    Exactness: average tie-ranks are carried DOUBLED (r2 = 2·before +
    t + 1 — integer for any tie pattern), so Pearson-on-ranks runs on
    exact decimal/HUGEINT moments (doubling cancels in ρ); the only
    double is the final rounded ratio.

    Scale shape: each variable's rank map is one distinct-value hash
    aggregate + :func:`banded_cum` (value-domain-bounded); the maps
    hash-join back to the fact rows (the quantity map is tiny and
    broadcasts; the price map is domain-bounded); one moment aggregate
    ends it. No global window, no sort of the fact table."""
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    rx = _rank2_map(li, "l_quantity", 16)
    ry = _rank2_map(
        li.withColumn(
            "l_extendedprice_c",
            F.floor(F.col("l_extendedprice") * 100).cast("long"),
        ).select(F.col("l_extendedprice_c").alias("l_extendedprice")),
        "l_extendedprice",
        1 << 16,
    )
    # explicit aliases: both rank maps expose a column named r2
    rxa = rx.select(F.col("l_quantity"), F.col("r2").alias("x"))
    rya = ry.select(F.col("l_extendedprice").alias("pc"), F.col("r2").alias("y"))
    j = (
        li.select(
            "l_quantity",
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        )
        .join(F.broadcast(rxa), "l_quantity")
        .join(rya, "pc")
        .select(F.col("x").cast("decimal(38,0)"), F.col("y").cast("decimal(38,0)"))
    )
    m = j.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        (F.round(num / den, 6) + 0.0).alias("spearman_rho"),
    )


@register(
    "q_stats_kendall",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY di
    ),
    p AS (
      SELECT CASE WHEN b.y > a.y THEN 1 ELSE 0 END AS conc,
             CASE WHEN b.y < a.y THEN 1 ELSE 0 END AS disc,
             CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS tie_y
      FROM d a JOIN d b ON b.di > a.di
    ),
    m AS (
      SELECT CAST(sum(conc) AS BIGINT) AS c, CAST(sum(disc) AS BIGINT) AS dk,
             CAST(sum(tie_y) AS BIGINT) AS ty, CAST(count(*) AS BIGINT) AS n0,
             (SELECT CAST(count(*) AS BIGINT) FROM d) AS n
      FROM p
    )
    SELECT n, c AS concordant, dk AS discordant,
           round((c - dk) / sqrt(CAST(n0 AS DOUBLE) * (n0 - ty)), 6) + 0.0
             AS kendall_tau
    FROM m
    """,
)
def q_stats_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between day index and daily revenue — the
    pair-concordance trend test (the exact test behind the
    Mann-Kendall trend screen), third leg beside q_stats_trend's OLS
    and q_win_theil_sen's median slope.

    Day indexes are strictly increasing, so every pair's concordance
    is one integer comparison of exact cent totals; tau-b's tie
    correction applies on the y side only (x has no ties). Counting is
    exact integers; the only double is the final rounded ratio.

    Scale shape: like q_win_theil_sen, the O(days²) pair join runs on
    the calendar-bounded AGGREGATED series — constant ~3M pairs at any
    corpus size — and the concordance counts map-side-combine."""
    o = load_table(spark, sf_dir, "orders")
    d = (
        o.select(
            F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("di"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("di")
        .agg(F.sum("c").cast("long").alias("y"))
        .persist()
    )
    a = d.select(F.col("di").alias("di1"), F.col("y").alias("y1"))
    b = d.select(F.col("di").alias("di2"), F.col("y").alias("y2"))
    p = a.join(b, F.col("di2") > F.col("di1")).select(
        F.when(F.col("y2") > F.col("y1"), 1).otherwise(0).alias("conc"),
        F.when(F.col("y2") < F.col("y1"), 1).otherwise(0).alias("disc"),
        F.when(F.col("y2") == F.col("y1"), 1).otherwise(0).alias("tie_y"),
    )
    n = d.agg(F.count("*").cast("long").alias("n"))
    m = p.agg(
        F.sum("conc").cast("long").alias("c"),
        F.sum("disc").cast("long").alias("dk"),
        F.sum("tie_y").cast("long").alias("ty"),
        F.count("*").cast("long").alias("n0"),
    )
    return (
        m.crossJoin(F.broadcast(n))
        .select(
            "n",
            F.col("c").alias("concordant"),
            F.col("dk").alias("discordant"),
            (
                F.round(
                    (F.col("c") - F.col("dk"))
                    / F.sqrt(
                        F.col("n0").cast("double") * (F.col("n0") - F.col("ty"))
                    ),
                    6,
                )
                + 0.0
            ).alias("kendall_tau"),
        )
    )


@register(
    "q_stats_regression_multi",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(o_orderdate) / 86400)
                  - (SELECT min(CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT))
                     FROM orders) AS BIGINT) AS x,
             CAST(CASE WHEN (CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) + 3)
                            % 7 >= 5 THEN 1 ELSE 0 END AS BIGINT) AS w,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders
      GROUP BY 1, 2
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(w) AS HUGEINT) AS sw,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * w) AS HUGEINT) AS sxw,
             CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sww,
             CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(w AS HUGEINT) * y) AS HUGEINT) AS swy
      FROM d
    ),
    det AS (
      SELECT n, sy, sxy, swy, sx, sw, sxx, sxw, sww,
             CAST(n * (sxx * sww - sxw * sxw)
                  - sx * (sx * sww - sxw * sw)
                  + sw * (sx * sxw - sxx * sw) AS DOUBLE) AS dd,
             CAST(sy * (sxx * sww - sxw * sxw)
                  - sx * (sxy * sww - sxw * swy)
                  + sw * (sxy * sxw - sxx * swy) AS DOUBLE) AS d0,
             CAST(n * (sxy * sww - swy * sxw)
                  - sy * (sx * sww - sxw * sw)
                  + sw * (sx * swy - sxy * sw) AS DOUBLE) AS d1,
             CAST(n * (sxx * swy - sxw * sxy)
                  - sx * (sx * swy - sxy * sw)
                  + sy * (sx * sxw - sxx * sw) AS DOUBLE) AS d2
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(d0 / dd / 100.0, 4) + 0.0 AS intercept,
           round(d1 / dd / 100.0, 6) + 0.0 AS slope_per_day,
           round(d2 / dd / 100.0, 4) + 0.0 AS weekend_effect
    FROM det
    """,
)
def q_stats_regression_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS by exact normal equations: daily revenue ~
    intercept + slope·day + weekend effect — the multi-regressor step
    past q_stats_trend's simple slope, solved in closed form via
    Cramer's rule (no iterative solver, no MLlib RNG).

    Exactness: the design matrix holds only exact integers (day index
    re-based to the series start, weekend flag from pure (di+3)%7
    epoch arithmetic, floor-cent revenue); ALL NINE moments and every
    3×3 determinant accumulate in HUGEINT/decimal — the determinant
    products reach ~1e25, far past bigint — and doubles appear only in
    the four final divisions, which are deterministic on identical
    integer inputs.

    Scale shape: one fact-scan hash aggregate to the calendar-bounded
    daily table, one moment aggregate, and scalar arithmetic — the
    same two-stage collapse as q_stats_trend regardless of corpus
    size."""
    o = load_table(spark, sf_dir, "orders")
    d0 = o.select(
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("di"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    dmin = d0.agg(F.min("di").alias("di0"))
    d = (
        d0.crossJoin(F.broadcast(dmin))
        .select(
            (F.col("di") - F.col("di0")).alias("x"),
            F.when((F.col("di") + 3) % 7 >= 5, 1).otherwise(0).cast("long").alias("w"),
            F.col("c"),
            F.col("di"),
        )
        .groupBy("x", "w")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = d.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("w")).alias("sw"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("w")).alias("sxw"),
        F.sum(dec("w") * F.col("w")).alias("sww"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("w") * F.col("y")).alias("swy"),
    )
    n, sx, sw = F.col("n"), F.col("sx"), F.col("sw")
    sxx, sxw, sww = F.col("sxx"), F.col("sxw"), F.col("sww")
    sy, sxy, swy = F.col("sy"), F.col("sxy"), F.col("swy")
    dd = (
        n * (sxx * sww - sxw * sxw)
        - sx * (sx * sww - sxw * sw)
        + sw * (sx * sxw - sxx * sw)
    ).cast("double")
    d0_ = (
        sy * (sxx * sww - sxw * sxw)
        - sx * (sxy * sww - sxw * swy)
        + sw * (sxy * sxw - sxx * swy)
    ).cast("double")
    d1 = (
        n * (sxy * sww - swy * sxw)
        - sy * (sx * sww - sxw * sw)
        + sw * (sx * swy - sxy * sw)
    ).cast("double")
    d2 = (
        n * (sxx * swy - sxw * sxy)
        - sx * (sx * swy - sxy * sw)
        + sy * (sx * sxw - sxx * sw)
    ).cast("double")
    return m.select(
        n.cast("long").alias("n_days"),
        (F.round(d0_ / dd / 100.0, 4) + 0.0).alias("intercept"),
        (F.round(d1 / dd / 100.0, 6) + 0.0).alias("slope_per_day"),
        (F.round(d2 / dd / 100.0, 4) + 0.0).alias("weekend_effect"),
    )


@register(
    "q_stats_srm",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE {_SQL_BUCKET} = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE {_SQL_BUCKET} = 1) AS BIGINT) AS n_b
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           round(CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b) / (n_a + n_b), 4)
             + 0.0 AS srm_chi2,
           CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b) / (n_a + n_b) > 3.841
             AS srm_flag
    FROM g ORDER BY event_type
    """,
)
def q_stats_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check per event type: 1-dof chi-square of
    the md5 A/B arm counts against the designed 50/50 split, flagged
    at the 5% critical value (3.841) — the guardrail every experiment
    platform runs BEFORE reading any metric (a flagged SRM invalidates
    the experiment regardless of lift).

    ONE conditional hash aggregate; the statistic is exact-integer
    arithmetic divided once at the end; the flag compares that
    deterministic double to a constant. A hash split SHOULD pass —
    the expected all-false flags are the A/A sanity check."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.when(_spark_bucket() == 0, 1)).cast("long").alias("n_a"),
            F.count(F.when(_spark_bucket() == 1, 1)).cast("long").alias("n_b"),
        )
    )
    chi = (
        (F.col("n_a") - F.col("n_b")).cast("double")
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        (F.round(chi, 4) + 0.0).alias("srm_chi2"),
        (chi > 3.841).alias("srm_flag"),
    ).orderBy("event_type")


@register(
    "q_stats_cuped",
    oracle=f"""
    WITH u AS (
      SELECT user_id, {_SQL_BUCKET} AS arm,
             CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                   THEN CAST(floor(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                   THEN CAST(floor(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    pool AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM u
    ),
    arm AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x) AS HUGEINT) AS ax, CAST(sum(y) AS HUGEINT) AS ay
      FROM u GROUP BY arm
    )
    SELECT arm, n_users,
           round(CAST(ay AS DOUBLE) / n_users / 100.0, 4) + 0.0 AS mean_post,
           round(CAST(ax AS DOUBLE) / n_users / 100.0, 4) + 0.0 AS mean_pre,
           round((CAST(ay AS DOUBLE) / n_users
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * (CAST(ax AS DOUBLE) / n_users
                       - CAST(sx AS DOUBLE) / n)) / 100.0, 4) + 0.0
             AS mean_adjusted,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0.0 AS theta,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
                 / CAST(n * syy - sy * sy AS DOUBLE), 6) + 0.0
             AS var_reduction
    FROM arm, pool ORDER BY arm
    """,
)
def q_stats_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, public method): the
    experiment readout every platform ships — per-user PRE-period
    spend (first half of the event window) is the covariate, the
    post-period mean per md5 arm is adjusted by theta·(x̄_arm − x̄),
    with theta = cov(x,y)/var(x) pooled across arms, and the achieved
    variance-reduction fraction (=ρ²) reported alongside.

    Scale shape: ONE conditional hash aggregate builds the per-user
    (x, y) table — no self-join of pre vs post; the five pooled
    moments are exact decimal(38,0) sums folded in ONE 1-row
    aggregate broadcast to the 2-row arm table. Every division
    happens once, on exact moments, so the doubles are
    order-independent (the q_stats_regression_multi discipline)."""
    cents = F.floor(F.col("value") * 100).cast("long")
    split = F.lit("2024-01-16").cast("timestamp")
    u = (
        load_table(spark, sf_dir, "events")
        .withColumn("arm", _spark_bucket())
        .groupBy("user_id", "arm")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < split, cents)), F.lit(0)
            ).cast("long").alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= split, cents)), F.lit(0)
            ).cast("long").alias("y"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pool = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    arm = u.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(dec("x")).alias("ax"),
        F.sum(dec("y")).alias("ay"),
    )
    j = arm.crossJoin(F.broadcast(pool))
    num = (dec("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (dec("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (dec("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    theta = num / den
    mean_x = F.col("sx").cast("double") / F.col("n")
    ax_mean = F.col("ax").cast("double") / F.col("n_users")
    ay_mean = F.col("ay").cast("double") / F.col("n_users")
    return j.select(
        "arm",
        "n_users",
        (F.round(ay_mean / 100.0, 4) + 0.0).alias("mean_post"),
        (F.round(ax_mean / 100.0, 4) + 0.0).alias("mean_pre"),
        (F.round((ay_mean - theta * (ax_mean - mean_x)) / 100.0, 4) + 0.0).alias(
            "mean_adjusted"
        ),
        (F.round(theta, 6) + 0.0).alias("theta"),
        (F.round(num * num / den / deny, 6) + 0.0).alias("var_reduction"),
    ).orderBy("arm")


@register(
    "q_stats_proportions",
    oracle=f"""
    WITH arms AS (
      SELECT DISTINCT user_id, {_SQL_BUCKET} AS arm FROM events
    ),
    tot AS (
      SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
      FROM arms
    ),
    conv AS (
      SELECT event_type,
             CAST(count(DISTINCT CASE WHEN {_SQL_BUCKET} = 0
                                      AND value >= 195 THEN user_id END)
                  AS BIGINT) AS x_a,
             CAST(count(DISTINCT CASE WHEN {_SQL_BUCKET} = 1
                                      AND value >= 195 THEN user_id END)
                  AS BIGINT) AS x_b
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_a, n_b, x_a, x_b,
           round(CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b, 6)
             + 0.0 AS rate_diff,
           round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                 * (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                 / (CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)
                    * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 4) + 0.0 AS z_sq
    FROM conv, tot ORDER BY event_type
    """,
)
def q_stats_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event type: does the md5 A arm reach a
    high-value event (value ≥ 195, ~p20 user-level) of each type at a
    different rate than the B arm — the conversion-rate readout (z² against the pooled-variance
    denominator; z² > 3.841 is the 5% call, left to the reader since
    an A/A split should not systematically flag).

    Scale shape: the distinct (user, type) reach relation is one
    hash-distinct aggregate of the fact table (count(DISTINCT CASE)
    lowers to a partial-distinct expand, never a self-join); the
    2-arm user totals are a 1-row fold broadcast to the |types| rows.
    z² is computed ONCE from five exact integers — order-independent
    by construction."""
    ev = load_table(spark, sf_dir, "events").withColumn("arm", _spark_bucket())
    tot = (
        ev.select("user_id", "arm")
        .distinct()
        .agg(
            F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias("n_a"),
            F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias("n_b"),
        )
    )
    conv = ev.groupBy("event_type").agg(
        F.count_distinct(
            F.when((F.col("arm") == 0) & (F.col("value") >= 195), F.col("user_id"))
        ).cast("long").alias("x_a"),
        F.count_distinct(
            F.when((F.col("arm") == 1) & (F.col("value") >= 195), F.col("user_id"))
        ).cast("long").alias("x_b"),
    )
    j = conv.crossJoin(F.broadcast(tot))
    pa = F.col("x_a").cast("double") / F.col("n_a")
    pb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        (F.round(pa - pb, 6) + 0.0).alias("rate_diff"),
        (
            F.round(
                (pa - pb) * (pa - pb)
                / (pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
                4,
            )
            + 0.0
        ).alias("z_sq"),
    ).orderBy("event_type")


@register(
    "q_stats_jackknife",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(('0x' || substring(md5('jk:' || CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 50 AS bkt,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT bkt, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(cents) AS BIGINT) AS s_i
      FROM u GROUP BY bkt
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS bb,
             CAST(sum(n_i) AS BIGINT) AS nn, CAST(sum(s_i) AS BIGINT) AS ss
      FROM b
    ),
    q AS (
      SELECT CAST(floor(CAST(ss - s_i AS DOUBLE) / (nn - n_i) * 1000000)
                  AS BIGINT) AS qi, bb, nn, ss
      FROM b, tot
    ),
    agg AS (
      SELECT any_value(bb) AS bb, any_value(nn) AS nn, any_value(ss) AS ss,
             CAST(sum(CAST(qi AS HUGEINT) * qi) AS HUGEINT) AS sq2,
             CAST(sum(qi) AS HUGEINT) AS sq
      FROM q
    )
    SELECT nn AS n_users, bb AS n_buckets,
           round(CAST(ss AS DOUBLE) / nn / 100.0, 4) + 0.0 AS theta,
           round(sqrt(CAST(bb - 1 AS DOUBLE) / bb
                      * CAST(bb * sq2 - sq * sq AS DOUBLE)
                      / bb / 1e12) / 100.0, 4) + 0.0 AS se_jackknife,
           round((CAST(ss AS DOUBLE) / nn
                  - 1.96 * sqrt(CAST(bb - 1 AS DOUBLE) / bb
                                * CAST(bb * sq2 - sq * sq AS DOUBLE)
                                / bb / 1e12)) / 100.0, 4) + 0.0 AS ci_lo,
           round((CAST(ss AS DOUBLE) / nn
                  + 1.96 * sqrt(CAST(bb - 1 AS DOUBLE) / bb
                                * CAST(bb * sq2 - sq * sq AS DOUBLE)
                                / bb / 1e12)) / 100.0, 4) + 0.0 AS ci_hi
    FROM agg
    """,
)
def q_stats_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife standard error for a RATIO metric
    (revenue per user) — the way experiment platforms get correct
    CIs for ratio metrics, where the naive per-user variance is wrong
    because both numerator and denominator are random.

    Scale shape: per-user totals (one hash agg) fold into 50 md5
    buckets (a second tiny agg); each leave-one-out estimate
    θ_i = (S−s_i)/(N−n_i) is ONE deterministic double from exact
    integer partials, quantized to a 1e-6 bigint grid so the
    across-bucket sum of squares B·Σq²−(Σq)² is EXACT decimal — the
    order-nondeterministic float Σ(θ_i−θ̄)² never happens. sqrt and
    the 1.96 CI evaluate once on the 1-row fold."""
    cents = F.floor(F.col("value") * 100).cast("long")
    u = (
        load_table(spark, sf_dir, "events")
        .withColumn(
            "bkt",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("jk:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 50,
        )
        .groupBy("user_id", "bkt")
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    b = u.groupBy("bkt").agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum("cents").cast("long").alias("s_i"),
    )
    tot = b.agg(
        F.count("*").cast("long").alias("bb"),
        F.sum("n_i").cast("long").alias("nn"),
        F.sum("s_i").cast("long").alias("ss"),
    )
    q = b.crossJoin(F.broadcast(tot)).select(
        F.floor(
            (F.col("ss") - F.col("s_i")).cast("double")
            / (F.col("nn") - F.col("n_i"))
            * 1000000
        )
        .cast("long")
        .alias("qi"),
        "bb",
        "nn",
        "ss",
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    agg = q.agg(
        F.any_value("bb").alias("bb"),
        F.any_value("nn").alias("nn"),
        F.any_value("ss").alias("ss"),
        F.sum(dec("qi") * dec("qi")).alias("sq2"),
        F.sum(dec("qi")).alias("sq"),
    )
    se = F.sqrt(
        (F.col("bb") - 1).cast("double")
        / F.col("bb")
        * (dec("bb") * F.col("sq2") - F.col("sq") * F.col("sq")).cast("double")
        / F.col("bb")
        / 1e12
    )
    theta = F.col("ss").cast("double") / F.col("nn")
    return agg.select(
        F.col("nn").alias("n_users"),
        F.col("bb").alias("n_buckets"),
        (F.round(theta / 100.0, 4) + 0.0).alias("theta"),
        (F.round(se / 100.0, 4) + 0.0).alias("se_jackknife"),
        (F.round((theta - 1.96 * se) / 100.0, 4) + 0.0).alias("ci_lo"),
        (F.round((theta + 1.96 * se) / 100.0, 4) + 0.0).alias("ci_hi"),
    )


@register(
    "q_stats_granger",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 100) AS BIGINT) END) // 10000
                  AS BIGINT) AS y,
             CAST(sum(CASE WHEN event_type = 'error'
                  THEN CAST(floor(value * 100) AS BIGINT) END) // 10000
                  AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT di, y AS w,
             lag(y) OVER (ORDER BY di) AS u,
             lag(x) OVER (ORDER BY di) AS v,
             lag(di) OVER (ORDER BY di) AS pdi
      FROM d
    ),
    r AS (SELECT w, u, v FROM t WHERE pdi = di - 1),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(u) AS HUGEINT) AS su, CAST(sum(v) AS HUGEINT) AS sv,
             CAST(sum(w) AS HUGEINT) AS sw,
             CAST(sum(CAST(u AS HUGEINT) * u) AS HUGEINT) AS suu,
             CAST(sum(CAST(u AS HUGEINT) * v) AS HUGEINT) AS suv,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv,
             CAST(sum(CAST(u AS HUGEINT) * w) AS HUGEINT) AS suw,
             CAST(sum(CAST(v AS HUGEINT) * w) AS HUGEINT) AS svw,
             CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sww
      FROM r
    ),
    s AS (
      SELECT n, sww, sw, suw, svw, su, suu,
        CAST(n*(suu*svv - suv*suv) - su*(su*svv - suv*sv)
             + sv*(su*suv - suu*sv) AS DOUBLE) AS det,
        CAST(sw*(suu*svv - suv*suv) - su*(suw*svv - suv*svw)
             + sv*(suw*suv - suu*svw) AS DOUBLE) AS d_a,
        CAST(n*(suw*svv - suv*svw) - sw*(su*svv - suv*sv)
             + sv*(su*svw - suw*sv) AS DOUBLE) AS d_b,
        CAST(n*(suu*svw - suw*suv) - su*(su*svw - suw*sv)
             + sw*(su*suv - suu*sv) AS DOUBLE) AS d_c
      FROM m
    ),
    f AS (
      SELECT CAST(n AS BIGINT) AS n_days,
             d_b / det AS beta_ylag, d_c / det AS beta_xlag,
             CAST(sww AS DOUBLE)
               - (d_a / det) * CAST(sw AS DOUBLE)
               - (d_b / det) * CAST(suw AS DOUBLE)
               - (d_c / det) * CAST(svw AS DOUBLE) AS rss_u,
             CAST(sww AS DOUBLE)
               - ((CAST(sw AS DOUBLE) - CAST(n*suw - su*sw AS DOUBLE)
                   / CAST(n*suu - su*su AS DOUBLE) * CAST(su AS DOUBLE))
                  / CAST(n AS DOUBLE)) * CAST(sw AS DOUBLE)
               - CAST(n*suw - su*sw AS DOUBLE) / CAST(n*suu - su*su AS DOUBLE)
                 * CAST(suw AS DOUBLE) AS rss_r
      FROM s
    )
    SELECT n_days,
           round(beta_ylag, 6) + 0.0 AS beta_ylag,
           round(beta_xlag, 6) + 0.0 AS beta_xlag,
           round((rss_r - rss_u) * (n_days - 3) / rss_u, 4) + 0.0 AS f_stat
    FROM f
    """,
)
def q_stats_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lead-lag test: does yesterday's ERROR revenue
    help predict today's PURCHASE revenue beyond purchase's own lag —
    F-test of the lag-1 unrestricted regression
    y_t = a + b·y_{t−1} + c·x_{t−1} against the restricted AR(1)
    (the incident-impact question asked of every ops metric pair).

    Exactness: the daily series quantizes to integer 1e4-cent units
    (keeps every 3×3 Cramer determinant product inside decimal(38)
    at any SF); all ten regression moments and all four determinants
    are EXACT decimal; the two RSS values and the F-statistic are a
    fixed sequence of double ops on those exact numbers — identical
    parenthesization on both engines (the q_stats_regression_multi
    discipline). Consecutive-day pairs only (pdi = di−1), so a
    missing day drops the pair, not the alignment. The ~30-row daily
    series is calendar-bounded: the single-partition lag window never
    sees more rows than days in the fixture's range."""
    from pyspark.sql import Window

    from engine.crypto import day_index

    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(day_index())
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN event_type = 'purchase' "
                "THEN CAST(floor(value * 100) AS BIGINT) END) div 10000 AS BIGINT)"
            ).alias("y"),
            F.expr(
                "CAST(sum(CASE WHEN event_type = 'error' "
                "THEN CAST(floor(value * 100) AS BIGINT) END) div 10000 AS BIGINT)"
            ).alias("x"),
        )
    )
    w = Window.orderBy("di")
    t = d.select(
        "di",
        F.col("y").alias("w"),
        F.lag("y").over(w).alias("u"),
        F.lag("x").over(w).alias("v"),
        F.lag("di").over(w).alias("pdi"),
    ).filter(F.col("pdi") == F.col("di") - 1)
    dc = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    m = t.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(dc("u")).alias("su"),
        F.sum(dc("v")).alias("sv"),
        F.sum(dc("w")).alias("sw"),
        F.sum(dc("u") * dc("u")).alias("suu"),
        F.sum(dc("u") * dc("v")).alias("suv"),
        F.sum(dc("v") * dc("v")).alias("svv"),
        F.sum(dc("u") * dc("w")).alias("suw"),
        F.sum(dc("v") * dc("w")).alias("svw"),
        F.sum(dc("w") * dc("w")).alias("sww"),
    )
    n, su, sv, sw = F.col("n"), F.col("su"), F.col("sv"), F.col("sw")
    suu, suv, svv = F.col("suu"), F.col("suv"), F.col("svv")
    suw, svw, sww = F.col("suw"), F.col("svw"), F.col("sww")
    det = (
        n * (suu * svv - suv * suv)
        - su * (su * svv - suv * sv)
        + sv * (su * suv - suu * sv)
    ).cast("double")
    d_a = (
        sw * (suu * svv - suv * suv)
        - su * (suw * svv - suv * svw)
        + sv * (suw * suv - suu * svw)
    ).cast("double")
    d_b = (
        n * (suw * svv - suv * svw)
        - sw * (su * svv - suv * sv)
        + sv * (su * svw - suw * sv)
    ).cast("double")
    d_c = (
        n * (suu * svw - suw * suv)
        - su * (su * svw - suw * sv)
        + sw * (su * suv - suu * sv)
    ).cast("double")
    rss_u = (
        sww.cast("double")
        - (d_a / det) * sw.cast("double")
        - (d_b / det) * suw.cast("double")
        - (d_c / det) * svw.cast("double")
    )
    br = (n * suw - su * sw).cast("double") / (n * suu - su * su).cast("double")
    rss_r = (
        sww.cast("double")
        - ((sw.cast("double") - br * su.cast("double")) / n.cast("double"))
        * sw.cast("double")
        - br * suw.cast("double")
    )
    nb = n.cast("long")
    return m.select(
        nb.alias("n_days"),
        (F.round(d_b / det, 6) + 0.0).alias("beta_ylag"),
        (F.round(d_c / det, 6) + 0.0).alias("beta_xlag"),
        (F.round((rss_r - rss_u) * (nb - 3) / rss_u, 4) + 0.0).alias("f_stat"),
    )


@register(
    "q_stats_power",
    oracle=f"""
    WITH arms AS (
      SELECT DISTINCT user_id, {_SQL_BUCKET} AS arm FROM events
    ),
    tot AS (
      SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
      FROM arms
    ),
    conv AS (
      SELECT event_type,
             CAST(count(DISTINCT CASE WHEN value >= 195
                                      THEN user_id END) AS BIGINT) AS x
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           round(CAST(x AS DOUBLE) / (n_a + n_b), 6) + 0.0 AS p_pooled,
           round(2.8016 * sqrt(CAST(x AS DOUBLE) / (n_a + n_b)
                               * (1 - CAST(x AS DOUBLE) / (n_a + n_b))
                               * (1.0 / n_a + 1.0 / n_b)), 6) + 0.0 AS mde_abs,
           round(2.8016 * sqrt(CAST(x AS DOUBLE) / (n_a + n_b)
                               * (1 - CAST(x AS DOUBLE) / (n_a + n_b))
                               * (1.0 / n_a + 1.0 / n_b))
                 / (CAST(x AS DOUBLE) / (n_a + n_b)), 4) + 0.0 AS mde_rel
    FROM conv, tot ORDER BY event_type
    """,
)
def q_stats_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at current traffic, per event type:
    MDE = (z_{α/2} + z_β)·sqrt(p(1−p)(1/n_a+1/n_b)) with the standard
    80%-power / 5%-two-sided constants (1.96 + 0.8416 = 2.8016) on
    the pooled high-value conversion rate — the pre-experiment
    readout ('how long must this test run') every platform pairs with
    q_stats_proportions' post-readout.

    One distinct-user fold (1 row) + one conditional distinct per
    type; the MDE is a single fixed double expression over three
    exact integers, so cross-engine equality is structural."""
    ev = load_table(spark, sf_dir, "events").withColumn("arm", _spark_bucket())
    tot = (
        ev.select("user_id", "arm")
        .distinct()
        .agg(
            F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias("n_a"),
            F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias("n_b"),
        )
    )
    conv = ev.groupBy("event_type").agg(
        F.count_distinct(F.when(F.col("value") >= 195, F.col("user_id")))
        .cast("long")
        .alias("x")
    )
    j = conv.crossJoin(F.broadcast(tot))
    p = F.col("x").cast("double") / (F.col("n_a") + F.col("n_b"))
    mde = 2.8016 * F.sqrt(
        p * (1 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        (F.round(p, 6) + 0.0).alias("p_pooled"),
        (F.round(mde, 6) + 0.0).alias("mde_abs"),
        (F.round(mde / p, 4) + 0.0).alias("mde_rel"),
    ).orderBy("event_type")


def _esd_oracle(rounds: int = 3) -> str:
    parts = ["""
    WITH daily AS (
      SELECT event_type AS et,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    m1 AS (
      SELECT et, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS HUGEINT) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
      FROM daily GROUP BY et
    ),
    r1 AS (
      SELECT d.et, d.di, d.day, d.c, m.n, m.s, m.ss,
             row_number() OVER (PARTITION BY d.et
               ORDER BY abs(m.n * CAST(d.c AS HUGEINT) - m.s) DESC, d.di ASC)
               AS rk
      FROM daily d JOIN m1 m ON d.et = m.et
    ),
    p1 AS (SELECT * FROM r1 WHERE rk = 1)"""]
    for r in range(2, rounds + 1):
        parts.append(f""",
    m{r} AS (
      SELECT et, n - 1 AS n, s - c AS s, ss - CAST(c AS HUGEINT) * c AS ss
      FROM p{r-1}
    ),
    r{r} AS (
      SELECT d.et, d.di, d.day, d.c, m.n, m.s, m.ss,
             row_number() OVER (PARTITION BY d.et
               ORDER BY abs(m.n * CAST(d.c AS HUGEINT) - m.s) DESC, d.di ASC)
               AS rk
      FROM daily d JOIN m{r} m ON d.et = m.et
      WHERE NOT EXISTS (
        SELECT 1 FROM ({' UNION ALL '.join(f'SELECT et, di FROM p{i}' for i in range(1, r))}) x
        WHERE x.et = d.et AND x.di = d.di)
    ),
    p{r} AS (SELECT * FROM r{r} WHERE rk = 1)""")
    sel = " UNION ALL ".join(
        f"SELECT et AS event_type, CAST({r} AS BIGINT) AS round, day, "
        f"round(c / 100.0, 2) AS revenue, "
        f"round(abs(CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / n)"
        f" / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)),"
        f" 4) + 0.0 AS z FROM p{r}"
        for r in range(1, rounds + 1)
    )
    parts.append(f"\n    {sel}\n    ORDER BY event_type, round")
    return "".join(parts)


@register("q_anomaly_esd", oracle=_esd_oracle())
def q_anomaly_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-ESD-style iterative outlier extraction: per event
    type, the 3 most extreme daily-revenue points are peeled off ONE
    AT A TIME, each round re-scoring against the moments of the
    REMAINING points (the masking-resistant property plain z-scores
    lack — one huge spike inflates the std and hides the second
    spike; q_anomaly_zscore/mad are the single-pass companions).

    Exactness: the per-round argmax maximizes |n·c − S| — an EXACT
    128-bit integer comparison equivalent to the z argmax (sd is
    constant within a round), with a day tiebreak; each round's
    moments derive from the previous round's by SUBTRACTING the
    removed point (n−1, S−c, SS−c²), so the bounded daily table is
    never re-aggregated and the z reported per pick is one double
    expression over exact moments."""
    from pyspark.sql import Window

    from engine.crypto import day_index

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("et"),
            day_index(),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("c"))
        .persist()
    )
    dec = lambda x: x.cast("decimal(38,0)")  # noqa: E731
    m = daily.groupBy("et").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec(F.col("c"))).alias("s"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("ss"),
    )
    picks = []
    excluded = None
    for r in range(1, 4):
        d = daily
        if excluded is not None:
            d = d.join(excluded, ["et", "di"], "left_anti")
        scored = d.join(F.broadcast(m), "et")
        w = Window.partitionBy("et").orderBy(
            F.abs(dec(F.col("n")) * dec(F.col("c")) - F.col("s")).desc(),
            F.asc("di"),
        )
        p = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .drop("rk")
            .persist()
        )
        picks.append(p.withColumn("round", F.lit(r).cast("long")))
        excluded = (
            p.select("et", "di")
            if excluded is None
            else excluded.unionAll(p.select("et", "di"))
        )
        m = p.select(
            "et",
            (F.col("n") - 1).alias("n"),
            (F.col("s") - dec(F.col("c"))).alias("s"),
            (F.col("ss") - dec(F.col("c")) * dec(F.col("c"))).alias("ss"),
        )
    allp = picks[0]
    for p_ in picks[1:]:
        allp = allp.unionAll(p_)
    sd = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    return allp.select(
        F.col("et").alias("event_type"),
        "round",
        "day",
        F.round(F.col("c") / 100.0, 2).alias("revenue"),
        (
            F.round(
                F.abs(
                    F.col("c").cast("double")
                    - F.col("s").cast("double") / F.col("n")
                )
                / sd,
                4,
            )
            + 0.0
        ).alias("z"),
    ).orderBy("event_type", "round")


@register(
    "q_stats_acf",
    oracle="""
    WITH daily AS (
      SELECT event_type AS et,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT et, di,
             CAST(round(ln(CAST(cents AS DOUBLE)
                           / lag(cents) OVER (PARTITION BY et ORDER BY di))
                        * 1000000) AS BIGINT) AS x
      FROM daily
    ),
    base AS (
      SELECT et, di, x,
             CAST(count(*) OVER (PARTITION BY et) AS BIGINT) AS n,
             CAST(sum(x) OVER (PARTITION BY et) AS BIGINT) AS s
      FROM r WHERE x IS NOT NULL
    ),
    lagged AS (
      SELECT et, lag, n, s, x,
             lag(x, lag) OVER (PARTITION BY et, lag ORDER BY di) AS xl
      FROM base, (SELECT unnest(generate_series(1, 5)) AS lag)
    ),
    ck AS (
      SELECT et, lag, any_value(n) AS n,
             CAST(sum((n * CAST(x AS HUGEINT) - s)
                      * (n * CAST(xl AS HUGEINT) - s)) AS HUGEINT) AS num
      FROM lagged WHERE xl IS NOT NULL GROUP BY et, lag
    ),
    c0 AS (
      SELECT et, any_value(n) AS n,
             CAST(sum((n * CAST(x AS HUGEINT) - s)
                      * (n * CAST(x AS HUGEINT) - s)) AS HUGEINT) AS den
      FROM base GROUP BY et
    ),
    rho AS (
      SELECT ck.et, ck.lag, ck.n,
             CAST(ck.num AS DOUBLE) / CAST(c0.den AS DOUBLE) AS rho
      FROM ck JOIN c0 ON ck.et = c0.et
    )
    SELECT et AS event_type, CAST(lag AS BIGINT) AS lag,
           round(rho, 4) + 0.0 AS rho,
           round(sum(n * (n + 2) * rho * rho / (n - lag))
                   OVER (PARTITION BY et ORDER BY lag
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 4) + 0.0 AS ljung_box_q
    FROM rho ORDER BY event_type, lag
    """,
)
def q_stats_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1–5) of daily log returns per
    event type, with the cumulative Ljung-Box portmanteau statistic —
    the white-noise diagnostic run on residuals before trusting any
    forecasting model (Q above the χ² critical value means structure
    remains; q_win_autocorr is the single-lag companion).

    Exactness: returns live on the 1e-6 ln grid; each autocovariance
    clears the rational mean by the n²-scaling identity
    n²·c_k = Σ(n·x_t − S)(n·x_{t−k} − S) — every term an exact
    128-bit integer, so ρ_k is one division of exact sums. The five
    lags share ONE exchange: the lag spine cross-joins the bounded
    daily series (5× ~30 rows) and each (et, lag) partition sorts
    within the same shuffle. Ljung-Box accumulates over the 5-row
    per-type frame — trivially bounded."""
    from pyspark.sql import Window

    from engine.crypto import day_index

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("et"), day_index())
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("cents"))
    )
    wl = Window.partitionBy("et").orderBy("di")
    r = daily.select(
        "et",
        "di",
        F.round(
            F.log(F.col("cents").cast("double") / F.lag("cents").over(wl))
            * 1000000
        )
        .cast("long")
        .alias("x"),
    ).filter(F.col("x").isNotNull())
    wp = Window.partitionBy("et")
    base = r.select(
        "et",
        "di",
        "x",
        F.count("*").over(wp).cast("long").alias("n"),
        F.sum("x").over(wp).cast("long").alias("s"),
    )
    lags = spark.range(1, 6).select(F.col("id").cast("int").alias("lag"))
    # Spark's F.lag needs a literal offset — emit one lagged column per
    # k over the (et, lag) spine and pick by the spine value.
    wk = Window.partitionBy("et", "lag").orderBy("di")
    lagged = base.crossJoin(F.broadcast(lags)).withColumn(
        "xl", F.when(F.col("lag") == 1, F.lag("x", 1).over(wk)).otherwise(F.lit(None))
    )
    for k in range(2, 6):
        lagged = lagged.withColumn(
            "xl",
            F.when(F.col("lag") == k, F.lag("x", k).over(wk)).otherwise(
                F.col("xl")
            ),
        )
    dec = lambda c_: c_.cast("decimal(38,0)")  # noqa: E731
    ck = (
        lagged.filter(F.col("xl").isNotNull())
        .groupBy("et", "lag")
        .agg(
            F.any_value("n").alias("n"),
            F.sum(
                (dec(F.col("n")) * dec(F.col("x")) - F.col("s").cast("decimal(38,0)"))
                * (dec(F.col("n")) * dec(F.col("xl")) - F.col("s").cast("decimal(38,0)"))
            ).alias("num"),
        )
    )
    c0 = base.groupBy("et").agg(
        F.sum(
            (dec(F.col("n")) * dec(F.col("x")) - F.col("s").cast("decimal(38,0)"))
            * (dec(F.col("n")) * dec(F.col("x")) - F.col("s").cast("decimal(38,0)"))
        ).alias("den")
    )
    rho = ck.join(c0, "et").select(
        "et",
        "lag",
        "n",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias("rho_raw"),
    )
    wq = Window.partitionBy("et").orderBy("lag").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return rho.select(
        F.col("et").alias("event_type"),
        F.col("lag").cast("long").alias("lag"),
        (F.round(F.col("rho_raw"), 4) + 0.0).alias("rho"),
        (
            F.round(
                F.sum(
                    F.col("n")
                    * (F.col("n") + 2)
                    * F.col("rho_raw")
                    * F.col("rho_raw")
                    / (F.col("n") - F.col("lag"))
                ).over(wq),
                4,
            )
            + 0.0
        ).alias("ljung_box_q"),
    ).orderBy("event_type", "lag")


@register(
    "q_stats_runs_test",
    oracle="""
    WITH daily AS (
      SELECT event_type AS et,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT et, di,
             cents - lag(cents) OVER (PARTITION BY et ORDER BY di) AS diff
      FROM daily
    ),
    s AS (
      SELECT et, di, diff > 0 AS up,
             CASE WHEN (diff > 0) <> lag(diff > 0) OVER
                    (PARTITION BY et ORDER BY di)
                  OR lag(diff) OVER (PARTITION BY et ORDER BY di) IS NULL
                  THEN 1 ELSE 0 END AS new_run
      FROM d WHERE diff IS NOT NULL AND diff <> 0
    ),
    m AS (
      SELECT et,
             CAST(count(*) FILTER (WHERE up) AS BIGINT) AS n_up,
             CAST(count(*) FILTER (WHERE NOT up) AS BIGINT) AS n_down,
             CAST(sum(new_run) AS BIGINT) AS n_runs
      FROM s GROUP BY et
    )
    SELECT et AS event_type, n_up, n_down, n_runs,
           round(1 + 2.0 * n_up * n_down / (n_up + n_down), 4) + 0.0
             AS expected_runs,
           round((n_runs - (1 + 2.0 * n_up * n_down / (n_up + n_down)))
                 / sqrt(2.0 * n_up * n_down
                        * (2.0 * n_up * n_down - n_up - n_down)
                        / ((n_up + n_down) * (n_up + n_down)
                           * (n_up + n_down - 1))), 4) + 0.0 AS z
    FROM m ORDER BY event_type
    """,
)
def q_stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue direction per event
    type: too FEW runs of consecutive up/down days means trending,
    too many means mean-reversion — the nonparametric randomness
    check that needs no distributional assumption (the companion to
    q_variance_ratio's parametric version).

    One (type) sort carries the diff and the run-boundary flag
    (zero-change days drop, as the classic test prescribes); the
    closed-form mean and variance of the run count evaluate once per
    type from three exact integers."""
    from pyspark.sql import Window

    from engine.crypto import day_index

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("et"), day_index())
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("cents"))
    )
    w = Window.partitionBy("et").orderBy("di")
    d = daily.select(
        "et", "di", (F.col("cents") - F.lag("cents").over(w)).alias("diff")
    ).filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
    s = d.select(
        "et",
        (F.col("diff") > 0).alias("up"),
        F.when(
            ((F.col("diff") > 0) != F.lag(F.col("diff") > 0).over(w))
            | F.lag("diff").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    m = s.groupBy("et").agg(
        F.count(F.when(F.col("up"), 1)).cast("long").alias("n_up"),
        F.count(F.when(~F.col("up"), 1)).cast("long").alias("n_down"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    nu, nd = F.col("n_up"), F.col("n_down")
    n = nu + nd
    exp = 1 + 2.0 * nu * nd / n
    var = 2.0 * nu * nd * (2.0 * nu * nd - nu - nd) / (n * n * (n - 1))
    return m.select(
        F.col("et").alias("event_type"),
        "n_up",
        "n_down",
        "n_runs",
        (F.round(exp, 4) + 0.0).alias("expected_runs"),
        (F.round((F.col("n_runs") - exp) / F.sqrt(var), 4) + 0.0).alias("z"),
    ).orderBy("event_type")


@register(
    "q_events_burstiness",
    oracle="""
    WITH h AS (
      SELECT event_type AS et,
             CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS hi,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT CAST(max(hi) - min(hi) + 1 AS BIGINT) AS w FROM h
    ),
    m AS (
      SELECT et, CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
      FROM h GROUP BY et
    )
    SELECT et AS event_type, n_active, s AS n_events,
           round(CAST(w * ss - s * s AS DOUBLE) / (w * CAST(s AS DOUBLE)), 4)
             + 0.0 AS fano,
           CAST(w * ss - s * s > w * CAST(s AS HUGEINT) AS BOOLEAN)
             AS overdispersed
    FROM m, span ORDER BY event_type
    """,
)
def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor / index of dispersion) of hourly event
    arrivals per type: variance-to-mean ratio of hourly counts over
    the FULL hour grid — 1 means Poisson-like arrivals, above 1 means
    bursty traffic (the alerting-threshold design input next to
    q_stream_anomaly's online flagging).

    Zero-count hours enter via the global hour-span W (1-row fold):
    population variance·W = W·Σc²−(Σc)² — exact 128-bit; the
    overdispersion FLAG is the integer cross-multiplication
    W·Σc²−S² > W·S, so the boolean can never disagree across
    engines even when the double rounds."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("et"),
            F.floor(F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
            .cast("long")
            .alias("hi"),
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    span = F.broadcast(
        h.agg((F.max("hi") - F.min("hi") + 1).cast("long").alias("w"))
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    m = h.groupBy("et").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum("c").cast("long").alias("s"),
        F.sum(dec("c") * dec("c")).alias("ss"),
    )
    j = m.crossJoin(span)
    varn = dec("w") * F.col("ss") - dec("s") * dec("s")
    return j.select(
        F.col("et").alias("event_type"),
        "n_active",
        F.col("s").alias("n_events"),
        (
            F.round(
                varn.cast("double") / (F.col("w") * F.col("s").cast("double")), 4
            )
            + 0.0
        ).alias("fano"),
        (varn > dec("w") * dec("s")).alias("overdispersed"),
    ).orderBy("event_type")


@register(
    "q_forecast_mase",
    oracle="""
    WITH daily AS (
      SELECT event_type AS et,
             CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS di,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    e AS (
      SELECT et, di, c,
             abs(c - lag(c, 1) OVER w) AS ae_naive,
             abs(c - lag(c, 7) OVER w) AS ae_seasonal
      FROM daily WINDOW w AS (PARTITION BY et ORDER BY di)
    ),
    m AS (
      SELECT et,
             CAST(count(ae_seasonal) AS BIGINT) AS n,
             CAST(sum(ae_naive) FILTER (WHERE ae_seasonal IS NOT NULL)
                  AS BIGINT) AS sum_naive,
             CAST(sum(ae_seasonal) AS BIGINT) AS sum_seasonal
      FROM e GROUP BY et
    )
    SELECT et AS event_type, n,
           round(sum_naive / 100.0 / n, 2) AS mae_naive,
           round(sum_seasonal / 100.0 / n, 2) AS mae_seasonal,
           round(CAST(sum_seasonal AS DOUBLE) / sum_naive, 4) + 0.0 AS mase
    FROM m ORDER BY event_type
    """,
)
def q_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline scorecard per event type: MAE of the
    seasonal-naive forecast (ŷ_t = y_{t−7}) against the one-step
    naive (ŷ_t = y_{t−1}), and their ratio — the MASE-style scaled
    error every forecasting bake-off reports first (below 1 means
    weekly seasonality is real signal a model should use).

    ONE (type) sort carries both lags; both absolute-error sums are
    exact integer cents restricted to the common evaluable window
    (days where the 7-lag exists), so the ratio divides exact sums
    once."""
    from pyspark.sql import Window

    from engine.crypto import day_index

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("et"), day_index())
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("c"))
    )
    w = Window.partitionBy("et").orderBy("di")
    e = daily.select(
        "et",
        F.abs(F.col("c") - F.lag("c", 1).over(w)).alias("ae_naive"),
        F.abs(F.col("c") - F.lag("c", 7).over(w)).alias("ae_seasonal"),
    )
    m = e.groupBy("et").agg(
        F.count("ae_seasonal").cast("long").alias("n"),
        F.sum(F.when(F.col("ae_seasonal").isNotNull(), F.col("ae_naive")))
        .cast("long")
        .alias("sum_naive"),
        F.sum("ae_seasonal").cast("long").alias("sum_seasonal"),
    )
    return m.select(
        F.col("et").alias("event_type"),
        "n",
        F.round(F.col("sum_naive") / 100.0 / F.col("n"), 2).alias("mae_naive"),
        F.round(F.col("sum_seasonal") / 100.0 / F.col("n"), 2).alias(
            "mae_seasonal"
        ),
        (
            F.round(
                F.col("sum_seasonal").cast("double") / F.col("sum_naive"), 4
            )
            + 0.0
        ).alias("mase"),
    ).orderBy("event_type")


@register(
    "q_stats_qte",
    oracle=f"""
    WITH u AS (
      SELECT user_id, {_SQL_BUCKET} AS arm,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(0.25 AS DOUBLE) AS quantile,
           round(quantile_cont(cents, 0.25) FILTER (WHERE arm = 0) / 100.0, 4)
             + 0.0 AS q_a,
           round(quantile_cont(cents, 0.25) FILTER (WHERE arm = 1) / 100.0, 4)
             + 0.0 AS q_b,
           round((quantile_cont(cents, 0.25) FILTER (WHERE arm = 0)
                  - quantile_cont(cents, 0.25) FILTER (WHERE arm = 1)) / 100.0, 4)
             + 0.0 AS qte
    FROM u
    UNION ALL
    SELECT CAST(0.5 AS DOUBLE) AS quantile,
           round(quantile_cont(cents, 0.5) FILTER (WHERE arm = 0) / 100.0, 4)
             + 0.0 AS q_a,
           round(quantile_cont(cents, 0.5) FILTER (WHERE arm = 1) / 100.0, 4)
             + 0.0 AS q_b,
           round((quantile_cont(cents, 0.5) FILTER (WHERE arm = 0)
                  - quantile_cont(cents, 0.5) FILTER (WHERE arm = 1)) / 100.0, 4)
             + 0.0 AS qte
    FROM u
    UNION ALL
    SELECT CAST(0.75 AS DOUBLE) AS quantile,
           round(quantile_cont(cents, 0.75) FILTER (WHERE arm = 0) / 100.0, 4)
             + 0.0 AS q_a,
           round(quantile_cont(cents, 0.75) FILTER (WHERE arm = 1) / 100.0, 4)
             + 0.0 AS q_b,
           round((quantile_cont(cents, 0.75) FILTER (WHERE arm = 0)
                  - quantile_cont(cents, 0.75) FILTER (WHERE arm = 1)) / 100.0, 4)
             + 0.0 AS qte
    FROM u
    UNION ALL
    SELECT CAST(0.9 AS DOUBLE) AS quantile,
           round(quantile_cont(cents, 0.9) FILTER (WHERE arm = 0) / 100.0, 4)
             + 0.0 AS q_a,
           round(quantile_cont(cents, 0.9) FILTER (WHERE arm = 1) / 100.0, 4)
             + 0.0 AS q_b,
           round((quantile_cont(cents, 0.9) FILTER (WHERE arm = 0)
                  - quantile_cont(cents, 0.9) FILTER (WHERE arm = 1)) / 100.0, 4)
             + 0.0 AS qte
    FROM u
    ORDER BY quantile
    """,
)
def q_stats_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the md5 A−B difference of per-user
    spend at the 25/50/75/90th percentiles — the distributional
    experiment readout that catches effects a mean comparison hides
    (an A/A split should show ~0 at every quantile; heavy-tail
    movement shows up at p90 first).

    Per-user totals are exact cents from one conditional hash agg;
    both engines compute the SAME linear-interpolated quantile
    (Spark `percentile` == DuckDB `quantile_cont`) on those exact
    integers, so the interpolation arithmetic is a deterministic
    double on each side; the quantile spine is a constant 4-row
    broadcast."""
    u = (
        load_table(spark, sf_dir, "events")
        .withColumn("arm", _spark_bucket())
        .groupBy("user_id", "arm")
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("cents"))
    )
    qs = [0.25, 0.5, 0.75, 0.9]
    agg = u.agg(
        *[
            a
            for i, q in enumerate(qs)
            for a in (
                F.expr(f"percentile(CASE WHEN arm = 0 THEN cents END, {q})").alias(
                    f"qa_{i}"
                ),
                F.expr(f"percentile(CASE WHEN arm = 1 THEN cents END, {q})").alias(
                    f"qb_{i}"
                ),
            )
        ]
    )
    stack = ", ".join(
        f"CAST({q} AS DOUBLE), qa_{i}, qb_{i}" for i, q in enumerate(qs)
    )
    return (
        agg.select(F.expr(f"stack(4, {stack}) AS (quantile, qa, qb)"))
        .select(
            "quantile",
            (F.round(F.col("qa") / 100.0, 4) + 0.0).alias("q_a"),
            (F.round(F.col("qb") / 100.0, 4) + 0.0).alias("q_b"),
            (F.round((F.col("qa") - F.col("qb")) / 100.0, 4) + 0.0).alias("qte"),
        )
        .orderBy("quantile")
    )


@register(
    "q_stats_winsorized",
    oracle="""
    WITH t AS (
      SELECT event_type AS et, CAST(floor(value * 100) AS BIGINT) AS c
      FROM events
    ),
    b AS (
      SELECT et, quantile_cont(c, 0.05) AS lo, quantile_cont(c, 0.95) AS hi
      FROM t GROUP BY et
    ),
    w AS (
      SELECT t.et,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c > lo AND c < hi THEN c ELSE 0 END)
                  AS BIGINT) AS mid_sum,
             CAST(count(*) FILTER (WHERE c <= lo) AS BIGINT) AS n_lo,
             CAST(count(*) FILTER (WHERE c >= hi) AS BIGINT) AS n_hi,
             any_value(lo) AS lo, any_value(hi) AS hi
      FROM t JOIN b ON t.et = b.et GROUP BY t.et
    )
    SELECT et AS event_type, n, n_lo, n_hi,
           round((mid_sum + n_lo * lo + n_hi * hi) / n / 100.0, 4) + 0.0
             AS winsorized_mean,
           round(CAST(mid_sum AS DOUBLE) / (n - n_lo - n_hi) / 100.0, 4) + 0.0
             AS trimmed_mean
    FROM w ORDER BY et
    """,
)
def q_stats_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust means per event type: the 5/95% winsorized mean (tail
    values clamp to the percentile) and the trimmed mean (tails
    drop) — the outlier-robust metric pair experiment platforms
    report next to the raw mean, because one whale user can move a
    plain average.

    The percentile bounds compute once per type (Spark percentile ≡
    DuckDB quantile_cont on exact cents) and broadcast back; the
    winsorized sum decomposes as Σ(interior ints) + n_lo·lo + n_hi·hi
    — an exact integer sum plus exactly TWO products of deterministic
    doubles, so no float accumulates across rows. Boundary ties clamp
    on both engines identically (c ≤ lo clamps low, c ≥ hi high)."""
    t = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    b = t.groupBy("et").agg(
        F.expr("percentile(c, 0.05)").alias("lo"),
        F.expr("percentile(c, 0.95)").alias("hi"),
    )
    w = (
        t.join(F.broadcast(b), "et")
        .groupBy("et")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(
                    (F.col("c") > F.col("lo")) & (F.col("c") < F.col("hi")),
                    F.col("c"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("mid_sum"),
            F.count(F.when(F.col("c") <= F.col("lo"), 1))
            .cast("long")
            .alias("n_lo"),
            F.count(F.when(F.col("c") >= F.col("hi"), 1))
            .cast("long")
            .alias("n_hi"),
            F.any_value("lo").alias("lo"),
            F.any_value("hi").alias("hi"),
        )
    )
    return w.select(
        F.col("et").alias("event_type"),
        "n",
        "n_lo",
        "n_hi",
        (
            F.round(
                (
                    F.col("mid_sum")
                    + F.col("n_lo") * F.col("lo")
                    + F.col("n_hi") * F.col("hi")
                )
                / F.col("n")
                / 100.0,
                4,
            )
            + 0.0
        ).alias("winsorized_mean"),
        (
            F.round(
                F.col("mid_sum").cast("double")
                / (F.col("n") - F.col("n_lo") - F.col("n_hi"))
                / 100.0,
                4,
            )
            + 0.0
        ).alias("trimmed_mean"),
    ).orderBy("event_type")


@register(
    "q_stats_levene",
    oracle="""
    WITH t AS (
      SELECT event_type AS et, CAST(floor(value * 100) AS BIGINT) AS c
      FROM events
    ),
    med AS (
      SELECT et, median(c) AS m FROM t GROUP BY et
    ),
    z AS (
      SELECT t.et,
             CAST(floor(abs(CAST(c AS DOUBLE) - m) * 10000) AS BIGINT) AS zq
      FROM t JOIN med ON t.et = med.et
    ),
    g AS (
      SELECT et, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(zq) AS HUGEINT) AS s,
             CAST(sum(CAST(zq AS HUGEINT) * zq) AS HUGEINT) AS ss
      FROM z GROUP BY et
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s) AS HUGEINT) AS sall
      FROM g
    ),
    parts AS (
      SELECT CAST(sum(CAST(floor((CAST(s AS DOUBLE) * s / n)
                                 - fmod(CAST(s AS DOUBLE) * s / n, 1))
                           AS HUGEINT)) AS HUGEINT) AS between_q,
             CAST(sum(ss) AS HUGEINT) AS ss_all
      FROM g
    )
    SELECT k AS n_groups, nn AS n_obs,
           round(((CAST(between_q AS DOUBLE) - CAST(sall AS DOUBLE) * sall / nn)
                  / (k - 1))
                 / ((CAST(ss_all AS DOUBLE) - CAST(between_q AS DOUBLE))
                    / (nn - k)), 4) + 0.0 AS w_stat
    FROM tot, parts
    """,
)
def q_stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene with the median center) for
    EQUALITY OF VARIANCES across event types: a one-way ANOVA on the
    absolute deviations from each group's median — the
    heteroscedasticity check that should pass before trusting
    q_stats_anova's equal-variance assumption (and is robust to the
    heavy tails that break classic Levene-with-mean).

    Group medians broadcast back (deterministic interpolated doubles
    on exact cents); each |c − median| quantizes to a 1e-4 integer
    map-side, so all ANOVA moments are exact 128-bit sums; the one
    non-integer intermediate (Σz)²/n per group floors in the double
    domain via q−(q%1) (the floor(double)→long wrap lesson) before
    the cross-group fold. The W statistic evaluates once."""
    t = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    med = t.groupBy("et").agg(F.expr("percentile(c, 0.5)").alias("m"))
    z = t.join(F.broadcast(med), "et").select(
        "et",
        F.floor(F.abs(F.col("c").cast("double") - F.col("m")) * 10000)
        .cast("long")
        .alias("zq"),
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    g = z.groupBy("et").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec("zq")).alias("s"),
        F.sum(dec("zq") * dec("zq")).alias("ss"),
    )
    parts = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").alias("sall"),
        F.sum(
            F.expr(
                "CAST(CAST(s AS DOUBLE) * s / n"
                " - (CAST(s AS DOUBLE) * s / n) % 1 AS DECIMAL(38,0))"
            )
        ).alias("between_q"),
        F.sum("ss").alias("ss_all"),
    )
    between = F.col("between_q").cast("double")
    sall = F.col("sall").cast("double")
    ss_all = F.col("ss_all").cast("double")
    w = (
        (between - sall * sall / F.col("nn")) / (F.col("k") - 1)
    ) / ((ss_all - between) / (F.col("nn") - F.col("k")))
    return parts.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_obs"),
        (F.round(w, 4) + 0.0).alias("w_stat"),
    )


@register(
    "q_stats_cramers_v",
    oracle="""
    WITH cell AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS row_tot FROM cell GROUP BY lang),
    ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS col_tot FROM cell GROUP BY source),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT lang) AS BIGINT) AS r,
                   CAST(count(DISTINCT source) AS BIGINT) AS c
            FROM cell),
    grid AS (
      SELECT rt.lang, ct.source, rt.row_tot, ct.col_tot,
             COALESCE(cell.o, 0) AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN cell ON cell.lang = rt.lang AND cell.source = ct.source
    ),
    q AS (
      SELECT CAST(floor(
               pow(grid.o - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
               / (CAST(row_tot AS DOUBLE) * col_tot / n) * 1000000
             ) AS BIGINT) AS qterm, n, r, c
      FROM grid, tot
    ),
    f AS (
      SELECT CAST(sum(qterm) AS BIGINT) AS chi2q,
             any_value(n) AS n, any_value(r) AS r, any_value(c) AS c
      FROM q
    )
    SELECT round(chi2q / 1000000.0, 4) AS chi2,
           n,
           (r - 1) * (c - 1) AS dof,
           round(sqrt(chi2q / 1000000.0
                      / (n * least(r - 1, c - 1))), 4) + 0.0 AS cramers_v,
           CASE WHEN chi2q * 1 >= 250000 * CAST(n * least(r - 1, c - 1) AS BIGINT)
                THEN 'large'
                WHEN chi2q * 9 >= 810000 * CAST(n * least(r - 1, c - 1) AS BIGINT)
                THEN 'medium'
                WHEN chi2q * 100 >= 1000000 * CAST(n * least(r - 1, c - 1) AS BIGINT)
                THEN 'small'
                ELSE 'negligible' END AS effect
    FROM f
    """,
)
def q_stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the documents lang × source
    contingency — the "is this association MATERIAL" companion to the
    chi-square test (q_stats_chisq answers "is it significant", which
    at corpus scale everything is): V = sqrt(chi²/(n·min(r−1,c−1))),
    bucketed by the conventional 0.1/0.3/0.5 thresholds.

    Same scale shape as q_stats_chisq: ONE hash agg collapses the
    corpus to the r×c cell table; totals re-aggregate from it —
    but unlike the chisq fixture the lang×source table HAS empty
    cells, whose (0−e)²/e = e terms a groupBy-only cell table would
    silently drop, so the full r×c grid materializes as rt × ct
    (bounded: |langs|·|sources|) left-joined with the observed cells.
    Each cell's (o−e)²/e lands on the 1e-6 bigint grid before summing
    (the house order-independence idiom), and the effect bucket
    cross-multiplies the EXACT chi² grid value against V² thresholds
    (V ≥ t ⟺ chi2q ≥ t²·10⁶·n·k) so the label never depends on a
    float comparison; only the two display values divide."""
    cell = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("o"))
        .persist()
    )
    rt = cell.groupBy("lang").agg(F.sum("o").cast("long").alias("row_tot"))
    ct = cell.groupBy("source").agg(F.sum("o").cast("long").alias("col_tot"))
    tot = cell.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("lang").cast("long").alias("r"),
        F.countDistinct("source").cast("long").alias("c"),
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    qterm = F.floor(F.pow(F.col("o") - e, 2) / e * 1000000).cast("long")
    grid = (
        rt.crossJoin(ct)
        .join(cell, ["lang", "source"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0).cast("long")))
    )
    f = (
        grid.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(qterm).cast("long").alias("chi2q"),
            F.any_value(F.col("n")).alias("n"),
            F.any_value(F.col("r")).alias("r"),
            F.any_value(F.col("c")).alias("c"),
        )
    )
    nk = F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1)
    return f.select(
        F.round(F.col("chi2q") / 1000000.0, 4).alias("chi2"),
        "n",
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        (F.round(F.sqrt(F.col("chi2q") / 1000000.0 / nk), 4) + 0.0).alias("cramers_v"),
        F.when(F.col("chi2q") * 1 >= 250000 * nk, "large")
        .when(F.col("chi2q") * 9 >= 810000 * nk, "medium")
        .when(F.col("chi2q") * 100 >= 1000000 * nk, "small")
        .otherwise("negligible")
        .alias("effect"),
    )


@register(
    "q_stats_cohens_d",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             count(*) FILTER (WHERE {_SQL_BUCKET} = 0) AS n_a,
             count(*) FILTER (WHERE {_SQL_BUCKET} = 1) AS n_b,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 0
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s_a,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 1
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s_b,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 0
                           THEN CAST(floor(value * 100) AS BIGINT)
                              * CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS ss_a,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 1
                           THEN CAST(floor(value * 100) AS BIGINT)
                              * CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS ss_b
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           round((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
                 / 100.0, 4) + 0.0 AS mean_diff,
           round(sqrt(((ss_a - CAST(s_a AS DOUBLE) * s_a / n_a)
                       + (ss_b - CAST(s_b AS DOUBLE) * s_b / n_b))
                      / (n_a + n_b - 2)) / 100.0, 4) + 0.0 AS pooled_sd,
           round((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
                 / sqrt(((ss_a - CAST(s_a AS DOUBLE) * s_a / n_a)
                         + (ss_b - CAST(s_b AS DOUBLE) * s_b / n_b))
                        / (n_a + n_b - 2)), 4) + 0.0 AS cohens_d
    FROM g WHERE n_a > 1 AND n_b > 1
          AND (ss_a - CAST(s_a AS DOUBLE) * s_a / n_a)
            + (ss_b - CAST(s_b AS DOUBLE) * s_b / n_b) > 0
    """,
)
def q_stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size per event_type between the two md5 user
    arms — the companion readout to q_stats_ttest's significance: the
    mean difference in POOLED-standard-deviation units, which is what
    a sample-size calculator or meta-analysis actually consumes (a
    t-stat conflates effect with sample size; d does not).

    Same shape and exactness discipline as q_stats_ttest: ONE
    conditional hash aggregate collapses the fact table to per-type
    (n, Σcents, Σcents²) pairs per arm; the pooled variance
    ((n_a−1)s_a² + (n_b−1)s_b²)/(n_a+n_b−2) expands to sums-of-squares
    minus rational mean corrections — every operand an exact bigint,
    the final doubles evaluated by the IDENTICAL expression tree on
    both engines (the ttest/trend convention for single-division-free
    formulas). Degenerate arms (n ≤ 1) and zero pooled variance drop
    identically on both sides."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    arm = _spark_bucket()
    g = (
        ev.select(F.col("event_type"), cents.alias("c"), arm.alias("arm"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
            F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
            F.sum(F.when(F.col("arm") == 0, F.col("c"))).cast("long").alias("s_a"),
            F.sum(F.when(F.col("arm") == 1, F.col("c"))).cast("long").alias("s_b"),
            F.sum(F.when(F.col("arm") == 0, F.col("c") * F.col("c")))
            .cast("long")
            .alias("ss_a"),
            F.sum(F.when(F.col("arm") == 1, F.col("c") * F.col("c")))
            .cast("long")
            .alias("ss_b"),
        )
    )
    va = F.col("ss_a") - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a")
    vb = F.col("ss_b") - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b")
    diff = F.col("s_a").cast("double") / F.col("n_a") - F.col("s_b").cast(
        "double"
    ) / F.col("n_b")
    sp = F.sqrt((va + vb) / (F.col("n_a") + F.col("n_b") - 2))
    return g.filter(
        (F.col("n_a") > 1) & (F.col("n_b") > 1) & (va + vb > 0)
    ).select(
        "event_type",
        "n_a",
        "n_b",
        (F.round(diff / 100.0, 4) + 0.0).alias("mean_diff"),
        (F.round(sp / 100.0, 4) + 0.0).alias("pooled_sd"),
        (F.round(diff / sp, 4) + 0.0).alias("cohens_d"),
    )


@register(
    "q_stats_theil_u",
    oracle="""
    WITH cell AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source
    ),
    terms AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(round(c * ln(c) * 1000000) AS BIGINT)) AS BIGINT)
               AS q_ls
      FROM cell
    ),
    lt AS (
      SELECT CAST(sum(CAST(round(cl * ln(cl) * 1000000) AS BIGINT)) AS BIGINT)
               AS q_l
      FROM (SELECT CAST(sum(c) AS BIGINT) AS cl FROM cell GROUP BY lang)
    ),
    st AS (
      SELECT CAST(sum(CAST(round(cs * ln(cs) * 1000000) AS BIGINT)) AS BIGINT)
               AS q_s
      FROM (SELECT CAST(sum(c) AS BIGINT) AS cs FROM cell GROUP BY source)
    ),
    f AS (
      SELECT n, CAST(round(n * ln(n) * 1000000) AS BIGINT) AS q_n,
             q_ls, q_l, q_s
      FROM terms, lt, st
    )
    SELECT n,
           round((q_n - q_l) / (n * 1000000.0), 4) + 0.0 AS h_lang,
           round((q_n - q_s) / (n * 1000000.0), 4) + 0.0 AS h_source,
           round(CAST(q_n - q_l - q_s + q_ls AS DOUBLE)
                 / (q_n - q_l), 4) + 0.0 AS u_lang_given_source,
           round(CAST(q_n - q_l - q_s + q_ls AS DOUBLE)
                 / (q_n - q_s), 4) + 0.0 AS u_source_given_lang
    FROM f
    """,
)
def q_stats_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient for the documents lang × source
    contingency — the ASYMMETRIC association measure the symmetric
    Cramér's V cannot give: U(L|S) = I(L;S)/H(L) answers "what
    fraction of language uncertainty does knowing the source remove"
    (and U(S|L) the converse) — the feature-selection readout for
    categorical columns.

    Everything reduces to four Σc·ln(c) terms over the ONE hash-agg
    cell table (mutual information I = (N·lnN − Σ_l c_l ln c_l − Σ_s
    c_s ln c_s + Σ_ls c_ls ln c_ls)/N after expanding the logs of
    rationals): each term lands on the 1e-6 bigint grid before
    summing (the q_stats_acf ln-grid idiom — sums of quantized terms
    are order-independent), marginals re-aggregate from the bounded
    cell table (never a second corpus scan), and each output is one
    division of exact integers. Empty cells contribute 0·ln0 = 0 by
    construction (absent from the cell table — correct limit)."""
    cell = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("c"))
        .persist()
    )
    qterm = lambda col: F.round(  # noqa: E731
        col * F.log(col.cast("double")) * 1000000
    ).cast("long")
    terms = cell.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(qterm(F.col("c"))).cast("long").alias("q_ls"),
    )
    lt = (
        cell.groupBy("lang")
        .agg(F.sum("c").cast("long").alias("cl"))
        .agg(F.sum(qterm(F.col("cl"))).cast("long").alias("q_l"))
    )
    st = (
        cell.groupBy("source")
        .agg(F.sum("c").cast("long").alias("cs"))
        .agg(F.sum(qterm(F.col("cs"))).cast("long").alias("q_s"))
    )
    f = (
        terms.crossJoin(F.broadcast(lt))
        .crossJoin(F.broadcast(st))
        .withColumn("q_n", qterm(F.col("n")))
    )
    mi = F.col("q_n") - F.col("q_l") - F.col("q_s") + F.col("q_ls")
    return f.select(
        "n",
        (F.round((F.col("q_n") - F.col("q_l")) / (F.col("n") * 1000000.0), 4) + 0.0)
        .alias("h_lang"),
        (F.round((F.col("q_n") - F.col("q_s")) / (F.col("n") * 1000000.0), 4) + 0.0)
        .alias("h_source"),
        (F.round(mi.cast("double") / (F.col("q_n") - F.col("q_l")), 4) + 0.0).alias(
            "u_lang_given_source"
        ),
        (F.round(mi.cast("double") / (F.col("q_n") - F.col("q_s")), 4) + 0.0).alias(
            "u_source_given_lang"
        ),
    )


# Poisson(1) inverse-CDF integer cutoffs on a 1e8 grid (floor(CDF(k)*1e8)
# for k = 0..8; the residual mass above k=8 is 1.1e-6). Hardcoded exact
# integers so BOTH engines branch on identical compares — the weights
# are a pure function of the md5 stream, never of float arithmetic.
_POIS_CUT = [36787944, 73575888, 91969860, 98101184, 99634015,
             99940581, 99991675, 99998975, 99999887]


def _pois_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUT)
    )
    return f"CASE {branches} ELSE 9 END"


@register(
    "q_stats_bootstrap",
    oracle=f"""
    WITH bs AS (SELECT unnest(generate_series(1, 50)) AS b),
    w AS (
      SELECT event_type, bs.b,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             {_pois_sql("CAST('0x' || substring(md5('boot:' || CAST(bs.b AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) % 100000000")}
               AS w
      FROM events, bs
    ),
    rep AS (
      SELECT event_type, b, CAST(sum(w * cents) AS BIGINT) AS s,
             CAST(sum(w) AS BIGINT) AS m
      FROM w GROUP BY event_type, b
    ),
    r AS (
      SELECT event_type, b,
             CAST(s AS DOUBLE) / m AS mean_b,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(s AS DOUBLE) / m, b) AS rn
      FROM rep WHERE m > 0
    ),
    ci AS (
      SELECT event_type,
             min(CASE WHEN rn = 2 THEN mean_b END) AS lo,
             min(CASE WHEN rn = 49 THEN mean_b END) AS hi,
             count(*) AS n_boot
      FROM r GROUP BY event_type
    ),
    pt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY event_type
    )
    SELECT pt.event_type, n_events,
           round(CAST(pt.s AS DOUBLE) / n_events / 100.0, 4) + 0.0 AS mean,
           round(lo / 100.0, 4) + 0.0 AS ci_lo,
           round(hi / 100.0, 4) + 0.0 AS ci_hi,
           CAST(n_boot AS BIGINT) AS n_boot
    FROM pt JOIN ci USING (event_type)
    ORDER BY event_type
    """,
)
def q_stats_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the mean value
    per event_type — THE bootstrap that works at 100 TB: classical
    resampling needs n draws from n rows (a global shuffle per
    replicate); the Poisson bootstrap gives each row an independent
    Poisson(1) multiplicity, so all 50 replicates stream map-side in
    ONE pass and reduce to |types|×50 partial sums (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", the
    production-standard approximation whose replicate sizes
    concentrate at n ± √n).

    Determinism discipline: the multiplicity is a pure integer
    function of md5('boot:' || b || ':' || event_id) against
    hardcoded 1e-8-grid CDF cutoffs (no float RNG — identical weights
    on both engines, shard-stable, reproducible); replicate means are
    single divisions of exact integer sums; the percentile CI is
    nearest-rank (2nd / 49th of 50) over the per-type replicate table
    — a 50-row window per type, never a data-sized sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bspine = spark.range(1, 51).select(F.col("id").cast("int").alias("b"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100000000
    )
    # Materialize u in its own projection BEFORE the 10-branch CASE:
    # conditional branches are exempt from codegen common-subexpression
    # elimination, so an inlined u would md5 each row up to 10 times
    # (measured 8.9 s → 1.5 s at sf0.1); CollapseProject keeps a
    # non-cheap expression in its own project when referenced multiply.
    w = F.lit(9)
    for k in range(len(_POIS_CUT) - 1, -1, -1):
        w = F.when(F.col("u") < _POIS_CUT[k], k).otherwise(w)
    cents = F.floor(F.col("value") * 100).cast("long")
    # The ×50 fan-out multiplies PER-PARTITION work: a local fixture
    # collapses to one row-group split, which would serialize 50× the
    # md5 stream on one core. Pre-spread the skinny (type, id, cents)
    # projection across the executor width first — one shuffle of the
    # un-expanded rows (measured 4.5 s → 0.6 s at sf0.1); on a real
    # cluster the scan already has that many splits and this is a noop
    # by width.
    rep = (
        ev.select("event_type", "event_id", cents.alias("cents"))
        .repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(bspine))
        .select("event_type", "b", "cents", u.alias("u"))
        .select("event_type", "b", "cents", w.alias("w"))
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).cast("long").alias("s"),
            F.sum("w").cast("long").alias("m"),
        )
        .filter(F.col("m") > 0)
    )
    wr = Window.partitionBy("event_type").orderBy(
        (F.col("s").cast("double") / F.col("m")).asc(), F.col("b").asc()
    )
    r = rep.select(
        "event_type",
        (F.col("s").cast("double") / F.col("m")).alias("mean_b"),
        F.row_number().over(wr).alias("rn"),
    )
    ci = r.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("lo"),
        F.min(F.when(F.col("rn") == 49, F.col("mean_b"))).alias("hi"),
        F.count("*").cast("long").alias("n_boot"),
    )
    pt = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("s"),
    )
    return (
        pt.join(ci, "event_type")
        .select(
            "event_type",
            "n_events",
            (F.round(F.col("s").cast("double") / F.col("n_events") / 100.0, 4) + 0.0)
            .alias("mean"),
            (F.round(F.col("lo") / 100.0, 4) + 0.0).alias("ci_lo"),
            (F.round(F.col("hi") / 100.0, 4) + 0.0).alias("ci_hi"),
            "n_boot",
        )
        .orderBy("event_type")
    )


_PERM_SQL = f"""
    WITH obs AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE {_SQL_BUCKET} = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE {_SQL_BUCKET} = 1) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 0
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s0,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 1
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s1
      FROM events GROUP BY event_type
    ),
    bs AS (SELECT unnest(generate_series(1, 99)) AS b),
    perm AS (
      SELECT event_type, b,
             CAST(count(*) FILTER (WHERE pa = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE pa = 1) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN pa = 0
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s0,
             CAST(sum(CASE WHEN pa = 1
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s1
      FROM (
        SELECT event_type, value, bs.b,
               CAST('0x' || substring(md5('perm:' || CAST(bs.b AS VARCHAR)
                    || ':' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2
                 AS pa
        FROM events, bs
      ) GROUP BY event_type, b
    ),
    cmp AS (
      SELECT p.event_type,
             CASE WHEN p.n0 > 0 AND p.n1 > 0 THEN 1 ELSE 0 END AS valid,
             CASE WHEN p.n0 > 0 AND p.n1 > 0
                  AND abs(p.s0 * CAST(p.n1 AS HUGEINT) - p.s1 * CAST(p.n0 AS HUGEINT))
                      * o.n0 * o.n1
                   >= abs(o.s0 * CAST(o.n1 AS HUGEINT) - o.s1 * CAST(o.n0 AS HUGEINT))
                      * p.n0 * p.n1
                  THEN 1 ELSE 0 END AS exceed
      FROM perm p JOIN obs o ON p.event_type = o.event_type
      WHERE o.n0 > 0 AND o.n1 > 0
    ),
    f AS (
      SELECT event_type, CAST(sum(valid) AS BIGINT) AS n_perm,
             CAST(sum(exceed) AS BIGINT) AS n_exceed
      FROM cmp GROUP BY event_type
    )
    SELECT o.event_type,
           round((CAST(o.s0 AS DOUBLE) / o.n0 - CAST(o.s1 AS DOUBLE) / o.n1)
                 / 100.0, 4) + 0.0 AS mean_diff,
           n_perm, n_exceed,
           round(CAST(1 + n_exceed AS DOUBLE) / (1 + n_perm), 4) + 0.0
             AS p_value,
           CASE WHEN 20 * (1 + n_exceed) <= (1 + n_perm) THEN 1 ELSE 0 END
             AS significant
    FROM f JOIN obs o USING (event_type)
    WHERE o.n0 > 0 AND o.n1 > 0
    ORDER BY event_type
    """


@register(
    "q_stats_permutation",
    oracle=_PERM_SQL,
)
def q_stats_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the arm mean difference per event_type
    (the exact-inference companion to q_stats_ttest: no normality or
    variance assumption — just exchangeability): 99 deterministic
    re-randomizations of the USER-level assignment build the null
    distribution, and p = (1 + #{|d_b| ≥ |d_obs|})/(1 + B) is the
    standard add-one permutation p-value (Phipson & Smyth).

    Scale/determinism discipline: each replicate's assignment is
    md5('perm:' || b || ':' || user_id) % 2 — user-level (preserves
    within-user correlation, mirrors the observed md5 arms),
    shard-stable, engine-identical. Because BOTH the observed arm and
    every replicate assignment are functions of user_id alone, the
    whole test factors exactly through the per-(event_type, user_id)
    integer aggregate (Σcents, #events): the fact table reduces ONCE
    (map-side combine to |type×user| rows), and only that user-level
    frame crosses the 99-row replicate spine — at sf0.1 the fan-out
    handles 742 k rows and 148 k hashes instead of 9.9 M each, and at
    cluster scale the spine never re-reads the fact table (r10; the
    sweep-identical integer sums make the cutover hash-invariant —
    the old event×99 cross was the r10 full-snapshot's slowest
    non-fixpoint wall). The exceedance test cross-multiplies the two
    rational mean diffs into exact 128-bit integer products
    (decimal(38,0)/HUGEINT), so the p-value's numerator is a count of
    exact comparisons — no float ever decides significance (the flag
    itself is the integer 20·(1+exceed) ≤ (1+B) form of p ≤ 0.05)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    # user-level exact sufficient statistics — every assignment
    # (observed and permuted) is constant within a user, so summing
    # (#events, Σcents) per user first is algebraically lossless
    ug = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("ec"),
        F.sum("cents").cast("long").alias("sc"),
    )
    arm = _spark_bucket()
    obs = (
        ug.select("event_type", "ec", "sc", arm.alias("arm"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("arm") == 0, F.col("ec"))).cast("long").alias("n0"),
            F.sum(F.when(F.col("arm") == 1, F.col("ec"))).cast("long").alias("n1"),
            F.sum(F.when(F.col("arm") == 0, F.col("sc"))).cast("long").alias("s0"),
            F.sum(F.when(F.col("arm") == 1, F.col("sc"))).cast("long").alias("s1"),
        )
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
    )
    bspine = spark.range(1, 100).select(F.col("id").cast("int").alias("b"))
    pa = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("perm:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    # a (type, b) group with no pa=0 users yields NULL sums where the
    # old event-level count gave 0 — downstream only tests pn>0 inside
    # when(), where NULL and 0 both fall to otherwise(0), so the
    # valid/exceed counts are unchanged
    perm = (
        ug.crossJoin(F.broadcast(bspine))
        .select("event_type", "b", "ec", "sc", pa.alias("pa"))
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.when(F.col("pa") == 0, F.col("ec"))).cast("long").alias("pn0"),
            F.sum(F.when(F.col("pa") == 1, F.col("ec"))).cast("long").alias("pn1"),
            F.sum(F.when(F.col("pa") == 0, F.col("sc"))).cast("long").alias("ps0"),
            F.sum(F.when(F.col("pa") == 1, F.col("sc"))).cast("long").alias("ps1"),
        )
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    cmp_ = perm.join(F.broadcast(obs), "event_type").select(
        "event_type",
        F.when((F.col("pn0") > 0) & (F.col("pn1") > 0), 1).otherwise(0).alias("valid"),
        F.when(
            (F.col("pn0") > 0)
            & (F.col("pn1") > 0)
            & (
                F.abs(dec("ps0") * dec("pn1") - dec("ps1") * dec("pn0"))
                * dec("n0")
                * dec("n1")
                >= F.abs(dec("s0") * dec("n1") - dec("s1") * dec("n0"))
                * dec("pn0")
                * dec("pn1")
            ),
            1,
        )
        .otherwise(0)
        .alias("exceed"),
    )
    f = cmp_.groupBy("event_type").agg(
        F.sum("valid").cast("long").alias("n_perm"),
        F.sum("exceed").cast("long").alias("n_exceed"),
    )
    return (
        f.join(obs, "event_type")
        .select(
            "event_type",
            (
                F.round(
                    (
                        F.col("s0").cast("double") / F.col("n0")
                        - F.col("s1").cast("double") / F.col("n1")
                    )
                    / 100.0,
                    4,
                )
                + 0.0
            ).alias("mean_diff"),
            "n_perm",
            "n_exceed",
            (
                F.round(
                    (1 + F.col("n_exceed")).cast("double") / (1 + F.col("n_perm")), 4
                )
                + 0.0
            ).alias("p_value"),
            F.when(20 * (1 + F.col("n_exceed")) <= (1 + F.col("n_perm")), 1)
            .otherwise(0)
            .alias("significant"),
        )
        .orderBy("event_type")
    )


@register(
    "q_stats_mcnemar",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN CAST(embedding[1] AS DOUBLE) >= 0 THEN 1 ELSE 0 END
               AS pa,
             CASE WHEN CAST(embedding[2] AS DOUBLE) >= 0 THEN 1 ELSE 0 END
               AS pb,
             CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    c AS (
      SELECT CAST(count(*) FILTER (WHERE pa = y AND pb = y) AS BIGINT)
               AS both_right,
             CAST(count(*) FILTER (WHERE pa = y AND pb <> y) AS BIGINT) AS b,
             CAST(count(*) FILTER (WHERE pa <> y AND pb = y) AS BIGINT) AS c,
             CAST(count(*) FILTER (WHERE pa <> y AND pb <> y) AS BIGINT)
               AS both_wrong
      FROM s
    )
    SELECT both_right, b, c, both_wrong,
           round(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 4) + 0.0
             AS mcnemar_chi2,
           round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                 / (b + c), 4) + 0.0 AS mcnemar_corrected,
           CASE WHEN CAST(b - c AS HUGEINT) * (b - c) * 1000000
                     >= CAST(3841459 AS HUGEINT) * (b + c)
                THEN 1 ELSE 0 END AS significant
    FROM c WHERE b + c > 0
    """,
)
def q_stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED classifiers on the same examples —
    the statistically correct way to compare two models evaluated on
    one test set (two q_eval_confusion accuracies are correlated
    through the shared examples; McNemar conditions on the
    disagreements): classifier A = sign(dim 1), classifier B =
    sign(dim 2), truth = label parity (the q_eval_auc fixture
    conventions), χ² = (b−c)²/(b+c) over the discordant cells, with
    Edwards' continuity-corrected variant alongside.

    ONE conditional hash aggregate collapses the corpus to the four
    exact paired-outcome cells; both statistics are single IEEE
    divisions of exact integers; and the α = 0.05 significance flag
    cross-multiplies (b−c)²·10⁶ against 3 841 459·(b+c) (the χ²₁
    critical value on a 1e-6 grid) — the decision never touches a
    float. The cross-products accumulate as decimal(38,0)/HUGEINT
    (the q_stats_permutation idiom): in int64, (b−c)²·10⁶ wraps once
    |b−c| exceeds ~3.03M discordant rows — Spark would silently flip
    the flag while DuckDB raises on BIGINT overflow (ADVICE r6)."""
    s = load_table(spark, sf_dir, "embeddings").select(
        F.when(F.element_at("embedding", 1).cast("double") >= 0, 1)
        .otherwise(0)
        .alias("pa"),
        F.when(F.element_at("embedding", 2).cast("double") >= 0, 1)
        .otherwise(0)
        .alias("pb"),
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("y"),
    )
    c = s.agg(
        F.count(F.when((F.col("pa") == F.col("y")) & (F.col("pb") == F.col("y")), 1))
        .cast("long")
        .alias("both_right"),
        F.count(F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1))
        .cast("long")
        .alias("b"),
        F.count(F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1))
        .cast("long")
        .alias("c"),
        F.count(F.when((F.col("pa") != F.col("y")) & (F.col("pb") != F.col("y")), 1))
        .cast("long")
        .alias("both_wrong"),
    )
    d = F.col("b") - F.col("c")
    n = F.col("b") + F.col("c")
    ad1 = F.abs(d) - 1
    return c.filter(n > 0).select(
        "both_right",
        "b",
        "c",
        "both_wrong",
        (F.round((d * d).cast("double") / n, 4) + 0.0).alias("mcnemar_chi2"),
        (F.round((ad1 * ad1).cast("double") / n, 4) + 0.0).alias(
            "mcnemar_corrected"
        ),
        F.when(
            d.cast("decimal(38,0)") * d * 1000000
            >= F.lit(3841459).cast("decimal(38,0)") * n,
            1,
        )
        .otherwise(0)
        .alias("significant"),
    )


@register(
    "q_stats_shrinkage",
    oracle="""
    WITH u AS (
      SELECT event_type, user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE value >= 100) AS BIGINT) AS k
      FROM events GROUP BY event_type, user_id
    ),
    q AS (
      SELECT event_type, user_id, n, k,
             (k * 1000000000) // n AS rq
      FROM u
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS nu,
             CAST(sum(rq) AS BIGINT) AS s,
             CAST(sum(CAST(rq AS HUGEINT) * rq) AS HUGEINT) AS ss
      FROM q GROUP BY event_type
    ),
    p AS (
      SELECT event_type, nu AS n_users,
             CAST(s AS DOUBLE) / nu / 1e9 AS mu,
             greatest(
               (CAST(s AS DOUBLE) / nu / 1e9)
               * (1 - CAST(s AS DOUBLE) / nu / 1e9)
               / ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nu)
                  / (nu - 1) / 1e18) - 1, 1.0) AS m
      FROM g
      WHERE nu > 1 AND CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nu > 0
            AND s > 0 AND s < nu * 1000000000
    ),
    s AS (
      SELECT u.event_type, u.user_id, u.n, u.k, p.mu, p.m, p.n_users,
             (u.k + p.m * p.mu) / (u.n + p.m) AS shrunk
      FROM u JOIN p ON u.event_type = p.event_type
    ),
    r AS (
      SELECT event_type, user_id, n, k, shrunk, n_users, mu, m,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY shrunk DESC, user_id) AS rn
      FROM s
    )
    SELECT event_type, CAST(rn AS BIGINT) AS rn, user_id, n, k,
           round(CAST(k AS DOUBLE) / n, 4) + 0.0 AS raw_rate,
           round(shrunk, 4) + 0.0 AS shrunk_rate,
           round(mu, 4) + 0.0 AS prior_mean,
           round(m, 2) + 0.0 AS prior_strength
    FROM r WHERE rn <= 5
    ORDER BY event_type, rn
    """,
)
def q_stats_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage leaderboard: each user's high-value
    rate (share of events with value ≥ 100) shrunk toward the type's
    prior by a beta-binomial method-of-moments fit — the technique
    that stops a 2-for-2 user outranking a 950-for-1000 one on every
    'top converters' leaderboard (Efron-Morris / the baseball-batting
    classic). Prior strength m = μ(1−μ)/Var(rates) − 1 (floored at 1
    so a degenerate variance cannot produce a negative prior), and
    each user posts (k + m·μ)/(n + m).

    Scale shape: ONE hash agg collapses events to per-(type, user)
    (n, k); the per-type prior is a second agg over that bounded
    panel; the shrunk leaderboard is the standard top-k-per-group
    window. Rates are rationals of exact counts evaluated by the
    IDENTICAL expression tree on both engines (var_samp over the same
    exact ratios included — same shuffle-free shape as
    q_stats_ttest's variance, here over the user panel, not raw
    ticks); ranking ties break on user_id."""
    from pyspark.sql import Window

    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count(F.when(F.col("value") >= 100, 1)).cast("long").alias("k"),
        )
    )
    # rates land on a 1e-9 integer grid BEFORE the moment sums — avg /
    # var_samp over raw float ratios would be partial-merge-order-
    # dependent (the registry's nondeterministic-float-agg rule); grid
    # moments are exact bigints in any order, and the prior evaluates
    # from them by the identical expression tree on both engines.
    dec = lambda c_: c_.cast("decimal(38,0)")  # noqa: E731
    q = u.withColumn("rq", F.expr("(k * 1000000000) div n"))
    g = q.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nu"),
        F.sum("rq").cast("long").alias("s"),
        F.sum(dec(F.col("rq")) * F.col("rq")).alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("nu") / 1e9
    vr = (
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("nu"))
        / (F.col("nu") - 1)
        / 1e18
    )
    p = g.filter(
        (F.col("nu") > 1)
        & (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("nu") > 0)
        & (F.col("s") > 0)
        & (F.col("s") < F.col("nu") * 1000000000)
    ).select(
        "event_type",
        F.col("nu").alias("n_users"),
        mu.alias("mu"),
        F.greatest(mu * (1 - mu) / vr - 1, F.lit(1.0)).alias("m"),
    )
    s = u.join(F.broadcast(p), "event_type").withColumn(
        "shrunk",
        (F.col("k") + F.col("m") * F.col("mu")) / (F.col("n") + F.col("m")),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("shrunk"), F.asc("user_id"))
    return (
        s.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select(
            "event_type",
            "rn",
            "user_id",
            "n",
            "k",
            (F.round(F.col("k").cast("double") / F.col("n"), 4) + 0.0).alias(
                "raw_rate"
            ),
            (F.round(F.col("shrunk"), 4) + 0.0).alias("shrunk_rate"),
            (F.round(F.col("mu"), 4) + 0.0).alias("prior_mean"),
            (F.round(F.col("m"), 2) + 0.0).alias("prior_strength"),
        )
        .orderBy("event_type", "rn")
    )


@register(
    "q_stats_fdr_bh",
    oracle=f"""
    WITH base AS ({_PERM_SQL}),
    r AS (
      SELECT event_type, n_perm, n_exceed,
             CAST(1 + n_exceed AS DOUBLE) / (1 + n_perm) AS p,
             row_number() OVER (
               ORDER BY CAST(1 + n_exceed AS DOUBLE) / (1 + n_perm),
                        event_type) AS rk,
             count(*) OVER () AS m
      FROM base
    ),
    adj AS (
      SELECT event_type, p, rk, m,
             min(p * m / rk) OVER (ORDER BY rk DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS adj_p
      FROM r
    )
    SELECT event_type, CAST(rk AS BIGINT) AS rank,
           round(p, 4) + 0.0 AS p_value,
           round(least(adj_p, 1.0), 4) + 0.0 AS adj_p,
           CASE WHEN least(adj_p, 1.0) <= 0.10 THEN 1 ELSE 0 END
             AS significant_fdr10
    FROM adj ORDER BY rank
    """,
)
def q_stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over the per-type permutation
    p-values — the multiple-testing layer every metrics platform runs
    ABOVE its per-metric tests (five event types tested at α = 0.05
    each means ~23% family-wise false-alarm odds; BH controls the
    false-DISCOVERY rate instead): p-values rank ascending, raw BH
    value is p·m/rank, and the adjusted p is the suffix running
    minimum (the monotonicity step people forget), capped at 1.

    Builds literally ON the q_stats_permutation machinery — the
    oracle composes its full SQL as a CTE (shared module constant:
    same-text-two-engines, the q_sql_api discipline) and the engine
    side calls the registered function, so exactly ONE implementation
    of the 99-replicate exceedance exists. The BH pass itself runs on
    the |types|-row p-value table: a rank window, a suffix-min
    window, single divisions of exact counts — metadata-sized by
    construction."""
    from pyspark.sql import Window

    base = q_stats_permutation(spark, sf_dir).select(
        "event_type", "n_perm", "n_exceed"
    )
    p = (1 + F.col("n_exceed")).cast("double") / (1 + F.col("n_perm"))
    r = base.select("event_type", p.alias("p")).withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.asc("p"), F.asc("event_type"))),
    ).withColumn("m", F.count("*").over(Window.partitionBy()))
    adj = r.withColumn(
        "adj_p",
        F.min(F.col("p") * F.col("m") / F.col("rk")).over(
            Window.orderBy(F.desc("rk")).rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    capped = F.least(F.col("adj_p"), F.lit(1.0))
    return adj.select(
        "event_type",
        F.col("rk").cast("long").alias("rank"),
        (F.round(F.col("p"), 4) + 0.0).alias("p_value"),
        (F.round(capped, 4) + 0.0).alias("adj_p"),
        F.when(capped <= 0.10, 1).otherwise(0).alias("significant_fdr10"),
    ).orderBy("rank")


@register(
    "q_stats_tost",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             count(*) FILTER (WHERE {_SQL_BUCKET} = 0) AS n_a,
             count(*) FILTER (WHERE {_SQL_BUCKET} = 1) AS n_b,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 0
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s_a,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 1
                           THEN CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS s_b,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 0
                           THEN CAST(floor(value * 100) AS BIGINT)
                              * CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS ss_a,
             CAST(sum(CASE WHEN {_SQL_BUCKET} = 1
                           THEN CAST(floor(value * 100) AS BIGINT)
                              * CAST(floor(value * 100) AS BIGINT) END)
                  AS BIGINT) AS ss_b
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT event_type, n_a, n_b,
             CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b AS diff,
             0.02 * (CAST(s_a + s_b AS DOUBLE) / (n_a + n_b)) AS margin,
             sqrt(((ss_a - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1)) / n_a
                + ((ss_b - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1)) / n_b)
               AS se
      FROM g WHERE n_a > 1 AND n_b > 1
    )
    SELECT event_type, n_a, n_b,
           round(diff / 100.0, 4) + 0.0 AS mean_diff,
           round(margin / 100.0, 4) + 0.0 AS margin,
           round((diff + margin) / se, 4) + 0.0 AS t_lower,
           round((margin - diff) / se, 4) + 0.0 AS t_upper,
           CASE WHEN (diff + margin) / se >= 1.6449
                 AND (margin - diff) / se >= 1.6449
                THEN 1 ELSE 0 END AS equivalent
    FROM z WHERE se > 0
    ORDER BY event_type
    """,
)
def q_stats_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests, Schuirmann 1987)
    per event_type between the md5 arms: is the mean difference
    PROVABLY within ±2% of the pooled mean — the question
    q_stats_ttest cannot answer (failing to reject ≠ equivalence;
    every do-no-harm launch review and A/A pipeline check needs the
    TOST form). Equivalence at α = 0.05 requires BOTH one-sided
    statistics (diff+δ)/se and (δ−diff)/se to clear z₀.₉₅ = 1.6449
    (the large-sample z form — arm sizes here make t ≈ z to 4 dp).

    Same single conditional hash agg as q_stats_ttest: exact (n, Σ,
    Σ²) per arm; Welch se, both statistics, and the flag evaluate by
    the IDENTICAL expression tree from exact integers on both
    engines; the data-derived margin (2% of pooled mean) keeps the
    operator scale-free across SFs."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    arm = _spark_bucket()
    g = (
        ev.select(F.col("event_type"), cents.alias("c"), arm.alias("arm"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
            F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
            F.sum(F.when(F.col("arm") == 0, F.col("c"))).cast("long").alias("s_a"),
            F.sum(F.when(F.col("arm") == 1, F.col("c"))).cast("long").alias("s_b"),
            F.sum(F.when(F.col("arm") == 0, F.col("c") * F.col("c")))
            .cast("long")
            .alias("ss_a"),
            F.sum(F.when(F.col("arm") == 1, F.col("c") * F.col("c")))
            .cast("long")
            .alias("ss_b"),
        )
        .filter((F.col("n_a") > 1) & (F.col("n_b") > 1))
    )
    diff = F.col("s_a").cast("double") / F.col("n_a") - F.col("s_b").cast(
        "double"
    ) / F.col("n_b")
    margin = 0.02 * (
        (F.col("s_a") + F.col("s_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    )
    se = F.sqrt(
        (
            (F.col("ss_a") - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a"))
            / (F.col("n_a") - 1)
        )
        / F.col("n_a")
        + (
            (F.col("ss_b") - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b"))
            / (F.col("n_b") - 1)
        )
        / F.col("n_b")
    )
    return (
        g.filter(se > 0)
        .select(
            "event_type",
            "n_a",
            "n_b",
            (F.round(diff / 100.0, 4) + 0.0).alias("mean_diff"),
            (F.round(margin / 100.0, 4) + 0.0).alias("margin"),
            (F.round((diff + margin) / se, 4) + 0.0).alias("t_lower"),
            (F.round((margin - diff) / se, 4) + 0.0).alias("t_upper"),
            F.when(
                ((diff + margin) / se >= 1.6449) & ((margin - diff) / se >= 1.6449), 1
            )
            .otherwise(0)
            .alias("equivalent"),
        )
        .orderBy("event_type")
    )


@register(
    "q_stats_kruskal_wallis",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    gv AS (SELECT grp, cents, CAST(count(*) AS BIGINT) AS c
           FROM v GROUP BY grp, cents),
    tv AS (
      SELECT cents, CAST(sum(c) AS BIGINT) AS t,
             CAST(coalesce(sum(sum(c)) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS before
      FROM gv GROUP BY cents
    ),
    rj AS (
      SELECT gv.grp, CAST(sum(gv.c) AS BIGINT) AS nj,
             CAST(sum(CAST(gv.c AS HUGEINT) * (2 * tv.before + tv.t + 1))
                  AS HUGEINT) AS r2j
      FROM gv JOIN tv USING (cents) GROUP BY gv.grp
    ),
    tie AS (
      SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tsum,
             CAST(sum(t) AS BIGINT) AS n
      FROM tv
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS k, any_value(tie.n) AS n,
             CAST(sum(CAST(r2j AS HUGEINT) * r2j // nj) AS HUGEINT) AS q4,
             any_value(tie.tsum) AS tsum
      FROM rj, tie
    )
    SELECT n, k,
           round(3.0 * CAST(q4 AS DOUBLE) / n / (n + 1) - 3.0 * (n + 1), 4)
             + 0.0 AS h,
           CASE WHEN CAST(tsum AS DOUBLE)
                     < CAST(n AS DOUBLE) * n * n - n
                THEN round((3.0 * CAST(q4 AS DOUBLE) / n / (n + 1)
                            - 3.0 * (n + 1))
                           / (1.0 - CAST(tsum AS DOUBLE)
                                    / (CAST(n AS DOUBLE) * n * n - n)),
                           4) + 0.0
                ELSE NULL END AS h_corrected
    FROM s
    """,
)
def q_stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five order priorities on order
    value — the k-group extension of q_stats_mannwhitney (which is
    exactly KW at k=2) and the nonparametric counterpart of
    q_stats_anova's F: does ANY priority's value distribution sit
    higher, without normality assumptions. Tie-corrected variant
    alongside (H / (1 − Σ(t³−t)/(N³−N))), NULL when every value is
    tied.

    Exactness (the q_stats_mannwhitney discipline): ranks stay
    DOUBLED integers (2·avg rank of a tied value = 2·before + t + 1),
    per-group doubled rank sums and the tie term accumulate as
    decimal/HUGEINT, and Σ(2R_j)²/n_j is floored PER GROUP to an
    exact 128-bit integer before the k-term sum — a deterministic
    ≤ k absolute error ≈ 3k/(N(N+1)) on H, orders of magnitude below
    the round(4) contract, instead of a k-term float sum whose order
    the engines would not agree on. (2R_j)² clears 128 bits up to
    ~10⁹ rows per group — the same documented bound as the sibling
    moment folds. H evaluates once, in doubles, by the identical
    expression tree on both engines.

    Plan: one value-level hash agg, the exclusive prefix as
    :func:`banded_cum` minus the row's own count (never a global
    single-partition window), one domain-sized join
    back, one 5-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    gv = v.groupBy("grp", "cents").agg(F.count("*").cast("long").alias("c"))
    tv = gv.groupBy("cents").agg(F.sum("c").cast("long").alias("t"))
    tv = banded_cum(
        tv, (F.col("cents") / (1 << 16)).cast("long"), ["cents"], ["t"]
    ).withColumn("before", F.col("cum_t") - F.col("t"))
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    rj = (
        gv.join(tv.select("cents", "t", "before"), "cents")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("nj"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * (2 * F.col("before") + F.col("t") + 1)
            ).alias("r2j"),
        )
    )
    tie = tv.agg(
        F.sum(dec("t") * F.col("t") * F.col("t") - F.col("t")).alias("tsum"),
        F.sum("t").cast("long").alias("n"),
    )
    s = rj.crossJoin(F.broadcast(tie)).agg(
        F.count("*").cast("long").alias("k"),
        F.any_value("n").alias("n"),
        F.sum(F.floor(F.col("r2j") * F.col("r2j") / F.col("nj"))).alias("q4"),
        F.any_value("tsum").alias("tsum"),
    )
    nD = F.col("n").cast("double")
    h = 3.0 * F.col("q4").cast("double") / F.col("n") / (F.col("n") + 1) - 3.0 * (
        F.col("n") + 1
    )
    tD = F.col("tsum").cast("double")
    cube = nD * F.col("n") * F.col("n") - F.col("n")
    return s.select(
        "n",
        "k",
        (F.round(h, 4) + 0.0).alias("h"),
        F.when(tD < cube, F.round(h / (1.0 - tD / cube), 4) + 0.0)
        .otherwise(F.lit(None).cast("double"))
        .alias("h_corrected"),
    )


@register(
    "q_stats_friedman",
    oracle="""
    WITH cell AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS blk,
             o_orderpriority AS trt,
             (CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                   AS HUGEINT) * 1000000)
               // count(*) AS mq
      FROM orders GROUP BY blk, trt
    ),
    full_blk AS (
      SELECT blk FROM cell GROUP BY blk
      HAVING count(*) = (SELECT count(DISTINCT o_orderpriority) FROM orders)
    ),
    c2 AS (SELECT cell.* FROM cell JOIN full_blk USING (blk)),
    tied AS (
      SELECT blk, trt,
             CAST(count(*) OVER (PARTITION BY blk, mq) AS BIGINT) AS t,
             CAST(coalesce(count(*) OVER (PARTITION BY blk
                    ORDER BY mq RANGE BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS before
      FROM c2
    ),
    rj AS (
      SELECT trt, CAST(count(*) AS BIGINT) AS b,
             CAST(sum(2 * before + t + 1) AS BIGINT) AS r2
      FROM tied GROUP BY trt
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS k, any_value(b) AS b,
             CAST(sum(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS sr4
      FROM rj
    )
    SELECT b AS n_blocks, k AS k_treatments,
           round(3.0 * CAST(sr4 AS DOUBLE) / b / k / (k + 1)
                 - 3.0 * b * (k + 1), 4) + 0.0 AS chi2_f
    FROM s
    """,
)
def q_stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the order priorities rank consistently across
    MONTH blocks? The repeated-measures companion to
    q_stats_kruskal_wallis — KW pools all observations (and a strong
    month effect inflates within-group variance); Friedman ranks the
    treatment means WITHIN each month, so a consistent ordering shows
    up even when months differ wildly in level. Only complete blocks
    (all k treatments present) enter, per the classic design.

    Exactness: each (month, priority) cell reduces to the exact
    1e-6-grid mean (Σcents·10⁶ div n — 128-bit), within-block ranks
    are DOUBLED integers with average-tie handling (2·before + t + 1
    over the block's mq groups — a block is k rows, so the windows
    are domain-sized), per-treatment doubled rank sums and their
    squares are exact integers, and χ²_F evaluates once in doubles by
    the identical expression tree: 3·Σ(2R_j)²/(b·k·(k+1)) − 3·b·(k+1)
    (the standard 12/(bk(k+1))·ΣR² with the doubled-rank ¼ folded
    in)."""
    o = load_table(spark, sf_dir, "orders")
    # Exact integer division (r7 ADVICE, same fix as q_embed_kmeans):
    # Spark decimal division rounds HALF_UP at scale 6 before floor,
    # which can land one above DuckDB's exact `//` when the true
    # fraction is within 5e-7 of 1. Subtracting the modulus first makes
    # the quotient exact (cents sums are non-negative, so pmod == the
    # remainder and trunc == floor on both engines).
    _s = (
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).cast(
            "decimal(38,0)"
        )
        * 1000000
    )
    _n = F.count("*")
    cell = (
        o.groupBy(
            F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM")
            .alias("blk"),
            F.col("o_orderpriority").alias("trt"),
        )
        .agg(((_s - F.pmod(_s, _n)) / _n).cast("decimal(38,0)").alias("mq"))
    )
    k_all = o.select(F.countDistinct("o_orderpriority").alias("ka"))
    full_blk = (
        cell.groupBy("blk")
        .agg(F.count("*").alias("nt"))
        .crossJoin(F.broadcast(k_all))
        .filter(F.col("nt") == F.col("ka"))
        .select("blk")
    )
    from pyspark.sql import Window

    c2 = cell.join(full_blk, "blk")
    wt = Window.partitionBy("blk", "mq")
    wb = Window.partitionBy("blk").orderBy("mq").rangeBetween(
        Window.unboundedPreceding, -1
    )
    tied = c2.select(
        "blk",
        "trt",
        F.count("*").over(wt).cast("long").alias("t"),
        F.coalesce(F.count("*").over(wb), F.lit(0)).cast("long").alias("before"),
    )
    rj = tied.groupBy("trt").agg(
        F.count("*").cast("long").alias("b"),
        F.sum(2 * F.col("before") + F.col("t") + 1).cast("long").alias("r2"),
    )
    s = rj.agg(
        F.count("*").cast("long").alias("k"),
        F.any_value("b").alias("b"),
        F.sum(F.col("r2").cast("decimal(38,0)") * F.col("r2")).alias("sr4"),
    )
    chi = (
        3.0 * F.col("sr4").cast("double") / F.col("b") / F.col("k") / (F.col("k") + 1)
        - 3.0 * F.col("b") * (F.col("k") + 1)
    )
    return s.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        (F.round(chi, 4) + 0.0).alias("chi2_f"),
    )


@register(
    "q_stats_bartlett",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS x
      FROM orders
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
      FROM v GROUP BY grp HAVING count(*) > 1
    ),
    t AS (
      SELECT grp, n,
             CAST(round(ln((CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s)
                           / (CAST(n AS DOUBLE) * (n - 1))) * 1000000)
                  AS BIGINT) AS lnv6,
             (CAST(ss AS HUGEINT) * n - CAST(s AS HUGEINT) * s) AS ssq_n
      FROM g
    ),
    p AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum((n - 1) * lnv6) AS BIGINT) AS sum_ln6,
             sum(1.0 / (n - 1)) AS inv_sum,
             CAST(sum(ssq_n // n) AS HUGEINT) AS sse
      FROM t
    )
    SELECT k, nn AS n_total,
           round((
             (nn - k) * ln(CAST(sse AS DOUBLE) / (nn - k))
             - sum_ln6 / 1000000.0
           ) / (1.0 + (inv_sum - 1.0 / (nn - k)) / (3.0 * (k - 1))),
           4) + 0.0 AS bartlett_stat
    FROM p
    """,
)
def q_stats_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across the five order
    priorities — the parametric companion to q_stats_levene (Levene is
    robust to non-normality; Bartlett is the more powerful classic
    when normality holds; running both is the standard practice) and
    the precondition check for q_stats_anova's pooled variance.

    Determinism: per-group variances come from exact integer moments
    (Σx, Σx² as 128-bit); each group's ln(S²) lands on the 1e-6
    integer grid BEFORE the (n_j−1)-weighted sum (the q_stats_theil_u
    ln-grid idiom — a k-term float sum would depend on aggregation
    order), so Σ(n_j−1)ln(S_j²) is an exact integer; each group's
    pooled-SSE contribution ssq_n/n is floored to an exact 128-bit
    integer before the k-term sum (deterministic ≤ k absolute error
    on SSE, invisible under the ln + round(4)); the pooled ln
    evaluates once. The Bartlett correction C uses Σ1/(n_j−1), a
    k-term float sum but divided out after round(4) headroom."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    g = (
        v.groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("ss"),
        )
        .filter(F.col("n") > 1)
    )
    t = g.select(
        "grp",
        "n",
        F.round(
            F.log(
                (F.col("ss").cast("double") * F.col("n")
                 - F.col("s").cast("double") * F.col("s"))
                / (F.col("n").cast("double") * (F.col("n") - 1))
            )
            * 1000000
        )
        .cast("long")
        .alias("lnv6"),
        (dec("ss") * F.col("n") - dec("s") * F.col("s")).alias("ssq_n"),
    )
    p = t.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum((F.col("n") - 1) * F.col("lnv6")).cast("long").alias("sum_ln6"),
        F.sum(1.0 / (F.col("n") - 1)).alias("inv_sum"),
        F.sum(F.floor(F.col("ssq_n") / F.col("n"))).alias("sse"),
    )
    nn, k = F.col("nn"), F.col("k")
    stat = (
        (nn - k) * F.log(F.col("sse") / (nn - k)) - F.col("sum_ln6") / 1000000.0
    ) / (1.0 + (F.col("inv_sum") - 1.0 / (nn - k)) / (3.0 * (k - 1)))
    return p.select(
        "k",
        nn.alias("n_total"),
        (F.round(stat, 4) + 0.0).alias("bartlett_stat"),
    )


@register(
    "q_stats_dunn",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    gv AS (SELECT grp, cents, CAST(count(*) AS BIGINT) AS c
           FROM v GROUP BY grp, cents),
    tv AS (
      SELECT cents, CAST(sum(c) AS BIGINT) AS t,
             CAST(coalesce(sum(sum(c)) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS before
      FROM gv GROUP BY cents
    ),
    rj AS (
      SELECT gv.grp, CAST(sum(gv.c) AS BIGINT) AS nj,
             CAST(sum(CAST(gv.c AS HUGEINT) * (2 * tv.before + tv.t + 1))
                  AS HUGEINT) AS r2j
      FROM gv JOIN tv USING (cents) GROUP BY gv.grp
    ),
    tie AS (
      SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tsum,
             CAST(sum(t) AS BIGINT) AS n
      FROM tv
    ),
    z AS (
      SELECT a.grp AS group_a, b.grp AS group_b, a.nj AS n_a, b.nj AS n_b,
             (CAST(a.r2j AS DOUBLE) / (2.0 * a.nj)
              - CAST(b.r2j AS DOUBLE) / (2.0 * b.nj))
             / sqrt((CAST(tie.n AS DOUBLE) * (tie.n + 1) / 12.0
                     - CAST(tie.tsum AS DOUBLE) / (12.0 * (tie.n - 1)))
                    * (1.0 / a.nj + 1.0 / b.nj)) AS zval
      FROM rj a JOIN rj b ON a.grp < b.grp, tie
    )
    SELECT group_a, group_b, n_a, n_b,
           round(zval, 4) + 0.0 AS z,
           CASE WHEN abs(zval) > 2.807034 THEN 1 ELSE 0 END AS significant
    FROM z ORDER BY group_a, group_b
    """,
)
def q_stats_dunn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test: after q_stats_kruskal_wallis says SOME
    priority differs, the pairwise mean-rank z for every priority
    pair (tie-corrected pooled variance, Bonferroni-adjusted α=0.05
    over the 10 comparisons → |z| > 2.807034) says WHICH — the
    standard KW follow-up, sharing the same global doubled-rank
    machinery so the two keys are mutually consistent by
    construction.

    The per-group doubled rank sums and the tie term are exact
    128-bit integers (one value-level aggregate + :func:`banded_cum`);
    the pairwise z evaluates once per pair in doubles by the
    identical expression tree on both engines, and the significance
    cut compares against the Bonferroni critical CONSTANT (z for
    α/2m, m=10) rather than computing a normal CDF."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    gv = v.groupBy("grp", "cents").agg(F.count("*").cast("long").alias("c"))
    tv = gv.groupBy("cents").agg(F.sum("c").cast("long").alias("t"))
    tv = banded_cum(
        tv, (F.col("cents") / (1 << 16)).cast("long"), ["cents"], ["t"]
    ).withColumn("before", F.col("cum_t") - F.col("t"))
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    rj = (
        gv.join(tv.select("cents", "t", "before"), "cents")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("nj"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * (2 * F.col("before") + F.col("t") + 1)
            ).alias("r2j"),
        )
    )
    tie = tv.agg(
        F.sum(dec("t") * F.col("t") * F.col("t") - F.col("t")).alias("tsum"),
        F.sum("t").cast("long").alias("n"),
    )
    a = rj.select(
        F.col("grp").alias("group_a"),
        F.col("nj").alias("n_a"),
        F.col("r2j").alias("r2a"),
    )
    b = rj.select(
        F.col("grp").alias("group_b"),
        F.col("nj").alias("n_b"),
        F.col("r2j").alias("r2b"),
    )
    nD = F.col("n").cast("double")
    sig2 = nD * (F.col("n") + 1) / 12.0 - F.col("tsum").cast("double") / (
        12.0 * (F.col("n") - 1)
    )
    zval = (
        F.col("r2a").cast("double") / (2.0 * F.col("n_a"))
        - F.col("r2b").cast("double") / (2.0 * F.col("n_b"))
    ) / F.sqrt(sig2 * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return (
        a.join(b, F.col("group_a") < F.col("group_b"))
        .crossJoin(F.broadcast(tie))
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            (F.round(zval, 4) + 0.0).alias("z"),
            F.when(F.abs(zval) > 2.807034, 1).otherwise(0).alias("significant"),
        )
        .orderBy("group_a", "group_b")
    )


@register(
    "q_stats_wilcoxon",
    oracle="""
    WITH bounds AS (
      SELECT CAST(floor(epoch(min(o_orderdate)) / 86400) AS BIGINT) AS lo,
             CAST(floor(epoch(max(o_orderdate)) / 86400) AS BIGINT) AS hi
      FROM orders
    ),
    halves AS (
      SELECT o_custkey,
             CAST(sum(CASE WHEN CAST(floor(epoch(o_orderdate) / 86400)
                                     AS BIGINT) * 2 <= bounds.lo + bounds.hi
                           THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN CAST(floor(epoch(o_orderdate) / 86400)
                                     AS BIGINT) * 2 <= bounds.lo + bounds.hi
                           THEN 0
                           ELSE CAST(floor(o_totalprice * 100) AS BIGINT)
                           END) AS BIGINT) AS s2
      FROM orders, bounds GROUP BY o_custkey
      HAVING s1 > 0 AND s2 > 0
    ),
    d AS (
      SELECT abs(s2 - s1) AS ad,
             CASE WHEN s2 > s1 THEN 1 ELSE 0 END AS pos
      FROM halves WHERE s2 <> s1
    ),
    g AS (
      SELECT ad, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(pos) AS BIGINT) AS tp,
             CAST(coalesce(sum(count(*)) OVER (ORDER BY ad
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS before
      FROM d GROUP BY ad
    ),
    s AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(CAST(tp AS HUGEINT) * (2 * before + t + 1))
                  AS HUGEINT) AS w2p,
             CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS ties
      FROM g
    )
    SELECT n,
           round(CAST(w2p AS DOUBLE) / 2.0, 1) + 0.0 AS w_plus,
           round((CAST(w2p AS DOUBLE) / 2.0
                  - CAST(n AS DOUBLE) * (n + 1) / 4.0)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                        - CAST(ties AS DOUBLE) / 48.0), 4) + 0.0 AS z
    FROM s WHERE n > 0
    """,
)
def q_stats_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired customer spend (first vs
    second half of the order timeline, customers active in both):
    did per-customer spend SHIFT, using the magnitudes of the paired
    differences — the nonparametric paired companion completing the
    family (mannwhitney: independent two-sample; kruskal: k-sample;
    friedman: blocked; THIS: paired two-period), with the
    tie-corrected normal approximation.

    Exactness: paired sums and differences are exact cents; zero
    differences drop (the standard treatment); |d| ranks are DOUBLED
    integers with average-tie handling over :func:`banded_cum` of the
    |d| counts, aggregated value-level first;
    W⁺ accumulates as 128-bit; z evaluates once in doubles by the
    identical tree (σ² uses the Σ(t³−t)/48 tie correction)."""
    o = load_table(spark, sf_dir, "orders")
    di = F.floor(
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / 86400
    ).cast("long")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    bounds = o.agg(F.min(di).alias("lo"), F.max(di).alias("hi"))
    first_half = di * 2 <= F.col("lo") + F.col("hi")
    halves = (
        o.crossJoin(F.broadcast(bounds))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(first_half, cents).otherwise(0)).cast("long").alias("s1"),
            F.sum(F.when(first_half, 0).otherwise(cents)).cast("long").alias("s2"),
        )
        .filter((F.col("s1") > 0) & (F.col("s2") > 0))
    )
    d = halves.filter(F.col("s2") != F.col("s1")).select(
        F.abs(F.col("s2") - F.col("s1")).alias("ad"),
        F.when(F.col("s2") > F.col("s1"), 1).otherwise(0).alias("pos"),
    )
    g = d.groupBy("ad").agg(
        F.count("*").cast("long").alias("t"),
        F.sum("pos").cast("long").alias("tp"),
    )
    g = banded_cum(
        g, (F.col("ad") / (1 << 20)).cast("long"), ["ad"], ["t"]
    ).withColumn("before", F.col("cum_t") - F.col("t"))
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    s = g.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(
            F.col("tp").cast("decimal(38,0)")
            * (2 * F.col("before") + F.col("t") + 1)
        ).alias("w2p"),
        F.sum(dec("t") * F.col("t") * F.col("t") - F.col("t")).alias("ties"),
    )
    nD = F.col("n").cast("double")
    w_plus = F.col("w2p").cast("double") / 2.0
    z = (w_plus - nD * (F.col("n") + 1) / 4.0) / F.sqrt(
        nD * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24.0
        - F.col("ties").cast("double") / 48.0
    )
    return s.filter(F.col("n") > 0).select(
        "n",
        (F.round(w_plus, 1) + 0.0).alias("w_plus"),
        (F.round(z, 4) + 0.0).alias("z"),
    )


@register(
    "q_stats_hill",
    oracle="""
    WITH topv AS (
      SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (ORDER BY floor(o_totalprice * 100) DESC,
                                o_orderkey ASC) AS rk
      FROM orders QUALIFY rk <= 101
    ),
    ref AS (SELECT cents AS xref FROM topv WHERE rk = 101),
    t AS (
      SELECT CAST(sum(CAST(round(ln(CAST(cents AS DOUBLE) / ref.xref)
                                 * 1000000) AS BIGINT)) AS BIGINT) AS s6,
             CAST(count(*) AS BIGINT) AS k
      FROM topv, ref WHERE rk <= 100
    )
    SELECT k,
           round(s6 / 1000000.0 / k, 6) + 0.0 AS hill_gamma,
           round(1000000.0 * k / s6, 4) + 0.0 AS tail_alpha
    FROM t WHERE s6 > 0
    """,
)
def q_stats_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index over the top-100
    order statistics: γ̂ = mean ln(x_(i)/x_(101)), α̂ = 1/γ̂ — the
    heavy-tail exponent behind q_abc_pareto's concentration curve and
    q_benford's fraud screen (α ≈ 1–2 means whale orders dominate any
    sum; capacity planning and revenue-at-risk read this number).

    Exactness: the top-101 order statistics come from ONE
    TakeOrderedAndProject (never a global sort), deterministically
    tie-broken by order key; each ln ratio lands on the 1e-6 integer
    grid BEFORE the 100-term sum (the ln-grid idiom — float sum order
    would differ between engines); the two reported values divide the
    exact grid sum once each."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    topv = (
        o.select(cents.alias("cents"), "o_orderkey")
        .orderBy(F.desc("cents"), F.asc("o_orderkey"))
        .limit(101)
    )
    w = Window.orderBy(F.desc("cents"), F.asc("o_orderkey"))
    ranked = topv.select("cents", F.row_number().over(w).alias("rk"))
    ref = ranked.filter(F.col("rk") == 101).select(F.col("cents").alias("xref"))
    t = (
        ranked.filter(F.col("rk") <= 100)
        .crossJoin(F.broadcast(ref))
        .agg(
            F.sum(
                F.round(
                    F.log(F.col("cents").cast("double") / F.col("xref")) * 1000000
                ).cast("long")
            )
            .cast("long")
            .alias("s6"),
            F.count("*").cast("long").alias("k"),
        )
    )
    return t.filter(F.col("s6") > 0).select(
        "k",
        (F.round(F.col("s6") / 1000000.0 / F.col("k"), 6) + 0.0).alias("hill_gamma"),
        (F.round(1000000.0 * F.col("k") / F.col("s6"), 4) + 0.0).alias("tail_alpha"),
    )


@register(
    "q_stats_jarque_bera",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice / 100) AS BIGINT) AS x
      FROM lineitem
    ),
    m AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
             CAST(sum(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
             CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
      FROM v GROUP BY flag
    ),
    c AS (
      SELECT flag, n,
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n AS m2,
             (CAST(s3 AS DOUBLE) - 3.0 * CAST(s1 AS DOUBLE) * s2 / n
              + 2.0 * CAST(s1 AS DOUBLE) * s1 * s1 / n / n) / n AS m3,
             (CAST(s4 AS DOUBLE) - 4.0 * CAST(s1 AS DOUBLE) * s3 / n
              + 6.0 * CAST(s1 AS DOUBLE) * s1 * s2 / n / n
              - 3.0 * CAST(s1 AS DOUBLE) * s1 * s1 * s1 / n / n / n) / n
               AS m4
      FROM m
    )
    SELECT flag, n,
           round(m3 / pow(m2, 1.5), 4) + 0.0 AS skewness,
           round(m4 / (m2 * m2) - 3.0, 4) + 0.0 AS excess_kurtosis,
           round(n / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
                 + pow(m4 / (m2 * m2) - 3.0, 2) / 4.0), 4) + 0.0 AS jb,
           CASE WHEN n / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
                 + pow(m4 / (m2 * m2) - 3.0, 2) / 4.0) > 5.991465
                THEN 1 ELSE 0 END AS reject_normality
    FROM c WHERE m2 > 0 ORDER BY flag
    """,
)
def q_stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per return flag: JB = n/6·(S² +
    K²/4) from the exact central moments — the gate in front of every
    parametric assumption in the module (q_stats_ttest/anova/bartlett
    assume normal-ish tails; JB says whether that's even plausible),
    with the α=0.05 χ²₂ decision (crit 5.991465).

    The four raw power sums are exact 128-bit integers off the
    100-cent grid (the q_agg_skew_kurt moment idiom — this key turns
    those descriptive moments into the inferential test); central
    moments, S, K, JB and the flag all evaluate once in doubles by
    the identical expression tree on both engines. ONE map-side
    combined hash aggregate; no shuffle beyond the 4-group partials."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") / 100).cast("long").alias("x"),
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    x = F.col("x")
    m = v.groupBy("flag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(x.cast("decimal(38,0)") * x).alias("s2"),
        F.sum(x.cast("decimal(38,0)") * x * x).alias("s3"),
        F.sum(x.cast("decimal(38,0)") * x * x * x).alias("s4"),
    )
    n = F.col("n")
    s1, s2, s3, s4 = (F.col(c).cast("double") for c in ("s1", "s2", "s3", "s4"))
    m2 = (s2 - s1 * F.col("s1") / n) / n
    m3 = (s3 - 3.0 * s1 * F.col("s2").cast("double") / n
          + 2.0 * s1 * F.col("s1") * F.col("s1") / n / n) / n
    m4 = (s4 - 4.0 * s1 * F.col("s3").cast("double") / n
          + 6.0 * s1 * F.col("s1") * F.col("s2").cast("double") / n / n
          - 3.0 * s1 * F.col("s1") * F.col("s1") * F.col("s1") / n / n / n) / n
    skew = m3 / F.pow(m2, 1.5)
    kurt = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (F.pow(skew, 2) + F.pow(kurt, 2) / 4.0)
    return (
        m.filter(m2 > 0)
        .select(
            "flag",
            "n",
            (F.round(skew, 4) + 0.0).alias("skewness"),
            (F.round(kurt, 4) + 0.0).alias("excess_kurtosis"),
            (F.round(jb, 4) + 0.0).alias("jb"),
            F.when(jb > 5.991465, 1).otherwise(0).alias("reject_normality"),
        )
        .orderBy("flag")
    )
