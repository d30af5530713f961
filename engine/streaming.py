"""Structured Streaming operators (SURVEY.md §2.9) over the events table.

Verification strategy (SURVEY §5.2): replay ``events.parquet`` through a
file-source stream (ts-ordered staged files, ``maxFilesPerTrigger=1`` so
the watermark advances across real micro-batches), collect into a memory
sink, and compare the final state against the equivalent batch SQL — so
most streaming keys still carry a full DuckDB oracle.

Mechanics:
- Staging writes ts-sorted slices of the fixture events (never new data)
  under ``.tmp/stream/``; file mtimes are staggered so the file source
  processes them in order (deterministic micro-batches).
- Watermark-flush sentinels: stateful append-mode operators (session
  windows, stateful agg) only emit state closed by the watermark, which
  never passes the last real event. Two sentinel rows with
  ``user_id = -1`` far in the future (filtered from every result) push
  the watermark past all real state — plumbing, not data.
- Each query uses a fresh checkpoint dir + unique memory-sink name.

At scale the same plans run unchanged against Kafka/file sources on a
cluster: state lives in the executor state stores, watermarks gate
eviction, and ``complete`` modes here become ``update`` + sink upserts.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from engine import ROOT
from engine.registry import register
from engine.session import tune

_TMP = f"{ROOT}/.tmp/stream"
N_SLICES = 8

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),  # µs epoch; cast to ts in-stream
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _stage(sf_dir: str, variant: str) -> str:
    """Stage ts-sorted event slices as ordered parquet files.

    variant: 'plain' (8 ordered slices), 'sentinel' (plus 2 watermark
    flush files), 'late' (every 50th event withheld to the final file —
    deterministically late by hours).
    """
    tag = sf_dir.strip("/").replace("/", "_")
    out = f"{_TMP}/{tag}/{variant}"
    # Cache keyed on the SOURCE parquet's identity (size + mtime): a
    # merely non-empty dir could hold stale slices of an older fixture
    # (and git checkouts don't preserve the staged files' own mtimes).
    st = os.stat(f"{sf_dir}/events.parquet")
    src_key = f"{st.st_size}:{st.st_mtime_ns}"
    marker = f"{out}/.source"
    if os.path.isdir(out) and os.path.isfile(marker):
        with open(marker) as fh:
            if fh.read() == src_key:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    df = tbl.to_pandas()
    # unit-safe -> µs floor, matching engine.io.load_table's batch
    # conversion (fixture generations vary between ns and µs storage:
    # pin to ns first so the integer division is unit-independent)
    df["ts_us"] = (
        df["ts"].astype("datetime64[ns]").astype("int64") // 1000
    ).astype("int64")
    df = df.drop(columns=["ts"]).sort_values(["ts_us", "event_id"], ignore_index=True)
    cols = ["event_id", "ts_us", "user_id", "event_type", "value", "props"]
    df = df[cols]

    slices: list[pd.DataFrame] = []
    if variant == "late":
        late = df[df["event_id"] % 50 == 0]
        ontime = df[df["event_id"] % 50 != 0]
        k = len(ontime) // N_SLICES + 1
        slices = [ontime.iloc[i * k : (i + 1) * k] for i in range(N_SLICES)]
        slices.append(late)  # arrives after everything else
    else:
        k = len(df) // N_SLICES + 1
        slices = [df.iloc[i * k : (i + 1) * k] for i in range(N_SLICES)]

    if variant == "sentinel":
        max_us = int(df["ts_us"].max())
        day = 86_400_000_000
        for j in (10, 11):
            slices.append(
                pd.DataFrame(
                    {
                        "event_id": [-j],
                        "ts_us": [max_us + j * day],
                        "user_id": [-1],
                        "event_type": ["sentinel"],
                        "value": [0.0],
                        "props": ["{}"],
                    }
                )
            )

    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts_us", pa.int64()),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    t0 = 1_600_000_000
    for i, sl in enumerate(s for s in slices if len(s)):
        path = f"{out}/{i:04d}.parquet"
        pq.write_table(pa.Table.from_pandas(sl, schema=schema, preserve_index=False), path)
        # mtime order == slice order; zero-padded names break mtime ties
        # deterministically (Spark's file source orders by timestamp,
        # then path) if a copy/checkout ever flattens the mtimes.
        os.utime(path, (t0 + i, t0 + i))
    with open(marker, "w") as fh:
        fh.write(src_key)
    return out


def _read_stream(spark: SparkSession, src: str, files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the staged slices.

    ``files_per_trigger`` sizes the micro-batches (8 'plain' slices /
    N files per trigger = batch count). Default 1 = one batch per
    slice — maximum incremental-state exercise. Keys whose RESULT is
    batch-boundary-invariant (complete-mode final state, or append-
    mode dedup over the ts-ORDERED 'plain' staging where no row is
    ever late) may coarsen to cut the per-batch state-store
    open/commit overhead, but must keep ≥2 batches so cross-batch
    state is still exercised, and must carry a written invariance
    argument at the call site (r9 precedent: 2; r10: the
    stream-stream join runs 4 — it opens 4 stores/partition/side/
    batch, so batch count IS its wall; r16: every boundary-invariant
    key runs at the 2-batch floor, and the sentinel-flush and CDC
    keys carry measured invariance arguments at their call sites).
    The boundary-SENSITIVE key (q_stream_watermark_late, whose oracle
    encodes the fpt=1 watermark schedule) must stay at 1."""
    tune(spark)
    raw = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("latestFirst", False)
        .parquet(src)
    )
    return raw.withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")


def _run_to_memory(
    stream_df: DataFrame, mode: str, partitions: str | None = None
) -> DataFrame:
    """Execute the streaming query to completion into a memory sink.

    State-store layout (r8, re-measured r17): the REPLAY pins
    ``spark.sql.shuffle.partitions`` for the query's lifetime
    (captured by Structured Streaming at start; restored after).
    Rationale: the staged-file replay runs 2-8 micro-batches over a
    domain-bounded state (hours × types × cents buckets — a few
    thousand rows), so per-batch wall is state-store open/commit ×
    partitions × batches, not data: r8 measured 6.5 → 5.5 s at sf0.1
    for q_stream_median (32 → 8 partitions; the driver's vanilla
    session would otherwise pay the 200-partition default), and the
    r17 interleaved A/B (one warmed session, 8 vs 2 vs 1 alternating,
    best-of-3 at sf0.1) drove it to 2: watermark_late 3.42 → 2.93,
    anomaly 1.74 → 1.28, pipeline 2.76 → 2.13, stream_join 3.49 →
    2.80, session 3.16 → 2.74, tumbling 1.00 → 0.89; 1 measured equal
    to 2 (watermark_late 2.927 vs 2.933), so 2 stays — cross-partition
    state merge remains exercised. The one exception, q_stream_median
    (best-of-5 p8 2.09 vs p2 2.31 — its two stacked stateful aggs are
    the only per-batch compute heavy enough to use the parallelism),
    passes ``partitions="8"`` explicitly.
    Partition count is RESULT-INVARIANT for every stream key: state
    is hash-partitioned by grouping key, watermark advancement is the
    global per-batch max event time, and eviction compares each key's
    window against that global watermark — none depend on how keys
    are sharded. A PRODUCTION stream sizes this to key cardinality
    instead — the pin is a replay-harness decision, parameterised via
    ``SPARK_GRAFT_STREAM_PARTITIONS`` (a cluster replay sets it to
    ~key-cardinality/target-rows-per-store), not an engine default
    (engine/session.tune leaves batch queries at the executor
    width).

    The sentinel-flush keys (q_stream_session) additionally rely on
    ``noDataMicroBatches.enabled`` staying true (the engine default):
    the final watermark update only evicts+emits via the no-data
    micro-batch after the last data batch. ADVICE r16: enforce the
    documented invariance argument instead of assuming it — the pin
    below makes a future tune()/default change fail loud here, not
    as a mystery differential diff."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = f"{ROOT}/.tmp/ckpt/{name}"
    spark = stream_df.sparkSession
    n_parts = partitions or os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "2")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndmb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", n_parts)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        # The pin only needs to span .start(): StreamExecution clones
        # the session in its constructor (sparkSessionForStream =
        # sparkSession.cloneSession(), run inside start()) and every
        # micro-batch plans against the CLONE's conf, so restoring the
        # session-global value immediately after start() cannot affect
        # the running stream — and batch queries planned concurrently
        # on the shared session (parallel tests, nested replays) no
        # longer see the 8-partition override for the stream's
        # lifetime (ADVICE r8).
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(name)
    # The frame keeps the sink's resolved plan; the view would only leak
    # one catalog entry per replay for the life of the session.
    spark.catalog.dropTempView(name)
    return out


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour bars per event_type (the OHLCV bar shape):
    streamed with watermark, complete-mode final state == batch agg."""
    src = _stage(sf_dir, "plain")
    # Invariance (r16 coarsening, the _read_stream contract): complete
    # mode never evicts aggregation state, and count/sum over tumbling
    # windows are additive-mergeable, so the FINAL emitted table equals
    # the batch aggregate whatever the micro-batch boundaries ('plain'
    # staging is ts-ordered — no late rows for the watermark to drop
    # either). 2 batches keep cross-batch state merge exercised: every
    # hour window spanning the file-4 boundary accumulates from both.
    ev = _read_stream(spark, src, files_per_trigger=4)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_sliding",
    oracle="""
    SELECT CAST(epoch(ws) AS BIGINT) AS win_start, count(*) AS n
    FROM (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
        FROM events
    )
    GROUP BY 1
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): each event lands in two
    overlapping windows; complete-mode final state == batch expansion."""
    src = _stage(sf_dir, "plain")
    # complete-mode additive state, ts-ordered staging: final table ==
    # batch expansion whatever the batch boundaries (q_stream_tumbling's
    # r16 invariance argument; the 2-window fan-out is per-row map work)
    ev = _read_stream(spark, src, files_per_trigger=4)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_timestamp(F.col("window.start")).alias("win_start"), "n")
    )
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_session",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
    marked AS (
        SELECT user_id,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        FROM ordered)
    SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
    FROM marked GROUP BY user_id
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — address-activity
    sessionization. Append mode + watermark; sentinel rows flush the
    final sessions; oracle is the batch islands (gap-and-island) SQL."""
    src = _stage(sf_dir, "sentinel")
    # r16 coarsening (5 batches: 4 data + 1 carrying both sentinels):
    # session-window merge state is arrival-order-independent within
    # the watermark (ts-ordered staging: nothing is late), and the
    # final flush does not need the two sentinel FILES to occupy two
    # batches — Spark harvests event-time stats one batch behind, but
    # the post-batch watermark update past the sentinel batch triggers
    # a no-data micro-batch (noDataMicroBatches, on by default) that
    # evicts and emits every closed session. Differentially verified
    # at all three SFs (hash-identical to the fpt=1 output).
    ev = _read_stream(spark, src, files_per_trigger=2)
    sess = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = _run_to_memory(sess, "append")
    return (
        out.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )


@register(
    "q_stream_watermark_late",
    oracle="""
    WITH ot AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ts_ms,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
             row_number() OVER (ORDER BY ts, event_id) AS rn,
             count(*) OVER () AS nrows
      FROM events WHERE event_id % 50 <> 0
    ),
    wm AS (
      SELECT (SELECT ts_ms FROM ot WHERE rn = 7 * (nrows // 8 + 1))
               - 3600000 AS wm_filter,
             max(ts_ms) - 3600000 AS wm_evict
      FROM ot
    ),
    contrib AS (
      SELECT win_start, event_type FROM ot
      UNION ALL
      SELECT CAST(epoch(date_trunc('hour', l.ts)) AS BIGINT) AS win_start,
             l.event_type
      FROM events l, wm
      WHERE l.event_id % 50 = 0
        AND (CAST(epoch(date_trunc('hour', l.ts)) AS BIGINT) + 3600) * 1000
            > wm.wm_filter
    )
    SELECT c.win_start, c.event_type, CAST(count(*) AS BIGINT) AS n
    FROM contrib c, wm
    WHERE (c.win_start + 3600) * 1000 <= wm.wm_evict
    GROUP BY c.win_start, c.event_type
    ORDER BY win_start, event_type
    """,
)
def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling: every 50th event (by id) is replayed hours
    late in the FINAL staged file; a 1-hour watermark drops those
    whose window already closed.

    Full oracle since r7 (was rows-only; r6 verdict task #5): the
    replay is deterministic — 8 ts-ORDERED on-time slices then the
    late file, one file per trigger — so the append-mode output is
    batch-expressible once the watermark schedule is pinned. Measured
    on this Spark (recentProgress watermarks + kept/dropped late
    rows): the late batch FILTERS its input against the watermark
    derived from the max event time through slice 6 (the value that
    was operative in the PREVIOUS batch — Spark harvests event-time
    stats one batch behind), while state EVICTION at the end of the
    run uses max on-time event time − 1h. Both thresholds are pure
    functions of the fixture: the filter one is the ts at sorted row
    7·(n//8+1) (the staging slice boundary), ms-truncated, minus 1h.
    Emitted rows = hour windows with end_ms ≤ wm_evict, counting
    on-time events plus the late events whose window end_ms >
    wm_filter (kept by the filter; ts-ordering guarantees every
    on-time event of an emitted window arrived before eviction).
    The oracle SQL mirrors exactly that. Dropped-count assertions
    stay in tests/test_streaming.py."""
    src = _stage(sf_dir, "late")
    ev = _read_stream(spark, src)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
        )
    )
    return _run_to_memory(agg, "append")


@register(
    "q_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup within watermark on (user_id, event_type): the
    emitted key set equals batch DISTINCT regardless of which arrival
    won, so only the keys are output."""
    src = _stage(sf_dir, "plain")
    # append-mode dedup over ts-ORDERED staging: no row is ever late,
    # so each key emits exactly once whatever the batch boundaries
    # (coarser batches advance the watermark LESS often — strictly
    # less state eviction, so strictly no re-emission risk): 2 batches
    # (r16, the q_stream_pipeline r9 argument verbatim); cross-batch
    # dedup state is still exercised by every key seen in both halves.
    ev = _read_stream(spark, src, files_per_trigger=4)
    dd = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(dd, "append")


def tws_available() -> bool:
    """Can transformWithStateInPandas run here? Spark 4.x's new
    arbitrary-state API talks to a driver-side state server over
    protobuf; without the ``google.protobuf`` python package the
    streaming runner crashes at init (verified in this container:
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE → ImportError).
    The engine probes once and falls back to applyInPandasWithState."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stateful_accumulate(ev: DataFrame, api: str = "auto") -> DataFrame:
    """Per-user (count, sum) streaming accumulator emitting running
    state each micro-batch — on ``transformWithStateInPandas`` (Spark
    4.x StatefulProcessor, the forward path) when the environment
    supports it, else on ``applyInPandasWithState`` (GroupState API).
    Both paths keep O(1) state per key in the executor state store and
    emit identical rows (same accumulator, same emit counter), so the
    downstream latest-emission projection is API-agnostic.

    ``api``: "auto" (probe) | "tws" | "apply"."""
    out_schema = "user_id long, n_events long, total double, emit long"
    if api == "auto":
        api = "tws" if tws_available() else "apply"

    if api == "tws":
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class Acc(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._state = handle.getValueState(
                    "acc",
                    StructType(
                        [
                            StructField("cnt", LongType()),
                            StructField("total", DoubleType()),
                            StructField("emit", LongType()),
                        ]
                    ),
                )

            def handleInputRows(self, key, rows, timer_values):
                cnt, total, emit = (
                    self._state.get() if self._state.exists() else (0, 0.0, 0)
                )
                for pdf in rows:
                    cnt += len(pdf)
                    total += float(pdf["value"].sum())
                emit += 1
                self._state.update((cnt, total, emit))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [cnt],
                        "total": [total],
                        "emit": [emit],
                    }
                )

            def close(self) -> None:
                pass

        return ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=Acc(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )

    state_schema = "cnt long, total double, emit long"

    def track(key, pdf_iter, state):
        cnt, total, emit = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdf_iter:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        emit += 1
        state.update((cnt, total, emit))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "total": [total], "emit": [emit]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return ev.groupBy("user_id").applyInPandasWithState(
        track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


@register(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful aggregation (see :func:`stateful_accumulate`):
    per-user (count, sum) accumulator emitting running state every
    micro-batch; the final emission per user equals the batch aggregate.
    Runs on transformWithStateInPandas where the environment supports
    it, applyInPandasWithState otherwise (this container lacks
    protobuf, so the fallback is what executes here — both paths emit
    identical rows by construction).

    Replay batching (r10): 2 micro-batches (files_per_trigger=4).
    Invariance argument per the _read_stream contract: the RESULT
    keeps only the LAST emission per user (max emit), i.e. the final
    accumulated state — an exact integer count plus a float total
    whose value is the sum over all slices regardless of where batch
    boundaries fall (the emit counter itself is dropped from the
    output). Per-batch float partials group differently under
    coarsening, but the differential oracle already sums in DuckDB's
    own unrelated order, so the round(2) display tolerance is what it
    always was. Cross-batch state restore stays exercised: every
    user in slices 5-8 re-reads state written by batch 1. Measured
    5.9 -> 1.9 s warm at sf0.1 (the wall is per-batch Python-worker
    state-store round-trips x partitions x batches)."""
    src = _stage(sf_dir, "plain")
    ev = _read_stream(spark, src, files_per_trigger=4).select("user_id", "value")
    st = stateful_accumulate(ev, api="auto")
    raw = _run_to_memory(st, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("emit"))
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("total", 2).alias("total"))
    )


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each click matched to the same user's
    purchases within the next 30 minutes (conversion attribution).
    Both sides carry watermarks and the join carries the time-range
    constraint, so per-key state is bounded and evicted as the
    watermark advances — the canonical Structured Streaming
    stream-stream join shape. The replay is ts-ordered, so the final
    emitted set equals the batch interval join (the oracle); fixture
    timestamps are µs-aligned, making the ns->µs load truncation
    lossless for the boundary comparison."""
    src = _stage(sf_dir, "plain")
    # batch-boundary-invariant (r9): ordered staging means no late
    # rows, and the 1 h watermark delay strictly exceeds the 30 min
    # join range, so no state a future row could still match is ever
    # evicted early — the emitted inner-join set is the batch answer
    # whatever the micro-batch boundaries. r10: 2 batches per side
    # (files 0-3, then 4-7): a stream-stream join opens FOUR state
    # stores per partition per side per batch, so batch count is the
    # wall (measured at sf0.1: 4 batches 4.3 s -> 2 batches 2.6 s,
    # identical 183-row output). Cross-batch buffered-state exercise
    # is preserved: clicks near the batch-1 boundary only match
    # purchases arriving in batch 2, so rows DO join across the
    # buffer (the differential would catch any state eviction bug).
    clicks = (
        _read_stream(spark, src, files_per_trigger=4)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _read_stream(spark, src, files_per_trigger=4)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("click_id", "purchase_id", F.col("click_user").alias("user_id"))
    return _run_to_memory(joined, "append")


@register(
    "q_stream_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS total
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: streaming events enriched against the static
    customer dim (broadcast per micro-batch), then aggregated."""
    from engine.io import load_table

    src = _stage(sf_dir, "plain")
    # complete-mode additive state (count/sum per segment), static dim
    # deterministic, ts-ordered staging: final table == batch join+agg
    # whatever the batch boundaries (r16 coarsening; 2 batches keep the
    # per-batch broadcast re-join + cross-batch merge exercised)
    ev = _read_stream(spark, src, files_per_trigger=4)
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_bars",
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
def q_stream_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLCV bar construction — the live market-data path of
    q_bars_ohlcv, and the flagship 'lambda-architecture collapse'
    statement: the SAME aggregate expressions (min_by/max_by on the
    (ts, event_id) order key) run under a watermark + tumbling window,
    and the final state hash-matches the batch oracle exactly. At scale
    the plan is incremental per-window partial aggregation with
    watermark-bounded state; late ticks within 1 hour still land in
    their bar."""
    src = _stage(sf_dir, "plain")
    # complete-mode final state; min_by/max_by/min/max/count/sum are
    # all order-independent mergeable aggregates over the full event
    # set, so the final bars equal the batch aggregate whatever the
    # batch boundaries (r16 coarsening, 2 batches)
    ev = _read_stream(spark, src, files_per_trigger=4)
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count("*").alias("n_trades"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("bar_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_trades",
            "volume",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, count(*) AS n_wins,
             CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, win_start, n,
           round((n - CAST(s AS DOUBLE) / n_wins)
                 / sqrt((ss - CAST(s AS DOUBLE) * s / n_wins) / (n_wins - 1)), 4)
             + 0.0 AS z,
           CASE WHEN abs((n - CAST(s AS DOUBLE) / n_wins)
                 / sqrt((ss - CAST(s AS DOUBLE) * s / n_wins) / (n_wins - 1))) > 2.0
                THEN 1 ELSE 0 END AS is_anomaly
    FROM hourly h JOIN stats USING (event_type)
    WHERE n_wins > 1
    """,
)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming volume-anomaly detection: hourly event counts per type
    accumulate in the stream (watermarked tumbling windows — the
    unbounded-state part runs streaming), then each closed window is
    z-scored against its type's window population and flagged at |z|>2
    in a batch pass over the small state table.

    This is the production monitoring split: the fact stream collapses
    to a bounded (type, hour) state table inside the streaming engine
    (state ~ |types| x |hours|, never |events|); scoring reads ONLY
    that table, so at scale the alert pass is a metadata-sized batch
    job (or a foreachBatch hook on the same query). z derives from
    exact integer (n, Σn, Σn²) — deterministic doubles cross-engine.
    """
    src = _stage(sf_dir, "plain")
    # complete-mode final state == batch agg regardless of micro-batch
    # boundaries (and 'plain' staging is ts-ordered: no late rows), so
    # the replay may run 2 larger batches instead of 8 (r9 cut to 4,
    # r16 to the contract's 2-batch floor: per-batch state-store
    # open/commit is the wall, and cross-batch merge stays exercised)
    ev = _read_stream(spark, src, files_per_trigger=4)
    hourly = _run_to_memory(
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "n",
        ),
        "complete",
    )
    # rename the grouping key in the re-aggregate: both join sides
    # descend from the same memory view, and fresh aliases on every
    # stats column give the self-derived join unambiguous references
    stats = hourly.groupBy(F.col("event_type").alias("et")).agg(
        F.count("*").alias("n_wins"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    ).filter(F.col("n_wins") > 1)
    mean = F.col("s").cast("double") / F.col("n_wins")
    std = F.sqrt(
        (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n_wins"))
        / (F.col("n_wins") - 1)
    )
    z = (F.col("n") - mean) / std
    return (
        hourly.join(stats, F.col("event_type") == F.col("et"))
        .select(
            "event_type",
            "win_start",
            "n",
            (F.round(z, 4) + 0.0).alias("z"),
            F.when(F.abs(z) > 2.0, 1).otherwise(0).alias("is_anomaly"),
        )
    )


@register(
    "q_stream_python_source",
    oracle="""
    SELECT CAST(i % 8 AS INT) AS bucket, count(*) AS n,
           CAST(sum(((i * 2654435761) % 4294967296) % 10007) AS BIGINT)
             AS total_cents
    FROM generate_series(0, 19999) t(i)
    GROUP BY 1
    """,
)
def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON STREAMING source (Spark 4
    SimpleDataSourceStreamReader): the synthetic tick stream is
    consumed in ~5 micro-batches (offset dict checkpointed per batch,
    the stream runs dry at n), aggregated per bucket in complete mode,
    and the drained state hash-matches DuckDB replaying the same
    arithmetic — source connector + offset protocol + streaming agg,
    all on the differential gate.
    """
    from engine.io import register_python_sources

    register_python_sources(spark)
    stream = (
        spark.readStream.format("synthetic_ticks")
        .option("n", "20000")
        # complete-mode additive agg: the drained state is batch-
        # boundary-invariant, so the replay runs 3 micro-batches
        # instead of 5 (r16; ≥2 keeps the offset-protocol checkpoint
        # loop — the operator's point — exercised across batches)
        .option("batch", "8192")
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("value_cents").cast("long").alias("total_cents"),
    )
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT user_id, value, epoch_us(ts) AS us, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, round(value, 2) AS last_value,
           CAST(us AS BIGINT) AS last_us
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the production change-data pipeline: each
    micro-batch folds into a VERSIONED snapshot via foreachBatch
    (batch → latest-change-per-key reduce → merge with the previous
    snapshot keeping the newer (ts, event_id) per key → write snapshot
    v{batch_id}); 'error' events are tombstones that persist in the
    snapshot (so they shield the key against stragglers from earlier
    offsets) and drop only in the final read. The drained table equals
    the batch latest-state-per-key oracle.

    Scale shape: per batch ONE hash reduce of the batch (max_by over
    the order struct) + ONE keyed merge against the previous snapshot
    — never a rescan of history rows older than the snapshot; snapshot
    writes are whole-version (the swap-pointer pattern of a lakehouse
    commit log, with the version dir as the atomic unit). At cluster
    scale the same foreachBatch body targets Delta/Iceberg MERGE.
    """
    src = _stage(sf_dir, "plain")
    tag = sf_dir.strip("/").replace("/", "_")
    base = f"{_TMP}/{tag}/cdc_{uuid.uuid4().hex[:8]}"
    os.makedirs(base, exist_ok=True)
    ordk = F.struct(F.col("us"), F.col("event_id"))
    state = {"v": None}

    def _latest(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.max_by(
                F.struct("value", "us", "event_id", "event_type"), ordk
            ).alias("s")
        ).select(
            "user_id",
            F.col("s.value").alias("value"),
            F.col("s.us").alias("us"),
            F.col("s.event_id").alias("event_id"),
            F.col("s.event_type").alias("event_type"),
        )

    def _apply(batch: DataFrame, bid: int) -> None:
        b = _latest(
            batch.select(
                "user_id", "value", F.unix_micros("ts").alias("us"), "event_id",
                "event_type",
            )
        )
        if state["v"] is not None:
            prev = batch.sparkSession.read.parquet(f"{base}/v{state['v']}")
            b = _latest(prev.unionByName(b))
        b.write.mode("overwrite").parquet(f"{base}/v{bid}")
        state["v"] = bid

    name = f"cdc_{uuid.uuid4().hex[:10]}"
    ckpt = f"{ROOT}/.tmp/ckpt/{name}"
    # Invariance (r16 coarsening): the per-batch fold is
    # latest-per-key by max_by over the TOTAL order (us, event_id) —
    # an associative, commutative reduce — and every batch merges the
    # full previous snapshot, so the FINAL snapshot is the latest-
    # state-per-key of the whole fixture however the rows are grouped
    # into batches ('error' tombstones shield keys only against
    # INTERMEDIATE stragglers; the final filtered read is identical).
    # 2 batches keep the snapshot-merge path exercised (batch 2 folds
    # into v0's parquet); per-batch snapshot write+read jobs were the
    # wall at 8 batches.
    q = (
        _read_stream(spark, src, files_per_trigger=4)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    # state["v"] is set synchronously: foreachBatch bodies run on the
    # driver before processAllAvailable returns
    final = spark.read.parquet(f"{base}/v{state['v']}")
    return (
        final.filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.round("value", 2).alias("last_value"),
            F.col("us").cast("long").alias("last_us"),
        )
        .orderBy("user_id")
    )


@register(
    "q_stream_topk",
    oracle="""
    WITH c AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT win_start, event_type, n,
             row_number() OVER (PARTITION BY win_start
                                ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT win_start, event_type, n, CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= 3
    """,
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the 3 busiest event types per tumbling hour —
    the 'trending now' leaderboard shape. Structured Streaming cannot
    rank inside a stateful aggregation (no window functions over
    unbounded state), so the plan is the canonical two-layer split:
    the STREAM maintains the additive (window, type) counts —
    watermarked tumbling aggregation, mergeable state, complete-mode
    final parity with the batch agg — and the RANK is a bounded
    post-pass over the materialized leaderboard table (≤ |windows| ×
    |types| rows, window-partitioned row_number). At scale the rank
    layer runs per refresh on the serving store, never inside the
    stream's state machine; the count layer is the only thing that
    scales with traffic. Deterministic tiebreak on event_type."""
    from pyspark.sql import Window

    src = _stage(sf_dir, "plain")
    # complete-mode additive count state: the final leaderboard table
    # equals the batch agg whatever the batch boundaries (r16
    # coarsening, 2 batches; the rank layer is a batch post-pass
    # over the materialized table either way)
    ev = _read_stream(spark, src, files_per_trigger=4)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
        )
    )
    counts = _run_to_memory(agg, "complete")
    rk = F.row_number().over(
        Window.partitionBy("win_start").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return counts.withColumn("rk", rk.cast("int")).filter(F.col("rk") <= 3)


@register(
    "q_stream_median",
    oracle="""
    WITH c AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
             event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2, 3
    ),
    r AS (
      SELECT win_start, event_type, cents, k,
             CAST(sum(k) OVER (PARTITION BY win_start, event_type
                               ORDER BY cents
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(k) OVER (PARTITION BY win_start, event_type)
                  AS BIGINT) AS n
      FROM c
    )
    SELECT win_start, event_type, n,
           round(min(CASE WHEN 2 * cum >= n THEN cents END) / 100.0, 2)
             AS median_value
    FROM r GROUP BY win_start, event_type, n
    ORDER BY win_start, event_type
    """,
)
def q_stream_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT median value per tumbling hour and event type —
    the percentile problem that naive streaming cannot do (a median is
    not additive) solved with the canonical two-layer split: the
    STREAM maintains an exact value histogram — (window, type, cents)
    counts, additive and mergeable state, complete-mode parity with
    the batch histogram — and the median is a bounded post-pass
    (cumulative weight vs half total: the q_agg_weighted_median lower-
    median rule) over the materialized histogram, partitioned per
    (window, type) so no data-sized sort exists. State size is
    |windows|×|types|×|distinct cents| — bounded by the VALUE DOMAIN,
    not traffic (at true scale the same layout coarsens cents into
    fixed bins or a mergeable sketch: q_agg_kll_quantiles is that
    operator); the post-pass is the serving-store refresh. The
    watermark gates state eviction exactly as in q_stream_tumbling."""
    from pyspark.sql import Window as W

    src = _stage(sf_dir, "plain")
    # complete-mode final histogram is batch-boundary-invariant ('plain'
    # staging is ts-ordered, no late rows): r9 ran 4 batches, r16 runs
    # the contract's 2-batch floor — additive (window, type, cents)
    # counts merge across the boundary, per-batch store commits are
    # the wall
    ev = _read_stream(spark, src, files_per_trigger=4)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour"),
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .agg(F.count("*").cast("long").alias("k"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "cents",
            "k",
        )
    )
    # partitions="8": the only stream key whose per-batch compute (two
    # stacked stateful aggs over the cents-bucket histogram) beats the
    # state-store saving — r17 best-of-5 A/B p8 2.09 vs p2 2.31 s.
    hist = _run_to_memory(agg, "complete", partitions="8")
    wcum = (
        W.partitionBy("win_start", "event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wall = W.partitionBy("win_start", "event_type")
    r = hist.select(
        "win_start",
        "event_type",
        "cents",
        F.sum("k").over(wcum).cast("long").alias("cum"),
        F.sum("k").over(wall).cast("long").alias("n"),
    )
    return (
        r.groupBy("win_start", "event_type", "n")
        .agg(
            F.round(
                F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("cents"))) / 100.0,
                2,
            ).alias("median_value")
        )
        .select("win_start", "event_type", "n", "median_value")
        .orderBy("win_start", "event_type")
    )


@register(
    "q_stream_pipeline",
    oracle="""
    WITH share AS (
      SELECT event_type, count(*) AS c FROM events GROUP BY event_type
    ),
    s2 AS (
      SELECT event_type,
             round(CAST(c AS DOUBLE) / (SELECT sum(c) FROM share), 6) + 0.0
               AS type_share
      FROM share
    ),
    dd AS (
      SELECT DISTINCT user_id, event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events
    )
    SELECT dd.event_type, dd.day,
           CAST(count(*) AS BIGINT) AS n_users,
           any_value(s2.type_share) AS type_share
    FROM dd JOIN s2 ON dd.event_type = s2.event_type
    GROUP BY dd.event_type, dd.day
    ORDER BY dd.event_type, dd.day
    """,
)
def q_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming ETL composite — the shape a production
    micro-batch pipeline actually runs, chained in ONE streaming
    query plus the serving-layer rollup: (1) watermarked in-stream
    DEDUPLICATION on (user, type, day) — each user counts once per
    type-day no matter how often they fire; (2) a STREAM-STATIC
    broadcast enrichment joining each surviving key against a
    batch-computed dimension (the type's global traffic share — the
    reference-data join every event pipeline does); (3) the
    aggregation layer — per (type, day) distinct-user counts — as
    the bounded post-pass over the emitted key set (the
    q_stream_topk two-layer rule: ranking/rollup belongs in the
    serving store, dedup + enrichment belong in the stream's state
    machine).

    Emitted keys equal batch DISTINCT regardless of arrival order
    (q_stream_dedup's invariant), the static dim is deterministic, so
    the full pipeline carries an exact batch oracle. State is the
    dedup key set, watermark-evicted after 1 hour — bounded by ACTIVE
    keys, not traffic."""
    src = _stage(sf_dir, "plain")
    # append-mode dedup over ts-ORDERED staging: no row is ever late,
    # so each key still emits exactly once whatever the batch
    # boundaries (coarser batches advance the watermark LESS often —
    # strictly less state eviction, so strictly no re-emission risk):
    # r9 ran 4 batches, r16 runs the contract's 2-batch floor (keys
    # spanning the boundary still exercise cross-batch dedup state)
    ev = _read_stream(spark, src, files_per_trigger=4)
    # static reference dim, computed batch-side from the same fixture
    from engine.io import load_table

    share = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("c"))
    )
    tot = share.agg(F.sum("c").alias("t")).collect()[0]["t"]
    dim = F.broadcast(
        share.select(
            F.col("event_type").alias("d_type"),
            (F.round(F.col("c") / F.lit(float(tot)), 6) + 0.0).alias("type_share"),
        )
    )
    dd = (
        ev.withWatermark("ts", "1 hour")
        .withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .dropDuplicates(["user_id", "event_type", "day"])
        .join(dim, F.col("event_type") == F.col("d_type"))
        .select("user_id", "event_type", "day", "type_share")
    )
    keys = _run_to_memory(dd, "append")
    return (
        keys.groupBy("event_type", "day")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.any_value("type_share").alias("type_share"),
        )
        .select("event_type", "day", "n_users", "type_share")
        .orderBy("event_type", "day")
    )
