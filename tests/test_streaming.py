"""Stream-vs-batch equivalence + watermark late-drop semantics
(SURVEY §5.2.2). Runs at sf0.001 to keep micro-batch replay fast."""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.io import load_table
from engine.registry import all_queries
from tests.conftest import SF_SMOKE


def test_tumbling_stream_equals_batch(spark):
    out = all_queries()["q_stream_tumbling"](spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_memory_sink_views_do_not_leak(spark):
    """Each replay drops its memory-sink view once its frame is
    resolved; the frames still read the sinks' rows."""
    q = all_queries()["q_stream_tumbling"]
    a, b = q(spark, SF_SMOKE), q(spark, SF_SMOKE)
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")]
    assert a.collect() and sorted(a.collect()) == sorted(b.collect())


def test_stateful_totals_equal_batch_group(spark):
    out = all_queries()["q_stream_stateful"](spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    batch = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total")
    )
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_watermark_drops_late_rows(spark):
    """The late-replay variant must emit no MORE rows per window than
    batch, and must drop at least one late contribution."""
    out = all_queries()["q_stream_watermark_late"](spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            F.col("n").alias("n_batch"),
        )
    )
    j = out.join(batch, ["win_start", "event_type"], "full")
    over = j.filter(F.col("n") > F.col("n_batch")).count()
    assert over == 0, "streaming emitted more than batch"
    total_stream = out.agg(F.sum("n")).collect()[0][0] or 0
    total_batch = batch.agg(F.sum("n_batch")).collect()[0][0]
    assert total_stream < total_batch, "no late rows were dropped"


def test_session_window_exact_gap_boundary(spark):
    """Pin Spark's session-merge behavior at EXACTLY gap distance: two
    events 30:00.000000 apart must fall in ONE session (merge is
    inclusive: an event starting at the current session's end extends
    it). The batch oracle for q_stream_session therefore uses
    `ts - prev_ts > INTERVAL 30 MINUTE` (strictly greater starts a new
    session) — this test fails if a Spark upgrade flips that boundary."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0)),  # exactly the gap later
        (1, dt.datetime(2024, 1, 1, 2, 0, 0)),   # well past the gap
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert len(out) == 2, f"expected 2 sessions, got {out}"
    assert sorted(r["n"] for r in out) == [1, 2]


def test_foreachbatch_parquet_sink_equals_batch(spark, tmp_path):
    """foreachBatch sink: replaying the event stream through a
    per-micro-batch parquet append must land exactly the batch table —
    the production sink shape (idempotent per-batch writes + custom
    logic) that the memory-sink queries don't exercise."""
    from engine.streaming import _read_stream, _stage

    src = _stage(SF_SMOKE, "plain")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = _read_stream(spark, src).select("event_id", "event_type", "value")

    def write_batch(df, batch_id):
        df.write.mode("append").parquet(out)

    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    want = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "value"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_tws_gate_matches_environment():
    """The transformWithStateInPandas capability probe must reflect
    reality: exactly when google.protobuf imports (the TWS python
    runner hard-requires it — without it the streaming runner crashes
    at init, so auto-fallback to applyInPandasWithState is mandatory)."""
    from engine.streaming import tws_available

    try:
        from google.protobuf import descriptor  # noqa: F401

        expected = True
    except ImportError:
        expected = False
    assert tws_available() is expected


def test_stateful_accumulate_tws_equivalence(spark):
    """Where TWS can run, both stateful APIs must emit identical final
    state; where it cannot (this container: no protobuf), the probe
    routes auto to the fallback — asserted via the gate test above."""
    import pytest

    from engine.streaming import _read_stream, _run_to_memory, _stage, stateful_accumulate, tws_available

    if not tws_available():
        pytest.skip("transformWithStateInPandas needs google.protobuf (absent here)")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    src = _stage(SF_SMOKE, "plain")

    def final_state(api: str):
        ev = _read_stream(spark, src).select("user_id", "value")
        raw = _run_to_memory(stateful_accumulate(ev, api=api), "update")
        w = Window.partitionBy("user_id").orderBy(F.desc("emit"))
        return sorted(
            map(
                tuple,
                raw.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("user_id", "n_events", F.round("total", 2).alias("total"))
                .collect(),
            )
        )

    assert final_state("tws") == final_state("apply")


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Kill a stream mid-source and restart it from the same checkpoint:
    the file-source offset log must resume where it left off — every
    event delivered to the sink exactly once across the restart (no
    reprocessing, no loss). This is the recovery contract a production
    deployment actually relies on."""
    import os
    import shutil

    from engine.streaming import _stage

    staged = _stage(SF_SMOKE, "plain")
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(files) >= 4
    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    half = len(files) // 2
    for f in files[:half]:
        shutil.copyfile(f"{staged}/{f}", src / f)

    def run_once():
        ev = (
            spark.readStream.schema(
                "event_id long, ts_us long, user_id long, "
                "event_type string, value double, props string"
            )
            .parquet(str(src))
            .select("event_id", (F.col("value") * 2).alias("v2"))
        )
        q = (
            ev.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    run_once()  # first half only
    n_first = spark.read.parquet(sink).count()
    assert 0 < n_first < 1000, "first run should deliver a strict subset"
    for f in files[half:]:
        shutil.copyfile(f"{staged}/{f}", src / f)
    run_once()  # restart from checkpoint, rest of the source

    got = spark.read.parquet(sink)
    assert got.count() == 1000  # sf0.001 events, each exactly once
    assert got.select("event_id").distinct().count() == 1000
