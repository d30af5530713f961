"""Source/sink coverage (SURVEY §2.1): CSV/JSON ingestion with corrupt-
record capture, partitioned parquet sink with partition pruning."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from engine import ROOT
from engine.io import load_table, read_csv, read_json, write_partitioned
from tests.conftest import SF_SMOKE

TMP = os.path.join(ROOT, ".tmp", "io_test")


def setup_module():
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)


def _schema():
    return StructType(
        [
            StructField("id", LongType()),
            StructField("sym", StringType()),
            StructField("px", DoubleType()),
        ]
    )


def test_csv_ingestion_with_corrupt_records(spark):
    path = f"{TMP}/trades.csv"
    with open(path, "w") as f:
        f.write("id,sym,px\n1,ZIL,0.021\n2,BTC,64250.5\nnot,a,number\n")
    df = read_csv(spark, path, _schema()).cache()  # Spark disallows corrupt-col-only queries on raw scans
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() == 1


def test_json_ingestion(spark):
    path = f"{TMP}/trades.jsonl"
    with open(path, "w") as f:
        f.write('{"id": 1, "sym": "ZIL", "px": 0.021}\n')
        f.write('{"id": 2, "sym": "ETH", "px": 3100.25}\n')
        f.write("{bad json\n")
    df = read_json(spark, path, _schema()).cache()
    assert df.filter(F.col("_corrupt_record").isNull()).count() == 2
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1


def test_readers_leave_the_callers_schema_alone(spark):
    """One schema object serves repeated reads: the readers add
    ``_corrupt_record`` to a copy, never to the caller's StructType."""
    csv_path, json_path = f"{TMP}/reuse.csv", f"{TMP}/reuse.jsonl"
    with open(csv_path, "w") as f:
        f.write("id,sym,px\n1,ZIL,0.021\n")
    with open(json_path, "w") as f:
        f.write('{"id": 1, "sym": "ZIL", "px": 0.021}\n')
    schema = _schema()
    for read, path in ((read_csv, csv_path), (read_json, json_path)):
        for _ in range(2):
            df = read(spark, path, schema)
            assert df.columns == ["id", "sym", "px", "_corrupt_record"]
            assert df.count() == 1
    assert schema == _schema()


def test_partitioned_sink_prunes_on_read(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    out = f"{TMP}/li_by_year"
    write_partitioned(li, out, ["ship_year"])
    back = spark.read.parquet(out)
    one_year = back.filter(F.col("ship_year") == 1996)
    expected = li.filter(F.col("ship_year") == 1996).count()
    assert one_year.count() == expected
    # partition pruning visible in the physical plan
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ship_year" in plan


def test_jdbc_options_configured():
    from engine.io import jdbc_options

    opts = jdbc_options(
        "jdbc:postgresql://db:5432/crypto",
        "public.trades",
        properties={"user": "etl", "fetchsize": "10000"},
        partition_column="trade_id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=32,
    )
    assert opts["url"].startswith("jdbc:postgresql://")
    assert opts["dbtable"] == "public.trades"
    assert opts["fetchsize"] == "10000"
    # the 4 options that keep a big table read parallel, not 1-task
    assert opts["partitionColumn"] == "trade_id"
    assert (opts["lowerBound"], opts["upperBound"]) == ("0", "1000000")
    assert opts["numPartitions"] == "32"


def test_jdbc_options_partitioning_requires_bounds():
    import pytest as _pytest

    from engine.io import jdbc_options

    with _pytest.raises(ValueError):
        jdbc_options("jdbc:h2:mem:t", "t", partition_column="id")


def test_read_jdbc_builds_reader(spark):
    from engine.io import read_jdbc

    reader = read_jdbc(spark, "jdbc:h2:mem:t", "t")
    # configured reader object; .load() needs a live endpoint (none here)
    assert reader is not None


def test_jdbc_roundtrip_live_derby(spark, tmp_path):
    """LIVE JDBC source/sink smoke (VERDICT r8 task 6 — §2.1's JDBC row
    was prose-only): Spark ships the embedded Derby driver (its Hive
    metastore backend), so the real ``format("jdbc")`` write and read
    paths can run in-process with no external endpoint. Round-trips a
    table, reads it back PARTITIONED (the 4-option parallel-read
    contract jdbc_options pins — at 100 TB a JDBC ingest is N
    bound-ranged tasks, never 1), and checks the filter reaches the
    JDBC scan as a pushed predicate."""
    from engine.io import load_table, read_jdbc

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = (
        load_table(spark, SF_SMOKE, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "NATION")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    back = read_jdbc(
        spark, url, "NATION", properties={"driver": driver},
        partition_column="n_nationkey", lower_bound=0, upper_bound=25,
        num_partitions=4,
    ).load()
    assert back.rdd.getNumPartitions() == 4
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    flt = back.filter(back.n_regionkey == 2).select("n_name")
    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan and "n_regionkey" in plan.split("PushedFilters:")[1].split("]")[0]
    assert flt.count() == src.filter(src.n_regionkey == 2).count()


def test_orc_roundtrip_pushdown(spark, tmp_path):
    """ORC sink/source round-trip preserves schema and values, and a
    filtered read pushes the predicate into the ORC scan."""
    import contextlib
    import io as _io

    from engine.io import load_table, read_orc, write_orc

    src = load_table(spark, SF_SMOKE, "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter(back.n_nationkey < 5).select("n_name").explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters:" in plan and "n_nationkey" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_zorder_write_narrows_file_stats_on_both_dims(spark, tmp_path):
    """Z-order layout: per-file min/max ranges must be narrow on BOTH
    clustering columns (the data-skipping property), where a plain
    single-column sort narrows only its own column. Compared against the
    whole-table range; 8 files over two independent uniform keys should
    each cover well under the full span on each dimension."""
    from pyspark.sql import functions as F

    from engine.io import load_table, write_zorder

    src = load_table(spark, SF_SMOKE, "lineitem").select("l_partkey", "l_suppkey")
    path = str(tmp_path / "li_z")
    write_zorder(src, path, ["l_partkey", "l_suppkey"], n_files=8)

    import glob

    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) >= 4
    glob_stats = src.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).first()
    p_span = glob_stats[1] - glob_stats[0]
    s_span = glob_stats[3] - glob_stats[2]
    fracs_p, fracs_s = [], []
    for f in files:
        st = (
            spark.read.parquet(f)
            .agg(F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey"))
            .first()
        )
        fracs_p.append((st[1] - st[0]) / p_span)
        fracs_s.append((st[3] - st[2]) / s_span)
    # every file narrow on at least one dim, and on average narrow on both
    assert sum(fracs_p) / len(fracs_p) < 0.62, fracs_p
    assert sum(fracs_s) / len(fracs_s) < 0.62, fracs_s
    # round-trip completeness
    assert spark.read.parquet(path).count() == src.count()


def test_binary_file_source_reads_content(spark, tmp_path):
    """binaryFile source: payload bytes round-trip and the glob filter
    prunes non-matching files from the listing."""
    from engine.io import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01payload")
    (tmp_path / "b.txt").write_text("not media")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["content"] == b"\x00\x01payload"
    assert rows[0]["length"] == 9


def test_compact_files_reduces_count_preserves_rows(spark, tmp_path):
    """Compaction: a 64-fragment dataset rewrites to the size-derived
    file count with identical rows."""
    from engine.io import compact_files, load_table

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    li = load_table(spark, SF_SMOKE, "lineitem")
    li.repartition(64).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 64
    n = compact_files(spark, src, dst, target_mb=128)
    got = glob.glob(f"{dst}/part-*.parquet")
    assert len(got) == n and n < 64
    assert spark.read.parquet(dst).count() == li.count()


def test_skew_report_flags_hot_key(spark):
    """Skew diagnostic: a synthetic 80%-hot key tops the report with
    share ~0.8 and a large multiple of the mean key load."""
    from engine.io import skew_report

    rows = [(i, 777 if i < 8000 else i % 50) for i in range(10000)]
    df = spark.createDataFrame(rows, "event_id long, user_id long")
    top = skew_report(df, ["user_id"], top_k=3).collect()
    assert top[0]["user_id"] == 777
    assert abs(top[0]["share"] - 0.8) < 0.01
    assert top[0]["x_mean"] > 10


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Dynamic partition pruning: a fact table partitioned by date,
    joined to a dim filtered on a NON-partition attribute, must prune
    fact partitions at runtime via the broadcast-derived filter — the
    100 TB access path for date-partitioned lakes (only the joined
    dates' directories are read; at scale this is the difference
    between scanning 3 days and 3 years). Asserted on the optimized
    plan containing a dynamicpruning subquery on the fact scan."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "ev_by_dt")
    write_partitioned(ev, path, ["dt"])

    facts = spark.read.parquet(path)
    dim = (
        ev.select("dt").distinct()
        .withColumn("is_hot", F.col("dt") < "2024-01-04")
    )
    joined = facts.join(F.broadcast(dim.filter(F.col("is_hot"))), "dt")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the pruned read returns exactly the hot days' rows
    expect = ev.filter(F.col("dt") < "2024-01-04").count()
    assert joined.count() == expect


def test_python_datasource_partition_invariance(spark):
    """The synthetic_ticks Python source must yield the identical row
    set for ANY partition count (the union of InputPartition ranges is
    exactly [0, n)), and must actually plan one task per partition."""
    from engine.io import register_python_sources

    register_python_sources(spark)

    def load(parts: int):
        return (
            spark.read.format("synthetic_ticks")
            .option("n", "1000")
            .option("parts", str(parts))
            .load()
        )

    base = sorted(tuple(r) for r in load(1).collect())
    assert len(base) == 1000
    assert base[1] == (1, 1, (2654435761 % 4294967296) % 10007)
    for parts in (3, 8):
        df = load(parts)
        assert df.rdd.getNumPartitions() == parts
        assert sorted(tuple(r) for r in df.collect()) == base


def test_python_datasource_writer_roundtrip(spark, tmp_path):
    """The jsonl_sink Python writer must stage per-task temp files and
    publish them only at commit: after the write, the target holds
    only committed part files (no _tmp leftovers) whose union equals
    the input exactly."""
    import json

    from engine.io import register_python_sources

    register_python_sources(spark)
    target = str(tmp_path / "out")
    df = (
        spark.read.format("synthetic_ticks")
        .option("n", "500")
        .option("parts", "4")
        .load()
    )
    df.write.format("jsonl_sink").option("path", target).mode("append").save()

    files = sorted(p for p in os.listdir(target) if p.endswith(".jsonl"))
    assert files, "no committed part files"
    assert not os.listdir(f"{target}/_tmp"), "uncommitted temp files left behind"
    rows = []
    for p in files:
        with open(f"{target}/{p}") as fh:
            rows += [json.loads(line) for line in fh]
    got = sorted((r["tick_id"], r["bucket"], r["value_cents"]) for r in rows)
    expected = sorted(tuple(r) for r in df.collect())
    assert got == expected


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """Idempotent backfill semantics: with partitionOverwriteMode=dynamic,
    rewriting ONE date partition must leave every other partition's
    data untouched (static mode would wipe the whole table) — the
    contract a daily backfill job depends on."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "dpo")
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 4).alias("dt"),
        (F.col("id") * 10).alias("v"),
    )
    df.write.partitionBy("dt").mode("overwrite").parquet(target)

    patch = spark.range(50).select(
        F.col("id"),
        F.lit(2).alias("dt"),
        F.lit(-1).alias("v"),
    )
    (
        patch.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt")
        .mode("overwrite")
        .parquet(target)
    )
    out = spark.read.parquet(target)
    assert out.filter("dt = 2").count() == 50
    assert out.filter("dt = 2").agg(F.max("v")).first()[0] == -1
    # untouched partitions keep their original 25 rows each
    for dt in (0, 1, 3):
        part = out.filter(f"dt = {dt}")
        assert part.count() == 25, dt
        assert part.agg(F.min("v")).first()[0] >= 0


def test_analyze_stats_flip_join_to_broadcast(spark, tmp_path):
    """Cost-based planning: with autoBroadcastJoinThreshold sized
    between the two tables and sizeInBytes known from ANALYZE, the
    small table must broadcast while the big side does not — the
    CBO-statistics path a production catalog relies on."""
    import uuid

    from pyspark.sql import functions as F

    tag = uuid.uuid4().hex[:8]
    big_rows = 200_000
    spark.range(big_rows).select(
        F.col("id").alias("k"), F.col("id").alias("payload")
    ).write.mode("overwrite").saveAsTable(f"big_{tag}")
    spark.range(100).select(F.col("id").alias("k")).write.mode(
        "overwrite"
    ).saveAsTable(f"small_{tag}")
    try:
        spark.sql(f"ANALYZE TABLE big_{tag} COMPUTE STATISTICS")
        spark.sql(f"ANALYZE TABLE small_{tag} COMPUTE STATISTICS")
        stats_small = spark.sql(f"DESCRIBE EXTENDED small_{tag}").filter(
            "col_name = 'Statistics'"
        ).collect()
        assert stats_small, "ANALYZE recorded no statistics"
        joined = spark.table(f"big_{tag}").join(spark.table(f"small_{tag}"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # the BUILD side must be the analyzed-small table (probe side
        # streamed) — a wrong-side broadcast would ship 200k rows: the
        # first relation named under the BroadcastExchange subtree must
        # be the small one
        sub = plan.split("BroadcastExchange", 1)[1]
        first_small = sub.find(f"small_{tag}")
        first_big = sub.find(f"big_{tag}")
        assert first_small != -1 and (first_big == -1 or first_small < first_big)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS big_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS small_{tag}")
