"""Registry keys for the §2.1 source/sink surface (added r5).

engine/io.py's readers/writers were previously exercised only by
tests/test_io.py; these keys put the FORMAT ROUNDTRIPS themselves
under the driver's differential gate: each query writes a real file
set through the engine's sink path, reads it back through the engine's
source path, and computes an aggregate whose oracle runs directly on
the original parquet — so a value-corrupting roundtrip (encoding,
schema drift, partition mishandling) breaks the hash, not just a unit
test.

Sinks land under <repo root>/.tmp/io/<key>-<fingerprint>; the
fingerprint is the sf_dir basename, so concurrent checks at different
SFs never collide and re-runs overwrite deterministically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from engine import ROOT
from engine.io import load_table, read_csv, read_json
from engine.registry import register

_TMP = f"{ROOT}/.tmp/io"


def _sink(key: str, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"{_TMP}/{key}-{tag}"
    os.makedirs(_TMP, exist_ok=True)
    return path


@register(
    "q_source_csv_roundtrip",
    oracle="""
    SELECT r.r_name,
           count(*) AS n_nations,
           array_to_string(list_sort(list(n.n_name)), ',') AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
)
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink→source roundtrip under the differential gate: the
    nation⋈region dimension join is written to CSV (header, explicit
    quoting) and read back with an EXPLICIT schema (the production
    rule — inferSchema is a second data pass AND a type lottery), and
    the aggregate over the roundtripped rows must hash-match the
    oracle computed on the original parquet. Catches delimiter/quote/
    header/type drift that a row-count smoke test passes."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    path = _sink("q_source_csv_roundtrip", sf_dir)
    joined.select("n_nationkey", "n_name", "r_name").write.mode("overwrite").option(
        "header", True
    ).csv(path)
    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
            StructField("r_name", StringType()),
        ]
    )
    back = read_csv(spark, path, schema)
    return (
        back.groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
        )
        .orderBy("r_name")
    )


@register(
    "q_source_json_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink→source roundtrip: an orders slice is written as
    JSONL and read back with an explicit schema; the floor-cents sum
    over the roundtripped doubles must hash-match the oracle on the
    original parquet — JSON's shortest-round-trip double encoding is
    exact, and this key keeps it pinned (a %.6f-style formatter in the
    path would silently shave cents). The slice keeps the sink
    data-bounded at any SF."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = _sink("q_source_json_roundtrip", sf_dir)
    o.write.mode("overwrite").json(path)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )
    back = read_json(spark, path, schema)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_sink_partition_prune",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
    GROUP BY day ORDER BY day
    """,
)
def q_sink_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-pruned source under
    the differential gate: events are written partitioned by
    event_type, and the read-back filters one partition — the filter
    must resolve at PLANNING time (directory pruning, the mechanism
    that turns a 100 TB scan into one partition's worth of IO;
    tests/test_io.py asserts the pruned plan shape, this key asserts
    the pruned VALUES). The daily aggregate hash-matches the oracle's
    direct filter on the original table."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    path = _sink("q_sink_partition_prune", sf_dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    return (
        back.groupBy(day.alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100)).cast("long").alias("cents"),
        )
        .orderBy("day")
    )


@register(
    "q_source_schema_evolution",
    oracle="""
    WITH tagged AS (
      SELECT c_custkey, c_acctbal,
             CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS c_mktsegment
      FROM customer
    )
    SELECT coalesce(c_mktsegment, 'PRE_SCHEMA') AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM tagged GROUP BY segment ORDER BY segment
    """,
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution under the differential gate: an 'old'
    batch (even custkeys, 3 columns) and a 'new' batch (odd custkeys,
    + c_mktsegment) land in the same dataset directory; the read uses
    ``mergeSchema`` so old rows surface the added column as NULL — the
    additive-evolution contract every long-lived lakehouse table
    depends on. The aggregate over the merged read must hash-match an
    oracle computed on the ORIGINAL parquet with the same even/odd
    masking — a dropped column, type clash, or row loss in the merge
    breaks the hash.

    Scale note: mergeSchema reconciles FOOTERS (a driver-side
    metadata pass over file schemas, accelerated by summary files /
    catalog schemas at real table sizes) — the data pages are still
    read once, column-pruned and filter-pushed as usual."""
    c = load_table(spark, sf_dir, "customer")
    path = _sink("q_source_schema_evolution", sf_dir)
    old = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_acctbal")
    new = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    old.write.mode("overwrite").parquet(f"{path}/batch=1")
    new.write.mode("overwrite").parquet(f"{path}/batch=2")
    back = spark.read.option("mergeSchema", True).parquet(
        f"{path}/batch=1", f"{path}/batch=2"
    )
    return (
        back.select(
            F.coalesce("c_mktsegment", F.lit("PRE_SCHEMA")).alias("segment"),
            "c_acctbal",
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.floor(F.col("c_acctbal") * 100))
            .cast("long")
            .alias("acctbal_cents"),
        )
        .orderBy("segment")
    )


@register(
    "q_source_text_roundtrip",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
           CAST(sum(CAST('0x' || substring(md5(coalesce(text, '')), 1, 8)
                         AS BIGINT))
                AS BIGINT) AS content_sum
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT-format sink→source roundtrip (one document per line — the
    shape a 100 TB web-scrape corpus actually arrives in): documents
    serialize as tab-framed lines (lang TAB text) through the text
    sink, read back with ``spark.read.text`` + one split, and a
    per-language aggregate including a CONTENT CHECKSUM (sum of
    md5-prefix integers per doc) must hash-match the oracle on the
    original parquet — any newline/encoding/truncation corruption in
    the line roundtrip breaks the sum, not just the counts. Newlines
    cannot occur inside fixture texts (asserted by the lang framing
    surviving), and the tab frame is the first-tab split so text may
    contain tabs. A NULL text is coalesced to '' BEFORE serialization
    (mirrored in the oracle): concat_ws silently skips NULLs, which
    would emit a tab-less line whose read-back text column swallows
    the lang value — a silent divergence the r7 ADVICE flagged (the
    fixtures have no NULL texts today, but the sink must not depend
    on that)."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    path = _sink("text_rt", sf_dir)
    d.select(
        F.concat_ws("\t", F.col("lang"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(path)
    back = (
        spark.read.text(path)
        .select(
            F.substring_index(F.col("value"), "\t", 1).alias("lang"),
            F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
        )
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.sum(
                F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
            )
            .cast("long")
            .alias("content_sum"),
        )
        .orderBy("lang")
    )


@register(
    "q_sink_compaction",
    oracle="""
    SELECT n_nationkey, n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS balance_cents
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_nationkey, n_name ORDER BY n_nationkey
    """,
)
def q_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the differential gate: the customer
    table is deliberately fragmented into 32 tiny Parquet files (the
    million-small-files failure mode of a streaming ingest), compacted
    with engine.io.compact_files (driver-side LISTING sizes the
    rewrite — no data read — into ~target-size files), and the
    per-nation aggregate over the COMPACTED dataset must hash-match
    the oracle on the original parquet, proving the maintenance job
    is value-preserving. The file-count contraction itself is pinned
    in tests/test_io.py; this key puts the data integrity of the
    rewrite in front of the driver."""
    from engine.io import compact_files

    d = load_table(spark, sf_dir, "customer")
    frag = _sink("compact_src", sf_dir)
    d.repartition(32).write.mode("overwrite").parquet(frag)
    out = _sink("compact_dst", sf_dir)
    compact_files(spark, frag, out, target_mb=128)
    back = spark.read.parquet(out)
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        back.join(F.broadcast(n), back["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum(F.floor(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("balance_cents"),
        )
        .orderBy("n_nationkey")
    )
