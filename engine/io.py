"""Sources and sinks (SURVEY.md §2.1).

Explicit ``StructType`` per fixture table (fail-fast on drift, and the
vectorized Parquet reader never pays schema inference). Schemas verified
against every parquet footer at /root/testdata/sf0.001 (FIXTURES.md).

Scale notes:
- Parquet scans with explicit schema + Column-expression filters keep
  predicate pushdown and column pruning intact (verify via
  ``df.explain``: ``PushedFilters`` / ``ReadSchema``).
- ``write_partitioned`` date-partitions ETL output so downstream reads
  get static + dynamic partition pruning.
- CSV/JSON ingestion covers the raw crypto-API dump path (SURVEY §2.1)
  with PERMISSIVE corrupt-record capture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from engine.session import tune

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}

# Dimension tables small enough to broadcast at any realistic scale
# (region/nation are fixed-cardinality; part/supplier/customer grow with
# sf but stay << autoBroadcastJoinThreshold at correctness scales —
# at 100 TB only region/nation/part-like dims stay broadcastable and the
# explicit broadcast() hints in query code are placed accordingly).
BROADCAST_DIMS = {"region", "nation"}


# events.ts has shipped as parquet TIMESTAMP(NANOS) in some fixture
# generations (Spark's vectorized reader rejects NANOS; read the raw
# int64 nanos via nanosAsLong and floor-convert to a microsecond
# TimestampType — identical to the ns->us truncation DuckDB oracle
# queries apply via date_trunc, SURVEY.md §7 risk register) and as
# TIMESTAMP(MICROS) in others (plain schema read). ``load_table``
# sniffs the footer once per call — a driver-side metadata-only read,
# O(1) regardless of data volume — and picks the right path; a wrong
# guess would silently shift every event timestamp 1000x.
_EVENTS_RAW = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _events_ts_unit(path: str) -> str:
    """Timestamp unit ('ns' | 'us' | 'ms') of events.ts, from the parquet
    footer. Cached on (file, mtime, size) — one local metadata read,
    never a data scan, and a fixture regenerated in-place with a
    different unit misses the cache instead of silently serving a stale
    unit that would shift every timestamp 1000x (the footer read is
    cheap; the cache only spares repeated stat-parse chatter)."""
    import os

    import pyarrow.parquet as pq

    p = path
    if os.path.isdir(p):
        p = next(
            os.path.join(p, f) for f in sorted(os.listdir(p)) if f.endswith(".parquet")
        )
    st = os.stat(p)
    key = (p, st.st_mtime_ns, st.st_size)
    if key not in _TS_UNIT_CACHE:
        if len(_TS_UNIT_CACHE) > 64:  # dead generations accumulate slowly
            _TS_UNIT_CACHE.clear()
        _TS_UNIT_CACHE[key] = pq.read_schema(p).field("ts").type.unit
    return _TS_UNIT_CACHE[key]


_TS_UNIT_CACHE: dict[tuple, str] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its explicit schema.

    ``tune`` applies the full RUNTIME_CONF — including
    ``nanosAsLong`` for NANOS-generation events fixtures — uniformly,
    so no read path flips session confs as a side effect."""
    tune(spark)  # UTC + AQE + Arrow even on an externally built session
    if name == "events":
        path = f"{sf_dir}/events.parquet"
        if _events_ts_unit(path) == "ns":
            from pyspark.sql import functions as F

            raw = spark.read.schema(_EVENTS_RAW).parquet(path)
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def jdbc_options(
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> dict[str, str]:
    """Build the option map for a JDBC read (pure, unit-testable).

    At scale, always pass the partitioning arguments: without them the
    whole table streams through ONE task; with them Spark issues
    ``num_partitions`` bounded range queries in parallel."""
    opts = {"url": url, "dbtable": table, **(properties or {})}
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError("partitioned JDBC read needs lower/upper bound + num_partitions")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def read_jdbc(spark: SparkSession, url: str, table: str, **kwargs):
    """JDBC source (SURVEY §2.1 row 3): configured ``DataFrameReader``
    for external RDBMS ingestion. Documented + unit-tested for
    configuration only — no JDBC endpoint exists in this harness, so
    tests assert :func:`jdbc_options`, never ``.load()``."""
    return spark.read.format("jdbc").options(**jdbc_options(url, table, **kwargs))


def _with_corrupt_record(schema: StructType) -> StructType:
    """A new schema: the caller's fields plus the ``_corrupt_record``
    capture column (``StructType.add`` would append it in place)."""
    return StructType([*schema.fields, StructField("_corrupt_record", StringType())])


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV ingestion: header, PERMISSIVE mode, corrupt-record capture."""
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(_with_corrupt_record(schema))
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """JSON-lines ingestion; explicit schema preferred, inference allowed."""
    reader = spark.read.option("mode", "PERMISSIVE")
    if schema is not None:
        reader = reader.schema(_with_corrupt_record(schema))
    return reader.json(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Date/key-partitioned Parquet sink (partition-pruned on read)."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    path: str | None = None,
) -> None:
    """Bucketed + sorted Parquet table sink (SURVEY §2.1): pre-hash-
    partitions the data on ``key`` at write time so subsequent joins and
    aggregations on that key are co-located and need NO shuffle — the
    standard way to amortize the shuffle of a 100 TB fact table across
    every downstream query. Read back via ``spark.table(table)``;
    tests/test_bucketing.py asserts the bucketed join plan is
    Exchange-free. ``path`` makes the table external (data outside the
    warehouse dir); bucket metadata lives in the session catalog."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key).sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other columnar interchange format (Hive-ecosystem
    hand-off). Same pushdown/pruning contract as the Parquet path."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source with predicate pushdown + column pruning (asserted in
    tests/test_io.py)."""
    return spark.read.orc(path)


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustering write: interleave the bit
    patterns of the rank-normalized cluster columns so every output
    file's min/max footer stats are narrow on EVERY clustering
    dimension — the multi-dimensional data-skipping layout (a plain
    ``sortBy`` narrows only its leading column). At 100 TB this is what
    turns point/range predicates on ANY clustered column into file-level
    pruning instead of a full scan.

    Each column is linearly scaled to a ``bits``-wide integer using
    min/max from one tiny aggregate (2 x len(cols) scalars — size-
    independent driver action), the scaled values' bits are interleaved
    into the Morton key in pure codegen, and the write range-partitions
    + sorts on that key. Linear scaling keeps the whole computation
    JVM-side; heavily skewed columns would prefer rank scaling (an extra
    window) — callers can pre-transform."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo, hi = stats[f"lo_{c}"], stats[f"hi_{c}"]
        span = float(hi - lo) if hi > lo else 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor((F.col(c).cast("double") - F.lit(float(lo))) / span * top).cast(
                    "long"
                ),
            )
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Opaque-media ingestion: Spark's ``binaryFile`` source reads any
    file tree as (path, modificationTime, length, content) — the entry
    point for the multimodal pipeline (engine/multimodal.py), which
    treats payloads as binary columns + typed metadata. Partition
    parallelism comes from the file listing; ``pathGlobFilter`` prunes
    non-media files before any byte is read."""
    r = spark.read.format("binaryFile")
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def compact_files(
    spark: SparkSession, src: str, dst: str, target_mb: int = 128, mode: str = "overwrite"
) -> int:
    """Small-file compaction: rewrite a fragmented Parquet dataset into
    files of ~``target_mb`` — the routine maintenance job that keeps a
    100 TB lake scannable (a million 1 MB files costs more in scheduler
    + footer overhead than the data itself; ~128 MB matches the default
    maxPartitionBytes so one file == one input split). Sizing uses the
    file LISTING only (driver-side metadata walk, no data read); the
    rewrite is one distributed repartition. Returns the output file
    count."""
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    spark.read.parquet(src).repartition(n).write.mode(mode).parquet(dst)
    return n


def skew_report(df: DataFrame, cols: list[str], top_k: int = 10) -> DataFrame:
    """Shuffle-key skew diagnostic: per-key row counts for the ``top_k``
    heaviest keys plus their share of the table and the ratio to the
    mean key load — the measurement that decides between a plain
    shuffle join, AQE skew splitting, and explicit salting
    (q_join_skew_salted). One hash aggregate + a tiny top-k; the 1-row
    totals aggregate joins back in-plan (no driver math)."""
    from pyspark.sql import functions as F

    counts = df.groupBy(*cols).agg(F.count("*").alias("n"))
    totals = counts.agg(
        F.sum("n").alias("total_rows"), F.count("*").alias("n_keys")
    )
    return (
        counts.orderBy(F.desc("n"), *cols)
        .limit(top_k)
        .crossJoin(F.broadcast(totals))
        .select(
            *cols,
            "n",
            F.round(F.col("n") / F.col("total_rows"), 4).alias("share"),
            F.round(F.col("n") * F.col("n_keys") / F.col("total_rows"), 2).alias(
                "x_mean"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Custom Python data source (Spark 4 pyspark.sql.datasource API)
# ---------------------------------------------------------------------------

try:  # the API exists in PySpark >= 4; gate for portability
    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        SimpleDataSourceStreamReader,
        WriterCommitMessage,
    )

    class SyntheticTickSource(DataSource):
        """Deterministic partitioned tick generator — the engine's
        demonstration of Spark 4's Python DataSource API (a first-class
        pluggable source, not a DataFrame built driver-side).

        Rows are pure integer arithmetic of the row index (Knuth
        multiplicative hash), so the stream is reproducible across
        runs, partition counts, AND engines — DuckDB replays the same
        arithmetic over generate_series, which makes a *source
        connector* oracle-checkable. Options: ``n`` rows (default
        20000), ``parts`` partitions (default 8). On a cluster the
        reader runs one task per InputPartition; ship this module via
        --py-files exactly like any Python source.
        """

        @classmethod
        def name(cls) -> str:
            return "synthetic_ticks"

        def schema(self) -> str:
            return "tick_id BIGINT, bucket INT, value_cents BIGINT"

        def reader(self, schema):  # noqa: ANN001 - API signature
            return _TickReader(
                int(self.options.get("n", 20000)),
                int(self.options.get("parts", 8)),
            )

        def simpleStreamReader(self, schema):  # noqa: ANN001 - API signature
            return _TickStreamReader(
                int(self.options.get("n", 20000)),
                int(self.options.get("batch", 4096)),
            )

    class _TickReader(DataSourceReader):
        def __init__(self, n: int, parts: int) -> None:
            self.n, self.parts = n, parts

        def partitions(self):
            return [InputPartition(p) for p in range(self.parts)]

        def read(self, partition):
            # contiguous index ranges per partition: the union over
            # partitions is exactly [0, n) for any partition count
            p = partition.value
            chunk = -(-self.n // self.parts)
            for i in range(p * chunk, min((p + 1) * chunk, self.n)):
                h = (i * 2654435761) % 4294967296
                yield (i, i % 8, h % 10007)

    class _TickStreamReader(SimpleDataSourceStreamReader):
        """Micro-batch face of the same tick stream: offsets are row
        indexes, each read() serves up to ``batch`` rows and reports
        the next offset, and the stream runs dry at ``n`` (read
        returns an empty iterator with an unchanged offset) — so a
        processAllAvailable() drain sees EXACTLY the batch source's
        rows, replayable from any checkpointed offset."""

        def __init__(self, n: int, batch: int) -> None:
            self.n, self.batch = n, batch

        def initialOffset(self) -> dict:
            return {"i": 0}

        def read(self, start: dict):
            lo = start["i"]
            hi = min(lo + self.batch, self.n)
            # a LIST, not a generator: the runner's prefetch cache
            # copy.copy()s the returned iterator, which a generator
            # does not support
            rows = [
                (i, i % 8, ((i * 2654435761) % 4294967296) % 10007)
                for i in range(lo, hi)
            ]
            return iter(rows), {"i": hi}

    class JsonlSinkSource(DataSource):
        """Python DataSource WRITE side: a JSON-lines sink with the
        full task-commit protocol — each executor task writes a
        uniquely-named temp file and returns its path as the commit
        message; the driver-side commit() renames all temp files into
        place atomically-per-file, and abort() deletes them. A failed
        task therefore never leaves a visible partial file — the same
        staging discipline a production object-store sink uses.

        Options: ``path`` (target directory, required)."""

        @classmethod
        def name(cls) -> str:
            return "jsonl_sink"

        def writer(self, schema, overwrite: bool):  # noqa: ANN001
            return _JsonlWriter(self.options["path"], [f.name for f in schema])

    @dataclass
    class _JsonlCommit(WriterCommitMessage):
        tmp_path: str

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, path: str, cols: list) -> None:
            self.path, self.cols = path, cols

        def write(self, iterator):
            import json as _json
            import os as _os
            import uuid as _uuid

            _os.makedirs(f"{self.path}/_tmp", exist_ok=True)
            tmp = f"{self.path}/_tmp/part-{_uuid.uuid4().hex}.jsonl"
            with open(tmp, "w") as fh:
                for row in iterator:
                    fh.write(_json.dumps({c: row[c] for c in self.cols}) + "\n")
            return _JsonlCommit(tmp_path=tmp)

        def commit(self, messages) -> None:
            import os as _os

            for m in messages:
                if m is not None:
                    final = f"{self.path}/{_os.path.basename(m.tmp_path)}"
                    _os.replace(m.tmp_path, final)

        def abort(self, messages) -> None:
            import os as _os

            for m in messages:
                if m is not None and _os.path.exists(m.tmp_path):
                    _os.remove(m.tmp_path)

    _PY_DATASOURCE_OK = True
except ImportError:  # pragma: no cover - older PySpark
    _PY_DATASOURCE_OK = False


_DS_REGISTERED: set[int] = set()


def register_python_sources(spark) -> None:
    """Idempotently register the engine's Python data sources on a
    session (keyed on the session object id)."""
    if not _PY_DATASOURCE_OK or id(spark) in _DS_REGISTERED:
        return
    spark.dataSource.register(SyntheticTickSource)
    spark.dataSource.register(JsonlSinkSource)
    _DS_REGISTERED.add(id(spark))
