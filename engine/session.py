"""SparkSession builder tuned for this engine (SURVEY.md §7 step 0).

One SparkSession per process. The driver harness constructs its own
session for ``queries()``; :func:`tune` applies the runtime-settable
confs we rely on to any session we are handed, while :func:`get_spark`
builds a fully configured local session for tests/bench.

Scale notes (100 TB design intent):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion are all decided from runtime stats,
  so the same logical plans survive a 1000-executor deployment.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down. On a real cluster this would be set ~2-3x total cores.
- Arrow transfer on: every pandas-UDF boundary is Arrow-batched.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

from engine import ROOT

# Runtime-settable confs (safe to apply to an externally built session).
RUNTIME_CONF = {
    # Deterministic timestamp semantics vs the DuckDB oracle: fixture
    # parquet timestamps are tz-naive; interpret them as UTC everywhere.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Measured, not derived: with AQE coalescing, 32, 4 (one per core)
    # and parallelismFirst=false with a 64m advisory size tied on a
    # 4-core host at sf0.1 (SCALING.md, Round 23).
    "spark.sql.shuffle.partitions": "32",
    # Runtime bloom-filter semi-join reduction: on a selective build
    # side, the probe-side scan filters rows BEFORE the shuffle — at
    # 100 TB this is the difference between shuffling the whole fact
    # table and shuffling the ~matching slice (explicit: the default
    # has flipped across Spark minors).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
    # reader rejects; engine.io reads the raw int64 nanos and converts.
    # Applied session-wide (uniform + visible) rather than flipped as a
    # read-time side effect inside one loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Confs correctness depends on: a silent failure here would surface as
# bogus oracle diffs, so these must verify after set (fail loud).
_REQUIRED = ("spark.sql.session.timeZone",)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Best-effort for perf confs (warn on failure); hard-verified for the
    confs the DuckDB differential comparison depends on (timezone) —
    a session that cannot take those would produce wrong-looking
    'correctness' diffs, which must be an error, not a mystery.

    Also puts the directory holding ``engine`` on every Python worker's
    path (Spark merges ``environment["PYTHONPATH"]`` into it): UDFs and
    data sources defined in ``engine`` unpickle by module reference, so
    a worker started from any other cwd would fail with ``No module
    named 'engine'``."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001
            if k in _REQUIRED:
                raise RuntimeError(f"cannot set required conf {k}={v}: {e}") from e
            warnings.warn(f"engine.session.tune: could not set {k}={v}: {e}", stacklevel=2)
    for k in _REQUIRED:
        got = spark.conf.get(k, None)
        if got != RUNTIME_CONF[k]:
            raise RuntimeError(
                f"required conf {k} is {got!r}, expected {RUNTIME_CONF[k]!r} — "
                "oracle comparisons would silently diverge"
            )
    return spark


def _default_driver_mem() -> str:
    """Half of physical RAM in whole GiB, at least 1g and at most 24g."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, ram >> 31))}g"


def get_spark(app_name: str = "engine") -> SparkSession:
    """Build (or fetch) the shared local SparkSession.

    Sized from the host unless ``SPARK_GRAFT_CPUS`` / ``ENGINE_DRIVER_MEM``
    say otherwise: one thread per CPU this process may run on, and a
    driver heap of half the physical RAM, capped at 24g.

    Its Python workers start from :mod:`engine.worker_daemon`, which
    imports the installed pyspark instead of Spark's archives (a
    builder-time conf, so not in :data:`RUNTIME_CONF`). The external
    driver's vanilla session keeps Spark's default daemon; its results
    are the same, each Python task just pays the archive re-read."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("ENGINE_DRIVER_MEM") or _default_driver_mem())
        .config("spark.sql.warehouse.dir", f"{ROOT}/.tmp/spark-warehouse")
        .config("spark.python.daemon.module", "engine.worker_daemon")
        .config("spark.ui.enabled", "false")
        # Console progress writes \r-partial lines that splice into
        # check.py's per-key [OK]/[FAIL] output and break log grepping
        # (VERDICT r12 "process findings" #2: an [OK]-line count of 411
        # for a 427-pass sweep). Driver-console cosmetic only — not in
        # RUNTIME_CONF because it is builder-time, and the external
        # driver's own session is out of scope.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
