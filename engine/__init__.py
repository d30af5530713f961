"""PySpark-native analytics engine.

A from-scratch, Spark-first analytics engine providing the capability
surface reconstructed in SURVEY.md (the reference repo
IsuraNimalasri/us-crypto-zillqa-etl at /root/reference/ is a name-only
scaffold — README.md:1-2 — so SURVEY.md §2 is the build contract).

Design (SURVEY.md §1.2, §3, §4):
- DataFrame/Spark SQL only; logical plans are declared declaratively and
  Catalyst + AQE choose the physical strategy.
- Columnar end-to-end: Parquet at rest, whole-stage codegen in flight,
  Arrow batches at the Python boundary (pandas UDFs only — no row UDFs
  on hot paths).
- Every query operator is registered through :mod:`engine.registry` with
  an ANSI-SQL oracle for DuckDB differential testing where expressible.

Import :func:`engine.registry.all_queries` to obtain the full surface.

This module imports no pyspark: Python workers start as
``python -m engine.worker_daemon``, which imports this package before it
can take Spark's archives off ``sys.path``.
"""

import os

# The directory holding the ``engine`` package; scratch files live under
# ``ROOT/.tmp``.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_all() -> None:
    """Import every operator module so their @register calls run."""
    from engine import relational  # noqa: F401
    from engine import windows  # noqa: F401
    from engine import functions  # noqa: F401
    from engine import udf  # noqa: F401
    from engine import llm_ops  # noqa: F401
    from engine import crypto  # noqa: F401
    from engine import pipeline  # noqa: F401
    from engine import streaming  # noqa: F401
    from engine import benchmarks  # noqa: F401
    from engine import stats  # noqa: F401
    from engine import io_queries  # noqa: F401
