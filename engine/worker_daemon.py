"""Python worker daemon that imports the installed pyspark, not Spark's archives.

Spark starts each worker daemon with ``pyspark.zip``, the py4j source zip
and the spark-core jar ahead of site-packages. At the start of every task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and under CPython 3.11 that makes each
cached ``zipimporter`` re-read its archive's directory: 16 importers and
about 0.2 s per task on a 4-core host. When the installed pyspark is the
same version as the archived one, the daemon drops the archives before
pyspark is imported, so that call only touches ``FileFinder``s.

:func:`engine.session.get_spark` names this module in
``spark.python.daemon.module``, so Spark runs it as
``python -m engine.worker_daemon <worker module>``; ``engine/__init__.py``
must therefore import no pyspark.
"""

import fnmatch
import importlib.machinery
import os
import re
import sys
import zipfile

_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "*.jar")
_VERSION = re.compile(r"""__version__\b[^=]*=\s*['"]([^'"]+)['"]""")


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, or ``path`` itself unless the
    rest of it finds ``pyspark`` and ``py4j`` and that pyspark carries the
    same ``__version__`` as the one in ``pyspark.zip``."""
    spark = [p for p in path if any(fnmatch.fnmatch(os.path.basename(p), a) for a in _SPARK_ARCHIVES)]
    rest = [p for p in path if p not in spark]
    found = [importlib.machinery.PathFinder.find_spec(m, rest) for m in ("pyspark", "py4j")]
    zips = [p for p in spark if os.path.basename(p) == "pyspark.zip"]
    if not zips or None in found or not found[0].origin:
        return path
    try:
        with open(os.path.join(os.path.dirname(found[0].origin), "version.py")) as f:
            installed = _VERSION.search(f.read())
        with zipfile.ZipFile(zips[0]) as z:
            archived = _VERSION.search(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    same = installed and archived and installed.group(1) == archived.group(1)
    return rest if same else path


if __name__ == "__main__":
    kept = without_spark_archives(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept
    from pyspark import daemon

    daemon.manager()
