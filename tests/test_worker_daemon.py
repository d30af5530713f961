"""The Python worker daemon of ``get_spark`` sessions imports the installed
pyspark, so no task re-reads Spark's archives (``engine/worker_daemon.py``)."""

from __future__ import annotations

import subprocess
import sys
import zipfile
from pathlib import Path

from engine.worker_daemon import without_spark_archives

REPO = Path(__file__).resolve().parent.parent


def test_workers_import_pyspark_outside_spark_archives(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"pyspark": [pyspark.__file__], "zips": [zips]})

    row = spark.range(1, numPartitions=1).mapInPandas(probe, "pyspark string, zips array<string>").first()
    assert ".zip" not in row.pyspark and ".jar" not in row.pyspark, row.pyspark
    spark_archive = ("pyspark.zip", "py4j-", ".jar")
    assert not [z for z in row.zips if any(a in z for a in spark_archive)], row.zips


def _layout(tmp_path: Path, installed: str = "9.9.9", archived: str = "9.9.9", py4j: bool = True):
    """A fake site-packages next to fake Spark archives and a user zip."""
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f"__version__: str = '{installed}'\n")
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{archived}'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(lib / "spark-core_2.13-4.1.2.jar", "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    with zipfile.ZipFile(tmp_path / "engine.zip", "w") as z:
        z.writestr("engine/__init__.py", "")
    archives = [str(lib / n) for n in ("pyspark.zip", "py4j-0.10.9.9-src.zip", "spark-core_2.13-4.1.2.jar")]
    return archives, str(tmp_path / "engine.zip"), str(site)


def test_without_spark_archives_drops_only_sparks_archives(tmp_path):
    archives, user_zip, site = _layout(tmp_path)
    assert without_spark_archives([*archives, user_zip, site]) == [user_zip, site]


def test_without_spark_archives_keeps_path_when_pyspark_missing(tmp_path):
    archives, user_zip, _ = _layout(tmp_path)
    path = [*archives, user_zip]
    assert without_spark_archives(path) == path


def test_without_spark_archives_keeps_path_when_py4j_missing(tmp_path):
    archives, user_zip, site = _layout(tmp_path, py4j=False)
    path = [*archives, user_zip, site]
    assert without_spark_archives(path) == path


def test_without_spark_archives_keeps_path_on_version_mismatch(tmp_path):
    archives, user_zip, site = _layout(tmp_path, installed="9.9.9", archived="9.9.8")
    path = [*archives, user_zip, site]
    assert without_spark_archives(path) == path


def test_importing_engine_loads_no_pyspark():
    """``python -m engine.worker_daemon`` imports the package before it
    can fix the path; a pyspark import there would come from the zip."""
    out = subprocess.run(
        [sys.executable, "-c", "import engine, sys; print(sorted({'pyspark', 'py4j'} & set(sys.modules)))"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"


def test_default_driver_mem_is_half_of_ram_capped_at_24g(monkeypatch):
    from engine import session

    for ram_gib, heap in ((15.7, "7g"), (125, "24g"), (1, "1g")):
        monkeypatch.setattr(session.os, "sysconf", lambda k, r=ram_gib: 4096 if k == "SC_PAGE_SIZE" else int(r * 2**30) // 4096)
        assert session._default_driver_mem() == heap
