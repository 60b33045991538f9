"""The session factory's Python worker daemon (``_daemon``) and its conf."""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import SparkSession

from polymarket_data_ingestor_spark import _daemon
from polymarket_data_ingestor_spark.session import get_spark

DAEMON = "polymarket_data_ingestor_spark._daemon"


def _write_zip(path: Path, names: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "VALUE = 1\n")


def test_zip_importers_reread_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["pkg/__init__.py", "pkg/sub/__init__.py",
                         "pkg/sub/a.py"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _daemon.invalidate_caches)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # two prefix importers over one archive, as a zipped package's
    # __path__ entries make them; each holds its own directory
    pkg = zipimport.zipimporter(f"{archive}/pkg")
    sub = zipimport.zipimporter(f"{archive}/pkg/sub")
    importers = (pkg, sub)
    assert sub.find_spec("pkg.sub.a") is not None

    def invalidate_all(times=3):
        reads.clear()
        for _ in range(times):
            for imp in importers:
                imp.invalidate_caches()

    invalidate_all(times=1)  # the first call stamps each importer
    invalidate_all()
    assert reads == []

    _write_zip(archive, ["pkg/__init__.py", "pkg/sub/__init__.py",
                         "pkg/sub/a.py", "pkg/c.py", "pkg/sub/b.py"])
    invalidate_all()
    assert reads == [str(archive)] * 2
    assert pkg.find_spec("pkg.c") is not None
    assert sub.find_spec("pkg.sub.b") is not None

    # a new mtime alone (same size) re-reads too
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    invalidate_all()
    assert reads == [str(archive)] * 2


def test_add_py_file_after_a_task_is_importable(spark, tmp_path):
    tag = uuid.uuid4().hex[:12]
    py_mod, zip_mod = f"pdi_added_py_{tag}", f"pdi_added_zip_{tag}"
    frame = spark.range(0, 4, 1, 4)

    def main_module(batches):
        import sys

        for pdf in batches:
            yield pdf.assign(main=sys.modules["__main__"].__spec__.name)

    # the daemon's workers run (and so reset their caches for) a task first
    rows = frame.mapInPandas(main_module, "id long, main string").collect()
    assert {r.main for r in rows} == {DAEMON}

    (tmp_path / f"{py_mod}.py").write_text("VALUE = 'py'\n")
    with zipfile.ZipFile(tmp_path / f"{zip_mod}.zip", "w") as z:
        z.writestr(f"{zip_mod}.py", "VALUE = 'zip'\n")
    sc = spark.sparkContext
    sc.addPyFile(str(tmp_path / f"{py_mod}.py"))
    sc.addPyFile(str(tmp_path / f"{zip_mod}.zip"))

    def import_added(batches):
        import importlib

        values = [importlib.import_module(m).VALUE for m in (py_mod, zip_mod)]
        for pdf in batches:
            yield pdf.assign(values="+".join(values))

    rows = frame.mapInPandas(import_added, "id long, values string").collect()
    assert [r["values"] for r in rows] == ["py+zip"] * 4


def test_get_spark_sets_the_daemon_module_for_local_masters(spark,
                                                            monkeypatch):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON
    # the options each master would start a session with
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    for master, local in [("local", True), ("local[*]", True),
                          ("local[2,3]", True),
                          ("local-cluster[2,1,1024]", False),
                          ("spark://host:7077", False), ("yarn", False)]:
        options = get_spark(master=master)
        assert (options.get("spark.python.daemon.module") == DAEMON) == local


def test_importing_the_collector_loads_neither_pyspark_nor_pandas():
    code = (
        "import sys\n"
        "import polymarket_data_ingestor_spark.streaming.collector\n"
        "print(sorted(m for m in ('pyspark', 'pandas') if m in sys.modules))\n"
        "import polymarket_data_ingestor_spark as pkg\n"
        "from polymarket_data_ingestor_spark import streaming\n"
        "assert callable(pkg.get_spark)\n"
        "assert all(getattr(streaming, n) for n in streaming.__all__)\n"
    )
    root = Path(__file__).resolve().parents[1]
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, check=True)
    assert out.stdout.splitlines()[0] == "[]"
