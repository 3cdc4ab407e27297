"""The Python worker daemon (firmwarescraper_spark/daemon.py) and the rule
``session.get_spark`` selects it by: the stat guard on zip archives, its
behaviour in the shared session's workers, the PySpark internals it rests
on, and a ``spark-submit --py-files`` deployment where PySpark's own daemon
must stay."""

from __future__ import annotations

import importlib
import inspect
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark

from firmwarescraper_spark import daemon as D
from firmwarescraper_spark import session as S

PACKAGE = os.path.dirname(os.path.abspath(D.__file__))
REPO = os.path.dirname(PACKAGE)
KEY = "spark.python.daemon.module"


def _write_zip(path, modules: dict):
    """Replace ``path`` with an archive of ``modules`` (name -> source)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


# -- the guard, in this process ------------------------------------------------

def test_guard_rereads_a_rewritten_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        D.guarded_invalidate_caches)
    archive = tmp_path / "fw_guard_new.zip"
    _write_zip(archive, {"fw_guard_first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("fw_guard_first").X == 1
        importlib.invalidate_caches()  # records the archive's key
        _write_zip(archive, {"fw_guard_first.py": "X = 1\n",
                             "fw_guard_second.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("fw_guard_second").Y == 2
    finally:
        for name in ("fw_guard_first", "fw_guard_second"):
            sys.modules.pop(name, None)


def test_guard_skips_an_unchanged_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        D.guarded_invalidate_caches)
    archive = tmp_path / "fw_guard_same.zip"
    _write_zip(archive, {"fw_guard_same.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("fw_guard_same").X == 1
        importlib.invalidate_caches()
        files = zipimport._zip_directory_cache[str(archive)]
        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda path: reads.append(path) or read(path))
        importlib.invalidate_caches()
        assert str(archive) not in reads
        assert zipimport._zip_directory_cache[str(archive)] is files
    finally:
        sys.modules.pop("fw_guard_same", None)


def test_pyspark_worker_contract():
    """What the daemon module rests on. A PySpark or Python upgrade that
    changes any of it fails here, not in the middle of a crawl."""
    from pyspark import daemon, worker_util

    assert "importlib.invalidate_caches()" in inspect.getsource(
        worker_util.setup_spark_files)
    assert callable(daemon.manager)
    assert callable(zipimport.zipimporter.invalidate_caches)
    assert isinstance(zipimport._zip_directory_cache, dict)
    assert callable(zipimport._read_directory)
    importer = zipimport.zipimporter(os.path.join(
        os.path.dirname(pyspark.__file__), "python", "lib", "pyspark.zip"))
    assert isinstance(importer._files, dict) and importer.archive


# -- selection -------------------------------------------------------------------

def test_daemon_selection_rule(spark, tmp_path, monkeypatch):
    # the test session runs from the checkout root, the package's parent
    assert spark.sparkContext.getConf().get(KEY) == S.DAEMON_MODULE
    # perfbench's layout: the checkout root on PYTHONPATH, any cwd
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", REPO)
    assert S.daemon_conf("local[2]") == {KEY: S.DAEMON_MODULE}
    assert S.daemon_conf("spark://master:7077") == {}
    # a package loaded from a zip, even with the zip on PYTHONPATH
    pkg = tmp_path / "pkg.zip"
    monkeypatch.setenv("PYTHONPATH", str(pkg))
    assert S.daemon_conf("local[2]", str(pkg / "firmwarescraper_spark")) == {}
    # the package's parent on no start-up path of the daemon
    monkeypatch.delenv("PYTHONPATH")
    assert S.daemon_conf("local[2]") == {}
    # extra_conf overrides the selection, as every other setting
    monkeypatch.chdir(REPO)
    assert S.session_conf("local[2]")[KEY] == S.DAEMON_MODULE
    conf = S.session_conf("local[2]", extra_conf={KEY: "pyspark.daemon"})
    assert conf[KEY] == "pyspark.daemon"


# -- the shared session's workers ------------------------------------------------

def test_reused_worker_keeps_archive_directory(spark):
    """A reused worker's next task sees the same directory dict of
    pyspark.zip as its first: the archive is not re-read per task."""

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        files = [v for k, v in zipimport._zip_directory_cache.items()
                 if k.endswith("pyspark.zip")]
        prev = getattr(zipimport, "_fw_probe_files", None)
        if files:
            zipimport._fw_probe_files = files[0]
        yield pd.DataFrame({
            "found": [bool(files)],
            "same": [None if prev is None or not files else prev is files[0]],
        })

    # more single-task partitions than cores: later tasks reuse workers
    rows = spark.range(0, 32, 1, 32).mapInPandas(
        probe, "found boolean, same boolean").collect()
    assert all(r["found"] for r in rows)
    reused = [r["same"] for r in rows if r["same"] is not None]
    assert reused and all(reused), reused


def test_py_files_added_after_first_task_import(spark, tmp_path):
    sc = spark.sparkContext

    def count(batches):
        for b in batches:
            yield pd.DataFrame({"n": [len(b)]})

    assert spark.range(0, 8, 1, 4).mapInPandas(count, "n long").count() == 4
    module = tmp_path / "fw_late_module.py"
    module.write_text("VALUE = 40\n")
    archive = tmp_path / "fw_late_archive.zip"
    _write_zip(archive, {"fw_late_zipped.py": "VALUE = 2\n"})
    sc.addPyFile(str(module))
    sc.addPyFile(str(archive))

    def late(batches):
        import fw_late_module
        import fw_late_zipped

        for b in batches:
            yield pd.DataFrame(
                {"v": [fw_late_module.VALUE + fw_late_zipped.VALUE] * len(b)})

    got = spark.range(0, 8, 1, 4).mapInPandas(late, "v long").collect()
    assert [r["v"] for r in got] == [42] * 8


# -- a --py-files deployment -----------------------------------------------------

APP = """\
import pandas as pd
from pyspark.sql import functions as F

from firmwarescraper_spark.session import get_spark

spark = get_spark(app_name="py-files", master="local[2]", shuffle_partitions=2)


@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1


rows = sorted(r[0] for r in spark.range(1, 3).select(plus_one("id")).collect())
daemon = spark.sparkContext.getConf().get("spark.python.daemon.module", None)
print(f"daemon={daemon} rows={rows}")
spark.stop()
"""


def test_py_files_submit_keeps_pyspark_daemon(tmp_path):
    """The package shipped as a zip with ``--py-files`` is not importable
    by the daemon, which starts before the zip is unpacked: ``get_spark``
    must keep PySpark's daemon, and the app's Python tasks succeed."""
    pkg = tmp_path / "pkg.zip"
    with zipfile.ZipFile(pkg, "w") as z:
        for root, _, files in os.walk(PACKAGE):
            for name in files:
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, REPO))
    (tmp_path / "app.py").write_text(APP)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", str(pkg), "app.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "daemon=None rows=[2, 3]" in out.stdout, out.stdout[-2000:]
