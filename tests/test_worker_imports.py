"""Executor-side bootstrap: the package ships once per context, and a
reused Python worker re-reads a zip's directory only when the archive
changed (``session._skip_unchanged_zip_rereads``).

The hook tests need no Spark: they build a zip under ``tmp_path``, put
it on ``sys.path`` and stand in for PySpark's per-task
``importlib.invalidate_caches()``. The worker test runs the same call
inside a real ``mapInPandas`` task.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from mapreducewordcount_spark.session import _skip_unchanged_zip_rereads
from tests.conftest import SF_SMOKE

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimport drops the cached directory without reading")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``zmod_a``, imported once; the
    class method, ``sys.path`` and ``sys.modules`` are restored after."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zmod_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zmod_a").X == 1
    yield path
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(archive, monkeypatch):
    """Every ``zipimport._read_directory`` call on ``archive``."""
    calls = []
    read = zipimport._read_directory

    def counted(path):
        if path == archive:
            calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _in_task(monkeypatch) -> None:
    monkeypatch.setattr(TaskContext, "get", lambda: object())


@before_313
def test_unchanged_archive_is_not_reread(archive, reads, monkeypatch):
    importlib.invalidate_caches()
    assert len(reads) == 1  # the unwrapped method reads on every call
    _in_task(monkeypatch)
    _skip_unchanged_zip_rereads()
    importlib.invalidate_caches()  # no stamp yet: reads once, stamps
    assert len(reads) == 2
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("zmod_a").X == 1


@before_313
def test_changed_archive_is_reread(archive, reads, monkeypatch):
    _in_task(monkeypatch)
    _skip_unchanged_zip_rereads()
    importlib.invalidate_caches()
    _write_zip(archive, {"zmod_a": "X = 1\n",
                         "zmod_b": "Y = 'added later'\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("zmod_b").Y == "added later"


@before_313
def test_missing_archive_is_reread(archive, reads, monkeypatch):
    _in_task(monkeypatch)
    _skip_unchanged_zip_rereads()
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 3  # a failed stat never keeps the cache
    assert sys.path_importer_cache[archive]._files == {}


def test_not_installed_on_the_driver(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        original)
    monkeypatch.setattr(TaskContext, "get", lambda: None)
    _skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is original


def test_not_installed_from_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        original)
    _in_task(monkeypatch)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is original


@before_313
def test_installing_twice_wraps_once(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        original)
    _in_task(monkeypatch)
    _skip_unchanged_zip_rereads()
    hooked = zipimport.zipimporter.invalidate_caches
    _skip_unchanged_zip_rereads()
    assert hooked is not original
    assert zipimport.zipimporter.invalidate_caches is hooked


@before_313
def test_worker_rereads_no_unchanged_zip(spark):
    """Inside a task, once the package is imported, PySpark's per-task
    ``invalidate_caches()`` reads no zip directory; without the hook
    it re-reads every zipimporter's archive (Spark's jar, pyspark.zip,
    the shipped package)."""

    def count_reads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import mapreducewordcount_spark  # noqa: F401

        for _ in batches:
            pass
        # in a worker's first engine task nothing is stamped yet
        importlib.invalidate_caches()
        read, calls = zipimport._read_directory, []

        def counted(path):
            calls.append(path)
            return read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"importers": [importers],
                            "reads": [len(calls)]})

    rows = (spark.range(2, numPartitions=2)
            .mapInPandas(count_reads, "importers long, reads long")
            .collect())
    assert len(rows) == 2
    for r in rows:
        assert r.importers > 0, "no zip on the worker path to test"
        assert r.reads == 0


def test_package_ships_once_per_context(spark):
    from mapreducewordcount_spark.session import get_spark
    from mapreducewordcount_spark.sources.tables import load_table

    assert get_spark("mapreducewordcount_spark-tests") is spark
    load_table(spark, SF_SMOKE, "region")
    load_table(spark, SF_SMOKE, "nation")
    shipped = [p for p in spark.sparkContext._python_includes
               if p.startswith("mapreducewordcount_spark-")]
    assert len(shipped) == 1, spark.sparkContext._python_includes


def test_package_zip_removed_at_exit(tmp_path):
    """The zip ``get_spark`` ships lives in the temp dir only while the
    process that wrote it runs: nothing is left behind at its exit."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import glob, os, tempfile\n"
        "from mapreducewordcount_spark.session import get_spark\n"
        "get_spark('zip-leak')\n"
        "print(len(glob.glob(os.path.join(tempfile.gettempdir(), '**',"
        " 'mapreducewordcount_spark-*.zip'), recursive=True)))\n")
    env = {**os.environ, "TMPDIR": str(tmp_path),
           "PYTHONPATH": os.pathsep.join(
               [repo, os.environ.get("PYTHONPATH", "")])}
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "1"  # shipped from here
    assert list(tmp_path.rglob("mapreducewordcount_spark-*.zip")) == []
