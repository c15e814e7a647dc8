"""The Python worker daemon that re-reads a zip archive only when it changed
(``parquet_importer_spark/worker_daemon/zipcache_daemon.py``).

Three pins: a task of the test session re-reads no archive when it calls
``importlib.invalidate_caches()``; in-process, a rewritten zip is still
re-read while an unchanged one is not; and ``get_spark`` sets the daemon
for local masters only.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from parquet_importer_spark import session
from parquet_importer_spark.session import get_spark

_spec = importlib.util.spec_from_file_location(
    "zipcache_daemon", os.path.join(session._DAEMON_DIR, "zipcache_daemon.py")
)
zipcache_daemon = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(zipcache_daemon)


def _count_reads(_):
    import importlib
    import zipimport

    read = zipimport._read_directory
    archives = []

    def counting(archive):
        archives.append(archive)
        return read(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    yield len(archives)


def test_task_rereads_no_unchanged_archive(spark):
    # under PySpark's own daemon each count is 16: every zip importer of
    # a reused worker re-reads its archive
    sc = spark.sparkContext
    counts = sc.parallelize(range(4), 4).mapPartitions(_count_reads).collect()
    assert counts == [0, 0, 0, 0]


def _write_zip(path, source: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("zipcache_probe.py", source)
    os.replace(tmp, path)


def test_refresh_only_when_the_archive_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(zipcache_daemon, "_read_as", {})
    monkeypatch.setattr(zipimport, "_read_directory", zipcache_daemon.read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipcache_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipcache_probe", raising=False)
    assert importlib.import_module("zipcache_probe").VALUE == 1

    reads = []
    wrapped = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return wrapped(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, "VALUE = 'rewritten'\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    del sys.modules["zipcache_probe"]
    assert importlib.import_module("zipcache_probe").VALUE == "rewritten"
    del sys.modules["zipcache_probe"]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _builder_options(monkeypatch, master: str) -> dict:
    monkeypatch.setenv("SPARK_MASTER", master)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self._options)
    return get_spark("options")


@pytest.mark.parametrize("master", ["spark://nowhere:7077", "yarn", "local-cluster[2,1,1024]"])
def test_cluster_masters_keep_pysparks_daemon(monkeypatch, master):
    opts = _builder_options(monkeypatch, master)
    assert opts["spark.master"] == master
    assert "spark.python.daemon.module" not in opts
    assert "spark.executorEnv.PYTHONPATH" not in opts


@pytest.mark.parametrize("master", ["local", "local[3]", "local[4,2]"])
def test_local_masters_get_the_daemon(monkeypatch, master):
    opts = _builder_options(monkeypatch, master)
    assert opts["spark.python.daemon.module"] == "zipcache_daemon"
    daemon_dir = opts["spark.executorEnv.PYTHONPATH"]
    assert sorted(os.listdir(daemon_dir)) in (
        ["zipcache_daemon.py"],
        ["__pycache__", "zipcache_daemon.py"],
    )
