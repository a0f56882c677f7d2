"""The engine's Python worker daemon: sessions select it, its workers do
not re-read unchanged zip archives when a task invalidates the import
caches, and a zip that changed on disk is still re-read."""

from __future__ import annotations

import gc
import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa

from synthea_etl_spark import worker_daemon
from synthea_etl_spark.session import _session_conf

DAEMON = "spark.python.daemon.module"


def test_sessions_select_the_engine_daemon():
    assert _session_conf("local[4]")[DAEMON] == "synthea_etl_spark.worker_daemon"
    stock = _session_conf("local[4]", extra_conf={DAEMON: "pyspark.daemon"})
    assert stock[DAEMON] == "pyspark.daemon"


def test_tasks_do_not_reread_zips(spark):
    # One row per task: zip directory reads in one cache invalidation
    # (``setup_spark_files`` makes one for every task), and how many
    # objects the daemon froze. Nested, so cloudpickle ships it by value
    # to workers that cannot import this test module.
    def count_rereads(batches):
        stock, n = zipimport._read_directory, [0]

        def counted(path):
            n[0] += 1
            return stock(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [n[0]], "frozen": [gc.get_freeze_count()]})

    rows = spark.range(0, 4, 1, 4).mapInArrow(count_rereads, "reads long, frozen long").collect()
    assert [r.reads for r in rows] == [0, 0, 0, 0]  # 16 each under pyspark.daemon
    assert all(r.frozen > 0 for r in rows)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_changed_zip_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zipmod_a"])
    reads = []
    stock = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return stock(path)

    monkeypatch.setattr(worker_daemon, "_read_at", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches)
    monkeypatch.setattr(zipimport, "_read_directory", counted)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zipmod_a").NAME == "zipmod_a"
        importlib.invalidate_caches()  # first sight of the archive: read it once
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads
        _write_zip(archive, ["zipmod_a", "zipmod_b"])  # new size
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zipmod_b").NAME == "zipmod_b"
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zipmod_a", "zipmod_b"):
            sys.modules.pop(name, None)
