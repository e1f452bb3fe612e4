"""Worker-turnaround tunings (core/memtune.py): the per-task
importlib.invalidate_caches() memoization and the import-graph
gc.freeze. Both are gated to pyspark worker processes; semantics
(changed archives still invalidate) are pinned here."""

import gc
import os
import sys
import zipfile
import zipimport

import pytest

from heavy_hitters_spark.core import memtune


def test_not_applied_outside_worker(monkeypatch):
    for k in ("PYTHON_WORKER_FACTORY_SECRET", "PYTHON_WORKER_FACTORY_PORT",
              "PYTHON_WORKER_FACTORY_SOCK_PATH"):
        monkeypatch.delenv(k, raising=False)
    assert not memtune._in_pyspark_worker()
    if not memtune._zip_patched:
        assert memtune.tune_zipimport_invalidate() is False
    if not memtune._gc_frozen:
        assert memtune.freeze_import_graph() is False


def test_zip_invalidate_memoized_but_change_detected(monkeypatch, tmp_path):
    """After the patch, invalidate_caches on an UNCHANGED archive skips
    the central-directory re-read; touching the archive re-reads it
    (sc.addPyFile freshness for replaced zips is preserved)."""
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "x")
    assert memtune.tune_zipimport_invalidate() is True

    zpath = tmp_path / "mod.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("zimod.py", "VALUE = 1\n")
    zi = zipimport.zipimporter(str(zpath))

    calls = {"n": 0}
    orig_read = zipimport._read_directory

    def counting_read(archive):
        calls["n"] += 1
        return orig_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    zi.invalidate_caches()  # unknown archive -> one real re-read
    assert calls["n"] == 1
    zi.invalidate_caches()  # unchanged -> memoized, no re-read
    zi.invalidate_caches()
    assert calls["n"] == 1
    with zipfile.ZipFile(zpath, "w") as z:  # replace the archive
        z.writestr("zimod.py", "VALUE = 2\n")
    os.utime(zpath, (os.path.getmtime(zpath) + 5,) * 2)
    zi.invalidate_caches()  # changed -> re-read happens
    assert calls["n"] == 2


def test_freeze_import_graph_gated_and_reversible(monkeypatch):
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "x")
    was_frozen = memtune._gc_frozen
    try:
        assert memtune.freeze_import_graph() is True
        assert gc.get_freeze_count() > 0
    finally:
        gc.unfreeze()
        memtune._gc_frozen = was_frozen


def test_tunings_reach_real_workers(spark):
    """No session config carries the tunings: a real Spark Python worker
    gets all three from importing the package, as every kernel does."""
    from heavy_hitters_spark.core import CountMin, SeedStream
    from heavy_hitters_spark.spark.fused import build_token_sketch

    docs = spark.createDataFrame([(f"a b c{i % 7}",) for i in range(64)], "text string")
    build_token_sketch(docs.repartition(2), CountMin(width=64, depth=2, seed_stream=SeedStream(1, 2)))

    def probe(batches):
        import gc as _gc
        import os as _os
        import zipimport as _zipimport

        import pyarrow as pa

        from heavy_hitters_spark.core import memtune as mt

        for _ in batches:
            pass
        patched = _zipimport.zipimporter.invalidate_caches.__module__ == mt.__name__
        yield pa.RecordBatch.from_pylist([{
            "pid": _os.getpid(),
            "malloc": mt._done,
            "zip": patched,
            "frozen": _gc.get_freeze_count(),
        }])

    rows = docs.repartition(2).mapInArrow(
        probe, "pid long, malloc boolean, zip boolean, frozen long"
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["pid"] != os.getpid()
        assert r["malloc"] and r["zip"] and r["frozen"] > 0, r
