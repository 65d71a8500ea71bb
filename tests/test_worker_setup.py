"""The Python-worker setup of ``miru_spark.worker``: zip importers that
drop their directory on invalidation and re-read it at the next lookup,
and a frozen import-time heap, both only inside PySpark workers."""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipfile
import zipimport

from miru_spark import worker as W


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_driver_process_is_left_alone():
    assert not W._done
    assert zipimport.zipimporter.invalidate_caches is not W._drop_zip_directory
    assert W._freeze_after_full_collection not in gc.callbacks


def test_invalidation_rereads_archive_at_next_lookup(tmp_path, monkeypatch):
    """A module added to an archive after a first import from it imports
    after ``importlib.invalidate_caches()``, and the archive's directory is
    read at that lookup, not during the invalidation."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(cls, "_files", None, raising=False)
    W.lazy_zip_invalidation()

    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, {"miru_zip_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(arc)
    monkeypatch.delitem(sys.path_importer_cache, arc, raising=False)
    try:
        assert importlib.import_module("miru_zip_probe_a").X == 1
        _write_zip(
            arc, {"miru_zip_probe_a": "X = 1\n", "miru_zip_probe_b": "Y = 2\n"}
        )
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
        )
        importlib.invalidate_caches()
        assert reads == []
        assert importlib.import_module("miru_zip_probe_b").Y == 2
        assert reads == [arc]
    finally:
        for name in ("miru_zip_probe_a", "miru_zip_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(arc, None)
        zipimport._zip_directory_cache.pop(arc, None)


def test_worker_after_engine_task_is_set_up(spark):
    """A task that imports the engine sets its worker up; a later task on
    the same reused worker, which imports nothing of the engine, finds
    the lazy invalidation and a frozen heap (the daemon's full collection
    after the first task froze it)."""

    def engine_task(it):
        import os

        import pyarrow as pa

        import miru_spark  # noqa: F401

        for b in it:
            yield pa.RecordBatch.from_pydict({"pid": [os.getpid()] * b.num_rows})

    def probe(it):
        import gc
        import os
        import sys
        import zipimport

        import pyarrow as pa

        w = sys.modules.get("miru_spark.worker")
        lazy = (
            w is not None
            and zipimport.zipimporter.invalidate_caches is w._drop_zip_directory
        )
        for b in it:
            n = b.num_rows
            yield pa.RecordBatch.from_pydict({
                "pid": [os.getpid()] * n,
                "lazy": [lazy] * n,
                "frozen": [gc.get_freeze_count()] * n,
            })

    n = spark.sparkContext.defaultParallelism
    engine_pids = {
        r.pid
        for r in spark.range(n, numPartitions=n)
        .mapInArrow(engine_task, "pid long")
        .collect()
    }
    seen = []
    for _ in range(5):  # idle workers are handed out in no fixed order
        rows = (
            spark.range(n, numPartitions=n)
            .mapInArrow(probe, "pid long, lazy boolean, frozen long")
            .collect()
        )
        seen += [r for r in rows if r.pid in engine_pids]
        if seen:
            break
    assert seen, "no probe task ran on a worker that ran the engine task"
    for r in seen:
        assert r.lazy is (sys.version_info < (3, 12))
        assert r.frozen > 0
