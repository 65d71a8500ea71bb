"""One-time setup of a PySpark Python worker process that imports the engine.

PySpark 4.1 charges every Python task two fixed costs that have nothing to
do with the task itself; on the engine's paths they outweigh the Arrow
decode the task is there for:

* ``pyspark/worker_util.py::setup_spark_files`` calls
  ``importlib.invalidate_caches()`` at the start of every task. Before
  Python 3.12 each zip importer on the worker's ``sys.path`` (pyspark.zip
  and its sub-packages, the py4j zip, the spark-core jar) then re-reads its
  archive's central directory on the spot. CPython 3.12 made this lazy
  (gh-103200): invalidation drops the cached directory, and the next lookup
  in that archive reads it again. :func:`lazy_zip_invalidation` backports it.
* ``pyspark/daemon.py`` runs ``gc.collect()`` after every reused task, over
  every object the worker's imports left tracked. ``gc.freeze()`` moves them
  to the permanent generation, so that collection walks the task's own
  objects only.

:func:`setup` does both, once per process, and only in a PySpark worker (the
driver's ``zipimport`` and ``gc`` are left alone). ``miru_spark/__init__.py``
calls it, so it runs the first time a task unpickles engine code — after that
task's ``setup_spark_files``, which therefore still pays one eager
invalidation. The freeze waits for the end of the first full collection, the
daemon's after that first task, so that it also covers the modules the task
imported after this one.
"""

from __future__ import annotations

import gc
import sys
import zipimport

_done = False


def _zip_files(self) -> dict:
    """``zipimporter._files`` read through the shared directory cache: an
    archive whose entry was dropped is read again here, at its next lookup."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _drop_zip_directory(self) -> None:
    """``zipimporter.invalidate_caches`` as of CPython 3.12: forget the
    archive's directory; read nothing now."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy on Python < 3.12, for every
    zip importer in the process, existing ones included."""
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    # ``__init__`` fills the directory cache before it assigns ``_files``,
    # so the property's setter has nothing to keep
    cls._files = property(_zip_files, lambda self, files: None)
    cls.invalidate_caches = _drop_zip_directory


def _freeze_after_full_collection(phase: str, info: dict) -> None:
    """One-shot ``gc.callbacks`` hook: freeze what survived the first full
    (generation 2) collection, then unregister."""
    if phase == "stop" and info["generation"] == 2:
        gc.callbacks.remove(_freeze_after_full_collection)
        gc.freeze()


def _on_worker() -> bool:
    from pyspark.core.files import SparkFiles

    return SparkFiles._is_running_on_worker


def setup() -> None:
    """Install both parts in a PySpark worker process; a no-op anywhere else
    and on every call after the first."""
    global _done
    if _done or not _on_worker():
        return
    _done = True
    lazy_zip_invalidation()
    gc.callbacks.append(_freeze_after_full_collection)
