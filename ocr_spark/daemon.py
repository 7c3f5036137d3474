"""PySpark worker daemon: preloads the heavy modules and guards zip re-reads.

Spark forks every Python worker from this daemon (workers are reused
across tasks and passes once forked).  The daemon does two things before
it forks any of them:

* **Preload.**  numpy/pandas/pyarrow, ``pyspark.worker`` and the kernel
  modules are imported here, so a freshly forked worker inherits them
  copy-on-write instead of importing them on its first task.  The
  preload is best-effort so that a module failing to import does not
  kill the daemon and with it every task: the error surfaces, with its
  traceback, in the task that needs the module.  ocr_spark itself must
  be importable, since the daemon is ``ocr_spark.daemon``;
  ``spark.executorEnv.PYTHONPATH`` names the directory or zip holding it.
* **Zip guard.**  pyspark's ``setup_spark_files`` calls
  ``importlib.invalidate_caches()`` at the start of every task.  On
  Python 3.11 ``zipimporter.invalidate_caches`` re-reads the archive's
  whole central directory at once, for every zipimporter in
  ``sys.path_importer_cache`` -- one per pyspark subpackage the worker
  imported from ``pyspark.zip``.  That is ~0.28 s of every task (12.6 ms
  per re-read of the 1328-entry archive on a 4-vCPU host).  The guard
  re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed
  since the last read, so a rewritten zip (a new ``--py-files``
  upload) is still picked up.  CPython 3.12 made the re-read lazy
  (gh-103200).

Enabled via ``spark.python.daemon.module = ocr_spark.daemon``
(``engine_configs`` in ocr_spark/session.py).
"""

import importlib
import os
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a write racing the read leaves a stale stamp,
    # which only costs one more re-read next time
    _reread(self)
    _stamps[self.archive] = stamp


def _preload() -> None:
    for mod in (
        "numpy",
        "pandas",
        "pyarrow",
        "pyspark.worker",
        "ocr_spark.core.extract",
        "ocr_spark.core.fields",
        "ocr_spark.fixtures.invoice",
    ):
        try:
            importlib.import_module(mod)
        except Exception:  # pragma: no cover - best-effort preload
            pass


if __name__ == "__main__":
    from pyspark.daemon import manager

    _preload()
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # one read per archive here, so forked workers inherit primed stamps
    importlib.invalidate_caches()
    manager()
