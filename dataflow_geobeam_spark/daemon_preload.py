"""PySpark worker daemon that warms what every forked worker would redo.

PySpark's daemon forks one worker per task slot, and a fork inherits the
daemon's imports and caches for free. This module runs as the daemon
(``spark.python.daemon.module=dataflow_geobeam_spark.daemon_preload``, set
by ``session.get_spark``) and, before the first fork:

* **Preloads numpy, pandas, pyarrow and the engine's codecs.** Workers
  otherwise import them lazily after forking; 8+ workers importing pandas
  at once at the start of a streaming query cost 20-60 s on a host with
  heavy CPU steal.
* **Gates the zip importers' directory re-read.** Every Python task runs
  pyspark's ``worker_util.setup_spark_files``, which calls
  ``importlib.invalidate_caches()``. On CPython < 3.12,
  ``zipimport.zipimporter.invalidate_caches`` then re-reads the archive's
  whole central directory, once per cached zip importer: 14-17 of them in
  a worker (the ``pyspark.zip`` root, its sub-packages and py4j), and
  ``pyspark.zip`` holds 1,328 entries in 3.5 MB. On CPython 3.11.7 (4
  vCPUs) that cost a median 0.26-0.35 CPU-s per task: 14-16.5 CPU-s of a
  ``live_join`` benchmark run, whose measured phase used 17-20 Python CPU-s.
  Here an importer re-reads only when its archive's
  ``(st_mtime_ns, st_size)`` changed since the last read in this process,
  and one ``invalidate_caches()`` before forking records every archive, so
  the call costs ~0.4 ms per task. Zips shipped with
  ``addPyFile`` / ``--py-files`` are new path entries and still load; a
  rewritten archive is still read again. CPython 3.12 made the re-read
  lazy, so there the importers are left as they are.
"""

# ruff: noqa: F401, E402
import os

# One task slot == one core: pin the BLAS pools BEFORE numpy loads OpenBLAS
# (it reads these at library init). Without this every forked worker spawns
# an nproc-wide OpenBLAS pool, so local[2] silently uses the whole machine
# for matmul kernels (wrecking any scaling measurement) and the thread
# thrash is a measured 3x SLOWDOWN on this oversubscribed host. On a real
# cluster this matches how executors are provisioned (1 core per task).
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

import importlib
import sys
import zipimport

import numpy
import pandas
import pyarrow

try:  # engine decode deps (leaf module, cheap once numpy is loaded)
    from dataflow_geobeam_spark import codecs
except Exception:  # pragma: no cover - engine not on PYTHONPATH: still useful
    pass

from pyspark.daemon import manager

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_read_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive is unchanged."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files  # another importer of this archive may have re-read it
        return
    _reread(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    importlib.invalidate_caches()  # record every archive once, before forking
    manager()
