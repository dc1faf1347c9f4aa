"""PySpark worker daemon that pays Python's fixed per-worker and
per-task costs once.

Python workers fork from the daemon process, so everything done here
is inherited copy-on-write by every worker for free:

* **Heavyweight imports** (numpy, pandas, pyarrow, the Arrow
  serializers and the engine's kernels).  Without them the FIRST task
  wave of any Arrow/pandas UDF stage pays ``import pandas`` +
  ``import pyarrow`` once per worker — measured ~7 s at local[32] on
  the bench image pipeline's signature stage (OPTIMIZATION_r07.md).

* **The zip directory re-read on every task.**  Before each task,
  PySpark's ``worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``.  On Python < 3.12 every cached
  ``zipimporter`` then re-parses the whole central directory of its
  archive — for ``pyspark.zip`` (1328 entries) that is one ~10 ms
  parse per zip sub-package importer, about 0.15-0.2 CPU-s per Python
  task on a 4-vCPU host, more than a small Arrow UDF task's own work.
  ``lazy_zip_invalidate`` makes the re-read conditional on the archive
  having changed on disk, which is what the call is for (CPython 3.12
  made the re-read lazy, gh-103200, so the fix is skipped there).

Wired in session.py via ``spark.python.daemon.module``; the module
resolves exactly like the engine package itself (workers run with the
driver's cwd on local mode, and on a cluster the package ships with
the job).  ``build_session(extra_conf={"spark.python.daemon.module":
"pyspark.daemon"})`` runs the stock daemon and so turns both fixes off.
Import failures fall through to a bare daemon rather than breaking
worker spawn — preloading is an optimization, never a correctness
dependency.
"""

from __future__ import annotations

import importlib
import os
import sys
import traceback
import zipimport

try:  # heavyweight third-party deps used by every Arrow-batched kernel
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
except Exception:  # pragma: no cover - missing optional dep on a worker
    pass

try:  # serializer machinery the worker would import on first task
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401
except Exception:  # pragma: no cover
    pass

try:  # the engine's own kernel modules (numpy hashing, similarity)
    import deduplication_and_compression_spark.functions.hashing  # noqa: F401
    import deduplication_and_compression_spark.functions.text  # noqa: F401
except Exception:  # pragma: no cover - package not importable on worker
    pass

from pyspark.daemon import manager

# archive path -> (st_mtime_ns, st_size) at which the directory now in
# zipimport._zip_directory_cache was read by lazy_zip_invalidate.
# Process-wide, like the zipimport cache it describes.
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def lazy_zip_invalidate(reread):
    """Wrap ``zipimporter.invalidate_caches`` (``reread``) so that it
    re-reads the archive's directory only when the archive's
    ``(st_mtime_ns, st_size)`` differs from the one this importer last
    read it at.  All importers of one archive share one directory
    (as zipimport itself does at construction), so an archive is
    parsed once per change, not once per sub-package importer.  A
    missing archive always goes to ``reread``, which clears it."""

    def invalidate_caches(self) -> None:
        now = _stamp(self.archive)
        if now is not None:
            if getattr(self, "_read_stamp", None) == now:
                return
            cached = zipimport._zip_directory_cache.get(self.archive)
            if cached is not None and _read_stamps.get(self.archive) == now:
                self._files, self._read_stamp = cached, now
                return
        reread(self)
        self._read_stamp = now
        if now is not None and self.archive in zipimport._zip_directory_cache:
            _read_stamps[self.archive] = now

    invalidate_caches.lazy_zip_invalidate = True
    return invalidate_caches


def install_lazy_zip_invalidate() -> None:
    """Patch ``zipimporter.invalidate_caches`` on Python < 3.12 and
    stamp the importers that already exist, so forked workers inherit
    them fresh."""
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    cls.invalidate_caches = lazy_zip_invalidate(cls.invalidate_caches)
    importlib.invalidate_caches()


if __name__ == "__main__":
    try:
        install_lazy_zip_invalidate()
    except Exception:  # pragma: no cover - never break worker spawn
        traceback.print_exc()  # stderr: the daemon's stdout is its port
    manager()
