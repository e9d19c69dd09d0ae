"""Python worker daemon that stops every task from re-reading zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``).  On CPython
3.10 / 3.11 that makes every ``zipimporter`` on ``sys.path`` re-parse its
archive's central directory in pure Python, eagerly (CPython 3.12 made it
lazy, gh-103200).  A worker's ``sys.path`` holds ``pyspark.zip`` and
``spark-core_2.13-*.jar`` (37 MB, 5,359 entries, no ``.py`` file), with
several importers pointing into each, so a reused worker spent 0.15-0.2 s
of every task re-reading archives that had not changed.

At import this module wraps ``zipimport.zipimporter.invalidate_caches`` so
that an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the last read by that importer.  An
archive rewritten on disk is still re-read, so import semantics are kept;
on 3.12+ the check is equally correct and just as cheap.  The workers the
daemon forks inherit the wrapper.

Run as ``python -m faisssearcher_spark._daemon`` (Spark's
``spark.python.daemon.module``), it then hands over to
``pyspark.daemon.manager()``.  It imports only the standard library before
that: no numpy, pandas or operator module is loaded before the fork.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed since its last read."""
    try:
        st = os.stat(self.archive)
        stamp = st.st_mtime_ns, st.st_size
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    # Stat before reading: an archive rewritten in between keeps the older
    # stamp, so the next call reads it again.
    _original_invalidate_caches(self)
    self._read_stamp = stamp


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``.  Import it under its
    # package name, so the module that owns the wrapper reports its real
    # name, then hand over to PySpark's daemon.
    from faisssearcher_spark import _daemon  # noqa: F401
    from pyspark import daemon

    daemon.manager()
else:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
