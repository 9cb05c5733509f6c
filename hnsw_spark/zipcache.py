"""Stop PySpark Python workers from re-reading zip archives on every task.

A reused PySpark worker (PySpark 4.1) ends each task's ``setup_spark_files``
with ``importlib.invalidate_caches()``.  On Python 3.11 that makes every
cached ``zipimporter`` re-read its archive's central directory — one
importer per imported subpackage, so ``pyspark.zip`` (≈1,300 entries) is
read a dozen times per task, and the ``spark-core`` jar Spark puts on the
worker path (≈5,400 entries) once more.  Profiled at ≈0.22 CPU-s per
Python-UDF task before any library code runs.

``install`` wraps ``zipimport.zipimporter.invalidate_caches`` so that an
archive is re-read only when its (mtime, size, inode) stamp has changed
since this process last read it; an unchanged archive keeps its directory
listing.  Semantics stay those of the stdlib: a rewritten archive is still
re-read (and every importer of it picks up the new listing), and a new
archive still gets a new importer.  The package installs it on import only
inside a PySpark worker process; the driver is never patched.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches
# archive path → stamp it had when this process last read its directory;
# process-wide, like the stdlib's ``_zip_directory_cache`` it guards
_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _STAMPS.get(self.archive) == stamp:
        # unchanged since the last read: share that listing, which another
        # importer of the same archive may have refreshed after this one
        self._files = cached
        return
    _ORIGINAL(self)
    # stamp taken BEFORE the read: a rewrite racing the read leaves an older
    # stamp, so the next call re-reads again
    if stamp is None:
        _STAMPS.pop(self.archive, None)
    else:
        _STAMPS[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def active() -> bool:
    """True when this process runs with the patch installed."""
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed


def in_pyspark_worker() -> bool:
    """True inside a PySpark Python worker: its task set-up marks
    ``SparkFiles`` as running on a worker before any UDF is unpickled."""
    files = sys.modules.get("pyspark.core.files")
    return bool(files is not None and getattr(files.SparkFiles, "_is_running_on_worker", False))
