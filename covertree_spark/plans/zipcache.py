"""Re-read a zip archive's directory on import-cache invalidation only
when the archive changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py``, ``setup_spark_files``)
so that files shipped with ``addPyFile`` become importable. On CPython
3.11 every cached ``zipimport.zipimporter`` then re-parses the whole
central directory of its archive, whether or not the file changed. A
worker holds a dozen importers over ``pyspark.zip`` (one per imported
package directory; the archive has ~1,300 entries) and two over the
spark-core jar (~5,400 entries), so each task pays 0.2-0.7 s of parsing
before its UDF runs — several times the kernel time of a small task.

``apply_zip_cache_check()`` keeps the invalidation contract and drops
the redundant work:

* every directory read records the archive's signature
  ``(st_ino, st_size, st_mtime_ns)``, taken by ``stat`` BEFORE the
  read;
* ``zipimporter.invalidate_caches`` stats the archive and, when the
  signature equals the recorded one, adopts the directory zipimport
  itself cached for that archive (``_zip_directory_cache``, which
  every read refreshes) instead of re-reading it. Any other outcome
  (no record, a replaced or rewritten archive, a missing file, no
  cached directory) runs the original method.

Stat-before-read means an archive rewritten during a read records the
old signature, so the next invalidation reads it again. Not detected:
an in-place rewrite that keeps the size and lands in the same file
system timestamp tick as the write before it; a replaced archive (new
inode) always is. The record is per archive, so the importers sharing
one archive share one read.

Applied at package import (``covertree_spark/__init__.py``), not via a
daemon-level ``spark.python.worker.module``: every worker imports the
package when it unpickles its first engine UDF, whichever session
started it, and the daemon would need the package importable before
``addPyFile`` ships it. Applying also refreshes the importers that
already exist, so that worker pays the re-read once there and never
again for an unchanged archive. Python versions whose zipimporter has
no eager ``_read_directory`` re-read are left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

_orig_read = getattr(zipimport, "_read_directory", None)
_orig_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> its signature when its directory was last read
_SIGNATURES: dict = {}


def _signature(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _recording_read(archive):
    sig = _signature(archive)
    files = _orig_read(archive)
    _SIGNATURES[archive] = sig
    return files


def _invalidate_caches(self):
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (sig is not None and files is not None
            and _SIGNATURES.get(self.archive) == sig):
        self._files = files
        return
    _SIGNATURES.pop(self.archive, None)
    _orig_invalidate(self)


def apply_zip_cache_check() -> bool:
    """Install the signature check in this process and refresh the
    existing zip importers once. Idempotent. Returns True when the
    check is installed."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return True
    if _orig_read is None or hasattr(zipimport.zipimporter, "_get_files"):
        return False  # no eager directory re-read to skip
    zipimport._read_directory = _recording_read
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    return True
