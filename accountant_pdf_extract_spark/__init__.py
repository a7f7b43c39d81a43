"""accountant_pdf_extract_spark — a from-scratch PySpark-native
main-content extraction engine for interleaved text + media documents.

Capability surface derived from the reference
``weversonbarbieri/accountant_pdf_extract`` (which ships no code —
``/root/reference/README.md:1`` is its entire content) as distilled by
the driver spec (``/root/repo/BASELINE.json``): decode interleaved
spans in vectorized Arrow batches, layout-parse PDF byte streams,
strip HTML boilerplate, strip repeated headers/footers, extract
accounting fields with regex/anchor rules, carry media spans through,
emit per-document ordered spans — all with the PySpark DataFrame API
plus pandas/Arrow UDFs (never per-row Python UDFs).
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _stat_checked_zip_invalidation(version_info=sys.version_info) -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when its ``(st_mtime_ns, st_size, st_ino)`` changed.

    pyspark's worker calls ``importlib.invalidate_caches()`` per task;
    before CPython 3.13 that eagerly re-reads ``pyspark.zip`` once per
    zipimporter (~0.26 worker CPU-s per task).  Cloudpickle imports
    this package in the worker before any engine UDF runs, so every
    task after a worker's first skips the re-read.  A failed ``stat``
    falls back to the stdlib method (a deleted archive empties its
    cache)."""
    if version_info >= (3, 13):  # 3.13 drops the cache and re-reads lazily
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_checked_zip_invalidation()
