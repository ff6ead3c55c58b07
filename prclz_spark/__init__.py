"""prclz-spark: from-scratch PySpark-native spatial analytics engine.

Reproduces the semantics of `mansueto-institute/prclz` (see SURVEY.md) on an
idiomatic Spark architecture: WKB geometry columns, cover-cell equi-joins,
ring-expansion kNN, grouped Arrow geometry/graph kernels, lineage ledger.
"""

import sys

__version__ = "0.1.0"


def _stat_zip_invalidation() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive's central
    directory only when the file's (st_mtime_ns, st_size) changed since its
    last read.

    PySpark's worker calls `importlib.invalidate_caches()` before every
    task. On CPython < 3.12 each zipimporter then re-reads its archive: a
    worker holds about 16 of them on pyspark.zip (1,328 entries, ~11 ms a
    read), about 170 ms of CPU per task. CPython 3.12 made the call lazy."""
    import os
    import zipimport

    read_directory, invalidate = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    stamps: dict = {}

    def stamp(path: str):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def stamped_read(path):
        st = stamp(path)  # taken first: a write during the read re-reads next time
        files = read_directory(path)
        stamps[path] = st
        return files

    def invalidate_caches(self):
        st = stamp(self.archive)
        if st is None or stamps.get(self.archive) != st:
            invalidate(self)
        else:  # unchanged; another importer of the archive may have re-read it
            self._files = zipimport._zip_directory_cache.get(self.archive, self._files)

    zipimport._read_directory = stamped_read
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _stat_zip_invalidation()
