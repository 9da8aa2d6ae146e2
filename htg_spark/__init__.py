"""htg_spark — a PySpark-native spatial-join + tiling engine.

Re-expresses SRTM-style per-point elevation lookup (reference:
pedrosanzmtz/htg, a Rust mmap/LRU engine) as bulk raster<->vector joins over
DataFrames: geotagged image+caption rows are cell-encoded in vectorized
Arrow UDFs and joined map-side against
a tile catalog of HGT grids, with nearest/floor/bilinear kernels, kNN
nearest-tile fallback, per-partition checkpoint lineage, and exact parity
with the reference's index math and void/missing semantics.
"""

from .hgt import (  # noqa: F401
    VOID_VALUE,
    coords_to_filename,
    filename_to_lat_lon,
    is_valid_srtm_coord,
    lat_lon_to_filename,
)

__version__ = "0.2.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since that importer last read it
    (a failed ``stat`` still re-reads).

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task. Before
    CPython 3.13 each ``zipimporter`` on ``sys.path`` (pyspark.zip, its
    package sub-paths and py4j: 16 in a worker) then re-reads its whole
    archive directory, ~26,700 entries per task: 90-140 ms of CPU in an
    idle reused worker (cProfile, PySpark 4.1.2 on CPython 3.11, 4 vCPU).
    ``scripts/task_tax_probe.py`` on local[4] reads 0.24 s per wave of
    trivial Python tasks beyond the JVM's share without this, 0.06 s with
    it. 3.13 made the method lazy. The stamp keeps the refresh
    ``addPyFile`` relies on: a rewritten archive changes it. Workers run
    this when they unpickle their first ``htg_spark`` UDF, so from their
    second task on they skip the re-read. Idempotent; a no-op on 3.13+."""
    import os
    import sys
    import zipimport

    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read and stamp the importers that exist now (a worker's pyspark.zip
    # and py4j ones), so a worker's next task already skips them
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp.invalidate_caches()


_skip_unchanged_zip_rereads()
