"""gis_scripts_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the capabilities of the reference repo ``cankanoa/gis-scripts``
(single-machine GDAL/rasterio utility scripts) as an idiomatic Spark engine:

- cell indexing (grid / quadkey / XYZ / S2) as pure Column math + vectorized
  pandas UDFs (``gis_scripts_spark.index``)
- cell-keyed broadcast and shuffle-hash point-in-polygon joins
  (``operators.pip_join``; reference semantics: zonal join,
  ``Assess_Agreement.R:45-57``)
- deterministic raster<->vector tile assignment (``operators.tile_assign``;
  reference: block grid ``local_match.py:508-542``)
- block-grid aggregation, mean-of-means (``operators.grid_agg``;
  reference: ``local_match.py:263-392``)
- grid-partitioned kNN with cell-ring expansion (``operators.knn``)
- pairwise bbox overlap join (``operators.overlap_join``; reference:
  ``global_match.py:61-198``)
- pixel kernels over image bytes via Arrow-batched pandas UDFs
  (``raster.ops``; reference: per-band numpy kernels)
- snapshot-checkpointed parquet tables with lineage metrics
  (``sources.snaptable``)

Everything here is built from public knowledge only: the PySpark API, the
reference repo's observable semantics, and published algorithms (S2 cell
ids, slippy-map tiles, WKB, MinHash/SimHash).
"""

import sys

__version__ = "0.1.0"


def _lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy, as CPython 3.13 does.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task. Before 3.13 that makes each cached ``zipimporter`` re-read its
    archive's central directory at once: 16 of them share pyspark.zip
    (1,328 entries), which cost about 0.2 s of CPU per task on a 4-core
    host. Here an invalidate only drops the archive from the shared
    per-archive cache, and ``_files`` re-reads it on the next lookup, once
    per archive. Every UDF of the engine unpickles by importing this
    package, so a reused worker runs its later tasks without the re-reads.
    ``pkgutil`` reads the shared cache directly, so its zip walker first
    asks for ``_files``.
    """
    if sys.version_info >= (3, 13):
        return
    import pkgutil
    import zipimport

    cache = zipimport._zip_directory_cache

    def get_files(self):
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def invalidate_caches(self):
        cache.pop(self.archive, None)

    # the setter is a no-op: ``__init__`` has already filled the cache
    zipimport.zipimporter._files = property(get_files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches

    iter_zip = pkgutil.iter_importer_modules.dispatch(zipimport.zipimporter)

    def iter_zip_modules(importer, prefix=""):
        importer._files
        yield from iter_zip(importer, prefix)

    pkgutil.iter_importer_modules.register(zipimport.zipimporter, iter_zip_modules)


_lazy_zip_invalidation()
