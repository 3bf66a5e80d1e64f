"""cl_readability_spark — PySpark-native main-content extraction engine.

A from-scratch reimplementation of the Readability.js main-content
extraction algorithm (the capability surface of atlas-engineer/cl-readability,
see SURVEY.md) designed for Spark:

- ``core``     — the pure-Python extraction algorithm (DOM parse, candidate
                 scoring, grab-article retry loop).  No Spark imports; ships
                 to executors via ``--py-files``.
- ``pipeline`` — the Spark shell: vectorized pandas/Arrow UDFs, conv_id-salted
                 repartitioning, checkpoint/resume anti-join, metrics sidecar.
- ``functions``— DataFrame-level twins of the SQL-expressible sub-operators
                 (used for DuckDB oracle checks) plus training-data-pipeline
                 text ops (dedup, token counting, quality scoring).

Importing the package also makes zip-archive cache invalidation lazy on
Python < 3.13 (see ``_lazy_zip_files``).
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 13):
    import zipimport

    # PySpark's worker calls importlib.invalidate_caches() at the start of
    # every task.  Before 3.13 each zipimporter answers by re-reading its
    # archive's whole directory: a worker holds 16 of them (pyspark.zip and
    # its subpackages, the Spark jar, py4j), ~26.7k entries per task.  This
    # is CPython 3.13's behaviour instead: invalidation only drops the shared
    # cache entry and the next lookup that needs the directory re-reads it,
    # so a zip rewritten in place is still seen.  Every worker-side closure
    # imports this package, so this one install covers every Python UDF it
    # runs.
    def _lazy_zip_files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def _lazy_invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    # zipimporter.__init__ caches the directory under the archive path before
    # it assigns self._files, so the setter has nothing to keep
    zipimport.zipimporter._files = property(_lazy_zip_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
    # importers made before the install hold their own (now shadowed)
    # reference, which would keep a second copy alive after a re-read
    for _importer in list(sys.path_importer_cache.values()):
        if isinstance(_importer, zipimport.zipimporter):
            vars(_importer).pop("_files", None)
