"""One wrapper for every Python function the package sends to Spark's
Python workers (``mapInPandas``, ``mapInArrow``, ``applyInPandas``,
``applyInPandasWithState``, ``pandas_udf``).

A reused Python worker starts each task in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.  Before CPython 3.13, a zipimporter's
``invalidate_caches`` eagerly re-reads the whole central directory of its
archive, once per importer instance: the worker's ``sys.path`` holds
``pyspark.zip``, the py4j zip and the Spark core jar, and a reused worker
carries about 16 zipimporters over them, so every task paid 0.15-0.25 s
before it ran a line of ours.

``worker_fn`` wraps the function so that its first call in a worker
installs CPython 3.13's lazy zipimport invalidation (``_get_files`` reads
the shared ``_zip_directory_cache`` on demand, and ``invalidate_caches``
only drops the archive from it).  Every later task of that worker then
invalidates without reading anything; a module imported afterwards still
sees an archive rewritten on disk, because the next lookup re-reads it.
Interpreters whose zipimporter already has ``_get_files`` are left alone.

The wrapper keeps the function's name and signature (``applyInPandas``
counts its parameters to decide whether to pass the grouping key), adds
no plan node, and references nothing of this package, so it unpickles on
a worker that cannot import ``heparchy_spark``.
"""

from __future__ import annotations

import functools
import inspect

__all__ = ["worker_fn"]


def worker_fn(fn):
    """``fn`` for a Python worker, installing lazy zipimport invalidation
    on its first call there."""

    def lazy_zip_invalidation():
        import zipimport

        zi = zipimport.zipimporter
        if hasattr(zi, "_get_files"):
            return

        def _get_files(self):
            try:
                return zipimport._zip_directory_cache[self.archive]
            except KeyError:
                try:
                    files = zipimport._read_directory(self.archive)
                except zipimport.ZipImportError:
                    return {}
                zipimport._zip_directory_cache[self.archive] = files
                return files

        def _set_files(self, files):
            # __init__ assigns the directory it just cached; reads go
            # through the cache from now on.
            pass

        def invalidate_caches(self):
            zipimport._zip_directory_cache.pop(self.archive, None)

        zi._files = property(_get_files, _set_files)
        zi.invalidate_caches = invalidate_caches
        zi._get_files = _get_files

    @functools.wraps(fn)
    def run(*args):
        lazy_zip_invalidation()
        return fn(*args)

    run.__signature__ = inspect.signature(fn)
    return run
