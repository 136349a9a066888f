"""One wrapper for every Python function the package sends to Spark's
Python workers (``mapInArrow``, ``arrow_udf``, ``applyInPandas``,
``applyInPandasWithState``), and the columnar and per-row maps built on
it (``map_columns``, ``map_rows``).

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

The boundary is Arrow.  A kernel that adds one column per row is an
``arrow_udf`` wrapped here (``@arrow_udf(type)`` then ``@worker_fn``):
it plans as ``ArrowEvalPython``, so only its input columns cross and the
JVM keeps the rest of the row.  ``map_columns`` is the Python map for
every kernel that filters, fans out or reshapes rows: one column-pruned
``mapInArrow`` that hands a function a batch's input columns as Arrow
arrays and types the whole output columns it returns from the declared
schema.  ``map_rows`` is the same map for a plain per-row Python
function (every decode or byte-level operator), so an operator keeps
only its function and its output schema.
"""

from __future__ import annotations

import functools
import inspect

__all__ = ["map_columns", "map_rows", "worker_fn"]


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


def map_columns(df, fn, schema, keys, inputs):
    """``fn`` over every Arrow batch of ``df``, as one ``mapInArrow``.

    ``keys`` and ``inputs`` are SQL text (a column name, or an
    expression ``AS`` a name), selected in one projection: only they
    cross the Python boundary.  ``fn`` is called once per non-empty
    batch with the batch's ``inputs`` columns as Arrow arrays (read
    offsets through ``functions.xxh64.spans``) and returns either a
    list of the non-key output columns, one value per input row, or a
    tuple ``(rows, columns)`` to filter or fan out: output row
    ``i`` carries the keys of input row ``rows[i]``.  A column is
    anything ``pyarrow.array`` takes (a NumPy array, a list, a tuple).
    ``schema`` is the whole output schema, ``keys`` first (they take its
    names and types); the output batches are typed from it with
    ``to_arrow_schema``, so a nullable column holds ``None`` exactly,
    whatever the other rows of the batch hold.

    Setup that ``fn`` needs once (a basis matrix, a lookup table) is
    built before the call and captured by ``fn``, never per batch.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    n_keys = len(keys)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            out = fn(*batch.columns[n_keys:])
            key_cols = batch.columns[:n_keys]
            if isinstance(out, tuple):
                rows, out = out
                if len(rows) == 0:
                    continue
                take = pa.array(rows, type=pa.int64())
                key_cols = [c.take(take) for c in key_cols]
            arrays = [
                c.cast(arrow_schema.field(k).type) for k, c in enumerate(key_cols)
            ]
            arrays += [
                pa.array(c, type=arrow_schema.field(n_keys + j).type)
                for j, c in enumerate(out)
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return df.selectExpr(*keys, *inputs).mapInArrow(worker_fn(run), schema)


def map_rows(df, fn, schema, keys, inputs):
    """``fn`` over every row of ``df``: ``map_columns`` with a per-row
    loop.

    ``fn`` is called once per row with the row's ``inputs`` values (one
    or more columns; Python objects, ``None`` for null) and yields
    tuples of the non-key fields of ``schema``, in order; each yielded
    tuple becomes one output row: the row's ``keys`` values followed by
    the tuple.  Yielding nothing drops the row and yielding several fans
    it out, so 1:1 maps, filters and fan-outs share this one path.
    """

    def rows(*arrays):
        src, out = [], []
        for i, row in enumerate(zip(*(a.to_pylist() for a in arrays))):
            for values in fn(*row):
                src.append(i)
                out.append(values)
        return src, list(zip(*out))

    return map_columns(df, rows, schema, keys, inputs)
