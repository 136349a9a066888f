"""Store maintenance — small-file compaction.

The reference never needs this: HDF5 is one file per store
(``/root/reference/heparchy/write/hdf.py:567-569``).  A Parquet store
accretes a file per writer task per append — per-event ingest
(``HepEventWriter`` commits, mirroring ``write/hdf.py:257-266``) and
streaming micro-batches both produce many tiny files, and at cluster scale
small files dominate scan cost (footer reads + task scheduling overwhelm
actual IO).  Compaction rewrites each ``(process, chunk_id)`` partition
into ``files_per_partition`` files without changing a single row.

The rewrite stages to a sibling temp directory, carries the table's schema
sidecar into it, and swaps via rename, so a reader never observes a
half-compacted table locally; on an object store the swap would be a
manifest flip (table formats do this transactionally — plain Parquet has
no atomic multi-file commit, same caveat as the streaming sidecar).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import SparkSession

from heparchy_spark.sources import store as store_mod

__all__ = ["compact_table", "compact_store"]


def _parquet_files(path: str | Path) -> list[Path]:
    return [
        p
        for p in Path(path).rglob("*.parquet")
        if not p.name.startswith("_") and not p.name.startswith(".")
    ]


def compact_table(
    spark: SparkSession,
    root: str | Path,
    name: str,
    files_per_partition: int = 1,
    sort_cols: list[str] | None = None,
) -> dict:
    """Rewrite one store table compacted: the largest Hive partition gets
    ``files_per_partition`` files, smaller ones proportionally fewer
    (``processes`` is unpartitioned -> that many files total).

    ``sort_cols`` additionally sorts rows WITHIN each output partition
    (no extra shuffle — the partition is already one task): row-group
    min/max stats on those columns become tight, so point lookups
    (e.g. by ``event_id``) prune row groups inside an already
    partition-pruned chunk file — the 1-D sibling of
    ``operators.layout.cluster_by_zorder``.

    Returns ``{"files_before", "files_after", "rows"}``.  Row-identical by
    construction: the rewrite is a repartition of the same DataFrame; a
    count sanity-checks it before the swap.
    """
    path = Path(store_mod.table_path(root, name))
    df = store_mod.read_table(spark, root, name)
    rows_before = df.count()
    files_before = len(_parquet_files(path))

    parted = name != "processes"
    cols = store_mod.PARTITION_COLS if parted else []
    max_records_per_file: int | None = None
    if parted:
        # one shuffle keyed on the partition tuple: every output partition
        # is written by one task -> one file per partition dir.
        out = df.repartition(*[c for c in cols])
        if sort_cols:
            out = out.sortWithinPartitions(*cols, *sort_cols)
        if files_per_partition > 1:
            # Splitting a huge partition cannot rely on hash-salting the
            # shuffle key: AQE coalesces the small shuffle partitions back
            # into one task, whose writer emits ONE file per directory
            # regardless of salt.  maxRecordsPerFile is deterministic
            # instead: roll files at ceil(max_partition_rows / fpp)
            # records, so the LARGEST partition splits into exactly
            # files_per_partition files and smaller ones proportionally
            # fewer — which is the actual goal (bound file size).
            import math

            import pyspark.sql.functions as F

            m = (
                df.groupBy(*cols)
                .count()
                .agg(F.max("count").alias("m"))
                .collect()[0]["m"]
            ) or 1
            max_records_per_file = max(1, math.ceil(m / files_per_partition))
    else:
        out = df.coalesce(max(1, files_per_partition))
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)

    tmp = path.with_name(path.name + "__compacting")
    if tmp.exists():
        shutil.rmtree(tmp)
    writer = out.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if parted:
        writer = writer.partitionBy(*cols)
    writer.parquet(str(tmp))

    # an all-empty table writes no data file: count with the known schema
    rows_after = spark.read.schema(df.schema).parquet(str(tmp)).count()
    if rows_after != rows_before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction row mismatch for {name}: "
            f"{rows_before} -> {rows_after}; aborted, original untouched"
        )
    sidecar = store_mod.schema_sidecar_path(root, name)
    if sidecar.exists():  # the swap must not drop the table's schema
        shutil.copy2(sidecar, tmp / sidecar.name)
    shutil.rmtree(path)
    tmp.rename(path)
    return {
        "files_before": files_before,
        "files_after": len(_parquet_files(path)),
        "rows": rows_after,
    }


def compact_store(
    spark: SparkSession,
    root: str | Path,
    files_per_partition: int = 1,
    sort_by_event: bool = False,
) -> dict[str, dict]:
    """Compact every table in a hep store; returns per-table stats.
    ``sort_by_event`` orders rows by event_id within each partition for
    row-group-pruned point lookups."""
    if not store_mod.is_store(root):
        raise ValueError(f"not a heparchy store: {root}")
    return {
        name: compact_table(
            spark,
            root,
            name,
            files_per_partition,
            sort_cols=(
                ["event_id"]
                if sort_by_event and name != "processes"
                else None
            ),
        )
        for name in store_mod.TABLE_NAMES
        if Path(store_mod.table_path(root, name)).exists()
    }
