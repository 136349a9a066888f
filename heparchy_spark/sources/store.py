"""Parquet store layout for the heparchy-spark data model.

A "hep store" is a directory holding four Parquet tables (SURVEY.md §1.6)::

    <root>/particles/   partitioned by (process, chunk_id)
    <root>/events/      partitioned by (process, chunk_id)
    <root>/edges/       partitioned by (process, chunk_id)
    <root>/processes/   tiny, unpartitioned (one row per process)
    <root>/_heparchy_store.json   layout marker + format version

The partition scheme reproduces the reference's physical grouping — process
groups (``/root/reference/heparchy/write/hdf.py:448``) and 1000-event chunk
groups (``write/hdf.py:439-445``, ``utils.py:7-14``) — as Hive partition
pruning, so a point lookup touches exactly one chunk directory (SURVEY.md P2/P3)
and counts are served from the ``events``/``processes`` metadata tables
without scanning particles (P5, mirroring ``read/hdf.py:444-445,255-260``).

The facade's per-chunk I/O runs no Spark job: the reference appends a
chunk and reads one event with plain h5py calls (``write/hdf.py:439-456``,
``read/hdf.py:454-466``), and so does this layer with Arrow.
``write_chunk`` puts one Parquet file into the chunk's Hive directory
(``chunk_dir``, escaped as Spark escapes it) under a hidden name and
renames it into place; ``read_chunk`` reads the asked-for columns of every
visible file in that directory, sorted by ``(event_id, <row index>)``, so
a reader slices any event of the chunk out of one read per column, and
walking the chunks in order visits the events in ``event_id`` order.
Scans stay Spark (``read_table``), and both sides see the same files.
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql.pandas.types import to_arrow_schema

from heparchy_spark import schemas

__all__ = [
    "LAYOUT_NAME",
    "FORMAT_VERSION",
    "PARTITION_COLS",
    "TABLE_NAMES",
    "table_path",
    "chunk_dir",
    "marker_path",
    "write_marker",
    "read_marker",
    "is_store",
    "read_table",
    "merge_schema",
    "save_table_schema",
    "schema_sidecar_path",
    "chunk_of",
    "file_schema",
    "arrow_schema",
    "write_part",
    "write_chunk",
    "read_chunk",
    "read_processes",
    "nested_events",
]

LAYOUT_NAME = "heparchy"  # mirrors the file attr at write/hdf.py:571
FORMAT_VERSION = 1
PARTITION_COLS = ["process", "chunk_id"]
TABLE_NAMES = ("particles", "events", "edges", "processes")
_CANONICAL = {
    "particles": schemas.PARTICLES_SCHEMA,
    "events": schemas.EVENTS_SCHEMA,
    "edges": schemas.EDGES_SCHEMA,
    "processes": schemas.PROCESSES_SCHEMA,
}


# Characters Spark's ``ExternalCatalogUtils.escapePathName`` turns into
# ``%XX`` in a Hive partition directory name (non-Windows set).
_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list('"#%\'*/:=?\\\x7f{[]^')
)
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def table_path(root: str | Path, name: str) -> str:
    return str(Path(root) / name)


def chunk_dir(root: str | Path, table: str, process: str, chunk_id: int) -> Path:
    """The Hive directory Spark writes and prunes to for one
    ``(process, chunk_id)`` partition of ``table``."""
    name = "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in process)
    return (
        Path(root)
        / table
        / f"process={name or _DEFAULT_PARTITION}"
        / f"chunk_id={int(chunk_id)}"
    )


def marker_path(root: str | Path) -> Path:
    return Path(root) / "_heparchy_store.json"


def write_marker(root: str | Path, evts_per_chunk: int) -> None:
    """Stamp layout + version, the analog of the reference's file attrs
    (``write/hdf.py:571-575``)."""
    marker_path(root).write_text(
        json.dumps(
            {
                "layout": LAYOUT_NAME,
                "version": FORMAT_VERSION,
                "evts_per_chunk": evts_per_chunk,
            }
        )
    )


def read_marker(root: str | Path) -> dict:
    return json.loads(marker_path(root).read_text())


def is_store(root: str | Path) -> bool:
    return marker_path(root).exists()


def schema_sidecar_path(root: str | Path, name: str) -> Path:
    return Path(root) / name / "_heparchy_schema.json"


def save_table_schema(root: str | Path, name: str, schema) -> None:
    """Persist (merge) the table's full Spark schema beside the data.

    The registry the reference keeps in attrs (``write/hdf.py:263-265``)
    becomes an explicit schema file: readers skip Parquet footer
    ``mergeSchema`` entirely (O(files) metadata reads at scale) and empty
    tables — e.g. a store whose events all have zero particles — stay
    readable. Merge is union-by-name, first type wins.
    """
    p = schema_sidecar_path(root, name)
    if p.exists():
        schema = merge_schema(T.StructType.fromJson(json.loads(p.read_text())), schema)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps(schema.jsonValue()))


def merge_schema(old: T.StructType | None, new: T.StructType) -> T.StructType:
    """Union by name of two schemas of one table, ``old``'s fields first;
    a name in both keeps ``old``'s type."""
    if old is None:
        return new
    have = {f.name for f in old.fields}
    return T.StructType(list(old.fields) + [f for f in new.fields if f.name not in have])


def read_table(spark: SparkSession, root: str | Path, name: str) -> DataFrame:
    """Scan one store table; Catalyst owns pruning/pushdown from here.

    With a schema sidecar (facade-written stores), the scan gets an explicit
    schema — no footer merging, and zero-file tables read as empty. Bridge-
    written stores without a sidecar fall back to ``mergeSchema`` because
    dynamic mask/custom columns may differ across chunks.
    """
    sidecar = schema_sidecar_path(root, name)
    if sidecar.exists():
        schema = T.StructType.fromJson(json.loads(sidecar.read_text()))
        return spark.read.schema(schema).parquet(table_path(root, name))
    return spark.read.option("mergeSchema", "true").parquet(table_path(root, name))


def file_schema(schema: T.StructType) -> pa.Schema:
    """Arrow schema of a partitioned table's data files: ``schema`` without
    the Hive partition columns, which live in the directory names."""
    return to_arrow_schema(
        T.StructType([f for f in schema.fields if f.name not in PARTITION_COLS])
    )


def arrow_schema(root: str | Path, name: str) -> pa.Schema:
    """Arrow schema of one table's data files.

    From the schema sidecar when there is one; otherwise the unified
    footers of all the table's data files, the ``mergeSchema`` analog; and
    the canonical schema for a table that has neither (e.g. no ``edges``).
    """
    sidecar = schema_sidecar_path(root, name)
    if sidecar.exists():
        schema = T.StructType.fromJson(json.loads(sidecar.read_text()))
    else:
        files = _data_files(Path(table_path(root, name)))
        if files:
            return pa.unify_schemas([pq.read_schema(f) for f in files])
        schema = _CANONICAL[name]
    # ``processes`` is unpartitioned: its ``process`` column is data
    return to_arrow_schema(schema) if name == "processes" else file_schema(schema)


def write_part(directory: Path, data: pa.Table, codec: str) -> None:
    """Write ``data`` as one Spark-named part file in ``directory``.

    The file is written under a hidden ``.``-prefixed name, which Spark's
    file listing and ``read_chunk`` both skip, then renamed into place, so
    a reader sees the whole file or none of it. Zero rows write no file,
    as a Spark append of an empty frame does. The schema sidecar, not the
    footer, carries the table's schema; floating-point columns, whose
    values rarely repeat, skip dictionary encoding.
    """
    if not data.num_rows:
        return
    directory.mkdir(parents=True, exist_ok=True)
    name = f"part-{uuid.uuid4()}.c000.{codec}.parquet"
    tmp = directory / f".{name}"
    pq.write_table(
        data,
        tmp,
        compression=codec,
        store_schema=False,
        use_dictionary=[f.name for f in data.schema if not pa.types.is_floating(f.type)],
    )
    os.replace(tmp, directory / name)


def write_chunk(
    root: str | Path,
    table: str,
    process: str,
    chunk_id: int,
    data: pa.Table,
    codec: str,
) -> None:
    """Append one chunk's rows of ``table`` as one file in its Hive
    directory; the partition columns are dropped from the file."""
    write_part(
        chunk_dir(root, table, process, chunk_id),
        data.drop_columns([c for c in PARTITION_COLS if c in data.column_names]),
        codec,
    )


def _data_files(top: Path) -> list[str]:
    """Data files under ``top`` by Spark's listing rule: a name starting
    with ``.`` or ``_`` is hidden (``.crc`` files, ``_SUCCESS``, in-flight
    ``write_part`` temp files), and so is everything below one."""
    return sorted(
        str(f)
        for f in top.rglob("*")
        if f.is_file() and not any(p[0] in "._" for p in f.relative_to(top).parts)
    )


# The column that orders one event's rows of each partitioned table
_ROW_INDEX = {"particles": "pcl_idx", "events": None, "edges": "edge_idx"}


def _read_files(files: list[str], schema: pa.Schema, columns: list[str]) -> pa.Table:
    """``columns`` of the data ``files``, typed as in ``schema``; a column
    a file lacks reads as null."""
    target = pa.schema([schema.field(c) for c in columns])
    parts = []
    for path in files:
        f = pq.ParquetFile(path)
        have = set(f.schema_arrow.names)
        tbl = f.read(columns=[c for c in columns if c in have])
        parts.append(
            pa.table(
                [
                    tbl[c] if c in have else pa.nulls(tbl.num_rows, target.field(c).type)
                    for c in columns
                ],
                names=columns,
            ).cast(target)
        )
    return pa.concat_tables(parts) if parts else target.empty_table()


def _sorted(tbl: pa.Table, keys: list[str]) -> bool:
    """Whether ``tbl``'s rows are in ascending ``keys`` order."""
    steps = [np.diff(tbl[k].to_numpy()) for k in keys]
    ok = steps[-1] > 0
    for step in reversed(steps[:-1]):
        ok = (step > 0) | ((step == 0) & ok)
    return bool(ok.all())


def read_chunk(
    root: str | Path,
    table: str,
    process: str,
    chunk_id: int,
    columns: list[str],
    schema: pa.Schema,
) -> pa.Table:
    """One chunk's rows of a partitioned ``table``: its sort keys and
    ``columns``, sorted by ``(event_id, <row index>)``.

    ``schema`` is the table's ``arrow_schema``. Each visible file of the
    chunk directory is read with ``pq.ParquetFile``, no Spark job; files
    that are already in key order, as ``HepWriter`` writes them, skip the
    sort, and files written by Spark (compaction, the HDF5 bridge) need
    not be.
    """
    keys = ["event_id"] + ([_ROW_INDEX[table]] if _ROW_INDEX[table] else [])
    tbl = _read_files(
        _data_files(chunk_dir(root, table, process, chunk_id)),
        schema,
        keys + [c for c in columns if c not in keys],
    )
    return tbl if _sorted(tbl, keys) else tbl.sort_by([(k, "ascending") for k in keys])


def read_processes(
    root: str | Path,
    process: str | None = None,
    columns: list[str] | None = None,
) -> pa.Table:
    """Rows of the ``processes`` table, all or the one named ``process``."""
    schema = arrow_schema(root, "processes")
    tbl = _read_files(
        _data_files(Path(table_path(root, "processes"))), schema, schema.names
    )
    if process is not None:
        tbl = tbl.filter(pc.field("process") == process)
    return tbl if columns is None else tbl.select(columns)


def chunk_of(event_id: int, evts_per_chunk: int) -> int:
    """Chunk assignment — ``chunk_idx = evt_num // evts_per_chunk``
    (``read/hdf.py:455``)."""
    return event_id // evts_per_chunk


def nested_events(particles: DataFrame) -> DataFrame:
    """Optional compact export (SURVEY.md §1.6): one row per event with the
    particle list as array<struct> — ``collect_list`` over the long format.
    The nested form is for export/interchange only; the long format remains
    the query layout (pruning/pushdown don't reach inside arrays).
    """
    import pyspark.sql.functions as F

    payload = [
        c
        for c in particles.columns
        if c not in ("process", "event_id", "chunk_id", "pcl_idx")
    ]
    return (
        particles.groupBy("process", "event_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pcl_idx", *payload))
            ).alias("particles"),
            F.count(F.lit(1)).alias("num_pcls"),
        )
    )
