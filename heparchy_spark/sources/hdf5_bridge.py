"""HDF5 ⇄ hep-store bridge: ingest heparchy-layout HDF5 files into the
Parquet store and export back.

The reference's on-disk layout (``/root/reference/heparchy/write/hdf.py``):
``file → process group → 'evt-set-NNNNNN' chunk groups (1000 events) →
'evt-NNN' event groups → per-quantity datasets + 'masks/' + 'custom/'
subgroups``; key formats at ``utils.py:7-14``; attrs per §1.4 of SURVEY.md.

Scale design: HDF5 is not splittable within a file, so the parallel unit is
the *file* — ``ingest_hdf5`` distributes the file list and opens each file
with h5py inside ``mapInPandas`` Python workers, emitting Arrow batches of
long-format particle/event/edge rows. A 100 TB dataset of N files runs N
parallel ingest tasks with no driver bottleneck.

h5py is NOT part of this environment (it is a dependency of the reference,
not of this engine), so every h5py touch is behind a lazy import; the
module's layout constants and row-shaping helpers are pure and unit-tested
without it.
"""

from __future__ import annotations

import typing as ty
from pathlib import Path

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from heparchy_spark.functions.worker import worker_fn
from heparchy_spark.schemas import EVTS_PER_CHUNK_DEFAULT

__all__ = [
    "event_key_format",
    "chunk_key_format",
    "parse_event_key",
    "parse_chunk_key",
    "distribute_file_reads",
    "ingest_hdf5",
    "export_hdf5",
    "layout_manifest",
    "H5GroupSpec",
    "H5PY_AVAILABLE",
]

try:  # pragma: no cover - depends on environment
    import h5py  # noqa: F401

    H5PY_AVAILABLE = True
except ImportError:  # pragma: no cover
    H5PY_AVAILABLE = False


# -- key formatting (utils.py:7-14) ---------------------------------------
def event_key_format(evt_num: int, evts_per_chunk: int = EVTS_PER_CHUNK_DEFAULT) -> str:
    """``evt-NNN``, zero-padded to the in-chunk digit width."""
    width = len(str(evts_per_chunk - 1))
    return f"evt-{evt_num % evts_per_chunk:0{width}d}"

def chunk_key_format(chunk_idx: int) -> str:
    """``evt-set-NNNNNN`` (six digits)."""
    return f"evt-set-{chunk_idx:06d}"


def parse_event_key(key: str) -> int:
    if not key.startswith("evt-") or key.startswith("evt-set-"):
        raise ValueError(f"not an event key: {key!r}")
    return int(key[4:])


def parse_chunk_key(key: str) -> int:
    if not key.startswith("evt-set-"):
        raise ValueError(f"not a chunk key: {key!r}")
    return int(key[8:])


def _require_h5py() -> None:
    if not H5PY_AVAILABLE:
        raise NotImplementedError(
            "h5py is not installed in this environment; the HDF5 bridge "
            "plumbing is complete but inert. Install h5py to ingest/export "
            "heparchy HDF5 files."
        )


_FILES_SCHEMA = T.StructType([T.StructField("path", T.StringType(), False)])


def distribute_file_reads(
    spark: SparkSession,
    paths: ty.Sequence[str],
    reader: ty.Callable[[str], ty.Iterator],
    schema: T.StructType,
) -> DataFrame:
    """The bridge's parallel unit, as a reusable harness: the file list
    becomes an N-partition frame (one file per partition) and
    ``reader(path, file_idx) -> Iterator[pd.DataFrame]`` (``file_idx``
    is the path's position in ``paths``) runs inside ``mapInPandas`` in
    the worker task holding that file's partition —
    N files, N concurrent tasks, no driver bottleneck (SURVEY §7 step
    1; the reference's chunked single-writer layout is per-file
    sequential, ``write/hdf.py:63-95``).

    Split from the h5py decode so the distribution contract (one task
    per file, row-identical union) is pytest-assertable in an
    environment WITHOUT h5py by injecting a synthetic reader — the
    decode step is the stub, the Spark plumbing is real.

    Placement is range-partitioned on an explicit file INDEX, not
    round-robin: ``repartition(n)`` round-robins each input partition
    from a per-partition random offset, so a many-tiny-partition file
    list collides several files into one task while other tasks idle —
    the exact skew this harness exists to avoid.  Range on the distinct
    indices 0..N-1 into N partitions is deterministic one-file-per-task.
    """
    files_df = spark.createDataFrame(
        [(str(p), i) for i, p in enumerate(paths)],
        schema=T.StructType(
            [
                T.StructField("path", T.StringType(), False),
                T.StructField("__file_idx", T.IntegerType(), False),
            ]
        ),
    ).repartitionByRange(max(len(paths), 1), "__file_idx")

    def _map(batches: ty.Iterator) -> ty.Iterator:
        for pdf in batches:
            for path, idx in zip(pdf["path"], pdf["__file_idx"]):
                yield from reader(path, int(idx))

    return files_df.mapInPandas(worker_fn(_map), schema=schema)


def ingest_hdf5(
    spark: SparkSession,
    paths: ty.Sequence[str],
    dest: str | Path,
    *,
    compression: str = "zstd",
) -> None:
    """Parallel ingest: one Spark task per HDF5 file (files are the split
    unit — HDF5 is unsplittable within a file), each opening the file with
    h5py in the Python worker and emitting long-format Arrow batches.

    Writes ``particles`` directly; derives ``events``/``processes`` metadata
    tables from the ingested data (one aggregation each), mirroring the
    attrs the reference maintains incrementally (``write/hdf.py:257-266,
    453-456``).  Each table gets its schema sidecar, as ``HepWriter``
    writes it, so reads take the schema from it instead of unifying
    every footer of the table.
    """
    _require_h5py()
    from heparchy_spark.sources import store as store_mod

    out_schema = T.StructType(
        [
            T.StructField("process", T.StringType(), False),
            T.StructField("event_id", T.LongType(), False),
            T.StructField("chunk_id", T.LongType(), False),
            T.StructField("pcl_idx", T.IntegerType(), False),
            T.StructField("px", T.DoubleType(), True),
            T.StructField("py", T.DoubleType(), True),
            T.StructField("pz", T.DoubleType(), True),
            T.StructField("e", T.DoubleType(), True),
            T.StructField("pdg", T.IntegerType(), True),
            T.StructField("status", T.ShortType(), True),
            T.StructField("helicity", T.ShortType(), True),
            T.StructField("color", T.IntegerType(), True),
            T.StructField("anticolor", T.IntegerType(), True),
        ]
    )

    def read_one_file(path: str, _file_idx: int) -> ty.Iterator:
        import h5py  # worker-side import
        import pandas as pd

        with h5py.File(path, "r") as f:
            epc = int(f.attrs.get("evts_per_chunk", EVTS_PER_CHUNK_DEFAULT))
            for proc_name, proc_grp in f.items():
                if not isinstance(proc_grp, h5py.Group):
                    continue
                for chunk_key, chunk_grp in proc_grp.items():
                    if not chunk_key.startswith("evt-set-"):
                        continue
                    cidx = parse_chunk_key(chunk_key)
                    for evt_key, evt_grp in chunk_grp.items():
                        eid = cidx * epc + parse_event_key(evt_key)
                        n = None
                        cols: dict[str, ty.Any] = {}
                        if "pmu" in evt_grp:
                            pmu = evt_grp["pmu"][...]
                            for ours, ref in (
                                ("px", "x"), ("py", "y"),
                                ("pz", "z"), ("e", "e"),
                            ):
                                cols[ours] = pmu[ref]
                            n = len(pmu)
                        for name in ("pdg", "status", "helicity"):
                            if name in evt_grp:
                                cols[name] = evt_grp[name][...]
                                n = len(cols[name]) if n is None else n
                        if "color" in evt_grp:
                            c = evt_grp["color"][...]
                            cols["color"] = c["color"]
                            cols["anticolor"] = c["anticolor"]
                            n = len(c) if n is None else n
                        if n is None:
                            continue
                        out = pd.DataFrame(
                            {
                                "process": proc_name,
                                "event_id": eid,
                                "chunk_id": eid // epc,
                                "pcl_idx": range(n),
                            }
                        )
                        for k in (
                            "px", "py", "pz", "e", "pdg",
                            "status", "helicity", "color", "anticolor",
                        ):
                            out[k] = cols.get(k)
                        yield out

    particles = distribute_file_reads(spark, paths, read_one_file, out_schema)
    dest = Path(dest)
    dest.mkdir(parents=True, exist_ok=True)
    (
        particles.write.mode("overwrite")
        .partitionBy(*store_mod.PARTITION_COLS)
        .option("compression", compression)
        .parquet(store_mod.table_path(dest, "particles"))
    )
    store_mod.save_table_schema(dest, "particles", out_schema)

    # metadata tables from one pass each over the ingested layout
    pq = store_mod.read_table(spark, dest, "particles")
    events = pq.groupBy("process", "event_id", "chunk_id").agg(
        F.count("*").alias("num_pcls"),
        F.lit(0).cast("long").alias("num_edges"),
        F.lit(None).cast("array<string>").alias("mask_keys"),
        F.lit(None).cast("array<string>").alias("custom_keys"),
        F.lit(None).cast("map<string,string>").alias("custom_meta"),
    )
    (
        events.write.mode("overwrite")
        .partitionBy(*store_mod.PARTITION_COLS)
        .parquet(store_mod.table_path(dest, "events"))
    )
    store_mod.save_table_schema(dest, "events", events.schema)
    processes = events.groupBy("process").agg(
        F.count("*").alias("num_evts"),
    ).select(
        "process",
        F.lit(None).cast("string").alias("process_string"),
        F.lit(None).cast("array<int>").alias("signal_pdgs"),
        F.lit(None).cast("double").alias("com_e"),
        F.lit(None).cast("string").alias("e_unit"),
        "num_evts",
        F.lit(EVTS_PER_CHUNK_DEFAULT).cast("long").alias("evts_per_chunk"),
        F.lit(None).cast("map<string,string>").alias("custom_meta"),
    )
    processes.coalesce(1).write.mode("overwrite").parquet(
        store_mod.table_path(dest, "processes")
    )
    store_mod.save_table_schema(dest, "processes", processes.schema)
    store_mod.write_marker(dest, EVTS_PER_CHUNK_DEFAULT)


class H5GroupSpec(ty.NamedTuple):
    """One group of the heparchy HDF5 tree, declaratively: where it lives,
    what attrs it carries, and which datasets (name → ndarray) it holds.
    Pure Python + NumPy — buildable and testable without h5py."""

    path: str  # "/"-joined from the file root, parent emitted first
    attrs: dict
    datasets: dict


def layout_manifest(
    spark: SparkSession, src: str | Path
) -> tuple[dict, list[H5GroupSpec]]:
    """The full heparchy-layout HDF5 tree for a hep-store, as data:
    ``(file_attrs, groups)``, groups parent-before-child.

    This IS the export's layout contract, split from the h5py apply step
    so reference conformance is testable in an environment without h5py:

    - file attrs ``layout``/``version``/``version_tuple``/
      ``evts_per_chunk`` (reference ``write/hdf.py:571-575``);
    - process group per process, meta as attrs (``write/hdf.py:465-474``
      property setters) plus ``num_evts`` (``:456``);
    - ``evt-set-NNNNNN`` chunk groups → ``evt-NNN`` event groups
      (``utils.py:7-14`` key formats, ``write/hdf.py:442,241``);
    - per event: ``pmu``/``pdg`` datasets, always-present ``masks``/
      ``custom`` subgroups holding the named datasets
      (``write/hdf.py:244-245,103,117``), attrs ``num_pcls`` +
      key registries ``mask_keys``/``custom_keys``/``custom_meta_keys``
      + custom metadata entries (``write/hdf.py:262-265,128``).
    """
    import numpy as np

    from heparchy_spark import __version__
    from heparchy_spark.sources.reader import HepReader

    groups: list[H5GroupSpec] = []
    with HepReader(spark, src) as reader:
        epc = reader.evts_per_chunk
        file_attrs = {
            "layout": "heparchy",
            "version": __version__,
            "version_tuple": tuple(__version__.split(".")),
            "evts_per_chunk": epc,
        }
        for proc_name in reader:
            proc = reader[proc_name]
            pattrs = {
                k: v
                for k, v in proc.meta.items()
                if v is not None and k not in ("process", "custom_meta")
            }
            groups.append(H5GroupSpec(proc_name, pattrs, {}))
            seen_chunks: set[str] = set()
            for evt in proc:
                eid = evt._event_id
                ckey = chunk_key_format(eid // epc)
                if ckey not in seen_chunks:
                    seen_chunks.add(ckey)
                    groups.append(H5GroupSpec(f"{proc_name}/{ckey}", {}, {}))
                epath = f"{proc_name}/{ckey}/{event_key_format(eid, epc)}"
                mask_keys = sorted(evt.masks)
                custom_keys = sorted(evt.custom)
                custom_meta = {k: evt.custom_meta[k] for k in evt.custom_meta}
                groups.append(
                    H5GroupSpec(
                        epath,
                        {
                            "num_pcls": evt.count,
                            "mask_keys": mask_keys,
                            "custom_keys": custom_keys,
                            "custom_meta_keys": sorted(custom_meta),
                            **custom_meta,
                        },
                        {"pmu": evt.pmu, "pdg": evt.pdg},
                    )
                )
                groups.append(
                    H5GroupSpec(
                        f"{epath}/masks",
                        {},
                        {m: np.asarray(evt.masks[m]) for m in mask_keys},
                    )
                )
                groups.append(
                    H5GroupSpec(
                        f"{epath}/custom",
                        {},
                        {c: np.asarray(evt.custom[c]) for c in custom_keys},
                    )
                )
    return file_attrs, groups


def export_hdf5(
    spark: SparkSession,
    src: str | Path,
    out_path: str | Path,
    *,
    compression: str = "gzip",
    compression_level: int = 4,
) -> None:
    """Egress: hep-store → heparchy-layout HDF5 (single file, driver-side —
    HDF5 is single-writer; for many-file export, partition by process and
    run one task per output file).  The tree comes from
    ``layout_manifest``; this function only applies it with h5py."""
    _require_h5py()
    import h5py

    file_attrs, groups = layout_manifest(spark, src)
    kwargs = {"compression": compression, "shuffle": True}
    if compression == "gzip":
        kwargs["compression_opts"] = compression_level
    with h5py.File(out_path, "w") as f:
        for spec in groups:
            grp = f.create_group(spec.path)
            for k, v in spec.attrs.items():
                grp.attrs[k] = v
            for name, data in spec.datasets.items():
                grp.create_dataset(name, data=data, **kwargs)
        for k, v in file_attrs.items():
            f.attrs[k] = v
