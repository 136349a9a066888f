"""Write-side facade: heparchy writer ergonomics over the Parquet store.

Mirrors the reference API surface (``/root/reference/heparchy/write/hdf.py``):
``HepWriter`` ≈ ``HdfWriter`` (:519-576), ``HepProcessWriter`` ≈
``HdfProcessWriter`` (:402-456), ``HepEventWriter`` ≈ ``HdfEventWriter``
(:198-399), ``MapWriter`` ≈ ``MapWriter`` (:131-195), with the same
validation semantics:

- first particle-aligned write fixes ``num_pcls``; later mismatches raise
  ``ValueError`` (``write/hdf.py:268-282``),
- ``edge_weights`` length must equal ``edges`` length (``:306-320``),
- masks must be boolean (``:98-110``) and event-level only,
- write-side getters raise ``WriteOnlyError`` (``:51-58,284-289``),
- events are routed into ``evts_per_chunk``-sized chunk groups
  (``:439-445``; ``utils.py:7-14``) — here a ``chunk_id`` partition column.

Execution model: events buffer driver-side as NumPy and flush one chunk at
a time: per table, one Arrow table sorted by ``event_id``, written by
``store.write_chunk`` as one Parquet file in the chunk's Hive directory,
and the ``processes`` row the same way on close, when each table's schema
sidecar is written once, the union of its chunks' schemas. No Spark job runs: like
the reference's h5py appends, a flush is file I/O in the writing process.
Single-writer sequential ingest is the reference's own model (one Python
process appending events); the *parallel* scale path is the HDF5/source
bridge (``mapInPandas`` over many files — see ``hdf5_bridge.py``), which
bypasses this facade entirely.
"""

from __future__ import annotations

import json
import shutil
import typing as ty
import warnings
from collections.abc import MutableMapping
from enum import Enum
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyspark.sql.types as T
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from heparchy_spark.errors import OverwriteWarning, WriteOnlyError
from heparchy_spark.schemas import (
    EDGES_SCHEMA,
    EVENTS_SCHEMA,
    EVTS_PER_CHUNK_DEFAULT,
    PARTICLES_SCHEMA,
    PROCESSES_SCHEMA,
)
from heparchy_spark.sources import store as store_mod

__all__ = ["Compression", "MapWriter", "HepEventWriter", "HepProcessWriter", "HepWriter"]


class Compression(Enum):
    """Codec knob — reference offers gzip/lzf (``write/hdf.py:42-48``);
    Parquet analogs: gzip stays gzip, lzf (fast) maps to zstd."""

    GZIP = "gzip"
    LZF = "zstd"
    ZSTD = "zstd"
    SNAPPY = "snappy"


def _as_numpy(data: ty.Any, what: str) -> np.ndarray:
    if not isinstance(data, np.ndarray):
        raise TypeError(f"{what} must be a numpy array, got {type(data).__name__}")
    return data


def _pair_fields(
    data: np.ndarray, names: tuple[str, str], dtype: str, what: str
) -> tuple[np.ndarray, np.ndarray]:
    """Accept the reference's structured dtype or a plain (n, 2) array."""
    if data.dtype.names:
        if set(names) - set(data.dtype.names):
            raise ValueError(f"{what} structured array needs fields {names}")
        return (
            data[names[0]].astype(dtype),
            data[names[1]].astype(dtype),
        )
    if data.ndim != 2 or data.shape[1] != 2:
        raise ValueError(f"{what} must be structured {names} or shape (n, 2)")
    return data[:, 0].astype(dtype), data[:, 1].astype(dtype)


class MapWriter(MutableMapping):
    """Write-only mutable mapping (``write/hdf.py:131-195``): set/del/iter
    work, ``__getitem__`` raises ``WriteOnlyError``; ``_flush`` empties the
    buffer and returns the key registry."""

    def __init__(
        self, validate: ty.Callable[[str, ty.Any], ty.Any] | None = None
    ) -> None:
        self._store: dict[str, ty.Any] = {}
        self._snapshot: dict[str, ty.Any] = {}
        self._validate = validate

    def __repr__(self) -> str:
        return f"MapWriter(keys={tuple(self._store)})"

    def __len__(self) -> int:
        return len(self._store)

    def __getitem__(self, name: str) -> ty.NoReturn:
        raise WriteOnlyError("Value access not allowed in write mode.")

    def __setitem__(self, name: str, data: ty.Any) -> None:
        self._store[name] = self._validate(name, data) if self._validate else data

    def __delitem__(self, name: str) -> None:
        del self._store[name]

    def __iter__(self) -> ty.Iterator[str]:
        return iter(self._store)

    def _flush(self) -> tuple[str, ...]:
        keys = tuple(self._store)
        out, self._store = self._store, {}
        self._snapshot = out
        return keys


class HepEventWriter:
    """One event's buffered columnar write (``write/hdf.py:198-399``)."""

    def __init__(self, proc: "HepProcessWriter") -> None:
        self._proc = proc
        self._num_pcls: int | None = None
        self._num_edges: int | None = None
        self._cols: dict[str, np.ndarray] = {}
        self._edges: tuple[np.ndarray, np.ndarray] | None = None
        self._edge_weights: np.ndarray | None = None
        self.masks = MapWriter(self._validate_mask)
        self.custom = MapWriter(self._validate_custom)
        self.custom_meta = MapWriter()

    # -- row-count contract (write/hdf.py:268-282) -----------------------
    def _set_num_pcls(self, data: np.ndarray) -> None:
        n = len(data)
        if self._num_pcls is None:
            self._num_pcls = n
        elif n != self._num_pcls:
            raise ValueError(
                "Datasets within same event must have the same length: "
                f"got {n}, expected {self._num_pcls}"
            )

    def _validate_mask(self, name: str, data: ty.Any) -> np.ndarray:
        arr = _as_numpy(data, f"mask {name!r}")
        if arr.dtype != np.dtype("bool"):
            raise TypeError(f"mask {name!r} must be boolean, got {arr.dtype}")
        self._set_num_pcls(arr)
        return arr

    def _validate_custom(self, name: str, data: ty.Any) -> np.ndarray:
        arr = _as_numpy(data, f"custom {name!r}")
        if arr.ndim > 2:
            # parity gap documented in SURVEY.md §7: the reference accepts
            # any ndim (write/hdf.py:113-124) but offers no generic reader
            # for >2-D; we reject with a clear error.
            raise ValueError(
                f"custom dataset {name!r} has ndim={arr.ndim}; only 1-D "
                "(column) and 2-D (array column) are supported"
            )
        self._set_num_pcls(arr)
        return arr

    # -- write-only properties (write/hdf.py:284-289 et seq.) ------------
    def _wo(self) -> ty.NoReturn:
        raise WriteOnlyError("Attribute access not allowed in write mode.")

    @property
    def pmu(self) -> ty.NoReturn:
        self._wo()

    @pmu.setter
    def pmu(self, data: np.ndarray) -> None:
        arr = _as_numpy(data, "pmu")
        if arr.dtype.names:
            need = ("x", "y", "z", "e")
            if set(need) - set(arr.dtype.names):
                raise ValueError(f"pmu structured array needs fields {need}")
            cols = tuple(arr[f].astype("float64") for f in need)
        elif arr.ndim == 2 and arr.shape[1] == 4:
            cols = tuple(arr[:, i].astype("float64") for i in range(4))
        else:
            raise ValueError("pmu must be structured (x,y,z,e) or shape (n, 4)")
        self._set_num_pcls(cols[0])
        self._cols["px"], self._cols["py"], self._cols["pz"], self._cols["e"] = cols

    @property
    def pdg(self) -> ty.NoReturn:
        self._wo()

    @pdg.setter
    def pdg(self, data: np.ndarray) -> None:
        arr = _as_numpy(data, "pdg").astype("int32")
        self._set_num_pcls(arr)
        self._cols["pdg"] = arr

    @property
    def status(self) -> ty.NoReturn:
        self._wo()

    @status.setter
    def status(self, data: np.ndarray) -> None:
        arr = _as_numpy(data, "status").astype("int16")
        self._set_num_pcls(arr)
        self._cols["status"] = arr

    @property
    def helicity(self) -> ty.NoReturn:
        self._wo()

    @helicity.setter
    def helicity(self, data: np.ndarray) -> None:
        arr = _as_numpy(data, "helicity").astype("int16")
        self._set_num_pcls(arr)
        self._cols["helicity"] = arr

    @property
    def color(self) -> ty.NoReturn:
        self._wo()

    @color.setter
    def color(self, data: np.ndarray) -> None:
        c, a = _pair_fields(
            _as_numpy(data, "color"), ("color", "anticolor"), "int32", "color"
        )
        self._set_num_pcls(c)
        self._cols["color"], self._cols["anticolor"] = c, a

    @property
    def edges(self) -> ty.NoReturn:
        self._wo()

    @edges.setter
    def edges(self, data: np.ndarray) -> None:
        src, dst = _pair_fields(
            _as_numpy(data, "edges"), ("src", "dst"), "int32", "edges"
        )
        self._num_edges = len(src)
        self._edges = (src, dst)

    @property
    def edge_weights(self) -> ty.NoReturn:
        self._wo()

    @edge_weights.setter
    def edge_weights(self, data: np.ndarray) -> None:
        arr = _as_numpy(data, "edge_weights").astype("float64")
        # length coupling with edges (write/hdf.py:306-320)
        if self._num_edges is None or len(arr) != self._num_edges:
            raise ValueError(
                "edge_weights must be set after edges and match their "
                f"length ({self._num_edges}); got {len(arr)}"
            )
        self._edge_weights = arr

    def __enter__(self) -> "HepEventWriter":
        return self

    def __exit__(self, exc_type, exc_value, exc_tb) -> None:
        if exc_type is None:
            self._proc._commit_event(self)


class HepProcessWriter:
    """Process sink (``write/hdf.py:402-456``): buffers events, flushes one
    chunk per ``evts_per_chunk`` events, finalizes ``num_evts`` + key
    registries on exit (``:453-456``)."""

    def __init__(self, file_obj: "HepWriter", key: str) -> None:
        self._file = file_obj
        self.key = key
        self._num_evts = 0
        self._pending: list[dict] = []
        self._meta: dict[str, ty.Any] = {}
        self.custom_meta = MapWriter()

    # -- process metadata setters (write/hdf.py:458-487) -----------------
    @property
    def process_string(self) -> ty.NoReturn:
        raise WriteOnlyError("Attribute access not allowed in write mode.")

    @process_string.setter
    def process_string(self, value: str) -> None:
        self._meta["process_string"] = str(value)

    @property
    def signal_pdgs(self) -> ty.NoReturn:
        raise WriteOnlyError("Attribute access not allowed in write mode.")

    @signal_pdgs.setter
    def signal_pdgs(self, value: ty.Iterable[int]) -> None:
        self._meta["signal_pdgs"] = [int(v) for v in value]

    def com_energy(self, energy: float, unit: str) -> None:
        """CoM energy + unit (``write/hdf.py:475-487``)."""
        self._meta["com_e"] = float(energy)
        self._meta["e_unit"] = str(unit)

    # -- event lifecycle --------------------------------------------------
    def new_event(self) -> HepEventWriter:
        return HepEventWriter(self)

    def event_iter(
        self, iterable: ty.Iterable[ty.Any]
    ) -> ty.Iterator[tuple[HepEventWriter, ty.Any]]:
        """Streaming ingest wrapper (``write/hdf.py:493-516``): yields
        ``(writable_event, item)``; the event commits when the loop body
        finishes (context exit)."""
        for item in iterable:
            with self.new_event() as evt:
                yield evt, item

    def _commit_event(self, evt: HepEventWriter) -> None:
        event_id = self._num_evts
        epc = self._file.evts_per_chunk
        mask_keys = evt.masks._flush()
        custom_keys = evt.custom._flush()
        meta_keys = evt.custom_meta._flush()
        self._pending.append(
            {
                "event_id": event_id,
                "chunk_id": store_mod.chunk_of(event_id, epc),
                "num_pcls": evt._num_pcls or 0,
                "cols": dict(evt._cols),
                "masks": dict(evt.masks._snapshot) if mask_keys else {},
                "custom": dict(evt.custom._snapshot) if custom_keys else {},
                "custom_meta": (
                    dict(evt.custom_meta._snapshot) if meta_keys else {}
                ),
                "edges": evt._edges,
                "edge_weights": evt._edge_weights,
                "num_edges": evt._num_edges or 0,
            }
        )
        self._num_evts += 1
        if self._num_evts % epc == 0:
            self._flush()

    # -- chunk flush -------------------------------------------------------
    def _flush(self) -> None:
        if not self._pending:
            return
        batch, self._pending = self._pending, []
        self._file._write_chunk(self.key, batch)

    def __enter__(self) -> "HepProcessWriter":
        return self

    def __exit__(self, exc_type, exc_value, exc_tb) -> None:
        if exc_type is not None:
            return
        self._flush()
        meta_keys = self.custom_meta._flush()
        custom_meta = dict(self.custom_meta._snapshot) if meta_keys else {}
        self._file._commit_process(
            self.key, self._num_evts, self._meta, custom_meta
        )


_NUMPY_TO_SPARK = {
    "f": T.DoubleType(),
    "i": T.LongType(),
    "u": T.LongType(),
    "b": T.BooleanType(),
    "U": T.StringType(),
    "S": T.StringType(),
}


def _custom_field(name: str, arr: np.ndarray) -> T.StructField:
    base = _NUMPY_TO_SPARK.get(arr.dtype.kind)
    if base is None:
        raise TypeError(f"custom dataset {name!r}: unsupported dtype {arr.dtype}")
    typ: T.DataType = T.ArrayType(base) if arr.ndim == 2 else base
    return T.StructField(f"custom_{name}", typ, True)


class HepWriter:
    """Store creator (``write/hdf.py:519-576``): context manager that stamps
    layout/version on exit and owns codec + chunking config."""

    def __init__(
        self,
        spark: SparkSession,
        path: str | Path,
        *,
        compression: Compression | str = Compression.GZIP,
        evts_per_chunk: int = EVTS_PER_CHUNK_DEFAULT,
    ) -> None:
        self.spark = spark
        self.path = Path(path)
        self.codec = (
            compression.value
            if isinstance(compression, Compression)
            else Compression[compression.upper()].value
        )
        self.evts_per_chunk = evts_per_chunk
        self._process_rows: list[dict] = []
        self._schemas: dict[str, T.StructType] = {}  # per table, saved on close

    def __enter__(self) -> "HepWriter":
        if self.path.exists():
            # single-writer, write-once: replacing an existing store warns
            # (write/hdf.py:75-77 semantics); refuse to clobber non-stores.
            if store_mod.is_store(self.path):
                warnings.warn(
                    f"overwriting existing heparchy store at {self.path}",
                    OverwriteWarning,
                    stacklevel=2,
                )
                shutil.rmtree(self.path)
            elif any(self.path.iterdir()):
                raise FileExistsError(
                    f"{self.path} exists and is not a heparchy store"
                )
        self.path.mkdir(parents=True, exist_ok=True)
        return self

    def new_process(self, name: str) -> HepProcessWriter:
        if any(r["process"] == name for r in self._process_rows):
            raise ValueError(f"process {name!r} already written")
        return HepProcessWriter(self, name)

    # -- physical write ----------------------------------------------------
    def _write_chunk(self, process: str, batch: list[dict]) -> None:
        """One chunk's events, one Arrow table and one Parquet file per
        store table. Events arrive in ``event_id`` order and particles in
        ``pcl_idx`` order, so each file is sorted by ``(event_id,
        pcl_idx)`` and ``store.read_chunk`` reads it without a sort."""
        chunk_id = batch[0]["chunk_id"]
        mask_keys = sorted({k for ev in batch for k in ev["masks"]})
        custom_keys = sorted({k for ev in batch for k in ev["custom"]})
        fields = [f for f in PARTICLES_SCHEMA.fields if f.name != "mask_final"]
        fields += [T.StructField(f"mask_{k}", T.BooleanType(), True) for k in mask_keys]
        fields += [
            _custom_field(k, next(ev["custom"][k] for ev in batch if k in ev["custom"]))
            for k in custom_keys
        ]
        schema = T.StructType(fields)
        n_pcls = [ev["num_pcls"] for ev in batch]
        pcl_parts = {
            **_row_keys(batch, n_pcls, "pcl_idx"),
            **{f"mask_{k}": [ev["masks"].get(k) for ev in batch] for k in mask_keys},
            **{f"custom_{k}": [ev["custom"].get(k) for ev in batch] for k in custom_keys},
        }
        for col in ("px", "py", "pz", "e", "pdg", "status", "helicity", "color", "anticolor"):
            pcl_parts[col] = [ev["cols"].get(col) for ev in batch]
        self._write(
            "particles", schema, process, chunk_id, _concat(schema, pcl_parts, n_pcls)
        )

        evt_rows = [
            {
                "event_id": ev["event_id"],
                "num_pcls": ev["num_pcls"],
                "num_edges": ev["num_edges"],
                "mask_keys": sorted(ev["masks"]),
                "custom_keys": sorted(ev["custom"]),
                "custom_meta": {
                    k: json.dumps(v, default=_json_default)
                    for k, v in ev["custom_meta"].items()
                },
            }
            for ev in batch
        ]
        self._write(
            "events", EVENTS_SCHEMA, process, chunk_id,
            pa.Table.from_pylist(evt_rows, schema=store_mod.file_schema(EVENTS_SCHEMA)),
        )

        with_edges = [ev for ev in batch if ev["edges"] is not None]
        if with_edges:
            n_edges = [ev["num_edges"] for ev in with_edges]
            edge_parts = {
                **_row_keys(with_edges, n_edges, "edge_idx"),
                "src": [ev["edges"][0] for ev in with_edges],
                "dst": [ev["edges"][1] for ev in with_edges],
                "weight": [
                    np.full(n, np.nan) if ev["edge_weights"] is None else ev["edge_weights"]
                    for n, ev in zip(n_edges, with_edges)
                ],
            }
            self._write(
                "edges", EDGES_SCHEMA, process, chunk_id,
                _concat(EDGES_SCHEMA, edge_parts, n_edges),
            )

    def _write(
        self, table: str, schema: T.StructType, process: str, chunk_id: int, data: pa.Table
    ) -> None:
        self._schemas[table] = store_mod.merge_schema(self._schemas.get(table), schema)
        store_mod.write_chunk(self.path, table, process, chunk_id, data, self.codec)

    def _commit_process(
        self,
        name: str,
        num_evts: int,
        meta: dict,
        custom_meta: dict,
    ) -> None:
        self._process_rows.append(
            {
                "process": name,
                "process_string": meta.get("process_string"),
                "signal_pdgs": meta.get("signal_pdgs"),
                "com_e": meta.get("com_e"),
                "e_unit": meta.get("e_unit"),
                "num_evts": num_evts,
                "evts_per_chunk": self.evts_per_chunk,
                "custom_meta": {
                    k: json.dumps(v, default=_json_default)
                    for k, v in custom_meta.items()
                },
            }
        )

    def __exit__(self, exc_type, exc_value, exc_tb) -> None:
        if exc_type is not None:
            return
        # each table's schema sidecar once, the union of its chunks' schemas;
        # the marker goes last, so a store cut short is no store
        for table, schema in {**self._schemas, "processes": PROCESSES_SCHEMA}.items():
            store_mod.save_table_schema(self.path, table, schema)
        store_mod.write_part(
            Path(store_mod.table_path(self.path, "processes")),
            pa.Table.from_pylist(self._process_rows, schema=to_arrow_schema(PROCESSES_SCHEMA)),
            self.codec,
        )
        store_mod.write_marker(self.path, self.evts_per_chunk)


def _row_keys(events: list[dict], counts: list[int], idx_col: str) -> dict[str, list]:
    """Per-event ``event_id`` and 0-based row index parts for ``_concat``."""
    return {
        "event_id": [np.full(n, ev["event_id"], "int64") for n, ev in zip(counts, events)],
        idx_col: [np.arange(n, dtype="int32") for n in counts],
    }


def _concat(schema: T.StructType, parts: dict[str, list], counts: list[int]) -> pa.Table:
    """Concatenate per-event column arrays (``parts[col][i]`` holds event
    ``i``'s ``counts[i]`` values, or ``None`` when it did not set ``col``)
    into one Arrow table of ``schema``'s file columns."""
    target = store_mod.file_schema(schema)
    return pa.Table.from_arrays(
        [
            pa.concat_arrays([_arrow(a, n, f.type) for a, n in zip(parts[f.name], counts)])
            for f in target
        ],
        schema=target,
    )


def _arrow(arr: np.ndarray | None, n: int, typ: pa.DataType) -> pa.Array:
    """One event's ``n`` values of a column as Arrow ``typ``; unset is null."""
    if arr is None:
        return pa.nulls(n, typ)
    if arr.ndim == 2:  # a 2-D custom: one list per particle
        offsets = pa.array(np.arange(n + 1, dtype="int32") * arr.shape[1])
        return pa.ListArray.from_arrays(
            offsets, _arrow(arr.ravel(), arr.size, typ.value_type), type=typ
        )
    if arr.dtype.kind == "S":
        arr = arr.astype("U")
    return pa.array(arr, type=typ)


def _json_default(o: ty.Any) -> ty.Any:
    if isinstance(o, np.ndarray):
        return o.tolist()
    if isinstance(o, np.generic):
        return o.item()
    raise TypeError(f"not JSON serializable: {type(o).__name__}")
