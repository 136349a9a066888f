"""Read-side facade: heparchy reader ergonomics over the Parquet store.

Mirrors the reference API (``/root/reference/heparchy/read/hdf.py``):
``HepReader`` ≈ ``HdfReader`` (:504-540), ``HepProcessReader`` ≈
``HdfProcessReader`` (:364-501), ``HepEventReader`` ≈ ``HdfEventReader``
(:175-361), ``MapReader`` ≈ ``MapReader`` (:80-147). Key parity behaviors:

- ``reader[name]`` opens a process and eagerly caches its metadata row
  (``read/hdf.py:437`` — P6),
- ``len(proc)`` is metadata-only, no scan (``:444-445`` — P5),
- ``proc[n]`` is a point lookup by key arithmetic, as the reference's
  (``:454-466`` — P3): ``chunk_id = n // evts_per_chunk`` names one chunk
  directory, and Arrow reads it with no Spark job (``store.read_chunk``);
  ``evt.df`` is the same lookup as a partition-pruned DataFrame,
- column properties are lazy-per-column (``:262-316``): a column of a
  chunk is read once, the first time any event of the chunk asks for it,
  and each event's rows are a slice of it.  The process reader keeps the
  last chunk it read of each table, so lookups that revisit a chunk read
  nothing, and memory is bounded by one chunk per table,
- iteration walks the chunks, then the events of each, as the reference
  does (``:447-452``), so events come in ``event_id`` order, with no Spark
  job; ``proc.event_ids()`` gives the same order as a list,
- mutation via any mapping raises ``ReadOnlyError`` (``:49-53,140-144``).

Each facade object also exposes the idiomatic Spark surface (``.df``,
``.particles``, ``.events``, ``.edges``) — DataFrames with the pruning
filters applied — because at 100 TB the NumPy materialization path is for
single events, not scans.
"""

from __future__ import annotations

import json
import typing as ty
import warnings
from collections.abc import Mapping
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from heparchy_spark.errors import ReadOnlyError
from heparchy_spark.sources import store as store_mod

__all__ = ["MapReader", "HepEventReader", "HepProcessReader", "HepReader"]

PMU_DTYPE = np.dtype([("x", "<f8"), ("y", "<f8"), ("z", "<f8"), ("e", "<f8")])
COLOR_DTYPE = np.dtype([("color", "<i4"), ("anticolor", "<i4")])
EDGE_DTYPE = np.dtype([("src", "<i4"), ("dst", "<i4")])


def _records(tbl: pa.Table) -> list[dict]:
    """Rows as dicts with map columns as dicts, as ``Row.asDict`` has them."""
    maps = [f.name for f in tbl.schema if pa.types.is_map(f.type)]
    rows = tbl.to_pylist()
    for r in rows:
        for m in maps:
            if r[m] is not None:
                r[m] = dict(r[m])
    return rows


class MapReader(Mapping):
    """Read-only mapping (``read/hdf.py:80-147``): lookups/iteration work,
    any mutation raises ``ReadOnlyError``."""

    def __init__(
        self,
        keys: ty.Callable[[], ty.Sequence[str]],
        getter: ty.Callable[[str], ty.Any],
    ) -> None:
        self._keys = keys
        self._getter = getter

    def __repr__(self) -> str:
        return f"MapReader(keys={tuple(self._keys())})"

    def __len__(self) -> int:
        return len(self._keys())

    def __getitem__(self, name: str) -> ty.Any:
        if name not in self._keys():
            raise KeyError(name)
        return self._getter(name)

    def __iter__(self) -> ty.Iterator[str]:
        return iter(self._keys())

    def __setitem__(self, name: str, data: ty.Any) -> ty.NoReturn:
        raise ReadOnlyError("Value assignment not allowed in read mode.")

    def __delitem__(self, name: str) -> ty.NoReturn:
        raise ReadOnlyError("Value deletion not allowed in read mode.")


@dataclass
class _Chunk:
    """The chunk of one table a process reader read last: its rows'
    ``event_id`` keys, sorted, and the columns read from it so far."""

    chunk_id: int
    event_ids: np.ndarray | None = None
    cols: dict[str, pa.Array] = field(default_factory=dict)

    def rows(self, event_id: int) -> slice:
        lo, hi = np.searchsorted(self.event_ids, (event_id, event_id + 1))
        return slice(int(lo), int(hi))


class HepEventReader:
    """Cursor over one event (``read/hdf.py:175-361``). Like the reference,
    the process reader reuses a single instance while iterating
    (``:432,447-452``); hold one across iterations via ``copy()``."""

    def __init__(self, proc: "HepProcessReader") -> None:
        self._proc = proc
        self._event_id: int = -1
        self._chunk_id: int = -1
        self._evt_meta: dict | None = None
        # a copy's own rows, by (table, column); None on the shared cursor
        self._held: dict[tuple[str, str], pa.Array] | None = None

    def _bind(self, event_id: int, evt_meta: dict | None = None) -> None:
        self._event_id = int(event_id)
        self._chunk_id = store_mod.chunk_of(self._event_id, self._proc.evts_per_chunk)
        self._evt_meta = evt_meta

    # -- identity / metadata ----------------------------------------------
    @property
    def name(self) -> str:
        return f"evt-{self._event_id}"

    @property
    def count(self) -> int:
        """Particle count from event metadata, no particle scan
        (``read/hdf.py:255-260`` — P5)."""
        return int(self._meta()["num_pcls"])

    def _meta(self) -> dict:
        if self._evt_meta is None:
            rows = _records(pa.table(self._rows("events")))
            if not rows:
                raise KeyError(f"event {self._event_id} not found")
            self._evt_meta = rows[0]
        return self._evt_meta

    def _rows(self, table: str, columns: list[str] | None = None) -> dict[str, pa.Array]:
        """This event's rows of ``columns`` of ``table`` (all when
        ``None``), in row-index order: slices of the chunk the process
        reader holds — no Spark job (``read/hdf.py:454-466``)."""
        held = self._held
        if held is not None and columns is not None:
            if all((table, c) in held for c in columns):
                return {c: held[table, c] for c in columns}
        chunk = self._proc._chunk(table, self._chunk_id, columns)
        rows = chunk.rows(self._event_id)
        out = {c: chunk.cols[c][rows] for c in columns or chunk.cols}
        if held is not None:
            held.update({(table, c): pa.concat_arrays([a]) for c, a in out.items()})
        return out

    # -- pruned single-event DataFrame ------------------------------------
    @property
    def df(self) -> DataFrame:
        """This event's particles as a DataFrame — partition-pruned on
        (process, chunk_id), row-group-pruned on event_id (P3)."""
        return self._proc.particles.where(
            (F.col("chunk_id") == self._chunk_id)
            & (F.col("event_id") == self._event_id)
        )

    def _fetch(self, cols: list[str]) -> dict[str, np.ndarray]:
        return {
            c: a.to_numpy(zero_copy_only=False)
            for c, a in self._rows("particles", cols).items()
        }

    # -- column properties, lazy per access (read/hdf.py:262-316) ---------
    @property
    def pmu(self) -> np.ndarray:
        d = self._fetch(["px", "py", "pz", "e"])
        out = np.empty(len(d["px"]), dtype=PMU_DTYPE)
        for ours, ref in (("px", "x"), ("py", "y"), ("pz", "z"), ("e", "e")):
            out[ref] = d[ours].astype("float64")
        return out

    @property
    def pdg(self) -> np.ndarray:
        return self._fetch(["pdg"])["pdg"].astype("int32")

    @property
    def status(self) -> np.ndarray:
        return self._fetch(["status"])["status"].astype("int16")

    @property
    def helicity(self) -> np.ndarray:
        return self._fetch(["helicity"])["helicity"].astype("int16")

    @property
    def color(self) -> np.ndarray:
        d = self._fetch(["color", "anticolor"])
        out = np.empty(len(d["color"]), dtype=COLOR_DTYPE)
        out["color"] = d["color"].astype("int32")
        out["anticolor"] = d["anticolor"].astype("int32")
        return out

    @property
    def edges(self) -> np.ndarray:
        d = self._rows("edges", ["src", "dst"])
        out = np.empty(len(d["src"]), dtype=EDGE_DTYPE)
        out["src"] = d["src"].to_numpy(zero_copy_only=False).astype("int32")
        out["dst"] = d["dst"].to_numpy(zero_copy_only=False).astype("int32")
        return out

    @property
    def edge_weights(self) -> np.ndarray:
        w = self._rows("edges", ["weight"])["weight"]
        return w.to_numpy(zero_copy_only=False).astype("float64")

    # -- masks / custom / meta mappings ------------------------------------
    @property
    def masks(self) -> MapReader:
        keys = tuple(self._meta().get("mask_keys") or ())
        return MapReader(
            lambda: keys,
            lambda k: self._fetch([f"mask_{k}"])[f"mask_{k}"].astype("bool"),
        )

    def mask(self, name: str) -> np.ndarray:
        """Deprecated accessor kept for parity (``read/hdf.py:329-332``)."""
        warnings.warn("mask(name) is deprecated; use masks[name]", DeprecationWarning)
        return self.masks[name]

    @property
    def final(self) -> np.ndarray:
        """Deprecated ``final`` mask shortcut (``read/hdf.py:318-321``)."""
        warnings.warn("final is deprecated; use masks['final']", DeprecationWarning)
        return self.masks["final"]

    @property
    def custom(self) -> MapReader:
        keys = tuple(self._meta().get("custom_keys") or ())

        def get(k: str) -> np.ndarray:
            arr = self._fetch([f"custom_{k}"])[f"custom_{k}"]
            if len(arr) and isinstance(arr[0], (list, np.ndarray)):
                return np.stack([np.asarray(x) for x in arr])
            return arr

        return MapReader(lambda: keys, get)

    def get_custom(self, name: str) -> np.ndarray:
        warnings.warn(
            "get_custom(name) is deprecated; use custom[name]", DeprecationWarning
        )
        return self.custom[name]

    @property
    def custom_meta(self) -> MapReader:
        meta = self._meta().get("custom_meta") or {}
        return MapReader(lambda: tuple(meta), lambda k: json.loads(meta[k]))

    def get_custom_meta(self, name: str) -> ty.Any:
        warnings.warn(
            "get_custom_meta(name) is deprecated; use custom_meta[name]",
            DeprecationWarning,
        )
        return self.custom_meta[name]

    @property
    def available(self) -> list[str]:
        """All dataset names in this event (``read/hdf.py:323-327``)."""
        meta = self._meta()
        out = ["pmu", "pdg", "status", "helicity", "color"]
        if meta.get("num_edges"):
            out += ["edges", "edge_weights"]
        out += [f"masks/{k}" for k in meta.get("mask_keys") or ()]
        out += [f"custom/{k}" for k in meta.get("custom_keys") or ()]
        return out

    def copy(self) -> "HepEventReader":
        """Detach a copy of the shared cursor (``read/hdf.py:356-361``):
        it keeps its own copy of the event's rows read so far, so it still
        reads after the cursor has moved to another chunk."""
        new = HepEventReader(self._proc)
        new._bind(self._event_id, self._evt_meta)
        new._held = dict(self._held or {})
        for table, chunk in self._proc._chunks.items():
            if chunk.chunk_id == self._chunk_id:
                rows = chunk.rows(self._event_id)
                new._held.update(
                    {(table, c): pa.concat_arrays([a[rows]]) for c, a in chunk.cols.items()}
                )
        return new


class HepProcessReader:
    """Process handle (``read/hdf.py:364-501``): metadata cached eagerly on
    open (an Arrow read of the ``processes`` row); events via point lookup,
    iteration, or the Spark DataFrames."""

    def __init__(self, file_obj: "HepReader", key: str) -> None:
        self._file = file_obj
        self.key = key
        rows = _records(store_mod.read_processes(file_obj.path, key))
        if not rows:
            raise KeyError(f"process {key!r} not found")
        self._meta = rows[0]  # eager cache, read/hdf.py:437 (P6)
        self.evts_per_chunk = int(
            self._meta.get("evts_per_chunk") or self._file.evts_per_chunk
        )
        self._evt = HepEventReader(self)  # shared cursor, read/hdf.py:432
        self._schemas: dict[str, pa.Schema] = {}
        self._chunks: dict[str, _Chunk] = {}  # the last chunk read, per table

    def _chunk(self, table: str, chunk_id: int, columns: list[str] | None) -> _Chunk:
        """Chunk ``chunk_id`` of ``table`` with ``columns`` (all when
        ``None``) read: the kept chunk when it is that one, else a new one
        in its place. Only columns not read yet are read."""
        if table not in self._schemas:
            self._schemas[table] = store_mod.arrow_schema(self._file.path, table)
        schema = self._schemas[table]
        chunk = self._chunks.get(table)
        if chunk is None or chunk.chunk_id != chunk_id:
            chunk = self._chunks[table] = _Chunk(chunk_id)
        missing = [c for c in columns or schema.names if c not in chunk.cols]
        if missing:
            tbl = store_mod.read_chunk(
                self._file.path, table, self.key, chunk_id, missing, schema
            )
            chunk.event_ids = tbl["event_id"].to_numpy()
            chunk.cols.update({c: tbl[c].combine_chunks() for c in missing})
        return chunk

    # -- Spark-native surface ----------------------------------------------
    @property
    def particles(self) -> DataFrame:
        return (
            store_mod.read_table(self._file.spark, self._file.path, "particles")
            .where(F.col("process") == self.key)
        )

    df = particles

    @property
    def events(self) -> DataFrame:
        return (
            store_mod.read_table(self._file.spark, self._file.path, "events")
            .where(F.col("process") == self.key)
        )

    @property
    def edges(self) -> DataFrame:
        from heparchy_spark.schemas import EDGES_SCHEMA

        if not Path(store_mod.table_path(self._file.path, "edges")).exists():
            # a store whose events carry no DAG — empty, schema-stable
            return self._file.spark.createDataFrame([], schema=EDGES_SCHEMA)
        return (
            store_mod.read_table(self._file.spark, self._file.path, "edges")
            .where(F.col("process") == self.key)
        )

    # -- typed metadata getters (read/hdf.py:473-501) ----------------------
    @property
    def process_string(self) -> str:
        return self._meta["process_string"]

    @property
    def string(self) -> str:
        warnings.warn(
            "string is deprecated; use process_string", DeprecationWarning
        )
        return self.process_string

    @property
    def decay(self) -> dict[str, np.ndarray]:
        """Deprecated in/out PDG dict (``read/hdf.py:482-485``): reads
        ``in_pcls``/``out_pcls`` from process custom metadata."""
        warnings.warn(
            "decay is deprecated; use custom_meta['in_pcls'/'out_pcls']",
            DeprecationWarning,
        )
        return {
            k: np.asarray(self.custom_meta[k], dtype="int32")
            for k in ("in_pcls", "out_pcls")
        }

    def read_event(self, evt_num: int) -> HepEventReader:
        """Deprecated point-lookup alias (``read/hdf.py:468-471``)."""
        warnings.warn("read_event is deprecated; use proc[n]", DeprecationWarning)
        return self[evt_num]

    @property
    def signal_pdgs(self) -> np.ndarray:
        return np.asarray(self._meta["signal_pdgs"], dtype="int32")

    @property
    def com_energy(self) -> tuple[float, str]:
        """(energy, unit) tuple — reference shape (``read/hdf.py:491-496``)."""
        return (self._meta["com_e"], self._meta["e_unit"])

    @property
    def custom_meta(self) -> MapReader:
        meta = self._meta.get("custom_meta") or {}
        return MapReader(lambda: tuple(meta), lambda k: json.loads(meta[k]))

    @property
    def meta(self) -> dict:
        return dict(self._meta)

    # -- cardinality / access paths ---------------------------------------
    def __len__(self) -> int:
        """Event count from process metadata, no scan (``read/hdf.py:444-445``)."""
        return int(self._meta["num_evts"])

    def __getitem__(self, evt_num: int) -> HepEventReader:
        """Point lookup (``read/hdf.py:454-466``): rebinds the shared cursor;
        its reads go to one chunk directory (P3)."""
        if evt_num < 0:
            evt_num += len(self)
        if not 0 <= evt_num < len(self):
            raise IndexError(f"event {evt_num} out of range [0, {len(self)})")
        self._evt._bind(evt_num)
        return self._evt

    # 1e7 longs ~ 80 MB driver-side — generous for the facade's
    # interactive use, loud long before a corpus-scale collect.
    _EVENT_IDS_CAP = 10_000_000

    def event_ids(self, max_ids: int | None = None) -> list[int]:
        """Numeric event-id order — the sanctioned explicit-order path
        (``read/hdf.py:426-428``).

        BOUNDED: refuses to collect more than ``max_ids`` (default
        ``_EVENT_IDS_CAP``) ids — ``len(self)`` is metadata-only, so the
        guard costs nothing, and a silent driver-side collect of a
        corpus-scale store is exactly the 100 TB failure mode.  For the
        unbounded path use :meth:`event_ids_df` and keep the ids
        distributed."""
        cap = self._EVENT_IDS_CAP if max_ids is None else max_ids
        n = len(self)
        if n > cap:
            raise ValueError(
                f"event_ids(): {n} events exceeds the driver-side cap of"
                f" {cap}; use event_ids_df() for the distributed form, or"
                " pass an explicit max_ids if you really mean to collect"
            )
        return [
            r["event_id"]
            for r in self.events.select("event_id").sort("event_id").collect()
        ]

    def event_ids_df(self) -> DataFrame:
        """Distributed (event_id)-ordered frame — the scale path behind
        :meth:`event_ids`; no driver materialization."""
        return self.events.select("event_id").sort("event_id")

    def __iter__(self) -> ty.Iterator[HepEventReader]:
        """Sequential scan, chunk by chunk and event by event within each
        (``read/hdf.py:447-452``): ``event_id`` order, one read of the
        chunk's ``events`` rows per chunk and no Spark job. The single
        shared cursor is rebound per event — ``copy()`` to hold one."""
        for chunk_id in range(-(-len(self) // self.evts_per_chunk)):
            for row in _records(pa.table(self._chunk("events", chunk_id, None).cols)):
                self._evt._bind(row["event_id"], row)
                yield self._evt


class HepReader:
    """Store handle (``read/hdf.py:504-540``): context manager, process
    lookup by name, iteration over process names."""

    def __init__(self, spark: SparkSession, path: str | Path) -> None:
        self.spark = spark
        self.path = Path(path)
        if not store_mod.is_store(self.path):
            raise FileNotFoundError(f"{self.path} is not a heparchy store")
        marker = store_mod.read_marker(self.path)
        self.evts_per_chunk = int(marker.get("evts_per_chunk", 1000))

    def __enter__(self) -> "HepReader":
        return self

    def __exit__(self, exc_type, exc_value, exc_tb) -> None:
        return None

    def __getitem__(self, key: str) -> HepProcessReader:
        return HepProcessReader(self, key)

    def keys(self) -> list[str]:
        return store_mod.read_processes(self.path, columns=["process"])[
            "process"
        ].to_pylist()

    def __iter__(self) -> ty.Iterator[str]:
        return iter(self.keys())
