"""The hep store's chunk cursor: ``proc[i]`` and ``for evt in proc`` read
each chunk column once through ``store.read_chunk`` and slice events out
of it, keeping one chunk per table, on a store of 4 chunks with every
column kind, an empty event and a column first set in a later chunk, as
the writer leaves it, after a Spark compaction into unsorted files, and
without schema sidecars."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

from heparchy_spark.sources import HepReader, HepWriter
from heparchy_spark.sources import store as store_mod
from heparchy_spark.sources.maintenance import compact_store
from tests.conftest import make_event

EPC = 3
N_EVENTS = 10  # chunks 0-3, the last one partial
EMPTY = 4  # the event with zero particles
LATE = 6  # first event (chunk 2) to set mask "late" and custom "late2d"


def _events() -> list[dict]:
    rng = np.random.default_rng(71)
    events = []
    for i in range(N_EVENTS):
        ev = make_event(rng)
        if i == EMPTY:
            ev = {k: v[:0] for k, v in ev.items()}
        n = len(ev["pdg"])
        ev["masks"] = {"final": ev.pop("final")}
        ev["custom"] = {
            "pt": np.hypot(ev["pmu"]["x"], ev["pmu"]["y"]),
            "pair": np.stack([ev["pdg"], ev["pdg"] * 2], 1),
        }
        if i >= LATE:
            ev["masks"]["late"] = rng.random(n) < 0.5
            ev["custom"]["late2d"] = rng.normal(size=(n, 3))
        ev["custom_meta"] = {"n": n, "tag": f"e{i}"}
        events.append(ev)
    return events


def _write(spark, root, events) -> None:
    with HepWriter(spark, root, evts_per_chunk=EPC) as w:
        with w.new_process("p") as proc:
            for evt_w, ev in proc.event_iter(events):
                for name in ("pmu", "pdg", "status", "helicity", "color", "edges"):
                    setattr(evt_w, name, ev[name])
                evt_w.edge_weights = ev["edge_weights"]
                for k, v in ev["masks"].items():
                    evt_w.masks[k] = v
                for k, v in ev["custom"].items():
                    evt_w.custom[k] = v
                for k, v in ev["custom_meta"].items():
                    evt_w.custom_meta[k] = v


def _rows_in_key_order(files: list[str], idx: str | None) -> bool:
    keys = []
    for f in files:
        tbl = pq.read_table(f)
        keys += zip(tbl["event_id"].to_pylist(), tbl[idx].to_pylist() if idx else [0] * len(tbl))
    return keys == sorted(keys)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """The same events as the writer leaves them, compacted by Spark into
    two files per chunk directory, and with every schema sidecar gone."""
    base = tmp_path_factory.mktemp("cursor")
    events = _events()
    _write(spark, base / "writer", events)

    compacted = base / "compacted"
    shutil.copytree(base / "writer", compacted)
    compact_store(spark, compacted, files_per_partition=2)
    # Spark happens to write these small chunks in key order, so put two
    # chunks out of it: swap the names of particles chunk 1's two files,
    # which a reader lists by name, and reverse the rows of events chunk
    # 0's files
    files = store_mod._data_files(store_mod.chunk_dir(compacted, "particles", "p", 1))
    assert len(files) == 2
    Path(files[0]).rename(files[0] + ".tmp")
    Path(files[1]).rename(files[0])
    Path(files[0] + ".tmp").rename(files[1])
    assert not _rows_in_key_order(files, "pcl_idx")
    files = store_mod._data_files(store_mod.chunk_dir(compacted, "events", "p", 0))
    assert len(files) == 2
    for f in files:
        tbl = pq.read_table(f)
        pq.write_table(tbl.take(np.arange(tbl.num_rows)[::-1]), f)
    assert not _rows_in_key_order(files, None)

    bare = base / "no_sidecars"
    shutil.copytree(base / "writer", bare)
    for table in store_mod.TABLE_NAMES:
        store_mod.schema_sidecar_path(bare, table).unlink()
    return {"writer": base / "writer", "compacted": compacted, "no_sidecars": bare}, events


LAYOUTS = ["writer", "compacted", "no_sidecars"]


def _assert_event(evt, ev: dict) -> None:
    """Every field of ``evt`` reads exactly what the writer was given."""
    for name in ("pmu", "pdg", "status", "helicity", "color", "edges", "edge_weights"):
        np.testing.assert_array_equal(getattr(evt, name), ev[name], err_msg=name)
    assert evt.count == len(ev["pdg"])
    assert sorted(evt.masks) == sorted(ev["masks"])
    for k, v in ev["masks"].items():
        np.testing.assert_array_equal(evt.masks[k], v, err_msg=k)
    assert sorted(evt.custom) == sorted(ev["custom"])
    for k, v in ev["custom"].items():
        assert np.asarray(evt.custom[k]).tolist() == v.tolist(), k
    assert {k: evt.custom_meta[k] for k in evt.custom_meta} == ev["custom_meta"]


@pytest.mark.parametrize("layout", LAYOUTS)
def test_iteration_reads_each_chunk_column_once_in_event_order(
    spark, stores, layout, monkeypatch
):
    roots, events = stores
    reads = []
    real = store_mod.read_chunk

    def counted(root, table, process, chunk_id, columns, schema):
        reads.extend((table, chunk_id, c) for c in columns)
        return real(root, table, process, chunk_id, columns, schema)

    monkeypatch.setattr(store_mod, "read_chunk", counted)
    proc = HepReader(spark, roots[layout])["p"]
    seen = []
    for evt in proc:
        _assert_event(evt, events[evt._event_id])
        # one chunk per table, and it is the cursor's
        assert {c.chunk_id for c in proc._chunks.values()} == {evt._chunk_id}
        seen.append(evt._event_id)
    assert seen == list(range(N_EVENTS))
    assert len(reads) == len(set(reads))
    assert {c for _, c, _ in reads} == set(range(-(-N_EVENTS // EPC)))


@pytest.mark.parametrize("layout", LAYOUTS)
def test_lookups_in_alternating_chunks(spark, stores, layout):
    roots, events = stores
    proc = HepReader(spark, roots[layout])["p"]
    for i in (0, 9, 1, 7, EMPTY, 8, 2, LATE, 3, 5, -1):
        _assert_event(proc[i], events[i])


@pytest.mark.parametrize("layout", LAYOUTS)
def test_copy_holds_after_cursor_moves_chunk(spark, stores, layout, monkeypatch):
    roots, events = stores
    proc = HepReader(spark, roots[layout])["p"]
    held = None
    for evt in proc:
        pmu = evt.pmu  # one column read before the copy, the rest after
        if evt._event_id == 1:
            want, held = pmu, evt.copy()
    assert proc._chunks["particles"].chunk_id != held._chunk_id
    reads = []
    real = store_mod.read_chunk
    monkeypatch.setattr(
        store_mod, "read_chunk", lambda *a: reads.append(a[1:4]) or real(*a)
    )
    np.testing.assert_array_equal(held.pmu, want)
    assert reads == []  # the copy kept its rows of the columns read
    _assert_event(held, events[1])
    looked = proc[LATE].copy()
    proc[0].pdg
    _assert_event(looked, events[LATE])


def test_column_set_late_is_in_sidecar_and_null_before(spark, stores):
    """The writer saves the union of its chunks' schemas: a mask and a
    custom first set in chunk 2 are in the sidecar, and earlier events
    read them as null through the facade and through Spark."""
    roots, events = stores
    root = roots["writer"]
    sidecar = json.loads(store_mod.schema_sidecar_path(root, "particles").read_text())
    names = {f["name"] for f in sidecar["fields"]}
    assert {"mask_late", "custom_late2d"} <= names
    proc = HepReader(spark, root)["p"]
    late = ["mask_late", "custom_late2d"]
    for i in (0, LATE - 1):
        got = proc[i]._fetch(late)
        n = len(events[i]["pdg"])
        assert [got[c].tolist() for c in late] == [[None] * n] * 2
    rows = proc.particles.select("event_id", *late).collect()
    assert rows and all(
        (r["mask_late"] is None and r["custom_late2d"] is None) == (r["event_id"] < LATE)
        for r in rows
    )


def test_writer_saves_each_sidecar_once(spark, tmp_path, monkeypatch):
    saved = []
    real = store_mod.save_table_schema

    def counted(root, name, schema):
        saved.append(name)
        return real(root, name, schema)

    monkeypatch.setattr(store_mod, "save_table_schema", counted)
    _write(spark, tmp_path / "s", _events())
    assert sorted(saved) == sorted(store_mod.TABLE_NAMES)


def test_store_cut_short_is_not_readable(spark, tmp_path):
    root = tmp_path / "s"
    with pytest.raises(RuntimeError):
        with HepWriter(spark, root, evts_per_chunk=EPC) as w:
            with w.new_process("p") as proc:
                for evt_w, ev in proc.event_iter(_events()[:5]):
                    evt_w.pdg = ev["pdg"]
                raise RuntimeError("cut")
    assert not store_mod.is_store(root)
    with pytest.raises(FileNotFoundError):
        HepReader(spark, root)
