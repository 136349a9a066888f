"""Chunk files of the hep store: ``HepWriter`` flushes each chunk and the
reader facade reads each chunk with Arrow, straight from its Hive
directory and with no Spark job, while Spark scans the same files."""

from __future__ import annotations

import shutil
import uuid

import numpy as np
import pyspark.sql.types as T
import pytest

from heparchy_spark.sources import HepReader, HepWriter
from heparchy_spark.sources import store as store_mod
from heparchy_spark.sources.maintenance import _parquet_files
from tests.conftest import assert_files_event_sorted, make_event, spark_jobs


def _set_event(evt_w, data: dict) -> None:
    evt_w.pmu = data["pmu"]
    evt_w.pdg = data["pdg"]
    evt_w.edges = data["edges"]
    evt_w.edge_weights = data["edge_weights"]
    evt_w.masks["final"] = data["final"]
    evt_w.custom_meta["n"] = len(data["pdg"])


def _write_store(spark, root, events, *, process="p", epc=3) -> None:
    with HepWriter(spark, root, evts_per_chunk=epc) as w:
        with w.new_process(process) as proc:
            for evt_w, data in proc.event_iter(events):
                _set_event(evt_w, data)


def _assert_event_equal(evt, data: dict) -> None:
    np.testing.assert_array_equal(evt.pmu, data["pmu"])
    np.testing.assert_array_equal(evt.pdg, data["pdg"])
    np.testing.assert_array_equal(evt.edges, data["edges"])
    np.testing.assert_array_equal(evt.edge_weights, data["edge_weights"])
    np.testing.assert_array_equal(evt.masks["final"], data["final"])
    assert evt.count == len(data["pdg"])
    assert evt.custom_meta["n"] == len(data["pdg"])


def test_chunk_dir_matches_spark_partition_paths(spark, tmp_path):
    """``chunk_dir`` names the directory Spark's own partitioned write
    creates, for every ASCII character, non-ASCII text and the empty
    name."""
    names = ["".join(map(chr, range(1, 128))), "p p > h/z=1%:#", "héllo ☃", ""]
    out = tmp_path / "t"
    spark.createDataFrame(
        [(n, 7, 0) for n in names], "process string, chunk_id long, v int"
    ).write.partitionBy(*store_mod.PARTITION_COLS).parquet(str(out))
    made = {p.relative_to(out) for p in out.glob("process=*/chunk_id=*")}
    assert made == {
        store_mod.chunk_dir(tmp_path, "t", n, 7).relative_to(out) for n in names
    }


def test_hive_escaped_process_roundtrip(spark, tmp_path):
    name = "p p > h/z=1%:#"
    root = tmp_path / "s"
    rng = np.random.default_rng(41)
    events = [make_event(rng) for _ in range(5)]
    _write_store(spark, root, events, process=name, epc=2)
    assert store_mod.chunk_dir(root, "particles", name, 2).is_dir()

    with HepReader(spark, root) as r:
        assert r.keys() == [name]
        proc = r[name]
        assert len(proc) == 5
        got = [row["process"] for row in proc.particles.select("process").distinct().collect()]
        assert got == [name]
        assert proc.particles.count() == sum(len(d["pdg"]) for d in events)
        for i, data in enumerate(events):
            _assert_event_equal(proc[i], data)


def test_facade_io_runs_no_spark_job(spark, tmp_path):
    """A chunk flush, the writer close, each single-event read and an
    iteration run no Spark job; a Spark scan of the same store does (the
    probe works)."""
    root = tmp_path / "s"
    rng = np.random.default_rng(43)
    events = [make_event(rng) for _ in range(5)]

    def commit(data: dict) -> None:
        with proc.new_event() as evt_w:
            _set_event(evt_w, data)

    def close() -> None:
        proc.__exit__(None, None, None)
        w.__exit__(None, None, None)

    w = HepWriter(spark, root, evts_per_chunk=2).__enter__()
    proc = w.new_process("p").__enter__()
    commit(events[0])
    assert spark_jobs(spark, lambda: commit(events[1])) == []  # chunk flush
    for data in events[2:]:
        commit(data)
    assert spark_jobs(spark, close) == []  # last partial chunk + processes

    r = HepReader(spark, root)
    reads = {
        "open": lambda: r["p"],
        "keys": r.keys,
        "pmu": lambda: r["p"][3].pmu,
        "pdg": lambda: r["p"][3].pdg,
        "masks": lambda: r["p"][3].masks["final"],
        "edges": lambda: r["p"][3].edges,
        "edge_weights": lambda: r["p"][3].edge_weights,
        "count": lambda: r["p"][3].count,
        "custom_meta": lambda: r["p"][3].custom_meta["n"],
        "iterate": lambda: [e.pmu for e in r["p"]],
    }
    assert {k: spark_jobs(spark, f) for k, f in reads.items()} == {k: [] for k in reads}
    assert spark_jobs(spark, lambda: r["p"].particles.count())
    _assert_event_equal(r["p"][3], events[3])


def test_writer_files_sorted_by_event(spark, tmp_path):
    root = tmp_path / "s"
    rng = np.random.default_rng(47)
    _write_store(spark, root, [make_event(rng) for _ in range(8)], epc=3)
    for table in ("particles", "events", "edges"):
        assert len(_parquet_files(root / table)) == 3  # one file per chunk
        assert_files_event_sorted(root / table)


def test_hidden_temp_part_file_ignored(spark, tmp_path):
    """A leftover ``.part-*.parquet`` (a flush cut short before its
    rename) is invisible to the Spark scan and to ``proc[i]``."""
    root = tmp_path / "s"
    rng = np.random.default_rng(53)
    events = [make_event(rng) for _ in range(4)]
    _write_store(spark, root, events, epc=2)
    chunk = store_mod.chunk_dir(root, "particles", "p", 0)
    (part,) = _parquet_files(chunk)
    shutil.copy(part, chunk / f".part-{uuid.uuid4()}.c000.gzip.parquet")

    with HepReader(spark, root) as r:
        proc = r["p"]
        assert proc.particles.count() == sum(len(d["pdg"]) for d in events)
        for i in (0, 1):
            _assert_event_equal(proc[i], events[i])


def test_all_empty_chunk_writes_no_particles_file(spark, tmp_path):
    root = tmp_path / "s"
    rng = np.random.default_rng(59)
    full = [make_event(rng) for _ in range(2)]
    with HepWriter(spark, root, evts_per_chunk=2) as w:
        with w.new_process("p") as proc:
            for evt_w, data in proc.event_iter(full):
                _set_event(evt_w, data)
            for _ in range(2):
                with proc.new_event() as evt_w:
                    evt_w.pdg = np.array([], dtype="int32")

    assert not _parquet_files(store_mod.chunk_dir(root, "particles", "p", 1))
    assert _parquet_files(store_mod.chunk_dir(root, "events", "p", 1))
    with HepReader(spark, root) as r:
        proc = r["p"]
        assert len(proc) == 4
        assert proc.particles.where("chunk_id = 1").count() == 0
        assert proc.events.where("chunk_id = 1").count() == 2
        for i in (2, 3):
            evt = proc[i]
            assert evt.count == 0
            assert len(evt.pmu) == len(evt.pdg) == len(evt.edges) == 0
        _assert_event_equal(proc[1], full[1])


# One custom per kind ``writer._NUMPY_TO_SPARK`` accepts, with the Spark
# type it is stored as (names differ beyond case: Spark resolves
# columns case-insensitively).
_CUSTOM_TYPES = {
    "float": T.DoubleType(),
    "int": T.LongType(),
    "uint": T.LongType(),
    "bool": T.BooleanType(),
    "text": T.StringType(),
    "bytes": T.StringType(),
}


def _customs(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Each kind as a 1-D (``<name>1``) and a 2-D (``<name>2``) custom."""
    one = {
        "float": rng.normal(size=n),
        "int": rng.integers(-(2**40), 2**40, n),
        "uint": rng.integers(0, 2**31, n).astype("uint32"),
        "bool": rng.random(n) < 0.5,
        "text": rng.choice(np.array(["", "a", "bc", "déf", "ghij"]), n),
        "bytes": rng.choice(np.array([b"", b"x", b"yz"]), n),
    }
    out = {}
    for name, arr in one.items():
        out[f"{name}1"] = arr
        out[f"{name}2"] = np.stack([arr, arr[::-1], arr], axis=1)
    return out


@pytest.mark.parametrize("epc", [1, 2])
def test_custom_dtype_kinds_roundtrip(spark, tmp_path, epc):
    """Each custom kind reads back through ``evt.custom`` and through the
    Spark scan with the type the schema sidecar declares; ``S`` bytes read
    back as text."""
    root = tmp_path / "s"
    rng = np.random.default_rng(61)
    customs = [_customs(rng, n) for n in (4, 0, 3)]
    assert {a.dtype.kind for a in customs[0].values()} == set("fiubUS")
    with HepWriter(spark, root, evts_per_chunk=epc) as w:
        with w.new_process("p") as proc:
            for evt_w, cs in proc.event_iter(customs):
                for k, arr in cs.items():
                    evt_w.custom[k] = arr

    def want(arr: np.ndarray) -> np.ndarray:
        return arr.astype("U") if arr.dtype.kind == "S" else arr

    with HepReader(spark, root) as r:
        proc = r["p"]
        fields = {f.name: f.dataType for f in proc.particles.schema.fields}
        for name, typ in _CUSTOM_TYPES.items():
            assert fields[f"custom_{name}1"] == typ
            assert fields[f"custom_{name}2"] == T.ArrayType(typ)
        rows = proc.particles.orderBy("event_id", "pcl_idx").collect()
        for i, cs in enumerate(customs):
            evt = proc[i]
            mine = [row for row in rows if row["event_id"] == i]
            for k, arr in cs.items():
                if len(arr):
                    np.testing.assert_array_equal(evt.custom[k], want(arr))
                assert [row[f"custom_{k}"] for row in mine] == want(arr).tolist()
