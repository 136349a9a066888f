"""Reference-layout conformance for HDF5 export, WITHOUT the reference
package (VERDICT r2 task 4).

``pip install heparchy`` (and even h5py) is unavailable in this sandbox,
so full file-level parity cannot run here.  What CAN be pinned is the
layout itself: ``layout_manifest`` builds the entire HDF5 tree —
group paths, attrs, datasets — as pure Python, and ``export_hdf5`` only
applies it with h5py.  These tests walk the manifest and assert the
exact contract the reference formatters produce:

- group keys ``evt-set-NNNNNN`` / ``evt-NNN``
  (``/root/reference/heparchy/utils.py:7-14``), checked against an
  INDEPENDENT reimplementation of the reference's padding arithmetic;
- file attrs ``layout``/``version``/``version_tuple``/``evts_per_chunk``
  (``write/hdf.py:571-575``);
- per-event attrs ``num_pcls`` + key registries ``mask_keys``/
  ``custom_keys``/``custom_meta_keys`` (``write/hdf.py:262-265``);
- always-present ``masks``/``custom`` event subgroups
  (``write/hdf.py:244-245``);
- reference dtypes for pmu/pdg (SURVEY.md §1.3).

When h5py IS present (reference-adjacent environments), the final test
round-trips through a real file too.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pytest

from heparchy_spark.plans import executed_plan
from heparchy_spark.sources.hdf5_bridge import layout_manifest

N_EVENTS = 7
EPC = 3  # forces multiple evt-set chunks


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from heparchy_spark.sources import HepWriter
    from tests.conftest import make_event

    root = tmp_path_factory.mktemp("goldenstore") / "s"
    rng = np.random.default_rng(23)
    events = [make_event(rng) for _ in range(N_EVENTS)]
    with HepWriter(spark, root, evts_per_chunk=EPC) as w:
        with w.new_process("signal") as proc:
            proc.com_energy(13.0, "TeV")
            for i, (evt_w, data) in enumerate(proc.event_iter(events)):
                evt_w.pmu = data["pmu"]
                evt_w.pdg = data["pdg"]
                evt_w.masks["final"] = data["final"]
                evt_w.custom["weights"] = data["pmu"]["e"] * 0.5
                evt_w.custom_meta["tag"] = f"evt{i}"
    return root, events


@pytest.fixture(scope="module")
def manifest(spark, store):
    root, _ = store
    return layout_manifest(spark, root)


def _ref_event_key(evt_num: int, evts_per_chunk: int) -> str:
    """The REFERENCE's own padding arithmetic (utils.py:7-10), restated
    independently of heparchy_spark's formatter."""
    pad_len = math.ceil(math.log10(evts_per_chunk))
    return f"evt-{evt_num % evts_per_chunk:0{pad_len}}"


def test_file_attrs_match_reference(manifest):
    file_attrs, _ = manifest
    assert file_attrs["layout"] == "heparchy"
    assert file_attrs["evts_per_chunk"] == EPC
    # write/hdf.py:573-574 stores both string forms of the version
    assert isinstance(file_attrs["version"], str)
    assert tuple(file_attrs["version"].split(".")) == file_attrs["version_tuple"]


def test_group_keys_match_reference_formats(manifest):
    _, groups = manifest
    paths = [g.path for g in groups]
    chunk_keys = {
        p.split("/")[1] for p in paths if len(p.split("/")) == 2
    }
    # every chunk key is evt-set-NNNNNN, numbered densely from 0
    assert chunk_keys == {
        f"evt-set-{i:06d}" for i in range(math.ceil(N_EVENTS / EPC))
    }
    event_keys = [
        (p.split("/")[1], p.split("/")[2])
        for p in paths
        if len(p.split("/")) == 3
    ]
    assert len(event_keys) == N_EVENTS
    for ckey, ekey in event_keys:
        assert re.fullmatch(r"evt-\d+", ekey)
    # in-chunk numbering reproduces the reference formatter exactly
    got = sorted(ekey for _, ekey in event_keys)
    want = sorted(_ref_event_key(i, EPC) for i in range(N_EVENTS))
    assert got == want


def test_groups_emitted_parent_before_child(manifest):
    _, groups = manifest
    seen: set[str] = set()
    for g in groups:
        parent = g.path.rsplit("/", 1)[0]
        assert parent == g.path or parent in seen, g.path
        seen.add(g.path)


def test_event_groups_carry_reference_attrs_and_registries(manifest, store):
    _, events = store
    _, groups = manifest
    by_path = {g.path: g for g in groups}
    evt_groups = sorted(
        (p for p in by_path if len(p.split("/")) == 3),
        key=lambda p: (p.split("/")[1], p.split("/")[2]),
    )
    for i, p in enumerate(evt_groups):
        g = by_path[p]
        assert g.attrs["num_pcls"] == len(events[i]["pmu"])
        assert g.attrs["mask_keys"] == ["final"]
        assert g.attrs["custom_keys"] == ["weights"]
        assert g.attrs["custom_meta_keys"] == ["tag"]
        assert g.attrs["tag"] == f"evt{i}"  # custom_meta lands in attrs
        # masks/custom subgroups exist even when empty (write/hdf.py:244-245)
        assert f"{p}/masks" in by_path and f"{p}/custom" in by_path
        np.testing.assert_array_equal(
            by_path[f"{p}/masks"].datasets["final"], events[i]["final"]
        )


def test_datasets_use_reference_dtypes(manifest):
    _, groups = manifest
    evt = next(g for g in groups if len(g.path.split("/")) == 3)
    pmu = evt.datasets["pmu"]
    assert pmu.dtype.names == ("x", "y", "z", "e")
    assert all(pmu.dtype[n] == np.dtype("<f8") for n in pmu.dtype.names)
    assert evt.datasets["pdg"].dtype == np.dtype("<i4")


def test_process_group_attrs(manifest):
    _, groups = manifest
    proc = next(g for g in groups if "/" not in g.path)
    assert proc.path == "signal"
    assert proc.attrs["num_evts"] == N_EVENTS
    assert proc.attrs["com_e"] == 13.0
    assert proc.attrs["e_unit"] == "TeV"
    assert "process" not in proc.attrs  # the group key IS the name


def test_export_roundtrip_when_h5py_present(spark, store, tmp_path):
    h5py = pytest.importorskip("h5py")
    from heparchy_spark.sources.hdf5_bridge import export_hdf5

    root, events = store
    out = tmp_path / "export.h5"
    export_hdf5(spark, root, out)
    with h5py.File(out, "r") as f:
        assert f.attrs["layout"] == "heparchy"
        assert f.attrs["evts_per_chunk"] == EPC
        eg = f["signal"]["evt-set-000000"]["evt-0"]
        assert eg.attrs["num_pcls"] == len(events[0]["pmu"])
        np.testing.assert_array_equal(eg["pdg"][...], events[0]["pdg"])


def test_multi_file_ingest_one_task_per_file(spark):
    """The bridge's parallel claim, asserted: N input files run as N
    concurrent mapInPandas tasks (one file per partition — HDF5 is
    unsplittable within a file, so files are the split unit) and the
    distributed union is row-identical to reading each file serially.
    h5py-free by design: the decode step is injected as a synthetic
    per-file reader, the Spark distribution plumbing under it is the
    REAL `distribute_file_reads` that `ingest_hdf5` runs on."""
    import pandas as pd
    import pyspark.sql.types as T

    from heparchy_spark.sources.hdf5_bridge import distribute_file_reads

    paths = [f"/synthetic/run-{i:03d}.h5" for i in range(5)]
    schema = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("event_id", T.LongType(), False),
            T.StructField("px", T.DoubleType(), False),
            T.StructField("task_pid", T.IntegerType(), False),
        ]
    )

    def fake_reader(path, file_idx):
        # deterministic per-file payload + the worker's partition id,
        # captured INSIDE the task (the parallelism witness)
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        i = int(path.rsplit("-", 1)[1].split(".")[0])
        assert file_idx == i  # the harness passes the path's list index
        yield pd.DataFrame(
            {
                "path": path,
                "event_id": [i * 10 + j for j in range(3)],
                "px": [float(i) + j / 10.0 for j in range(3)],
                "task_pid": pid,
            }
        )

    df = distribute_file_reads(spark, paths, fake_reader, schema)
    rows = df.collect()

    # one task per file: 5 files -> 5 distinct partition ids, and every
    # file's rows came out of exactly one task
    by_file = {}
    for r in rows:
        by_file.setdefault(r["path"], set()).add(r["task_pid"])
    assert set(by_file) == set(paths)
    assert all(len(pids) == 1 for pids in by_file.values())
    assert len({next(iter(p)) for p in by_file.values()}) == len(paths)

    # the plan really spreads the file list N ways (deterministic range
    # exchange on the file index, before the Python runner)
    plan = executed_plan(df)
    assert "rangepartitioning(__file_idx" in plan
    assert ", 5)" in plan

    # row-identical union vs serial per-file reads
    got = {
        (r["path"], r["event_id"], r["px"]) for r in rows
    }
    want = set()
    for p in paths:
        for pdf in fake_reader_serial(p):
            want.update(
                (rp, re, rx)
                for rp, re, rx in zip(pdf["path"], pdf["event_id"], pdf["px"])
            )
    assert got == want and len(want) == 15


def test_bridge_ingest_writes_schema_sidecars(spark, tmp_path, monkeypatch):
    """``ingest_hdf5`` stamps each table's schema sidecar, so reads skip
    footer unification; the h5py decode is replaced by a synthetic
    particles frame of the ingest's own schema."""
    from heparchy_spark.sources import hdf5_bridge, store
    from heparchy_spark.sources.reader import HepReader

    pmu = {  # event -> [(px, py, pz, e)]
        0: [(1.0, 2.0, 3.0, 4.5), (-0.5, 0.25, 7.0, 9.0)],
        1: [(0.125, -3.0, 2.5, 6.0), (4.0, 4.0, -4.0, 8.0), (0.0, 0.0, 1.0, 1.0)],
    }

    def fake_reads(spark, paths, reader, schema):
        rows = [
            ("signal", eid, 0, i, *p, 22, 1, 9, 501, 502)
            for eid, ps in pmu.items()
            for i, p in enumerate(ps)
        ]
        return spark.createDataFrame(rows, schema)

    monkeypatch.setattr(hdf5_bridge, "_require_h5py", lambda: None)
    monkeypatch.setattr(hdf5_bridge, "distribute_file_reads", fake_reads)
    dest = tmp_path / "bridged"
    hdf5_bridge.ingest_hdf5(spark, ["/synthetic/run-000.h5"], dest)

    for table in ("particles", "events", "processes"):
        assert store.schema_sidecar_path(dest, table).exists(), table
    with HepReader(spark, dest) as reader:
        proc = reader["signal"]
        assert len(proc) == 2
        for eid, ps in pmu.items():
            got = proc[eid].pmu
            want = np.array(ps, dtype="float64")
            for j, ref in enumerate(("x", "y", "z", "e")):
                np.testing.assert_array_equal(got[ref], want[:, j])


def fake_reader_serial(path):
    """Driver-side twin of the test's fake reader (no TaskContext)."""
    import pandas as pd

    i = int(path.rsplit("-", 1)[1].split(".")[0])
    yield pd.DataFrame(
        {
            "path": path,
            "event_id": [i * 10 + j for j in range(3)],
            "px": [float(i) + j / 10.0 for j in range(3)],
        }
    )
