"""Round-trip property tests (SURVEY.md §5.1): write heparchy-shaped events
through the writer facade, read back through the reader facade, require
exact array equality and reference access semantics."""

from __future__ import annotations

import numpy as np
import pytest

from heparchy_spark.plans import has_partition_filters
from heparchy_spark.sources import HepReader, HepWriter
from tests.conftest import make_event


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A store with 2 processes; 'higgs' uses evts_per_chunk=4 to force
    multiple chunks from 10 events."""
    root = tmp_path_factory.mktemp("hepstore") / "store"
    rng = np.random.default_rng(7)
    events = [make_event(rng) for _ in range(10)]
    with HepWriter(spark, root, evts_per_chunk=4) as w:
        with w.new_process("higgs") as proc:
            proc.process_string = "p p > h z"
            proc.signal_pdgs = [25, 23]
            proc.com_energy(13.0, "TeV")
            proc.custom_meta["generator"] = "pythia"
            proc.custom_meta["in_pcls"] = [2212, 2212]
            proc.custom_meta["out_pcls"] = [25, 23]
            for evt_w, data in proc.event_iter(events):
                evt_w.pmu = data["pmu"]
                evt_w.pdg = data["pdg"]
                evt_w.status = data["status"]
                evt_w.helicity = data["helicity"]
                evt_w.color = data["color"]
                evt_w.edges = data["edges"]
                evt_w.edge_weights = data["edge_weights"]
                evt_w.masks["final"] = data["final"]
                evt_w.custom["pt_weight"] = data["pmu"]["x"] ** 2
                evt_w.custom_meta["mu"] = 1.5
        with w.new_process("dijet") as proc:
            proc.process_string = "p p > j j"
            with proc.new_event() as evt_w:
                evt_w.pmu = events[0]["pmu"]
    return root, events


def test_process_lookup_and_len(spark, store):
    root, events = store
    with HepReader(spark, root) as r:
        assert sorted(r.keys()) == ["dijet", "higgs"]
        proc = r["higgs"]
        assert len(proc) == 10  # metadata-only (read/hdf.py:444-445 parity)
        assert len(r["dijet"]) == 1
        with pytest.raises(KeyError):
            r["nope"]


def test_point_lookup_roundtrip_exact(spark, store):
    root, events = store
    with HepReader(spark, root) as r:
        proc = r["higgs"]
        for i in (0, 3, 7, 9):  # spans chunk boundaries (epc=4)
            evt = proc[i]
            d = events[i]
            np.testing.assert_array_equal(evt.pmu, d["pmu"])
            np.testing.assert_array_equal(evt.pdg, d["pdg"])
            np.testing.assert_array_equal(evt.status, d["status"])
            np.testing.assert_array_equal(evt.helicity, d["helicity"])
            np.testing.assert_array_equal(evt.color, d["color"])
            np.testing.assert_array_equal(evt.edges, d["edges"])
            np.testing.assert_array_equal(evt.edge_weights, d["edge_weights"])
            np.testing.assert_array_equal(evt.masks["final"], d["final"])
            np.testing.assert_allclose(
                evt.custom["pt_weight"], d["pmu"]["x"] ** 2
            )
            assert evt.count == len(d["pdg"])
            assert evt.custom_meta["mu"] == 1.5


def test_dtypes_match_reference(spark, store):
    root, _ = store
    with HepReader(spark, root) as r:
        evt = r["higgs"][0]
        assert evt.pmu.dtype.names == ("x", "y", "z", "e")
        assert evt.pdg.dtype == np.dtype("int32")
        assert evt.status.dtype == np.dtype("int16")
        assert evt.helicity.dtype == np.dtype("int16")
        assert evt.color.dtype.names == ("color", "anticolor")
        assert evt.edges.dtype.names == ("src", "dst")
        assert evt.edge_weights.dtype == np.dtype("float64")
        assert evt.masks["final"].dtype == np.dtype("bool")


def test_negative_index_and_bounds(spark, store):
    root, events = store
    with HepReader(spark, root) as r:
        proc = r["higgs"]
        np.testing.assert_array_equal(proc[-1].pdg, events[9]["pdg"])
        with pytest.raises(IndexError):
            proc[10]


def test_iteration_covers_all_events_shared_cursor(spark, store):
    root, events = store
    with HepReader(spark, root) as r:
        proc = r["higgs"]
        seen = {}
        held = None
        for evt in proc:
            seen[evt._event_id] = evt.count
            if evt._event_id == 2:
                held = evt.copy()  # read/hdf.py:356-361 parity
        assert sorted(seen) == list(range(10))
        assert all(seen[i] == len(events[i]["pdg"]) for i in range(10))
        # the shared cursor has moved on, the copy has not
        np.testing.assert_array_equal(held.pdg, events[2]["pdg"])


def test_event_ids_numeric_order(spark, store):
    root, _ = store
    with HepReader(spark, root) as r:
        assert r["higgs"].event_ids() == list(range(10))


def test_event_ids_collect_is_bounded(spark, store):
    """The list form refuses a driver-side collect past the cap (the
    check rides the metadata-only len, no scan); the DataFrame form is
    the sanctioned unbounded path."""
    import pytest

    root, _ = store
    with HepReader(spark, root) as r:
        proc = r["higgs"]
        with pytest.raises(ValueError, match="use event_ids_df"):
            proc.event_ids(max_ids=5)
        df = proc.event_ids_df()
        assert df.columns == ["event_id"]
        assert [x["event_id"] for x in df.collect()] == list(range(10))


def test_process_metadata(spark, store):
    root, _ = store
    with HepReader(spark, root) as r:
        proc = r["higgs"]
        assert proc.process_string == "p p > h z"
        np.testing.assert_array_equal(proc.signal_pdgs, [25, 23])
        assert proc.com_energy == (13.0, "TeV")
        assert proc.custom_meta["generator"] == "pythia"
        with pytest.warns(DeprecationWarning):
            d = proc.decay
        np.testing.assert_array_equal(d["in_pcls"], [2212, 2212])
        np.testing.assert_array_equal(d["out_pcls"], [25, 23])
        with pytest.warns(DeprecationWarning):
            assert proc.read_event(0).count == proc[0].count


def test_available_lists_datasets(spark, store):
    root, _ = store
    with HepReader(spark, root) as r:
        avail = r["higgs"][0].available
        for name in ("pmu", "pdg", "edges", "masks/final", "custom/pt_weight"):
            assert name in avail


def test_partition_pruning_point_lookup(spark, store):
    """P3: the point-lookup plan must prune to one (process, chunk_id)
    partition — PartitionFilters in the scan, not a full-store scan."""
    root, _ = store
    with HepReader(spark, root) as r:
        proc = r["higgs"]
        pcls = proc.particles
        df = pcls.where((pcls.chunk_id == 1) & (pcls.event_id == 5))
        assert has_partition_filters(df, "process", "chunk_id")


def test_spark_native_surface(spark, store):
    root, _ = store
    with HepReader(spark, root) as r:
        proc = r["higgs"]
        agg = (
            proc.particles.where("mask_final")
            .groupBy("event_id")
            .count()
            .collect()
        )
        assert len(agg) > 0
        assert proc.events.count() == 10
        assert proc.edges.count() > 0


def test_dag_traversal_edges_join(spark, store):
    """SURVEY.md §2.5: particles <-> edges correlation by event
    co-residence — a per-event self-equi-join on the DAG table."""
    import pyspark.sql.functions as F

    root, events = store
    with HepReader(spark, root) as r:
        proc = r["higgs"]
        e1, e2 = proc.edges.alias("e1"), proc.edges.alias("e2")
        # two-hop DAG walk: edges sharing an interior vertex, per event
        hops = e1.join(
            e2,
            (F.col("e1.event_id") == F.col("e2.event_id"))
            & (F.col("e1.dst") == F.col("e2.src")),
        ).select(
            F.col("e1.event_id").alias("event_id"),
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
        got = {
            (r["event_id"], r["a"], r["b"], r["c"]) for r in hops.collect()
        }
        # NumPy ground truth from the fixture arrays
        want = set()
        for eid, d in enumerate(events):
            ed = d["edges"]
            for i in range(len(ed)):
                for j in range(len(ed)):
                    if ed["dst"][i] == ed["src"][j]:
                        want.add(
                            (eid, int(ed["src"][i]), int(ed["dst"][i]), int(ed["dst"][j]))
                        )
        assert got == want


def test_nested_events_export(spark, store):
    """SURVEY.md §1.6: compact array<struct> export round-trips counts and
    per-particle values in pcl_idx order."""
    from heparchy_spark.sources.store import nested_events

    root, events = store
    with HepReader(spark, root) as r:
        nested = nested_events(r["higgs"].particles)
        rows = {r2["event_id"]: r2 for r2 in nested.collect()}
        assert len(rows) == 10
        for eid, d in enumerate(events):
            row = rows[eid]
            assert row["num_pcls"] == len(d["pdg"])
            got_pdg = [p["pdg"] for p in row["particles"]]
            np.testing.assert_array_equal(got_pdg, d["pdg"])


def test_compact_store_preserves_data(spark, tmp_path):
    """Compaction collapses per-event small files to one per partition and
    changes no rows; pruned point lookups still work afterwards."""
    import numpy as np

    from heparchy_spark.sources import HepReader, HepWriter
    from heparchy_spark.sources.maintenance import _parquet_files, compact_store
    from tests.conftest import make_event

    root = tmp_path / "s"
    rng = np.random.default_rng(23)
    events = [make_event(rng) for _ in range(6)]
    with HepWriter(spark, root, evts_per_chunk=3) as w:
        with w.new_process("p") as proc:
            for evt_w, data in proc.event_iter(events):
                evt_w.pmu = data["pmu"]
                evt_w.pdg = data["pdg"]

    with HepReader(spark, root) as r:
        before = {
            i: (r["p"][i].pmu.tolist(), r["p"][i].pdg.tolist())
            for i in range(6)
        }
    files_before = len(_parquet_files(root / "particles"))

    stats = compact_store(spark, root)

    assert stats["particles"]["files_before"] == files_before
    assert stats["particles"]["files_after"] <= files_before
    # 2 chunk partitions for one process -> exactly 2 files
    assert stats["particles"]["files_after"] == 2
    with HepReader(spark, root) as r:
        assert len(r["p"]) == 6
        for i in range(6):
            assert (
                r["p"][i].pmu.tolist(),
                r["p"][i].pdg.tolist(),
            ) == before[i]


def test_compact_files_per_partition_actually_splits(spark, tmp_path):
    """files_per_partition > 1 must salt on a ROW-VARYING column so each
    Hive partition really splits into that many files (regression: salting
    on the partition column itself was a silent no-op)."""
    import numpy as np

    from heparchy_spark.sources import HepWriter
    from heparchy_spark.sources.maintenance import _parquet_files, compact_table
    from tests.conftest import make_event

    root = tmp_path / "s"
    rng = np.random.default_rng(29)
    events = [make_event(rng) for _ in range(8)]
    with HepWriter(spark, root, evts_per_chunk=8) as w:
        with w.new_process("p") as proc:
            for evt_w, data in proc.event_iter(events):
                evt_w.pmu = data["pmu"]
                evt_w.pdg = data["pdg"]

    rows_before = spark.read.parquet(str(root / "particles")).count()
    stats = compact_table(spark, root, "particles", files_per_partition=2)
    # one (process, chunk_id) partition, asked for 2 files -> exactly 2
    assert stats["files_after"] == 2
    assert len(_parquet_files(root / "particles")) == 2
    assert spark.read.parquet(str(root / "particles")).count() == rows_before


def test_compact_store_event_sorted(spark, tmp_path):
    """sort_by_event compaction must keep data identical AND leave every
    file internally ordered by event_id (tight row-group stats for
    point-lookup pruning within a chunk)."""
    import numpy as np

    from heparchy_spark.sources import HepReader, HepWriter
    from heparchy_spark.sources.maintenance import compact_store
    from tests.conftest import assert_files_event_sorted, make_event

    root = tmp_path / "s"
    rng = np.random.default_rng(31)
    events = [make_event(rng) for _ in range(6)]
    with HepWriter(spark, root, evts_per_chunk=3) as w:
        with w.new_process("p") as proc:
            # write out of order so sorting has something to do
            for evt_w, data in proc.event_iter(events):
                evt_w.pmu = data["pmu"]
                evt_w.pdg = data["pdg"]

    with HepReader(spark, root) as r:
        before = {i: r["p"][i].pdg.tolist() for i in range(6)}

    compact_store(spark, root, sort_by_event=True)

    assert_files_event_sorted(root / "particles")
    with HepReader(spark, root) as r:
        assert len(r["p"]) == 6
        for i in range(6):
            assert r["p"][i].pdg.tolist() == before[i]


def test_compact_store_keeps_schema_sidecar(spark, tmp_path):
    """Compaction carries each table's schema sidecar across the swap, so
    point lookups over the Spark-rewritten chunk files read back exactly
    what they read before, and an all-empty table stays readable."""
    from heparchy_spark.sources import store as store_mod
    from heparchy_spark.sources.maintenance import compact_store

    root = tmp_path / "s"
    rng = np.random.default_rng(37)
    events = [make_event(rng) for _ in range(7)]
    with HepWriter(spark, root, evts_per_chunk=3) as w:
        with w.new_process("p") as proc:
            for evt_w, data in proc.event_iter(events):
                evt_w.pmu = data["pmu"]
                evt_w.pdg = data["pdg"]
                evt_w.edges = data["edges"]
                evt_w.edge_weights = data["edge_weights"]
                evt_w.masks["final"] = data["final"]
                evt_w.custom["pt"] = np.hypot(data["pmu"]["x"], data["pmu"]["y"])
                evt_w.custom["pair"] = np.stack([data["pdg"], data["pdg"] * 2], 1)
                evt_w.custom_meta["n"] = len(data["pdg"])

    def snapshot():
        with HepReader(spark, root) as r:
            proc = r["p"]
            out = []
            for i in range(len(proc)):
                evt = proc[i]
                out.append(
                    (
                        evt.pmu.tolist(),
                        evt.pdg.tolist(),
                        evt.edges.tolist(),
                        evt.edge_weights.tolist(),
                        evt.masks["final"].tolist(),
                        evt.custom["pt"].tolist(),
                        evt.custom["pair"].tolist(),
                        evt.custom_meta["n"],
                        evt.count,
                    )
                )
            return out, proc.particles.schema

    sidecars = {
        t: store_mod.schema_sidecar_path(root, t).read_text()
        for t in store_mod.TABLE_NAMES
    }
    before = snapshot()
    compact_store(spark, root)
    for t, text in sidecars.items():
        assert store_mod.schema_sidecar_path(root, t).read_text() == text, t
    assert snapshot() == before

    # every event empty: the particles table has a sidecar and no data file
    empty = tmp_path / "empty"
    with HepWriter(spark, empty) as w:
        with w.new_process("p") as proc:
            with proc.new_event() as evt_w:
                evt_w.pdg = np.array([], dtype="int32")
    compact_store(spark, empty)
    with HepReader(spark, empty) as r:
        assert r["p"].particles.count() == 0
        assert r["p"][0].pdg.tolist() == []
        assert r["p"][0].edges.tolist() == []  # the store has no edges table
