"""HepMC3 ASCII bridge: pure-parser unit tests + distributed ingest."""

from __future__ import annotations

import textwrap

import pytest

from heparchy_spark.sources.hepmc import ingest_hepmc, parse_hepmc_ascii

SAMPLE = textwrap.dedent(
    """\
    HepMC::Version 3.02.05
    HepMC::Asciiv3-START_EVENT_LISTING
    E 0 2 4
    U GEV MM
    V -1 0 [1,2]
    P 1 -1 2212 0.0 0.0 7000.0 7000.0 0.938 4
    P 2 -1 2212 0.0 0.0 -7000.0 7000.0 0.938 4
    P 3 -1 25 1.2 3.4 5.6 125.3 125.0 22
    V -2 0 [3]
    P 4 -2 22 0.6 1.7 2.8 62.6 0.0 1
    E 1 1 2
    U GEV MM
    V -1 0 [1]
    P 1 -1 21 0.1 0.2 0.3 1.0 0.0 4
    P 2 -1 22 0.1 0.2 0.3 1.0 0.0 1
    HepMC::Asciiv3-END_EVENT_LISTING
    """
).splitlines()


def test_parser_events_and_linkage():
    rows = list(parse_hepmc_ascii(SAMPLE))
    by_key = {(r["event_id"], r["pcl_id"]): r for r in rows}
    assert len(rows) == 6
    # beams 1,2 of event 0 end at vertex -1, produced nowhere tracked (src 0)
    assert by_key[(0, 1)]["dst"] == -1 and not by_key[(0, 1)]["mask_final"]
    # higgs (pcl 3): produced at -1, decays at -2
    assert by_key[(0, 3)]["src"] == -1 and by_key[(0, 3)]["dst"] == -2
    # photon (pcl 4): produced at -2, final state
    assert by_key[(0, 4)]["src"] == -2
    assert by_key[(0, 4)]["dst"] == 0 and by_key[(0, 4)]["mask_final"]
    assert by_key[(0, 4)]["pdg"] == 22
    assert by_key[(0, 3)]["e"] == pytest.approx(125.3)
    # second event parsed independently
    assert by_key[(1, 2)]["mask_final"]
    assert by_key[(1, 1)]["dst"] == -1


def test_parser_beam_src_is_current_vertex_rule():
    # P before any V: src falls back to 0 (no production vertex)
    rows = list(parse_hepmc_ascii(["E 5 0 1", "P 1 0 11 0 0 1 1 0 1"]))
    assert rows[0]["src"] == 0 and rows[0]["event_id"] == 5


def test_distributed_ingest(spark, tmp_path):
    f1 = tmp_path / "a.hepmc"
    f1.write_text("\n".join(SAMPLE))
    f2 = tmp_path / "b.hepmc"
    f2.write_text("\n".join(SAMPLE).replace("E 0 2 4", "E 2 2 4").replace("E 1 1 2", "E 3 1 2"))
    df = ingest_hepmc(spark, [str(f1), str(f2)], process="test", evts_per_chunk=2)
    rows = df.collect()
    assert len(rows) == 12
    # per-file base of 2^32: file 0 keeps raw ids, file 1 is offset
    assert {r["event_id"] for r in rows} == {0, 1, 2**32 + 2, 2**32 + 3}
    assert {r["file_event_id"] for r in rows} == {0, 1, 2, 3}
    finals = [r for r in rows if r["mask_final"]]
    assert all(r["dst"] == 0 for r in finals)
    assert all(r["process"] == "test" for r in rows)
    assert all(r["e_unit"] == "GEV" for r in rows)


def test_ingest_runs_one_task_per_file(spark, tmp_path):
    # five files land in five partitions, one file each: the placement
    # is by range on the file index, never round-robin
    import pyspark.sql.functions as F

    paths = []
    for i in range(5):
        f = tmp_path / f"run-{i}.hepmc"
        f.write_text("\n".join(SAMPLE))
        paths.append(str(f))
    df = ingest_hepmc(spark, paths, process="test", evts_per_chunk=2)
    rows = df.select("*", F.spark_partition_id().alias("pid")).collect()
    ords_by_pid: dict[int, set] = {}
    for r in rows:
        ords_by_pid.setdefault(r["pid"], set()).add(r["file_ord"])
    assert len(ords_by_pid) == 5
    assert all(len(ords) == 1 for ords in ords_by_pid.values())
    assert set().union(*ords_by_pid.values()) == set(range(5))
    # rows and per-file event ids as the two-file ingest has them
    assert len(rows) == 30
    assert {r["event_id"] for r in rows} == {
        f * 2**32 + e for f in range(5) for e in (0, 1)
    }
    assert {r["file_event_id"] for r in rows} == {0, 1}
    want = sorted(
        (p["event_id"], p["pcl_id"], p["pdg"], p["src"], p["dst"])
        for p in parse_hepmc_ascii(SAMPLE)
    )
    for f in range(5):
        got = sorted(
            (r["file_event_id"], r["pcl_id"], r["pdg"], r["src"], r["dst"])
            for r in rows
            if r["file_ord"] == f
        )
        assert got == want


def test_ingest_colliding_event_ids_across_files(spark, tmp_path):
    # HepMC files typically number events from 0 — two files with the SAME
    # in-file ids must NOT merge into one event downstream.
    f1 = tmp_path / "a.hepmc"
    f1.write_text("\n".join(SAMPLE))
    f2 = tmp_path / "b.hepmc"
    f2.write_text("\n".join(SAMPLE))
    df = ingest_hepmc(spark, [str(f1), str(f2)], process="test")
    per_event = {
        r["event_id"]: r["n"]
        for r in df.groupBy("event_id").count().withColumnRenamed("count", "n").collect()
    }
    # 4 distinct events (2 per file), each with its own particle count
    assert len(per_event) == 4
    assert per_event[0] == 4 and per_event[1] == 2
    assert per_event[2**32] == 4 and per_event[2**32 + 1] == 2


def test_hepmc_datasource_format(spark, tmp_path):
    """spark.read.format('hepmc'): one partition per file, rows identical
    to the mapInPandas ingest path on the same files."""
    from heparchy_spark.sources.hepmc_datasource import register_hepmc_source

    f1 = tmp_path / "a.hepmc"
    f1.write_text("\n".join(SAMPLE))
    f2 = tmp_path / "b.hepmc"
    f2.write_text("\n".join(SAMPLE))
    register_hepmc_source(spark)

    df = spark.read.format("hepmc").load(str(tmp_path))
    assert df.rdd.getNumPartitions() == 2  # file-parallel planning

    cols = ["event_id", "file_event_id", "file_ord", "pcl_id", "pdg",
            "px", "e", "status", "src", "dst", "mask_final", "e_unit"]
    via_ds = sorted(tuple(r) for r in df.select(*cols).collect())
    via_ingest = sorted(
        tuple(r)
        for r in ingest_hepmc(spark, [str(f1), str(f2)])
        .select(*cols)
        .collect()
    )
    assert via_ds == via_ingest and len(via_ds) == 12

    # single-file load and glob load agree with themselves
    one = spark.read.format("hepmc").load(str(f1))
    assert one.count() == 6 and one.rdd.getNumPartitions() == 1
    globbed = spark.read.format("hepmc").load(str(tmp_path / "*.hepmc"))
    assert globbed.count() == 12

    import pytest as _pytest

    with _pytest.raises(Exception, match="no files match"):
        spark.read.format("hepmc").load(str(tmp_path / "none-*.hepmc")).count()


def test_hepmc_stream_source(spark, tmp_path):
    """spark.readStream.format('hepmc') -> snapshot_sink: files arriving
    in a drop dir become atomic table commits; a checkpointed restart
    reads only new files (offset-level exactly-once end to end)."""
    from heparchy_spark.sources.hepmc_datasource import register_hepmc_source
    from heparchy_spark.sources.snapshot import SnapshotTable, snapshot_sink

    register_hepmc_source(spark)
    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table = SnapshotTable(spark, tmp_path / "tbl")
    (drop / "part-000.hepmc").write_text("\n".join(SAMPLE))

    def run_once():
        stream = spark.readStream.format("hepmc").load(str(drop))
        q = snapshot_sink(stream, table, ckpt)
        q.awaitTermination(120)

    run_once()
    first = table.read().collect()
    assert len(first) == 6
    assert {r["file_ord"] for r in first} == {0}

    # second arrival: only the new file is read on restart
    (drop / "part-001.hepmc").write_text("\n".join(SAMPLE))
    run_once()
    both = table.read().collect()
    assert len(both) == 12
    assert {r["file_ord"] for r in both} == {0, 1}
    # event ids from different files never collide
    assert len({(r["event_id"], r["pcl_id"]) for r in both}) == 12
    # each micro-batch was one atomic manifest commit
    assert {v["operation"] for v in table.versions()} == {"append"}
