"""HepMC3 ASCII → hep-store ingest (SURVEY.md §2.1 S10).

The reference README claims a "direct interface from HepMC files to HDF5
format" but ships none (``/root/reference/README.md:39``;
``read/__init__.py:10`` names hepmc yet only hdf exists). This module
closes that gap against the *public* HepMC3 ASCII format
(doi:10.1016/j.cpc.2020.107310; lines ``E``/``U``/``V``/``P``):

    E <num> <n_vertices> <n_particles>
    U <energy-unit> <length-unit>
    V <id> <status> [<incoming particle ids>]
    P <id> <production vertex id | mother particle id> <pdg>
      <px> <py> <pz> <e> <mass> <status>

Mapping to the heparchy model: a particle is an edge of the generation DAG
(src = production vertex, dst = decay vertex — the vertex that lists it as
incoming; particles nobody consumes are final-state, dst = 0, mask_final).

Scale shape: one Spark task per file, placed by the HDF5 bridge's
``distribute_file_reads`` harness; the parser itself is pure Python,
line-streaming, and unit-testable without Spark.
"""

from __future__ import annotations

import typing as ty

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from heparchy_spark.sources.hdf5_bridge import distribute_file_reads

__all__ = ["parse_hepmc_ascii", "ingest_hepmc", "HEPMC_PARTICLE_SCHEMA"]

HEPMC_PARTICLE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("pcl_id", T.IntegerType(), False),
        T.StructField("px", T.DoubleType(), True),
        T.StructField("py", T.DoubleType(), True),
        T.StructField("pz", T.DoubleType(), True),
        T.StructField("e", T.DoubleType(), True),
        T.StructField("mass", T.DoubleType(), True),
        T.StructField("pdg", T.IntegerType(), True),
        T.StructField("status", T.ShortType(), True),
        T.StructField("src", T.IntegerType(), True),  # production vertex
        T.StructField("dst", T.IntegerType(), True),  # decay vertex (0=final)
        T.StructField("mask_final", T.BooleanType(), True),
        T.StructField("e_unit", T.StringType(), True),
    ]
)


def parse_hepmc_ascii(
    lines: ty.Iterable[str],
) -> ty.Iterator[dict]:
    """Stream particle dicts (HEPMC_PARTICLE_SCHEMA fields) from HepMC3
    ASCII lines. Pure Python; one pass; tolerant of attribute/comment
    lines (``A``/``W``/``N``/anything else is skipped)."""
    event_id: int | None = None
    e_unit = "GEV"
    cur_vertex = 0
    particles: dict[int, dict] = {}
    end_vertex: dict[int, int] = {}

    def flush() -> ty.Iterator[dict]:
        for pid, p in sorted(particles.items()):
            dst = end_vertex.get(pid, 0)
            p["dst"] = dst
            p["mask_final"] = dst == 0
            p["e_unit"] = e_unit
            yield p

    for raw in lines:
        parts = raw.split()
        if not parts:
            continue
        tag = parts[0]
        if tag == "E":
            yield from flush()
            particles, end_vertex = {}, {}
            cur_vertex = 0
            event_id = int(parts[1])
        elif tag == "U":
            e_unit = parts[1]
        elif tag == "V" and event_id is not None:
            cur_vertex = int(parts[1])
            if "[" in raw:
                inc = raw[raw.index("[") + 1 : raw.index("]")]
                for tok in inc.replace(",", " ").split():
                    end_vertex[int(tok)] = cur_vertex
        elif tag == "P" and event_id is not None:
            pid = int(parts[1])
            mother = int(parts[2])
            # negative mother = explicit production vertex; positive =
            # mother particle -> production vertex is the current vertex
            src = mother if mother < 0 else cur_vertex
            particles[pid] = {
                "event_id": event_id,
                "pcl_id": pid,
                "pdg": int(parts[3]),
                "px": float(parts[4]),
                "py": float(parts[5]),
                "pz": float(parts[6]),
                "e": float(parts[7]),
                "mass": float(parts[8]),
                "status": int(parts[9]),
                "src": src,
            }
    yield from flush()


def ingest_hepmc(
    spark: SparkSession,
    paths: ty.Sequence[str],
    process: str = "hepmc",
    evts_per_chunk: int = 1000,
) -> DataFrame:
    """Distributed HepMC ingest: one task per file, long-format particle
    rows out. Join-ready with the hep-store model: ``(process, event_id,
    chunk_id)`` keys, ``src``/``dst`` DAG columns, ``mask_final``.

    HepMC files each number their events from 0, so ingesting several
    files would collide on ``(process, event_id, chunk_id)`` and merge
    particle sets downstream.  Events are therefore renumbered with a
    per-file base: ``event_id = file_ord * 2^32 + in-file id`` (file 0
    keeps its raw ids — single-file ingest is unchanged); the raw in-file
    id is preserved as ``file_event_id`` alongside ``file_ord``.
    """

    def read_file(path: str, file_ord: int) -> ty.Iterator:
        import pandas as pd

        with open(path, encoding="utf-8") as lines:
            rows = list(parse_hepmc_ascii(lines))
        if rows:
            out = pd.DataFrame(rows)
            out["file_ord"] = file_ord
            yield out

    schema = T.StructType(
        [*HEPMC_PARTICLE_SCHEMA, T.StructField("file_ord", T.IntegerType())]
    )
    particles = distribute_file_reads(spark, paths, read_file, schema)
    global_eid = F.col("file_ord").cast("long") * F.lit(2**32) + F.col(
        "event_id"
    )
    return particles.select(
        F.lit(process).alias("process"),
        global_eid.alias("event_id"),
        (global_eid / evts_per_chunk).cast("long").alias("chunk_id"),
        F.col("event_id").alias("file_event_id"),
        "file_ord",
        "pcl_id",
        "px",
        "py",
        "pz",
        "e",
        "mass",
        "pdg",
        "status",
        "src",
        "dst",
        "mask_final",
        "e_unit",
    )
