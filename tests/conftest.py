"""Shared fixtures: one SparkSession per test run, small-core config."""

from __future__ import annotations

import time
import uuid

import numpy as np
import pytest

from heparchy_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        "heparchy-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # keep saveAsTable (bucketing tests) out of the repo tree
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-"),
        },
    )
    yield s


@pytest.fixture()
def rng():
    return np.random.default_rng(42)


def make_event(rng: np.random.Generator, n: int | None = None) -> dict:
    """A random heparchy-shaped event (reference dtypes, SURVEY.md §1.3)."""
    n = int(n if n is not None else rng.integers(3, 30))
    n_edges = int(rng.integers(2, 2 * n))
    pmu = np.empty(n, dtype=[("x", "<f8"), ("y", "<f8"), ("z", "<f8"), ("e", "<f8")])
    for f in ("x", "y", "z"):
        pmu[f] = rng.normal(0.0, 50.0, n)
    pmu["e"] = np.sqrt(pmu["x"] ** 2 + pmu["y"] ** 2 + pmu["z"] ** 2) + rng.uniform(
        0.0, 5.0, n
    )
    color = np.empty(n, dtype=[("color", "<i4"), ("anticolor", "<i4")])
    color["color"] = rng.integers(500, 510, n)
    color["anticolor"] = rng.integers(500, 510, n)
    edges = np.empty(n_edges, dtype=[("src", "<i4"), ("dst", "<i4")])
    edges["src"] = rng.integers(-n, 0, n_edges)
    edges["dst"] = rng.integers(-n, 0, n_edges)
    return {
        "pmu": pmu,
        "pdg": rng.choice([1, 2, 21, 22, 11, -11], n).astype("<i4"),
        "status": rng.choice([1, 2, 23, -23], n).astype("<i2"),
        "helicity": rng.choice([-1, 1, 9], n).astype("<i2"),
        "color": color,
        "edges": edges,
        "edge_weights": rng.uniform(0.0, 1.0, n_edges),
        "final": rng.random(n) < 0.4,
    }


def assert_files_event_sorted(table_dir) -> None:
    """Every data file of a store table is sorted by ``event_id``."""
    import pyarrow.parquet as pq

    from heparchy_spark.sources.maintenance import _parquet_files

    files = _parquet_files(table_dir)
    assert files, f"no data files under {table_dir}"
    for f in files:
        ids = pq.read_table(f, columns=["event_id"])["event_id"].to_pylist()
        assert ids == sorted(ids), f


def spark_jobs(spark, call) -> list[int]:
    """Ids of the Spark jobs ``call()`` started, through the public status
    tracker. The listener bus delivers events in order, so once a fence
    job run after the call is visible, so is every job the call ran."""
    sc = spark.sparkContext
    probe, fence = f"probe-{uuid.uuid4()}", f"fence-{uuid.uuid4()}"
    tracker = sc.statusTracker()
    sc.setJobGroup(probe, "jobs of the probed call")
    try:
        call()
    finally:
        sc.setJobGroup(fence, "listener fence")
    try:
        spark.range(1).count()
        deadline = time.monotonic() + 60
        while not tracker.getJobIdsForGroup(fence):
            assert time.monotonic() < deadline, "fence job never reported"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(tracker.getJobIdsForGroup(probe))


def write_table(df, sf_dir, name: str) -> None:
    """Write ``df`` as test table ``name`` under ``sf_dir`` in its declared
    schema (``queries/tables.SCHEMAS``), the only layout ``load`` accepts:
    columns in declared order and cast to the declared types, declared
    columns ``df`` lacks written as nulls."""
    import pyspark.sql.functions as F

    from heparchy_spark.queries.tables import SCHEMAS, _ddl_columns

    df.select(
        *[
            (F.col(c) if c in df.columns else F.lit(None)).cast(t).alias(c)
            for c, t in _ddl_columns(SCHEMAS[name])
        ]
    ).write.mode("overwrite").parquet(f"{sf_dir}/{name}.parquet")

