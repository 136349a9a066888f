"""``queries/tables.load``: declared schemas read with no Spark job, equal to
what Spark's own inference gives, and drift fails loudly before any job."""

from __future__ import annotations

import glob
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from heparchy_spark.errors import SchemaDriftError
from heparchy_spark.queries import tables
from heparchy_spark.queries.tables import TABLES, load
from tests.conftest import spark_jobs

REPO = Path(__file__).resolve().parent.parent
SF_DIRS = sorted(glob.glob("/root/testdata/sf*")) + [str(REPO / "perfbench/data/sf0.01")]
SMALL = "/root/testdata/sf0.001"


def _present(sf_dir: str) -> list[str]:
    return [t for t in TABLES if Path(f"{sf_dir}/{t}.parquet").exists()]


@pytest.fixture(scope="module")
def spark_written(spark, tmp_path_factory) -> str:
    """Every table rewritten by Spark as a directory of part files (the
    layout tools/scale_rehearsal.py produces)."""
    out = tmp_path_factory.mktemp("spark_written")
    for t in TABLES:
        load(spark, SMALL, t).repartition(2).write.parquet(f"{out}/{t}.parquet")
    return str(out)


def _inferred(spark, path: str):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_declared_schema_equals_inference(spark, sf_dir):
    names = _present(sf_dir)
    assert names, f"no tables under {sf_dir}"
    for t in names:
        assert load(spark, sf_dir, t).schema == _inferred(
            spark, f"{sf_dir}/{t}.parquet"
        ), t


def test_declared_schema_equals_inference_spark_written(spark, spark_written):
    for t in TABLES:
        assert len(glob.glob(f"{spark_written}/{t}.parquet/part-*")) >= 1
        assert load(spark, spark_written, t).schema == _inferred(
            spark, f"{spark_written}/{t}.parquet"
        ), t


@pytest.mark.parametrize("sf_dir", [SMALL, "spark_written"])
def test_load_runs_no_spark_job(spark, sf_dir, request):
    if sf_dir == "spark_written":
        sf_dir = request.getfixturevalue("spark_written")
    for t in TABLES:
        assert spark_jobs(spark, lambda: load(spark, sf_dir, t)) == [], t
    # positive control: the probe does see a job that runs
    assert spark_jobs(spark, lambda: load(spark, sf_dir, "region").count())


def _drifted(tmp_path, how: str) -> str:
    tbl = pq.read_table(f"{SMALL}/documents.parquet")
    if how == "renamed":
        tbl = tbl.rename_columns(["doc_id", "body"] + tbl.column_names[2:])
    elif how == "dropped":
        tbl = tbl.drop_columns(["lang"])
    else:  # retyped
        tbl = tbl.set_column(4, "n_chars", pc.cast(tbl["n_chars"], pa.int32()))
    pq.write_table(tbl, tmp_path / "documents.parquet")
    return str(tmp_path)


@pytest.mark.parametrize("how", ["renamed", "dropped", "retyped"])
def test_drift_raises_before_any_job(spark, tmp_path, how):
    sf_dir = _drifted(tmp_path, how)

    def call():
        with pytest.raises(SchemaDriftError, match="documents"):
            load(spark, sf_dir, "documents")

    assert spark_jobs(spark, call) == []


def test_drift_in_spark_written_dir_raises(spark, tmp_path):
    load(spark, SMALL, "embeddings").withColumnRenamed("label", "lbl").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    with pytest.raises(SchemaDriftError, match="lbl"):
        load(spark, str(tmp_path), "embeddings")


@pytest.mark.parametrize("how", [None, "renamed", "retyped"])
def test_path_pyarrow_cannot_open_checks_spark_inference(
    spark, tmp_path, monkeypatch, how
):
    """A path pyarrow cannot open (s3a:// and other Hadoop-only schemes) is
    checked against Spark's inferred schema, with the same typed error."""
    monkeypatch.setattr(tables, "_footer_columns", lambda path: None)
    if how is None:
        shutil.copy(f"{SMALL}/documents.parquet", tmp_path / "documents.parquet")
        df = load(spark, str(tmp_path), "documents")
        assert df.schema == _inferred(spark, f"{SMALL}/documents.parquet")
        assert df.count() == load(spark, SMALL, "documents").count()
        return
    with pytest.raises(SchemaDriftError):
        load(spark, _drifted(tmp_path, how), "documents")


def test_footer_reader_rejects_unknown_scheme():
    assert tables._footer_columns("s3a://bucket/sf/documents.parquet") is None


def test_events_nanos_timestamps_convert_to_micros(spark, tmp_path):
    """An events copy written by pyarrow with ``ts`` as timestamp[ns]
    (Parquet TIMESTAMP(NANOS)) loads with ``ts`` floored to microseconds."""
    tbl = pq.read_table(f"{SMALL}/events.parquet")
    i = tbl.column_names.index("ts")
    nanos = pc.add(pc.multiply(pc.cast(tbl["ts"], pa.int64()), 1000), 999)
    tbl = tbl.set_column(i, "ts", pc.cast(nanos, pa.timestamp("ns")))
    pq.write_table(tbl, tmp_path / "events.parquet")
    assert "timeUnit=nanoseconds" in str(
        pq.ParquetFile(tmp_path / "events.parquet").schema.column(i).logical_type
    )

    got = load(spark, str(tmp_path), "events")
    want = load(spark, SMALL, "events")
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert dict(want.dtypes)["ts"] == "timestamp_ntz"
    # compared as strings rendered in the (UTC) session time zone, so the
    # test does not depend on the Python process's local zone
    ts = F.col("ts").cast("string")
    rows = dict(got.select("event_id", ts).collect())
    ref = dict(want.select("event_id", ts).collect())
    assert len(rows) == len(ref) > 0
    assert rows == ref
