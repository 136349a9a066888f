"""Driver test-table loaders (TESTDATA.md).

``load`` is the single scan entry point for the corpus.  Each table's
Spark schema is declared here (``SCHEMAS``: the DDL Spark's own inference
gives at every TESTDATA scale), so a load runs no schema-inference job.
The footer is read on the driver through ``pyarrow.dataset`` (one file of
a Spark-written directory), its column names and types are compared with
the declaration, and ``spark.read.schema(ddl).parquet(path)`` is returned.
Any mismatch — a renamed, dropped, added, reordered or retyped column —
raises ``SchemaDriftError`` before Spark runs anything, instead of reading
nulls under the declared schema.  A path pyarrow cannot open (``s3a://``
and other Hadoop-only schemes) is compared against Spark's inferred schema
instead, with the same error.  Catalyst still owns pushdown and pruning,
and the same call works on a directory of thousands of files.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.dataset as ds
import pyspark.sql.functions as F
from pyspark.errors import PySparkTypeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import StructType

from heparchy_spark.errors import SchemaDriftError

SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
    "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
    "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "events": "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, "
    "n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
TABLES = tuple(SCHEMAS)

# events.ts written as Parquet TIMESTAMP(NANOS) reads as a long under
# nanosAsLong; load converts it to microseconds after the read
_EVENTS_NANOS = SCHEMAS["events"].replace("ts TIMESTAMP_NTZ", "ts BIGINT")
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in SCHEMAS:
        raise KeyError(f"unknown test table: {name}")
    try:
        # the driver runs queries on ITS session; timestamp semantics must
        # match the timezone-naive DuckDB oracle regardless of its config
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf locked down
        pass
    path = f"{sf_dir}/{name}.parquet"
    found = _footer_columns(path)
    if found is None:
        found = _columns(spark.read.parquet(path).schema)
    ddl = _declared_ddl(name, path, found)
    df = spark.read.schema(ddl).parquet(path)
    if ddl == _EVENTS_NANOS:
        df = _micros_ts(df)
    return df


def _columns(schema: StructType) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _ddl_columns(ddl: str) -> list[tuple[str, str]]:
    return [
        (n, t.lower()) for n, t in (c.split(" ", 1) for c in ddl.split(", "))
    ]


def _spark_type(t: pa.DataType) -> str:
    """The type Spark's Parquet inference gives a column pyarrow reads as
    ``t`` (nanosecond timestamps: a long, under nanosAsLong)."""
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return "bigint"
    try:
        return from_arrow_type(t, prefer_timestamp_ntz=True).simpleString()
    except PySparkTypeError:
        return f"unmapped arrow type {t}"


def _footer_columns(path: str) -> list[tuple[str, str]] | None:
    """(name, Spark type) of the first data file's footer, read on the
    driver; None when pyarrow cannot open ``path``.  A Spark-written file
    carries its Spark schema in the footer, which Spark's inference
    prefers over the Parquet types, so this does too."""
    try:
        schema = ds.dataset(path, format="parquet").schema
    except (pa.ArrowException, OSError):
        return None
    spark_json = (schema.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return _columns(StructType.fromJson(json.loads(spark_json)))
    return [(f.name, _spark_type(f.type)) for f in schema]


def _declared_ddl(
    name: str, path: str, found: list[tuple[str, str]]
) -> str:
    declared = [SCHEMAS[name]] + ([_EVENTS_NANOS] if name == "events" else [])
    for ddl in declared:
        if _ddl_columns(ddl) == found:
            return ddl
    want = _ddl_columns(SCHEMAS[name])
    want_t, found_t = dict(want), dict(found)
    missing = [c for c in want_t if c not in found_t]
    extra = [c for c in found_t if c not in want_t]
    retyped = [
        f"{c}: {want_t[c]} -> {found_t[c]}"
        for c in want_t
        if c in found_t and want_t[c] != found_t[c]
    ]
    raise SchemaDriftError(
        f"{path}: schema differs from the declared {name} schema "
        f"(missing {missing}, unexpected {extra}, retyped {retyped}; "
        f"declared {want}, found {found})"
    )


def _micros_ts(df: DataFrame) -> DataFrame:
    """Nanosecond ``ts`` longs to a microsecond timestamp (floor division
    — matches DuckDB's nanos->micros truncation)."""
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
