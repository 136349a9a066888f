"""``functions.worker.map_rows``: the per-row Python map behind the
multimodal and text operators — 1:1 maps, filters and fan-outs through one
column-pruned ``mapInArrow`` typed from the declared schema — and its
column-at-a-time twin ``map_columns``."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pyspark.sql.types as T

from heparchy_spark.functions.worker import map_columns, map_rows
from heparchy_spark.plans.inspect import executed_plan


def _schema(*fields):
    return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in fields])


def test_null_inputs_and_empty_partition(spark):
    # 3 rows over 4 range splits: one partition holds no row at all
    df = spark.range(0, 3, numPartitions=4).select(
        "id",
        F.when(F.col("id") == 1, F.lit(None))
        .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
        .alias("s"),
    )
    assert df.rdd.glom().map(len).collect().count(0) >= 1

    def row(s):
        yield ("null" if s is None else s.upper(),)

    schema = _schema(("id", T.LongType(), False), ("out", T.StringType(), False))
    got = {r.id: r.out for r in map_rows(df, row, schema, ["id"], ["s"]).collect()}
    assert got == {0: "S0", 1: "null", 2: "S2"}


def test_batch_where_every_row_yields_nothing(spark):
    # batches of 2 rows over ids 0..5 in one partition: the first two
    # batches drop every row, the last keeps both of its rows
    df = spark.range(0, 6, numPartitions=1).select("id", F.col("id").alias("i"))

    def row(i):
        if i >= 4:
            yield (i * 10,)

    schema = _schema(("id", T.LongType(), False), ("v", T.LongType(), False))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        rows = map_rows(df, row, schema, ["id"], ["i"]).collect()
        none = map_rows(df, lambda i: iter(()), schema, ["id"], ["i"]).collect()
    finally:
        spark.conf.set(key, old)
    assert sorted((r.id, r.v) for r in rows) == [(4, 40), (5, 50)]
    assert none == []


def test_three_way_fan_out(spark):
    df = spark.range(0, 4, numPartitions=2).select(
        "id", (F.col("id") * 100).alias("base")
    )

    def row(base):
        for k in range(3):
            yield k, base + k

    schema = _schema(
        ("id", T.LongType(), False),
        ("k", T.IntegerType(), False),
        ("v", T.LongType(), False),
    )
    got = sorted(tuple(r) for r in map_rows(df, row, schema, ["id"], ["base"]).collect())
    assert got == [(i, k, i * 100 + k) for i in range(4) for k in range(3)]


def test_two_key_columns_carry_through(spark):
    # the keyframe histogram pass keys on (media_id, frame_idx)
    df = spark.range(0, 5, numPartitions=2).select(
        F.col("id").alias("media_id"),
        (F.col("id") * 7).cast("int").alias("frame_idx"),
        F.col("id").cast("string").alias("s"),
    )

    def row(s):
        yield (len(s) + 1,)

    schema = _schema(
        ("media_id", T.LongType(), False),
        ("frame_idx", T.IntegerType(), False),
        ("n", T.IntegerType(), False),
    )
    out = map_rows(df, row, schema, ["media_id", "frame_idx"], ["s"])
    assert out.schema == schema
    assert sorted(tuple(r) for r in out.collect()) == [(i, 7 * i, 2) for i in range(5)]


def test_nullable_long_yields_none_exactly(spark):
    # values above 2^53 would not survive a float64 round trip
    big = 2**62 + 1
    df = spark.range(0, 6, numPartitions=2).select("id", F.col("id").alias("i"))

    def row(i):
        yield (None if i % 2 else big + i,)

    schema = _schema(("id", T.LongType(), False), ("h", T.LongType(), True))
    got = {r.id: r.h for r in map_rows(df, row, schema, ["id"], ["i"]).collect()}
    assert got == {i: (None if i % 2 else big + i) for i in range(6)}


def test_float_array_and_binary_outputs(spark):
    df = spark.range(0, 3, numPartitions=1).select("id", F.col("id").alias("i"))

    def row(i):
        yield [0.5 * i, -1.25], bytes([i, 255]), None

    schema = _schema(
        ("id", T.LongType(), False),
        ("vec", T.ArrayType(T.FloatType()), False),
        ("blob", T.BinaryType(), True),
        ("none", T.BinaryType(), True),
    )
    out = map_rows(df, row, schema, ["id"], ["i"])
    assert out.schema == schema
    got = {r.id: (r.vec, bytes(r.blob), r.none) for r in out.collect()}
    assert got == {i: ([0.5 * i, -1.25], bytes([i, 255]), None) for i in range(3)}


def test_only_keys_and_inputs_reach_the_python_map(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(0, 4, numPartitions=1).select(
        "id",
        F.lit("junk").alias("junk"),
        F.col("id").cast("string").alias("s"),
        F.lit(1.5).alias("extra"),
    ).write.parquet(path)
    df = spark.read.parquet(path)

    def row(s):
        yield (s + "!",)

    schema = _schema(("id", T.LongType(), False), ("t", T.StringType(), False))
    out = map_rows(df, row, schema, ["id"], ["s"])
    assert sorted(r.t for r in out.collect()) == ["0!", "1!", "2!", "3!"]
    plan = executed_plan(out)
    args = re.search(r"MapInArrow \w+\(([^)]*)\)", plan).group(1)
    assert [re.sub(r"#\d+L?$", "", a.strip()) for a in args.split(",")] == ["id", "s"]
    assert re.search(r"ReadSchema: struct<id:bigint,s:string>", plan)


def test_map_columns_whole_columns_fan_out_and_pruning(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(0, 9, numPartitions=2).select(
        "id",
        F.lit("junk").alias("junk"),
        F.when(F.col("id") == 4, F.lit(None))
        .otherwise(F.repeat(F.lit("ab"), F.col("id").cast("int")))
        .alias("s"),
    ).write.parquet(path)
    df = spark.read.parquet(path)

    def lengths(s):
        import pyarrow.compute as pc

        return [pc.utf8_length(s)]

    def fan(s):
        import numpy as np

        n = len(s)
        return np.repeat(np.arange(n), 2), [np.tile([0, 1], n).astype(np.int32)]

    schema = _schema(("id", T.LongType(), False), ("n", T.IntegerType(), True))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        out = map_columns(df, lengths, schema, ["id"], ["s"])
        got = {r.id: r.n for r in out.collect()}
        fanned = map_columns(df, fan, schema, ["id"], ["s"]).collect()
    finally:
        spark.conf.set(key, old)
    assert out.schema == schema
    assert got == {i: (None if i == 4 else 2 * i) for i in range(9)}
    want = [(i, k) for i in range(9) for k in (0, 1)]
    assert sorted(tuple(r) for r in fanned) == want
    plan = executed_plan(out)
    args = re.search(r"MapInArrow \w+\(([^)]*)\)", plan).group(1)
    assert [re.sub(r"#\d+L?$", "", a.strip()) for a in args.split(",")] == ["id", "s"]
    assert re.search(r"ReadSchema: struct<id:bigint,s:string>", plan)
