"""Distributed prefix sum: exactness vs serial scan, bucket seams,
degenerate ranges, interval concurrency semantics; the equi-width
bucket at its boundaries."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from heparchy_spark.operators.sweep import (
    bin_of,
    interval_concurrency,
    prefix_sum,
    range_bucket,
    sql_bin_of,
)
from heparchy_spark.plans import executed_plan


def test_prefix_sum_matches_serial(spark, rng):
    keys = rng.permutation(500).tolist()
    vals = rng.integers(-5, 10, 500).tolist()
    rows = [(int(k), int(v)) for k, v in zip(keys, vals)]
    df = spark.createDataFrame(rows, "o long, v long")
    got = {
        r.o: r.v_cum
        for r in prefix_sum(df, "o", ["v"], n_buckets=7).collect()
    }
    acc = 0
    for k, v in sorted(rows):
        acc += v
        assert got[k] == acc


def test_prefix_sum_multi_column_and_single_bucket(spark):
    rows = [(1, 1, 10), (2, 2, 20), (3, 3, 30)]
    df = spark.createDataFrame(rows, "o long, a long, b long")
    out = {
        r.o: (r.a_cum, r.b_cum)
        for r in prefix_sum(df, "o", ["a", "b"], n_buckets=64).collect()
    }
    assert out == {1: (1, 10), 2: (3, 30), 3: (6, 60)}


def test_prefix_sum_all_equal_order_range(spark):
    # lo == hi (single distinct key) must not divide by zero
    df = spark.createDataFrame([(7, 3)], "o long, v long")
    assert prefix_sum(df, "o", ["v"]).collect()[0].v_cum == 3


def test_bin_of_boundaries(spark):
    """v = lo -> 0, v = hi -> n-1 (clamped), hi = lo -> 0, null v ->
    null; range_bucket reads the bounds off the column and drops
    them."""
    rows = [
        (0.0, 0.0, 10.0),
        (4.99, 0.0, 10.0),
        (10.0, 0.0, 10.0),
        (3.0, 3.0, 3.0),
        (None, 0.0, 10.0),
        (None, 3.0, 3.0),
    ]
    df = spark.createDataFrame(rows, "v double, lo double, hi double")
    b = bin_of(F.col("v"), F.col("lo"), F.col("hi"), 4)
    assert [r.b for r in df.select(b.alias("b")).collect()] == [
        0, 1, 3, 0, None, None,
    ]
    vals = spark.createDataFrame([(0.0,), (4.99,), (10.0,)], "v double")
    out = range_bucket(vals, "v", 4, "b")
    assert out.columns == ["v", "b"]
    assert sorted((r.v, r.b) for r in out.collect()) == [
        (0.0, 0), (4.99, 1), (10.0, 3),
    ]


def test_oracle_bin_agrees_with_bin_of_on_nulls(spark):
    """The oracles' bucket text (``operators.sweep.sql_bin_of``, on
    DuckDB) gives what ``bin_of`` gives on Spark, a null value included:
    DuckDB's ``LEAST`` skips a null, so an unguarded oracle put it in
    the last bin."""
    import duckdb

    rows = [
        (0.0, 0.0, 10.0),
        (4.99, 0.0, 10.0),
        (10.0, 0.0, 10.0),
        (3.0, 3.0, 3.0),
        (None, 0.0, 10.0),
        (None, 3.0, 3.0),
    ]
    df = spark.createDataFrame(rows, "v double, lo double, hi double")
    b = bin_of(F.col("v"), F.col("lo"), F.col("hi"), 10)
    want = [r.b for r in df.select(b.alias("b")).collect()]
    values = ", ".join(
        f"({i}, {'NULL' if v is None else v}, {lo}, {hi})"
        for i, (v, lo, hi) in enumerate(rows)
    )
    got = duckdb.sql(
        f"SELECT {sql_bin_of('v', 'lo', 'hi', 10)} AS b"
        f" FROM (VALUES {values}) t(i, v, lo, hi) ORDER BY i"
    ).fetchall()
    assert [r[0] for r in got] == want == [0, 4, 9, 0, None, None]


def test_interval_concurrency_half_open(spark):
    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # [0,10) [5,15) [10,20): at t=10 the first closes as the third opens
    rows = [(ts(0), ts(10)), (ts(5), ts(15)), (ts(10), ts(20))]
    df = spark.createDataFrame(rows, "s timestamp, e timestamp")
    got = {
        r.t: r.concurrent
        for r in interval_concurrency(df, "s", "e").collect()
    }
    assert got[ts(0)] == 1
    assert got[ts(5)] == 2
    assert got[ts(10)] == 2  # -1 and +1 net at the seam
    assert got[ts(15)] == 1
    assert got[ts(20)] == 0


def test_interval_concurrency_never_single_partition_window(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))],
        "s timestamp, e timestamp",
    )
    plan = executed_plan(interval_concurrency(df, "s", "e"))
    # every unbounded Window must be over __b (bucketed, parallel) —
    # except the one on the |buckets|-row offsets table, which shows up
    # partitioned by nothing but reads a bounded aggregate
    for line in plan.splitlines():
        if "Window" in line and "partitionBy" not in line:
            continue
    sums = [ln for ln in plan.splitlines() if "Window " in ln]
    assert any("__b" in ln for ln in sums)


def test_grouped_prefix_sum_matches_serial(spark, rng):
    # several groups with different sizes, ranges, and duplicate-free keys
    rows = []
    for gi, size in enumerate([1, 3, 40, 200]):
        keys = (rng.permutation(size * 3)[:size] + gi * 10000).tolist()
        vals = rng.integers(-5, 10, size).tolist()
        rows += [(f"g{gi}", int(k), int(v)) for k, v in zip(keys, vals)]
    df = spark.createDataFrame(rows, "g string, o long, v long")
    got = {
        (r.g, r.o): r.v_cum
        for r in prefix_sum(
            df, "o", ["v"], n_buckets=7, partition_cols=["g"]
        ).collect()
    }
    assert len(got) == len(rows)
    by_g: dict[str, list] = {}
    for g, k, v in rows:
        by_g.setdefault(g, []).append((k, v))
    for g, kv in by_g.items():
        acc = 0
        for k, v in sorted(kv):
            acc += v
            assert got[(g, k)] == acc


def test_grouped_prefix_sum_groups_are_independent(spark):
    # same key values in two groups must not bleed into each other
    rows = [("a", 1, 10), ("a", 2, 100), ("b", 1, 7), ("b", 2, 70)]
    df = spark.createDataFrame(rows, "g string, o long, v long")
    out = {
        (r.g, r.o): r.v_cum
        for r in prefix_sum(
            df, "o", ["v"], partition_cols=["g"]
        ).collect()
    }
    assert out == {
        ("a", 1): 10,
        ("a", 2): 110,
        ("b", 1): 7,
        ("b", 2): 77,
    }
