"""Time-series regularization: resample buckets, gap-fill completeness,
LOCF semantics, and the runaway-axis guard."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from heparchy_spark.operators.timeseries import gap_fill, locf, resample
from heparchy_spark.queries.tables import load
from tests.conftest import write_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def tiny(spark):
    rows = [
        ("a", "2024-01-01 00:05:00", 1.0),
        ("a", "2024-01-01 00:20:00", 2.0),
        ("a", "2024-01-01 02:10:00", 4.0),  # hour 01 missing
        ("b", "2024-01-01 03:00:00", 10.0),
    ]
    return spark.createDataFrame(
        rows, "g string, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_resample_buckets_and_aggregates(tiny):
    got = {
        (r["g"], str(r["bucket"]), r["total"])
        for r in resample(
            tiny, "ts", "1 hour", ["g"], [F.sum("v").alias("total")]
        ).collect()
    }
    assert got == {
        ("a", "2024-01-01 00:00:00", 3.0),
        ("a", "2024-01-01 02:00:00", 4.0),
        ("b", "2024-01-01 03:00:00", 10.0),
    }


def test_gap_fill_completes_each_groups_axis(tiny):
    rows = gap_fill(
        tiny, "ts", "1 hour", ["g"], [F.sum("v").alias("total")]
    ).collect()
    got = {(r["g"], str(r["bucket"]), r["total"]) for r in rows}
    # group a: complete 00..02 axis with a NULL hole; group b: its own
    # single-bucket axis (never a's span — axes are per group)
    assert got == {
        ("a", "2024-01-01 00:00:00", 3.0),
        ("a", "2024-01-01 01:00:00", None),
        ("a", "2024-01-01 02:00:00", 4.0),
        ("b", "2024-01-01 03:00:00", 10.0),
    }


def test_locf_carries_forward_but_not_backward(tiny, spark):
    gf = gap_fill(tiny, "ts", "1 hour", ["g"], [F.sum("v").alias("total")])
    filled = {
        (r["g"], str(r["bucket"]), r["total"])
        for r in locf(gf, ["total"], "bucket", ["g"]).collect()
    }
    assert ("a", "2024-01-01 01:00:00", 3.0) in filled  # hole carried
    # leading NULL stays NULL: a group whose first bucket is a hole
    lead = spark.createDataFrame(
        [("c", "2024-01-01 05:00:00", None), ("c", "2024-01-01 06:00:00", 7.0)],
        "g string, bucket string, total double",
    ).withColumn("bucket", F.col("bucket").cast("timestamp"))
    out = {
        (str(r["bucket"]), r["total"])
        for r in locf(lead, ["total"], "bucket", ["g"]).collect()
    }
    assert ("2024-01-01 05:00:00", None) in out
    assert ("2024-01-01 06:00:00", 7.0) in out


def test_gap_fill_runaway_axis_guard(tiny, spark):
    stray = tiny.unionByName(
        spark.createDataFrame(
            [("a", "1970-01-01 00:00:00", 0.0)], "g string, ts string, v double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    with pytest.raises(Exception, match="max_buckets"):
        gap_fill(
            stray, "ts", "1 hour", ["g"], [F.sum("v").alias("total")],
            max_buckets=1000,
        ).count()


def test_gap_fill_events_axis_is_dense(spark):
    """Real events table: every group's hourly axis is dense (consecutive
    buckets differ by exactly the step) and observed buckets match the
    plain resample."""
    ev = load(spark, SF_DIR, "events")
    gf = gap_fill(
        ev, "ts", "6 hours", ["event_type"],
        [F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")],
    )
    import datetime as dt

    by_g: dict[str, list] = {}
    for r in gf.collect():
        by_g.setdefault(r["event_type"], []).append(r["bucket"])
    assert by_g
    for g, buckets in by_g.items():
        buckets.sort()
        steps = {
            (b2 - b1) for b1, b2 in zip(buckets, buckets[1:])
        }
        assert steps <= {dt.timedelta(hours=6)}, g
    # non-null rows agree with resample
    rs = resample(
        ev, "ts", "6 hours", ["event_type"],
        [F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")],
    )
    got = {
        (r["event_type"], r["bucket"], r["n"], r["v"])
        for r in gf.where(F.col("n").isNotNull()).collect()
    }
    want = {
        (r["event_type"], r["bucket"], r["n"], r["v"]) for r in rs.collect()
    }
    assert got == want


def test_interpolate_linear_between_neighbors(tiny, spark):
    from heparchy_spark.operators.timeseries import interpolate_linear

    gf = gap_fill(tiny, "ts", "1 hour", ["g"], [F.sum("v").alias("total")])
    out = {
        (r["g"], str(r["bucket"]), r["total"])
        for r in interpolate_linear(gf, "total", "bucket", ["g"]).collect()
    }
    # hour 01 hole sits midway between 3.0 (hour 00) and 4.0 (hour 02)
    assert ("a", "2024-01-01 01:00:00", 3.5) in out
    assert ("a", "2024-01-01 00:00:00", 3.0) in out  # observed untouched

    # leading/trailing holes stay NULL (no extrapolation)
    edge = spark.createDataFrame(
        [
            ("c", "2024-01-01 00:00:00", None),
            ("c", "2024-01-01 01:00:00", 2.0),
            ("c", "2024-01-01 02:00:00", None),
            ("c", "2024-01-01 03:00:00", 6.0),
            ("c", "2024-01-01 04:00:00", None),
        ],
        "g string, bucket string, total double",
    ).withColumn("bucket", F.col("bucket").cast("timestamp"))
    got = {
        (str(r["bucket"]), r["total"])
        for r in interpolate_linear(edge, "total", "bucket", ["g"]).collect()
    }
    assert ("2024-01-01 00:00:00", None) in got
    assert ("2024-01-01 04:00:00", None) in got
    # unevenly spaced hole: 2h into a 1h->3h span of 2.0->6.0 -> 4.0
    # (time-weighted, NOT midpoint-of-values)
    assert ("2024-01-01 02:00:00", 4.0) in got


def test_cusum_peaks_at_level_shift(spark):
    """CUSUM: a series with a mid-point level shift peaks |cusum| at the
    shift boundary; the additive decomposition reconstructs the series
    exactly (value == trend + seasonal + residual by construction)."""
    import datetime as dt

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from heparchy_spark.queries.numeric import davg

    rows = []
    for i in range(20):
        n = 10 if i < 10 else 30  # level shift at day 10
        rows.append((dt.date(2024, 1, 1) + dt.timedelta(days=i), n))
    daily = spark.createDataFrame(rows, "day date, n long").withColumn(
        "event_type", F.lit("x")
    )
    m = daily.groupBy("event_type").agg(davg("n").alias("mean_n"))
    wrun = (
        Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = daily.join(m, "event_type").withColumn(
        "cusum",
        F.round(
            F.sum(
                F.round(F.col("n") - F.col("mean_n"), 8).cast(
                    "decimal(38,10)"
                )
            ).over(wrun).cast("double"),
            6,
        ),
    )
    peak = (
        c.orderBy(F.abs(F.col("cusum")).desc(), F.asc("day")).limit(1)
        .collect()[0]
    )
    assert peak.day == dt.date(2024, 1, 10)  # last pre-shift day


def test_ewma_constant_step_and_first_row(spark):
    """Bounded-horizon EWMA: a constant series smooths to itself, the
    first row (no lags) renormalizes to exactly its own value, and after
    a level step the EWMA moves monotonically toward the new level while
    lagging behind it."""
    import datetime as dt

    import pyspark.sql.functions as F  # noqa: F401

    import heparchy_spark.queries.streaming_like  # noqa: F401
    from heparchy_spark.queries import REGISTRY

    rows = []
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    for i in range(30):
        val = 5.0 if i < 15 else 9.0  # step at day 15
        rows.append((i, base + dt.timedelta(days=i), "step", val, 1))
        rows.append((1000 + i, base + dt.timedelta(days=i), "const", 3.5, 1))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, "
        "value double, user_id long"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        write_table(df, td, "events")
        out = REGISTRY["events_ewma_value"].spark(spark, td).collect()
    const = sorted(
        (r for r in out if r["event_type"] == "const"), key=lambda r: r["day"]
    )
    step = sorted(
        (r for r in out if r["event_type"] == "step"), key=lambda r: r["day"]
    )
    for r in const:
        assert abs(r["ewma"] - 3.5) < 1e-6
    assert abs(step[0]["ewma"] - step[0]["daily_mean"]) < 1e-6
    post = [r["ewma"] for r in step[15:]]
    assert all(b > a for a, b in zip(post, post[1:]))  # monotone approach
    assert all(5.0 < v < 9.0 for v in post[:5])  # lags behind the level
    assert post[-1] > 8.5  # converges


def test_markov_entropy_extremes(spark):
    """A strictly-cycling user has entropy 0 (every transition
    deterministic); a user alternating unpredictably between two next
    states from one state approaches ln 2 per transition; single-event
    users emit no row."""
    import datetime as dt
    import math

    from heparchy_spark.queries.streaming_like import events_markov_entropy

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    # user 1: a b a b a b ... -> transitions a->b, b->a only
    for i, et in enumerate(["a", "b"] * 6):
        rows.append((100 + i, t0 + dt.timedelta(minutes=i), 1, et, 0.0, "{}"))
    # user 2: from 'a' go to b, c, b, c ... (each a->X 50/50), X->a always
    seq = ["a", "b", "a", "c", "a", "b", "a", "c", "a"]
    for i, et in enumerate(seq):
        rows.append((200 + i, t0 + dt.timedelta(minutes=i), 2, et, 0.0, "{}"))
    # user 3: one event, no transitions
    rows.append((300, t0, 3, "a", 0.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        write_table(ev, d, "events")
        got = {
            r.user_id: r
            for r in events_markov_entropy(spark, d).collect()
        }
    assert set(got) == {1, 2}
    assert got[1].entropy_rate == 0.0
    # user 2: 8 transitions, a->b 2, a->c 2 (ci=4), b->a 2, c->a 2
    # H = -(2/8 ln .5)*2 - 0 - 0 = .5 ln 2
    assert abs(got[2].entropy_rate - 0.5 * math.log(2)) < 1e-6
