"""Distributed exact prefix aggregation (parallel scan).

``prefix_sum`` computes, for every row, the running total of one or more
value columns over a global numeric order — WITHOUT the classic
single-partition global window (``Window.orderBy`` with no partition
moves 100 TB to one task; instant death at scale).  It is the two-level
scan decomposition (Blelloch 1990, the textbook parallel prefix):

1. bucket the order column coarsely by VALUE RANGE, computed from a
   broadcast single-row (min, max) aggregate — combinable, exact, no
   sort;
2. run the cumulative aggregate *within* each bucket (window partitioned
   by bucket — embarrassingly parallel);
3. compute each bucket's offset as the cumulative total of *prior
   buckets* from the tiny per-bucket-totals table (one window over
   ``n_buckets`` rows — the only serial step, bounded by construction);
4. broadcast the offsets back and add.

The result is exact and deterministic for integral value columns (long
addition is associative); callers who need float prefix sums should
quantize first (``queries/numeric.py`` grid conventions).

Used by the interval-sweep family: concurrency counting (events with
+1/-1 deltas at interval endpoints), distributed ECDFs for the KS drift
statistic, and any "running state over time at corpus scale" question.

The same decomposition drives ``operators/skyline.py`` (prefix MAX);
this module is the SUM/amount form with multi-column support.

Step 1's equi-width bucket is the one place the corpus bins a value by
its range: ``bin_of`` is the expression (``sql_bin_of`` its text for
the DuckDB oracles), ``range_bucket`` adds the broadcast (min, max)
bounds it reads.  The drift histograms, the
calibration and PR curves and the skyline all bucket through them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def bin_of(v: Column, lo: Column, hi: Column, n: int) -> Column:
    """Equi-width bucket id ``0..n-1`` of ``v`` over ``[lo, hi]``:
    ``floor((v - lo) / ((hi - lo) / n))``, with ``v = hi`` clamped into
    the last bucket and every value in bucket 0 when ``hi = lo``.
    Monotone in ``v``, so bucket-major order is value order and equal
    values share a bucket.  A null ``v`` gives null (``least`` alone
    would skip the null and answer ``n - 1``)."""
    bucket = F.least(
        F.lit(n - 1),
        F.floor((v - lo) / ((hi - lo) / F.lit(n))).cast("int"),
    )
    return F.when(
        v.isNotNull(), F.when(hi == lo, F.lit(0)).otherwise(bucket)
    )



def sql_bin_of(v: str, lo: str, hi: str, n: int) -> str:
    """``bin_of`` as SQL text for the DuckDB oracles: the same bucket,
    null for a null ``v`` (DuckDB's ``LEAST`` also skips a null
    argument, so without the guard a null value would land in bucket
    ``n - 1``)."""
    return (
        f"CASE WHEN {v} IS NULL THEN NULL WHEN {hi} = {lo} THEN 0 "
        f"ELSE LEAST({n - 1}, CAST(FLOOR(({v} - {lo}) / (({hi} - {lo}) / {n}))"
        " AS INTEGER)) END"
    )

def range_bucket(
    df: DataFrame,
    col: str,
    n: int,
    out: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """``df`` plus an ``out`` column, the ``bin_of`` bucket of ``col``
    over its observed range: global (min, max), or per group with
    ``partition_cols``.  The bounds are one combinable aggregate,
    broadcast back (bounded: one row per group) and dropped again."""
    v = F.col(col)
    parts = list(partition_cols or [])
    bounds = df.groupBy(*parts).agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi")
    )
    pre = (
        df.join(F.broadcast(bounds), parts)
        if parts
        else df.crossJoin(F.broadcast(bounds))
    )
    return pre.withColumn(
        out, bin_of(v, F.col("__lo"), F.col("__hi"), n)
    ).drop("__lo", "__hi")


def prefix_sum(
    df: DataFrame,
    order_col: str,
    val_cols: list[str],
    n_buckets: int = 64,
    suffix: str = "_cum",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Add ``<val>_cum`` running-total columns over ``order_col`` order.

    ``order_col`` must be numeric with UNIQUE values (aggregate
    duplicate keys first — the running total at a key is otherwise
    ill-defined).  Inclusive semantics: the row's own value is counted.

    With ``partition_cols`` the scan runs independently per group — the
    grouped form of the same two-level decomposition: per-group value
    bounds (one combinable aggregate, broadcast back on the group key),
    in-bucket windows partitioned by (group, bucket), and a per-group
    offset window over ``n_buckets`` rows.  No step is serial in more
    than ``n_buckets`` rows per group, so a skewed group costs its
    share of bucket windows, never a single-task global sort.
    """
    o = F.col(order_col)
    parts = list(partition_cols or [])
    bucketed = range_bucket(df, order_col, n_buckets, "__b", parts)

    w_in = (
        Window.partitionBy(*parts, "__b")
        .orderBy(o)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for v in val_cols:
        bucketed = bucketed.withColumn(f"__in_{v}", F.sum(v).over(w_in))

    # tiny table: one row per (group, bucket); the only serial window in
    # the plan, bounded by n_buckets rows per group
    btot = bucketed.groupBy(*parts, "__b").agg(
        *[F.sum(v).alias(f"__t_{v}") for v in val_cols]
    )
    w_b = (
        (Window.partitionBy(*parts) if parts else Window.partitionBy())
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = btot.select(
        *parts,
        "__b",
        *[F.sum(f"__t_{v}").over(w_b).alias(f"__off_{v}") for v in val_cols],
    )

    out = bucketed.join(F.broadcast(boff), [*parts, "__b"])
    for v in val_cols:
        out = out.withColumn(
            v + suffix,
            F.col(f"__in_{v}") + F.coalesce(F.col(f"__off_{v}"), F.lit(0)),
        )
    return out.drop(
        "__b",
        *[f"__in_{v}" for v in val_cols],
        *[f"__t_{v}" for v in val_cols],
        *[f"__off_{v}" for v in val_cols],
    )


def interval_concurrency(
    df: DataFrame,
    start_col: str,
    end_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """(t, concurrent) — the number of intervals covering each endpoint
    instant, half-open ``[start, end)`` semantics, evaluated at every
    distinct endpoint (the only places the count changes).

    The classic sweep-line: +1 at each start, -1 at each end, running
    sum over time — with the running sum distributed via ``prefix_sum``
    so no single task ever sees more than ``rows / n_buckets`` events.
    ``start_col`` / ``end_col`` must be timestamps.
    """
    deltas = (
        df.select(F.col(start_col).alias("t"), F.lit(1).alias("d"))
        .unionAll(df.select(F.col(end_col).alias("t"), F.lit(-1).alias("d")))
        .groupBy("t")
        .agg(F.sum("d").alias("d"))
        # NTZ-safe: the session TZ is pinned UTC (queries/tables.load), so
        # the cast is value-preserving for both timestamp flavors.
        .withColumn(
            "__o", F.unix_micros(F.col("t").cast("timestamp"))
        )
    )
    return (
        prefix_sum(deltas, "__o", ["d"], n_buckets=n_buckets)
        .select("t", F.col("d_cum").cast("long").alias("concurrent"))
    )
