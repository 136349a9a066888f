"""2D skyline (Pareto frontier) via a distributed prefix-max.

``skyline_2d(df, x, y)`` returns the rows not dominated by any other row,
where row *a* dominates row *b* iff ``a.x <= b.x`` and ``a.y >= b.y``
with at least one strict (minimize x, maximize y; flip signs upstream
for the other three orientations).

The naive formulation is an all-pairs anti-join — quadratic, dead at any
scale.  The 2D structure admits an exact shuffle-bounded plan instead:

1. **Per-x reduction** — for each distinct x keep only ``max(y)``
   (within an x tie-group, any smaller y is dominated).  Combinable
   aggregate; reduces 100 TB to at most |distinct x| rows.
2. **Distributed prefix max** over x order, WITHOUT a global
   single-partition window: bucket x coarsely, compute the running max
   *within* each bucket (window partitioned by bucket — parallel), then
   the cumulative max of *prior buckets* from the tiny per-bucket-max
   table (one window over |buckets| rows, broadcast back).  The prefix
   max at x is the max of the two.  This is the classic two-level
   scan/parallel-prefix decomposition.
3. A per-x survivor is on the skyline iff ``y > prefix_max(x' < x)``.
4. The surviving (x, y) pairs — a tiny frontier, at most |distinct x|
   rows and in practice far fewer — are broadcast-joined back to the
   input to recover full rows (all x-tied max-y rows survive, since
   equal (x, y) never strictly dominates).

Oracle note: the corpus query's DuckDB oracle deliberately uses the
*other* algorithm (NOT EXISTS all-pairs anti-join), so the parity check
compares two independent formulations of dominance.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from heparchy_spark.operators.sweep import range_bucket


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Rows minimizing ``x_col`` / maximizing ``y_col`` on the Pareto
    frontier.  Returns the original columns, frontier rows only.

    ``n_buckets`` controls the prefix-max parallelism: the only
    single-partition step touches one row per bucket.
    """
    x, y = F.col(x_col), F.col(y_col)

    # 1. per-x max-y survivors
    per_x = df.groupBy(x_col).agg(F.max(y).alias("__y"))

    # 2a. bucket x by rank-preserving coarse key: percent_rank needs a
    # global sort, so instead bucket on the x VALUE range (broadcast
    # single-row (min, max) aggregate — combinable, exact).
    bucketed = range_bucket(per_x, x_col, n_buckets, "__b")

    # 2b. running max within each bucket (parallel across buckets),
    # EXCLUDING the current row (strict prefix).
    w_in = (
        Window.partitionBy("__b")
        .orderBy(x)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    in_bucket = bucketed.withColumn("__prev_in", F.max("__y").over(w_in))

    # 2c. cumulative max of PRIOR buckets from the tiny per-bucket table.
    bmax = bucketed.groupBy("__b").agg(F.max("__y").alias("__bm"))
    w_b = (
        Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    )
    bprev = bmax.withColumn("__prev_b", F.max("__bm").over(w_b)).select(
        "__b", "__prev_b"
    )

    # 3. skyline test: y strictly above every smaller-x survivor's y
    frontier = (
        in_bucket.join(F.broadcast(bprev), "__b")
        .withColumn(
            "__prefix",
            F.greatest(
                F.coalesce(F.col("__prev_in"), F.lit(float("-inf"))),
                F.coalesce(F.col("__prev_b"), F.lit(float("-inf"))),
            ),
        )
        .where(F.col("__y") > F.col("__prefix"))
        .select(x_col, F.col("__y").alias(y_col))
    )

    # 4. recover full rows (ties on (x, max-y) all survive).  The
    # frontier is ~O(log n) on typical data but worst-case O(n) (fully
    # anti-correlated x,y keeps every per-x survivor), so the semi-join
    # is UNHINTED — AQE broadcasts it while it fits and falls back to a
    # shuffled semi-join when an adversarial frontier doesn't.
    return df.join(frontier, [x_col, y_col], "semi")
