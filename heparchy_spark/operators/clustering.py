"""Distributed k-means clustering over an embedding column.

The FULL-corpus Lloyd iteration — complementing ``similarity.train_centroids``
(which trains on a bounded driver-side sample, the IVF shape) with the shape
you use when the model itself must see every row (corpus partitioning for
mixture balancing, semantic sharding, per-cluster dedup):

- **Assignment** is ``nearest_centroid``, a broadcast-centroid Arrow
  UDF — one BLAS matmul per Arrow batch, centroids ride in the task
  closure (k x dim doubles, tiny).  No shuffle: assignment is a pure map
  over the scan.  ``similarity.ivf_assign`` and
  ``similarity.incremental_ivf_assign`` assign with the same kernel.
- **Update** is one combinable aggregation per iteration: posexplode the
  vector to (cluster, dim, component) and decimal-accumulate per
  (cluster, dim) — k*dim result rows from a map-side-combined shuffle, the
  same communication pattern as MLlib's k-means reduceByKey.
- **Model state** (the k x dim centroid matrix) lives on the driver between
  iterations — the ``logreg_train`` / ``power_iteration_top_pc`` pattern;
  one bounded k*dim-row collect per iteration.

Determinism contract (what makes the trajectory replayable by the
plain-NumPy mirror in ``tools/build_expected.py``): init = the first ``k``
vectors by id (TakeOrdered — no partition-order dependence); distances via
the identical NumPy expression both sides; per-dimension sums accumulate in
DECIMAL(38,10) of round-10 addends; centroid = round(sum / count, 8).
Every value both engines compare is on an explicit grid, so parallel
reduction order cannot leak into the result.

At 100 TB: per iteration = one scan + one k*dim-wide combinable shuffle —
the optimal communication lower bound for Lloyd; rows never move, only
partial sums do.  The explode multiplies shuffle-input rows by dim, but
map-side combine collapses them to (k * dim) per task before the exchange.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import arrow_udf

from heparchy_spark.functions.worker import worker_fn
from heparchy_spark.functions.xxh64 import list_array, matrix

__all__ = ["kmeans_fit_assign", "nearest_centroid"]


def nearest_centroid(centroids: np.ndarray, nprobe: int = 1):
    """The nearest-centroid kernel: an Arrow UDF over a vector column
    against the closure-captured centroid matrix, giving each vector its
    nearest centroid's id (``int``), or for ``nprobe > 1`` the ids of its
    ``nprobe`` nearest, nearest first (``array<int>``).

    ``d2 = |c|^2 - 2 x.c`` drops the |x|^2 term (constant per row,
    argmin-invariant); ties take the lowest cluster id (NumPy argmin
    first-match, a stable argsort) — mirrored exactly in
    tools/build_expected.py."""
    c = np.ascontiguousarray(centroids, dtype="float64")
    cn2 = (c**2).sum(axis=1)

    def d2(v):
        return cn2[None, :] - 2.0 * (matrix(v) @ c.T)

    if nprobe == 1:

        @arrow_udf("int")
        @worker_fn
        def nearest(v: pa.Array) -> pa.Array:
            return pa.array(d2(v).argmin(axis=1).astype("int32"))

        return nearest

    @arrow_udf("array<int>")
    @worker_fn
    def nearest_k(v: pa.Array) -> pa.Array:
        idx = np.argsort(d2(v), axis=1, kind="stable")[:, :nprobe]
        return list_array(idx.astype("int32"))

    return nearest_k


def kmeans_fit_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 4,
) -> DataFrame:
    """Fit k-means on the WHOLE frame with ``iters`` Lloyd rounds and
    return the final assignment: (id, cluster, dist2) where ``dist2`` is
    the round-6 squared L2 distance to the winning centroid.

    Empty clusters keep their previous centroid (both here and in the
    mirror), so k never silently shrinks.
    """
    spark = df.sparkSession

    init_rows = (
        df.orderBy(id_col)
        .select(F.col(vec_col).cast("array<double>").alias("__v"))
        .limit(k)
        .collect()
    )
    cents = np.array([r["__v"] for r in init_rows], dtype="float64")
    dim = cents.shape[1]

    base = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )

    for _ in range(iters):
        assigned = base.withColumn("__c", nearest_centroid(cents)("__vec"))
        # One combinable agg: k*dim decimal sums + per-cluster counts.
        # The components explode off the ASSIGNED row itself (the vector
        # is right there) — no id-keyed shuffle join per round.
        sums = (
            assigned.select(
                "__c", F.posexplode("__vec").alias("__dim", "__x")
            )
            .select("__c", "__dim", F.col("__x").cast("double").alias("__x"))
            .groupBy("__c", "__dim")
            .agg(
                F.sum(
                    F.round(F.col("__x"), 10).cast("decimal(38,10)")
                ).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .collect()
        )
        new = cents.copy()
        acc = np.zeros((k, dim), dtype="float64")
        cnt = np.zeros(k, dtype="int64")
        for r in sums:
            acc[r["__c"], r["__dim"]] = float(r["__s"])
            cnt[r["__c"]] = r["__n"]
        for c in range(k):
            if cnt[c]:
                for d in range(dim):
                    new[c, d] = _round8(acc[c, d] / cnt[c])
        cents = new

    final = base.withColumn("__c", nearest_centroid(cents)("__vec"))
    dist2 = _dist2_udf(cents)
    return final.select(
        F.col("__id").alias(id_col),
        F.col("__c").alias("cluster"),
        F.round(dist2(F.col("__vec"), F.col("__c")), 6).alias("dist2"),
    )


def _round8(x: float) -> float:
    """Spark-compatible HALF_UP round to 8 decimals (shortest-repr grid)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("1e-8"), rounding=ROUND_HALF_UP
        )
    )


def _dist2_udf(cents: np.ndarray):
    """True squared distance to an already-chosen centroid — the exact
    ``((x - c) ** 2).sum()`` form, identical in the mirror."""
    c = np.ascontiguousarray(cents, dtype="float64")

    @arrow_udf("double")
    @worker_fn
    def d2(v: pa.Array, cl: pa.Array) -> pa.Array:
        chosen = c[cl.to_numpy()]
        return pa.array(((matrix(v) - chosen) ** 2).sum(axis=1))

    return d2
