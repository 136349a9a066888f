"""Two-phase top-k per group — the giant-group scale path.

The declarative form (``row_number() OVER (PARTITION BY g ORDER BY v)``,
used by the corpus' window-topk queries) shuffles and SORTS every row of
every group; one billion-row hot group means one task sorting a billion
rows.  The classic fix is partial top-k before the shuffle: any row in a
group's global top-k is necessarily in that group's top-k of every
subset that contains it, so per-batch candidate pruning is a lossless
superset filter.

Phase 1 (``mapInPandas``, Arrow-batched): within each executor batch,
keep at most k rows per group — output is bounded by k × groups-per-
batch regardless of group skew, and no shuffle has happened yet.
Phase 2: the exact window top-k over the pruned candidates — the same
declarative form, now over ≤ k × groups × batches rows instead of
everything.

This is the documented escape-hatch shape (Arrow-batched pandas, never
row-Python): built-ins first, and when the built-in plan has a
skew-shaped cliff, a bounded pandas stage that RESTORES the built-in's
viability.  Ties: phase 2's deterministic (order_col, tiebreak) window
decides; phase 1 over-collects on order-value ties to keep every
candidate a winner could displace.
"""

from __future__ import annotations

import typing as ty

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from heparchy_spark.functions.worker import worker_fn

__all__ = ["topk_per_group"]


def topk_per_group(
    df: DataFrame,
    group_cols: ty.Sequence[str],
    order_col: str,
    k: int,
    tiebreak: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Exact top-k rows per group by ``order_col`` (ties broken by
    ``tiebreak`` ascending when given, making the result deterministic).
    Returns the input columns plus ``rk`` (1-based rank)."""
    if k < 1:
        raise ValueError("topk_per_group: k must be >= 1")
    gcols = list(group_cols)
    # NULL order values are excluded up front (pandas' nlargest drops
    # NaN, the SQL window would rank nulls last — rather than reconcile
    # two null orders, the operator's contract is "top-k of the rows
    # that HAVE a value", which is what a ranking means anyway)
    df = df.where(F.col(order_col).isNotNull())
    out_schema = df.schema

    def prune(batches: ty.Iterator) -> ty.Iterator:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # keep k per group; ties on the boundary value are ALL kept
            # (nlargest/nsmallest with keep="all") so phase 2 sees every
            # row a deterministic tiebreak could promote
            method = "nlargest" if descending else "nsmallest"
            yield (
                pdf.groupby(gcols, group_keys=False, sort=False)[pdf.columns]
                .apply(lambda g: getattr(g, method)(k, order_col, keep="all"))
                .reset_index(drop=True)
            )

    candidates = df.mapInPandas(worker_fn(prune), schema=out_schema)
    order = (
        F.col(order_col).desc() if descending else F.col(order_col).asc()
    )
    keys = [order] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(*gcols).orderBy(*keys)
    return (
        candidates.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )
