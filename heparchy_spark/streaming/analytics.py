"""Event-time analytics — batch/streaming-agnostic DataFrame transforms.

Each function takes any events-shaped DataFrame (batch or streaming) and
returns the transformed DataFrame; watermarks are applied only when given,
so the batch twins in ``queries/streaming_like.py`` share semantics and
stay DuckDB-oracle-checkable (SURVEY.md §5.3).

Scale notes: all of these are keyed stateful aggregations — state lives in
the executors' state store keyed by (window x group) or user, bounded by
the watermark; there is exactly one shuffle on the grouping key per op.
"""

from __future__ import annotations

import typing as ty

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window

from heparchy_spark.functions.worker import worker_fn
from heparchy_spark.operators.drift import jsd_term, psi_term

__all__ = [
    "tumbling_counts",
    "sessionize",
    "dedup_within_watermark",
    "running_user_totals",
    "purchase_view_join",
    "streaming_count_min",
    "streaming_funnel",
    "streaming_scd2",
    "windowed_token_counts",
]


def _maybe_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    return df.withWatermark(ts_col, watermark) if watermark else df


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time window x event_type: count + sum(value).
    Streaming twin of ``events_tumbling_hourly``."""
    return (
        _maybe_watermark(events, ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows with an inactivity gap — the native
    ``session_window`` operator (merging-window state store); batch twin is
    the gaps-and-islands SQL in ``events_sessionize_30m``."""
    return (
        _maybe_watermark(events, ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: ty.Sequence[str] = ("event_id",),
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """In-stream exact dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state for older keys is evicted.
    (Batch analog: ``dropDuplicates`` — unbounded, exact.)"""
    df = events.withWatermark(ts_col, watermark)
    if hasattr(df, "dropDuplicatesWithinWatermark") and events.isStreaming:
        return df.dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


_RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("total", T.DoubleType(), False),
    ]
)


def running_user_totals(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum(value)) across micro-batches — the kind of
    imperative per-key accumulator the reference's single-process ingest
    loop did implicitly, distributed over the state store."""
    from pyspark.sql.streaming.state import GroupState

    def update(
        key: tuple, pdfs: ty.Iterator[pd.DataFrame], state: GroupState
    ) -> ty.Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        worker_fn(update),
        outputStructType=_RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def purchase_view_join(
    views: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    horizon: str = "2 hours",
    ts_col: str = "ts",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: purchases matched to the same user's views
    within ``horizon`` before the purchase. In streaming mode both sides
    carry watermarks and the time-range condition bounds join state (rows
    older than watermark+horizon are evicted); the same expression runs in
    batch for the oracle-checkable twin.

    ``how="left_outer"`` adds abandoned views: a view with no qualifying
    purchase emits once with NULL purchase columns — but only when the
    watermark passes ``view_ts + horizon`` and the engine can PROVE no
    future purchase can match (null-extension happens at state eviction,
    so outer results trail the watermark; the tail of the stream stays
    unemitted until the watermark advances past it).  Same bounded-state
    story as the inner join — eviction is what produces the outer rows.
    Right/full outer are rejected: the build-side analog risks emitting
    a purchase before its views arrive only under misconfigured
    watermarks, and the corpus has no use for it.

    Output: (user_id, view_ts, purchase_ts, purchase_value).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(
            f"purchase_view_join: how={how!r} not supported "
            "(inner or left_outer)"
        )
    v = _maybe_watermark(views, ts_col, watermark).select(
        F.col("user_id").alias("v_user"), F.col(ts_col).alias("view_ts")
    )
    p = _maybe_watermark(purchases, ts_col, watermark).select(
        F.col("user_id").alias("p_user"),
        F.col(ts_col).alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")
        ),
        how,
    ).select(
        F.col("v_user").alias("user_id"),
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def streaming_count_min(
    events: DataFrame,
    key_col: str,
    width: int = 1 << 14,
    depth: int = 3,
) -> DataFrame:
    """Count-Min counters over a (possibly streaming) event frame.

    The sketch build IS a streaming-safe stateful aggregation: state =
    the (row_idx, col_idx) counters — bounded at d*w regardless of key
    cardinality or stream length, which is the whole point (exact
    per-key counting holds |distinct keys| state; the sketch holds 3 x
    2^14 here).  Counters merge across micro-batches by summing, so
    complete/update output modes both give the true running sketch.
    Batch twin: `operators/sketch.count_min_build` on the same data —
    identical counters (asserted in tests).
    """
    from heparchy_spark.operators.sketch import cm_positions, count_min_build

    return count_min_build(events, cm_positions(F.col(key_col), width, depth))


_MG_OUT_SCHEMA = T.StructType(
    [
        T.StructField("group", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("count_lb", T.LongType()),
        T.StructField("max_err", T.LongType()),
    ]
)
_MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("offset", T.LongType()),
    ]
)


def streaming_frequent_items(
    events: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 8,
) -> DataFrame:
    """Per-group Misra-Gries frequent-items summary in the state store —
    bounded-memory heavy hitters beside the Count-Min twin: CM answers
    "how often is THIS key" (point query, fixed d x w counters); MG
    answers "WHICH keys are frequent" with at most ``k`` (item, count)
    counters per group, regardless of stream length or item cardinality
    — the DataSketches "frequent items" shape.

    Classic MG update per event: increment a tracked item; insert if a
    slot is free; otherwise decrement EVERY counter by one (dropping
    zeros) and count the decrement in ``offset``.  Emitted per
    micro-batch in update mode: (group, item, count_lb, max_err) —
    the deterministic guarantees are ``count_lb <= true_count <=
    count_lb + max_err`` and every item with true frequency >
    n_group/(k+1) is PRESENT in the summary (pigeonhole on the
    decrement budget).  Summaries merge by counter addition + offset
    (Agarwal et al. 2012 mergeable summaries), so per-executor partials
    would combine the same way on a real cluster.

    Determinism: each batch slice is processed in (ts, event_id) order
    and the state/output lists sort by item, so the plain-Python twin
    replays bit-for-bit.  State is O(k) per group — the monitor never
    holds the key universe, which is the whole point at 100 TB.
    """
    from pyspark.sql.streaming.state import GroupState

    def update(
        key: tuple, pdfs: ty.Iterator[pd.DataFrame], state: GroupState
    ) -> ty.Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, offset = state.get
            table = dict(zip(items, counts))
            offset = int(offset)
        else:
            table, offset = {}, 0
        chunks = [c for c in pdfs if len(c)]
        rows = pd.concat(chunks) if chunks else pd.DataFrame()
        if len(rows):
            rows = rows.sort_values(["ts", "event_id"])
            for it in rows[item_col]:
                it = str(it)
                if it in table:
                    table[it] = int(table[it]) + 1
                elif len(table) < k:
                    table[it] = 1
                else:
                    offset += 1
                    table = {
                        i: int(c) - 1 for i, c in table.items() if int(c) > 1
                    }
        out_items = sorted(table)
        out_counts = [int(table[i]) for i in out_items]
        state.update((out_items, out_counts, offset))
        yield pd.DataFrame(
            {
                "group": [str(key[0])] * len(out_items),
                "item": out_items,
                "count_lb": out_counts,
                "max_err": [offset] * len(out_items),
            }
        )

    return events.groupBy(group_col).applyInPandasWithState(
        worker_fn(update),
        outputStructType=_MG_OUT_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


_FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("stage_reached", T.IntegerType()),
        T.StructField("reached_ts", T.TimestampType()),
    ]
)
_FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.IntegerType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def streaming_funnel(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Streaming twin of ``operators.funnel``: a per-user stage machine in
    the state store.  State is (stage, timestamp of reaching it); a
    ``steps[stage]`` event strictly after that timestamp advances the
    stage.  Emits (user_id, stage_reached, reached_ts) per micro-batch in
    update mode — the latest row per user is the funnel position.

    Exactness contract: matches the batch funnel when events arrive in
    event-time order ACROSS micro-batches (in-batch disorder is handled
    by sorting each batch on (ts, event_id)).  A late-arriving earlier
    stage-k event cannot retroactively lower t_k — the usual streaming
    trade; bound disorder with the source watermark if it matters.

    State is two scalars per user — O(active users), far below the
    windowed aggregates' state; the per-key Python loop touches only
    that user's batch slice.  State lives until the query stops (no
    timeout registration — funnel positions must survive quiet users);
    bound the key universe upstream if user ids are unbounded.
    """
    from pyspark.sql.streaming.state import GroupState

    def update(
        key: tuple, pdfs: ty.Iterator[pd.DataFrame], state: GroupState
    ) -> ty.Iterator[pd.DataFrame]:
        stage, last_us = state.get if state.exists else (0, 0)
        chunks = [c for c in pdfs if len(c)]
        rows = pd.concat(chunks) if chunks else pd.DataFrame()
        if len(rows):
            rows = rows.sort_values(["ts", "event_id"])
            for et, ts in zip(rows["event_type"], rows["ts"]):
                if stage >= len(steps):
                    break
                if et == steps[stage]:
                    ts_us = int(pd.Timestamp(ts).value) // 1000
                    if stage == 0 or ts_us > last_us:
                        stage += 1
                        last_us = ts_us
        state.update((stage, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "stage_reached": [stage],
                "reached_ts": [
                    pd.to_datetime(last_us, unit="us") if stage else pd.NaT
                ],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        worker_fn(update),
        outputStructType=_FUNNEL_OUT_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


_SCD2_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("run_idx", T.IntegerType()),
        T.StructField("attr", T.StringType()),
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SCD2_STATE_SCHEMA = T.StructType(
    [
        T.StructField("attr", T.StringType()),
        T.StructField("from_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("run", T.IntegerType()),
    ]
)


def streaming_scd2(
    events: DataFrame,
    attr_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of ``operators.upsert.scd2_history``: per-user
    attribute-run tracker in the state store.  State is the OPEN run
    (attr, valid_from, event count, run index); an attribute change
    closes it.  Each micro-batch emits, in update mode, every run closed
    during the batch plus the refreshed open run (valid_to null) — the
    latest row per (user, run_idx) reconstructs the full type-2 history.

    Same exactness contract as ``streaming_funnel``: event-time-ordered
    arrival across micro-batches, in-batch disorder sorted away.  State
    is one open run per user — O(active users), independent of history
    depth (closed intervals live in the sink, not the store).
    """
    from pyspark.sql.streaming.state import GroupState

    def update(
        key: tuple, pdfs: ty.Iterator[pd.DataFrame], state: GroupState
    ) -> ty.Iterator[pd.DataFrame]:
        attr, from_us, n, run = (
            state.get if state.exists else (None, 0, 0, -1)
        )
        out: list[tuple] = []
        chunks = [c for c in pdfs if len(c)]
        rows = pd.concat(chunks) if chunks else pd.DataFrame()
        if len(rows):
            rows = rows.sort_values(["ts", "event_id"])
            for et, ts in zip(rows[attr_col], rows["ts"]):
                ts_us = int(pd.Timestamp(ts).value) // 1000
                if attr is None:
                    attr, from_us, n, run = et, ts_us, 1, 0
                elif et == attr:
                    n += 1
                else:
                    out.append((key[0], run, attr, from_us, ts_us, n))
                    attr, from_us, n, run = et, ts_us, 1, run + 1
        state.update((attr, from_us, n, run))
        if attr is not None:
            out.append((key[0], run, attr, from_us, None, n))
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "run_idx": [r[1] for r in out],
                "attr": [r[2] for r in out],
                "valid_from": [pd.to_datetime(r[3], unit="us") for r in out],
                "valid_to": [
                    pd.to_datetime(r[4], unit="us") if r[4] else pd.NaT
                    for r in out
                ],
                "n_events": [r[5] for r in out],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        worker_fn(update),
        outputStructType=_SCD2_OUT_SCHEMA,
        stateStructType=_SCD2_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def windowed_token_counts(
    docs: DataFrame,
    text_col: str,
    ts_col: str,
    window: str = "1 hour",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Trending-terms primitive for streaming corpus ingest: per-window
    normalized-token counts (window_start, token, n).

    In streaming mode the watermark bounds state to active windows ×
    vocabulary (append mode emits a window once it closes); the same
    expression runs in batch as the oracle-checkable twin.  The explode
    + combinable count is the wordcount shape — one shuffle per
    micro-batch, map-side partials first.  Consumers rank within a
    window for the top-k trending view.
    """
    from heparchy_spark.operators.dedup import normalize_text

    src = _maybe_watermark(docs, ts_col, watermark)
    toks = src.select(
        F.window(ts_col, window).alias("__w"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("token"),
    ).where(F.length("token") > 0)
    return toks.groupBy("__w", "token").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        F.col("__w.start").alias("window_start"), "token", "n"
    )


def windowed_value_histogram(
    events: DataFrame,
    edges: list[float],
    window: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling event-time histogram of ``value_col`` over FIXED bin
    ``edges`` (len(edges)+1 bins, literal thresholds baked into the
    plan): (window_start, bin, n) — the stateful half of a streaming
    drift monitor.  One streaming aggregation keyed by (window, bin);
    state is |windows| x |bins|, never row-scaled.

    The drift verdict itself (``psi_from_histogram``) is STATELESS
    per-window algebra, so it runs downstream of the sink (or on the
    batch twin) rather than as a second stateful operator — Structured
    Streaming's single-stateful-aggregation restriction is a plan
    constraint, not a loss of semantics.
    """
    v = F.col(value_col)
    bin_expr = F.lit(len(edges))
    for i, e in enumerate(reversed(edges)):
        bin_expr = F.when(
            v < F.lit(float(e)), F.lit(len(edges) - 1 - i)
        ).otherwise(bin_expr)
    return (
        _maybe_watermark(events, ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("win"),
            bin_expr.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("window_start"), "bin", "n")
    )


def _window_spine(hist: DataFrame, reference: DataFrame) -> DataFrame:
    """(window_start, bin, n, __t, ref_share): every window seen in
    ``hist`` cross-joined with the broadcast ``reference`` (bin,
    ref_share) table, the window's count in each bin left-joined onto
    it (0 where the bin is empty) and the window total ``__t``.

    Every (window, bin) pair is a row, including bins with ZERO rows in
    that window: a bin whose population collapsed to zero is the
    strongest drift signal — joining only on bins present in ``hist``
    would silently drop exactly those terms (and a smoothed per-window
    share would no longer sum to 1 under the t+n_bins denominator)."""
    # fresh attribute ids on the rollup side: a sink-view self-join with
    # identical exprIds is otherwise ambiguous
    tot = (
        hist.select(F.col("window_start").alias("__ws"), "n")
        .groupBy("__ws")
        .agg(F.sum("n").alias("__t"))
    )
    spine = tot.crossJoin(F.broadcast(reference))
    counts = hist.select(
        F.col("window_start").alias("__cw"),
        F.col("bin").alias("__cb"),
        "n",
    )
    return spine.join(
        counts,
        (spine["__ws"] == counts["__cw"]) & (spine["bin"] == counts["__cb"]),
        "left",
    ).select(
        F.col("__ws").alias("window_start"),
        "bin",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        "__t",
        "ref_share",
    )


def _smoothed_window_share(n_bins: int) -> Column:
    """The window side's Laplace (+1) smoothed share of a bin."""
    return (F.col("n").cast("double") + 1.0) / (
        F.col("__t") + F.lit(float(n_bins))
    )


def psi_from_histogram(
    hist: DataFrame,
    reference: DataFrame,
    n_bins: int,
) -> DataFrame:
    """(window_start, psi): Population Stability Index of each window's
    histogram against a broadcast ``reference`` (bin, ref_share) table,
    over the full window x bin spine (``_window_spine``).  Pure
    per-window algebra over the bounded histogram frame — run it on the
    streaming sink's output or on the batch twin identically."""
    # PSI is +inf at ref_share = 0 (only the window side is
    # Laplace-smoothed); clamp the reference to the standard 1e-6
    # epsilon so a vanished reference bin reports a large FINITE
    # term instead of a null that sum() would silently skip.
    # Strictly-positive references are unaffected.
    q = F.greatest(F.col("ref_share"), F.lit(1e-6))
    term = psi_term(_smoothed_window_share(n_bins), q)
    return (
        _window_spine(hist, reference)
        .groupBy("window_start")
        .agg(F.round(F.sum(term), 6).alias("psi"))
        .orderBy("window_start")
    )


def jsd_from_histogram(
    hist: DataFrame,
    reference: DataFrame,
    n_bins: int,
) -> DataFrame:
    """(window_start, jsd): Jensen-Shannon divergence of each window's
    histogram against a broadcast ``reference`` (bin, ref_share) table
    — the bounded (<= ln 2), symmetric companion to
    :func:`psi_from_histogram`, preferable when near-empty bins make
    PSI spike.  Same full spine and the batch twin ``operators/drift.py
    jsd_fixed_bins``'s term.  Only the WINDOW side is Laplace-smoothed;
    a reference bin with ref_share = 0 is legal and takes the term's
    0·ln 0 limit.  Stateless per-window algebra — run it on the
    streaming sink's output or on the batch twin identically."""
    term = jsd_term(_smoothed_window_share(n_bins), F.col("ref_share"))
    return (
        _window_spine(hist, reference)
        .groupBy("window_start")
        .agg((F.round(F.sum(term), 6) + F.lit(0.0)).alias("jsd"))
        .orderBy("window_start")
    )


def wasserstein_from_histogram(
    hist: DataFrame,
    reference: DataFrame,
    n_bins: int,
    bin_width: float,
) -> DataFrame:
    """(window_start, w1): 1-D Wasserstein distance of each window's
    BINNED distribution against a broadcast ``reference`` (bin,
    ref_share) table — for histograms the ECDF integral collapses to
    ``bin_width * sum over bins of |cum_share - cum_ref|``, so the
    monitor reports drift MAGNITUDE in value units beside the PSI/JSD
    scores over the same sink.  Same full spine (zero-count bins still
    contribute through the cumulative); shares are unsmoothed single
    divisions of exact ints, the per-bin cumulative runs over the
    bounded ``n_bins`` rows per window, terms round to 8 before the
    final round-6 sum.  Stateless per-window algebra — run it on the
    streaming sink's output or the batch twin identically."""
    w = (
        Window.partitionBy("window_start")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = _window_spine(hist, reference).select(
        "window_start",
        "bin",
        F.sum(F.col("n").cast("double") / F.col("__t")).over(w).alias("__cp"),
        F.sum("ref_share").over(w).alias("__cq"),
    )
    term = F.round(F.abs(F.col("__cp") - F.col("__cq")), 8)
    return (
        cum.groupBy("window_start")
        .agg(
            (
                F.round(F.sum(term) * F.lit(float(bin_width)), 6)
                + F.lit(0.0)
            ).alias("w1")
        )
        .orderBy("window_start")
    )


_RATE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("admitted", T.BooleanType()),
    ]
)
_RATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tokens_micro", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def _rate_limit_fold(
    rows: pd.DataFrame,
    tokens_micro: int,
    last_us: int,
    capacity: int,
    rate: int,
) -> tuple[pd.DataFrame, int, int]:
    """Shared token-bucket fold over (ts, event_id)-sorted events —
    EXACT integer micro-token accounting (1 token = 1e6 micro-tokens;
    refill = elapsed_us * rate is exact for integer tokens/second), so
    the streaming operator and its batch twin can never drift."""
    cap_micro = capacity * 1_000_000
    admitted = []
    for ts in rows["ts"]:
        ts_us = int(pd.Timestamp(ts).value) // 1000
        if ts_us > last_us:
            tokens_micro = min(
                cap_micro, tokens_micro + (ts_us - last_us) * rate
            )
            last_us = ts_us
        if tokens_micro >= 1_000_000:
            tokens_micro -= 1_000_000
            admitted.append(True)
        else:
            admitted.append(False)
    out = pd.DataFrame(
        {
            "user_id": rows["user_id"].values,
            "event_id": rows["event_id"].values,
            "ts": rows["ts"].values,
            "admitted": admitted,
        }
    )
    return out, tokens_micro, last_us


def streaming_rate_limit(
    events: DataFrame,
    capacity: int = 5,
    rate: int = 1,
) -> DataFrame:
    """Per-user token-bucket admission control in the state store — the
    ingest-side rate limiter a multi-tenant pipeline puts in front of
    expensive downstream stages (bot bursts drain their own bucket
    instead of the cluster): each user holds a bucket of ``capacity``
    tokens refilling at ``rate`` tokens/second of EVENT time; an event
    is admitted iff a full token is available, and every event is
    emitted with its verdict (user_id, event_id, ts, admitted) so drops
    are observable, not silent.

    Exactness contract: integer micro-token accounting (refill =
    elapsed_us x rate — exact, no float drift), matching the batch twin
    (:func:`rate_limit_batch`) whenever events arrive in event-time
    order ACROSS micro-batches (in-batch disorder is sorted away on
    (ts, event_id) like the funnel/SCD2 family).  State is two longs
    per user — O(active users); the bucket refills from event time, so
    quiet users cost nothing.
    """
    from pyspark.sql.streaming.state import GroupState

    def update(
        key: tuple, pdfs: ty.Iterator[pd.DataFrame], state: GroupState
    ) -> ty.Iterator[pd.DataFrame]:
        tokens_micro, last_us = (
            state.get if state.exists else (capacity * 1_000_000, 0)
        )
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            rows = pd.concat(chunks).sort_values(["ts", "event_id"])
            out, tokens_micro, last_us = _rate_limit_fold(
                rows, tokens_micro, last_us, capacity, rate
            )
            yield out
        state.update((tokens_micro, last_us))

    return events.select("user_id", "event_id", "ts").groupBy(
        "user_id"
    ).applyInPandasWithState(
        worker_fn(update),
        outputStructType=_RATE_OUT_SCHEMA,
        stateStructType=_RATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def rate_limit_batch(
    events: DataFrame,
    capacity: int = 5,
    rate: int = 1,
) -> DataFrame:
    """Batch twin of :func:`streaming_rate_limit`: the same integer
    token-bucket fold per user over the (ts, event_id)-sorted history —
    one shuffle on user_id, Arrow-batched per-group apply (the bucket
    recursion is inherently sequential per key; keys fan out across
    executors)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.sort_values(["ts", "event_id"])
        out, _t, _l = _rate_limit_fold(
            rows, capacity * 1_000_000, 0, capacity, rate
        )
        return out

    return (
        events.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandas(worker_fn(run), schema=_RATE_OUT_SCHEMA)
    )


# ---------------------------------------------------------------------------
# streaming_group_sample — bounded-state uniform k-sample per group
# ---------------------------------------------------------------------------

_SAMPLE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)
_SAMPLE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hashes", T.ArrayType(T.StringType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _sample_key(event_id: int, salt: str) -> str:
    import hashlib

    return hashlib.sha256(f"{event_id}{salt}".encode()).hexdigest()


def streaming_group_sample(
    events: DataFrame, k: int = 16, salt: str = "sample"
) -> DataFrame:
    """Uniform ``k``-row sample per event_type maintained across
    micro-batches in O(k) state — the reservoir-sampling slot of a
    streaming pipeline, implemented as BOTTOM-K BY CONTENT HASH rather
    than Algorithm R: keeping the k smallest sha256(event_id || salt)
    keys IS a uniform k-sample (the hash is a uniform permutation key),
    the merge is associative and order-free (min-merge of two bottom-k
    sets), and the result is BIT-IDENTICAL to the batch twin
    (:func:`group_sample_batch`) and to any replay/arrival order —
    where Algorithm R's sample depends on arrival order and a stateful
    RNG, which can never match a deterministic batch twin.

    Each micro-batch emits the group's CURRENT sample (update mode)
    tagged with ``n_seen``, the total rows observed — the emission with
    the group's max n_seen is its final sample.  State is (k hashes, k
    ids, count): bounded, no growth with stream length.
    """
    from pyspark.sql.streaming.state import GroupState

    def update(
        key: tuple, pdfs: ty.Iterator[pd.DataFrame], state: GroupState
    ) -> ty.Iterator[pd.DataFrame]:
        hashes, ids, n_seen = (
            state.get if state.exists else ([], [], 0)
        )
        pool = list(zip(hashes, ids))
        for pdf in pdfs:
            n_seen += len(pdf)
            pool.extend(
                (_sample_key(int(e), salt), int(e))
                for e in pdf["event_id"]
            )
        pool.sort()
        pool = pool[:k]
        state.update(([h for h, _ in pool], [i for _, i in pool], n_seen))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(pool),
                "event_id": [i for _, i in pool],
                "n_seen": [n_seen] * len(pool),
            }
        )

    return events.select("event_type", "event_id").groupBy(
        "event_type"
    ).applyInPandasWithState(
        worker_fn(update),
        outputStructType=_SAMPLE_OUT_SCHEMA,
        stateStructType=_SAMPLE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def group_sample_batch(
    events: DataFrame, k: int = 16, salt: str = "sample"
) -> DataFrame:
    """Batch twin of :func:`streaming_group_sample`: the k smallest
    sha256(event_id || salt) keys per event_type plus the group size —
    one shuffle on the group key, a rank window inside it (top-k per
    group, never a global sort)."""
    from pyspark.sql import Window

    h = F.sha2(F.concat(F.col("event_id").cast("string"), F.lit(salt)), 256)
    w = Window.partitionBy("event_type").orderBy("__h")
    wn = Window.partitionBy("event_type")
    return (
        events.select("event_type", "event_id")
        .withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("n_seen", F.count(F.lit(1)).over(wn))
        .where(F.col("__rn") <= k)
        .select("event_type", "event_id", "n_seen")
    )
