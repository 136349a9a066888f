"""Distribution-drift diagnostics for training-data pipelines.

Five standard drift lenses, each shaped for 100 TB:

* ``ks_two_sample`` — exact two-sample Kolmogorov-Smirnov statistic.
  The ECDF difference is evaluated at every distinct value via the
  distributed prefix sum (``operators/sweep.py``) — no global
  single-partition window, no sort of the raw data.  The supremum is
  computed over INTEGER cross-multiples (``|ca*nb - cb*na|``), so the
  max is exact; only the final normalization divides.

* ``wasserstein_1d`` — exact 1-D earth mover's distance, the integral
  of the same ECDF difference: KS's prefix sum plus a two-level bucket
  successor (in-bucket lead + a bounded next-bucket table).

* ``psi_fixed_bins`` / ``jsd_fixed_bins`` — Population Stability Index
  and Jensen-Shannon divergence over fixed-width bins.  Both are one
  per-bin term (``psi_term`` / ``jsd_term``, shared with the streaming
  monitors in ``streaming/analytics.py``) over ONE builder,
  ``_binned_shares``: a map-side-combinable scan to the (bin, half)
  contingency table on a full bin spine, Laplace-smoothed shares,
  bounded output.

* ``log_odds_terms`` — vocabulary drift between two document groups:
  per-term log-odds with Haldane (+0.5) smoothing (the Monroe et al.
  2008 "Fightin' Words" statistic, uninformative-prior form), top-k by
  absolute effect.  Exploded-token aggregate plus a TakeOrdered top-k;
  the vocabulary table is the only intermediate and it is sublinear in
  corpus size.

Every range bucket goes through ``operators/sweep.py`` ``range_bucket``.

Determinism: all counts are exact integers; every ``ln`` is rounded to
the 1e-8 grid immediately (the corpus' bigram-NLL convention), so both
engines rank and hash identical values.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from heparchy_spark.operators.sweep import prefix_sum, range_bucket


def _ecdf_counts(
    df: DataFrame, value_col: str, is_first_col: str, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """The two ECDFs KS and W1 read, as integer counts: ``cum`` holds one
    row per distinct value ``__v`` with the per-sample counts
    ``__da``/``__db`` and their distributed prefix sums
    ``__da_cum``/``__db_cum``; ``n`` is the 1-row sample sizes
    ``(__na, __nb)``."""
    ia = F.col(is_first_col).cast("long")
    pv = df.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(ia).alias("__da"),
        F.sum(F.lit(1) - ia).alias("__db"),
    )
    cum = prefix_sum(pv, "__v", ["__da", "__db"], n_buckets=n_buckets)
    n = cum.agg(
        F.max("__da_cum").alias("__na"), F.max("__db_cum").alias("__nb")
    )
    return cum, n


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    is_first_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """One row (n_a, n_b, ks_stat): sup-norm ECDF distance between the
    ``is_first_col`` = true sample (A) and the rest (B).

    Scale note: the cross-multiples are 64-bit; exact up to
    ``min(n_a, n_b) * max(n_a, n_b) < 2^63`` (~3e9 rows per side) —
    beyond that, switch the final compare to decimal.
    """
    cum, n = _ecdf_counts(df, value_col, is_first_col, n_buckets)
    return (
        cum.crossJoin(F.broadcast(n))
        .agg(
            F.max("__na").alias("n_a"),
            F.max("__nb").alias("n_b"),
            F.round(
                F.max(
                    F.abs(
                        F.col("__da_cum") * F.col("__nb")
                        - F.col("__db_cum") * F.col("__na")
                    )
                ).cast("double")
                / (F.max("__na") * F.max("__nb")),
                9,
            ).alias("ks_stat"),
        )
    )


def psi_term(p: Column, q: Column) -> Column:
    """One bin's PSI term ``(p - q) * (ln p - ln q)``; each LN and the
    term round to 8 decimals (masks libm ulp differences across
    engines).  Both shares must be > 0."""
    return F.round(
        (p - q) * (F.round(F.log(p), 8) - F.round(F.log(q), 8)), 8
    )


def jsd_term(p: Column, q: Column) -> Column:
    """One bin's Jensen-Shannon term against the mixture
    ``m = (p + q) / 2``, each LN and the term rounded to 8 decimals.
    ``p`` must be > 0 (so ``m`` is); ``q = 0`` takes the exact
    ``0 · ln 0 → 0`` limit instead of a null log that ``sum()`` would
    silently skip (batch shares are smoothed above 0, so there the
    guard never fires)."""
    m = (p + q) / F.lit(2.0)
    rln = lambda x: F.round(F.log(x), 8)  # noqa: E731
    q_term = F.when(
        q > 0.0, F.lit(0.5) * q * (rln(q) - rln(m))
    ).otherwise(F.lit(0.0))
    return F.round(F.lit(0.5) * p * (rln(p) - rln(m)) + q_term, 8)


def _binned_shares(
    df: DataFrame, value_col: str, is_first_col: str, n_bins: int
) -> DataFrame:
    """(bin, n_first, n_second, pa, pb): the first/second halves'
    counts in each fixed-width bin of the GLOBAL value range
    (``range_bucket``), on the full ``range(n_bins)`` spine, and their
    Laplace (+1) smoothed shares — single double divisions of exact
    ints.  Every bin emits a row: a bin empty in BOTH halves still
    carries a nonzero smoothed term whenever the halves' totals differ,
    and dropping it would bias the statistic low.

    Scale shape: one map-side-combinable scan to an ``n_bins``-row
    table, two scalar broadcasts (range bounds, totals)."""
    ia = F.col(is_first_col).cast("long")
    counts = (
        range_bucket(df, value_col, n_bins, "bin")
        .groupBy("bin")
        .agg(
            F.sum(ia).alias("n_first"),
            F.sum(F.lit(1) - ia).alias("n_second"),
        )
    )
    spine = df.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    binned = spine.join(counts, "bin", "left").select(
        "bin",
        F.coalesce("n_first", F.lit(0)).alias("n_first"),
        F.coalesce("n_second", F.lit(0)).alias("n_second"),
    )
    tot = binned.agg(
        F.sum("n_first").alias("__ta"), F.sum("n_second").alias("__tb")
    )
    share = lambda n, t: (  # noqa: E731
        (F.col(n).cast("double") + F.lit(1.0))
        / (F.col(t) + F.lit(float(n_bins)))
    )
    return binned.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_first",
        "n_second",
        share("n_first", "__ta").alias("pa"),
        share("n_second", "__tb").alias("pb"),
    )


def psi_fixed_bins(
    df: DataFrame,
    value_col: str,
    is_first_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """(bin, n_first, n_second, psi_term) over fixed-width bins of the
    GLOBAL value range; ``sum(psi_term)`` is the PSI between the
    first/second halves' smoothed bin distributions
    (``_binned_shares``)."""
    pa, pb = F.col("pa"), F.col("pb")
    return (
        _binned_shares(df, value_col, is_first_col, n_bins)
        .select(
            "bin", "n_first", "n_second", psi_term(pa, pb).alias("psi_term")
        )
        .orderBy("bin")
    )


def jsd_fixed_bins(
    df: DataFrame,
    value_col: str,
    is_first_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """(bin, n_first, n_second, jsd_term) over fixed-width bins of the
    GLOBAL value range; ``sum(jsd_term)`` is the Jensen-Shannon
    divergence (base e, in [0, ln 2]) between the first/second halves'
    smoothed bin distributions (``_binned_shares``) — the bounded,
    symmetric complement to PSI (which explodes on near-empty bins) and
    KS (rank-only).  A SQL oracle writing the same expression tree
    reproduces it bit-for-bit."""
    pa, pb = F.col("pa"), F.col("pb")
    return (
        _binned_shares(df, value_col, is_first_col, n_bins)
        .select(
            "bin",
            "n_first",
            "n_second",
            # + 0.0 normalizes IEEE -0.0 (a tiny negative term rounded
            # away) to +0.0 so both engines hash identically
            (jsd_term(pa, pb) + F.lit(0.0)).alias("jsd_term"),
        )
        .orderBy("bin")
    )


def log_odds_terms(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    is_first_col: str,
    k: int = 25,
    min_count: int = 20,
) -> DataFrame:
    """Top-``k`` drifted terms between the two document groups by
    |log-odds| with Haldane smoothing: (term, n_first, n_second,
    log_odds), ordered by effect size desc, term asc."""
    from heparchy_spark.operators.text import token_stream

    flagged = docs.select(
        F.col(id_col), F.col(text_col), F.col(is_first_col).alias("__ia")
    )
    toks = token_stream(flagged, text_col, id_col).join(
        flagged.select(F.col(id_col).alias("__id"), "__ia"), "__id"
    )
    ia = F.col("__ia").cast("long")
    vocab = toks.groupBy(F.col("__tok").alias("term")).agg(
        F.sum(ia).alias("n_first"),
        F.sum(F.lit(1) - ia).alias("n_second"),
    )
    tot = vocab.agg(
        F.sum("n_first").alias("__ta"), F.sum("n_second").alias("__tb")
    )
    a = F.col("n_first").cast("double")
    b = F.col("n_second").cast("double")
    la = F.round(
        F.log((a + 0.5) / (F.col("__ta") - a + 0.5)), 8
    )
    lb = F.round(
        F.log((b + 0.5) / (F.col("__tb") - b + 0.5)), 8
    )
    return (
        vocab.where(F.col("n_first") + F.col("n_second") >= min_count)
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            "n_first",
            "n_second",
            F.round(la - lb, 8).alias("log_odds"),
        )
        .orderBy(F.abs(F.col("log_odds")).desc(), F.col("term"))
        .limit(k)
    )


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    is_first_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """One row (n_a, n_b, w1_dist): exact 1-D Wasserstein (earth
    mover's) distance between the ``is_first_col`` = true sample (A)
    and the rest (B) — the integral of |ECDF_A - ECDF_B|, the
    magnitude-bearing companion to KS's supremum (KS says the
    distributions differ; W1 says by how much, in value units).

    Exactness: W1 = sum over consecutive distinct values of
    (next_v - v) * |ca*nb - cb*na| / (na*nb) with INTEGER
    cross-multiples (the ks_two_sample convention; same < 2^63
    envelope), per-term round-9 + decimal accumulation so the sum is
    order-independent and engine-identical.

    Scale shape: cumulative counts come from the distributed prefix
    sum; the successor value comes from the SAME two-level bucket
    decomposition (in-bucket lead windows + a <= n_buckets-row
    boundary table) — no step is serial in more than ``n_buckets``
    rows, no global sort of the distinct-value table.
    """
    from heparchy_spark.queries.numeric import dsum

    cum, n = _ecdf_counts(df, value_col, is_first_col, n_buckets)
    # re-bucket with prefix_sum's own equi-width rule for the
    # distributed successor: in-bucket lead + next-bucket-min boundary
    bucketed = range_bucket(cum, "__v", n_buckets, "__b")
    w_in = Window.partitionBy("__b").orderBy("__v")
    bmin = bucketed.groupBy("__b").agg(F.min("__v").alias("__bv"))
    w_b = Window.partitionBy().orderBy("__b")
    bnext = bmin.select(
        "__b", F.lead("__bv").over(w_b).alias("__nextb_v")
    )
    stepped = (
        bucketed.withColumn("__lead_v", F.lead("__v").over(w_in))
        .join(F.broadcast(bnext), "__b")
        .withColumn(
            "__next_v",
            F.coalesce("__lead_v", "__nextb_v", F.col("__v")),
        )
    )
    term = F.round(
        (F.col("__next_v") - F.col("__v"))
        * F.abs(
            F.col("__da_cum") * F.col("__nb")
            - F.col("__db_cum") * F.col("__na")
        ).cast("double")
        / (F.col("__na").cast("double") * F.col("__nb")),
        9,
    )
    return (
        stepped.crossJoin(F.broadcast(n))
        .agg(
            F.max("__na").alias("n_a"),
            F.max("__nb").alias("n_b"),
            dsum(term, 9).alias("w1_dist"),
        )
    )
