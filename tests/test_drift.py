"""Drift operators: KS vs brute-force ECDF, PSI identity/shift
behavior, PSI/JSD bin terms vs plain-Python mirrors, log-odds
direction."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from heparchy_spark.operators.drift import (
    jsd_fixed_bins,
    ks_two_sample,
    log_odds_terms,
    psi_fixed_bins,
)


def _rln(x):
    return round(math.log(x), 8)


def _psi_term(p, q):
    return round((p - q) * (_rln(p) - _rln(q)), 8)


def _jsd_term(p, q):
    m = (p + q) / 2.0
    return round(
        0.5 * p * (_rln(p) - _rln(m)) + 0.5 * q * (_rln(q) - _rln(m)), 8
    )


def _brute_ks(a, b):
    xs = sorted(set(a) | set(b))
    na, nb = len(a), len(b)
    best = 0
    for x in xs:
        ca = sum(1 for v in a if v <= x)
        cb = sum(1 for v in b if v <= x)
        best = max(best, abs(ca * nb - cb * na))
    return best / (na * nb)


def test_ks_matches_bruteforce(spark, rng):
    a = [round(float(v), 2) for v in rng.normal(0.0, 1.0, 200)]
    b = [round(float(v), 2) for v in rng.normal(0.5, 1.2, 300)]
    rows = [(v, True) for v in a] + [(v, False) for v in b]
    df = spark.createDataFrame(rows, "value double, f boolean")
    r = ks_two_sample(df, "value", "f").collect()[0]
    assert (r.n_a, r.n_b) == (200, 300)
    assert abs(r.ks_stat - _brute_ks(a, b)) < 1e-9


def test_ks_identical_samples_is_zero(spark):
    rows = [(float(v), h) for v in range(50) for h in (True, False)]
    df = spark.createDataFrame(rows, "value double, f boolean")
    assert ks_two_sample(df, "value", "f").collect()[0].ks_stat == 0.0


def test_psi_zero_for_identical_halves(spark):
    rows = [(float(v % 20), h) for v in range(200) for h in (True, False)]
    df = spark.createDataFrame(rows, "value double, f boolean")
    out = psi_fixed_bins(df, "value", "f").collect()
    assert len(out) <= 10
    assert all(abs(r.psi_term) < 1e-12 for r in out)
    assert sum(r.n_first for r in out) == 200


def test_psi_detects_shift(spark, rng):
    rows = [(float(v), True) for v in rng.normal(0, 1, 500)] + [
        (float(v), False) for v in rng.normal(3, 1, 500)
    ]
    df = spark.createDataFrame(rows, "value double, f boolean")
    psi = sum(r.psi_term for r in psi_fixed_bins(df, "value", "f").collect())
    assert psi > 0.25  # industry "significant shift" threshold


def test_log_odds_direction(spark):
    docs = [
        (i, "alpha alpha beta", True) for i in range(30)
    ] + [(100 + i, "gamma gamma beta", False) for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string, f boolean")
    out = {
        r.term: r.log_odds
        for r in log_odds_terms(
            df, "text", "doc_id", "f", k=10, min_count=5
        ).collect()
    }
    assert out["alpha"] > 0  # over-represented in the first group
    assert out["gamma"] < 0
    assert abs(out["beta"]) < abs(out["alpha"])


def test_psi_emits_all_bins_including_empty(spark):
    """Every fixed-width bin emits a row — a bin empty in BOTH halves
    still carries the nonzero smoothed term whenever the halves' totals
    differ (dropping it biases PSI low).  PSI and JSD share the binned
    shares; each term is mirrored in plain Python."""
    rows = (
        [(0.0, True)] * 30
        + [(10.0, True)] * 5
        + [(0.0, False)] * 10
        + [(10.0, False)] * 5
    )
    df = spark.createDataFrame(rows, "value double, f boolean")
    counts = {0: (30, 10), 9: (5, 5)}
    for op, col, mirror in (
        (psi_fixed_bins, "psi_term", _psi_term),
        (jsd_fixed_bins, "jsd_term", _jsd_term),
    ):
        out = op(df, "value", "f").collect()
        assert [r.bin for r in out] == list(range(10))
        empty = [r for r in out if r.n_first == 0 and r.n_second == 0]
        assert len(empty) == 8 and all(r[col] != 0.0 for r in empty)
        for r in out:
            na, nb = counts.get(r.bin, (0, 0))
            p = (na + 1.0) / (35 + 10.0)
            q = (nb + 1.0) / (15 + 10.0)
            assert (r.n_first, r.n_second) == (na, nb)
            assert abs(r[col] - mirror(p, q)) < 1e-12


def test_fixed_bins_constant_column(spark):
    """hi = lo: every row lands in bin 0, and all ``n_bins`` rows are
    still emitted."""
    rows = [(5.0, True)] * 3 + [(5.0, False)] * 7
    df = spark.createDataFrame(rows, "value double, f boolean")
    for op in (psi_fixed_bins, jsd_fixed_bins):
        out = op(df, "value", "f", n_bins=4).collect()
        assert [(r.bin, r.n_first, r.n_second) for r in out] == [
            (0, 3, 7),
            (1, 0, 0),
            (2, 0, 0),
            (3, 0, 0),
        ]


def test_wasserstein_1d_shift_and_mirror(spark):
    """W1 between a sample and its constant shift equals the shift; a
    mixed two-sample case matches a plain-Python ECDF-integral
    mirror."""
    import numpy as np

    from heparchy_spark.operators.drift import wasserstein_1d

    rng = np.random.RandomState(4)
    a = np.round(rng.standard_normal(400), 3)
    b_shift = a + 2.5  # exact representable shift
    rows = [(float(v), True) for v in a] + [
        (float(v), False) for v in b_shift
    ]
    df = spark.createDataFrame(rows, "value double, first boolean")
    r = wasserstein_1d(df, "value", "first").collect()[0]
    assert (r.n_a, r.n_b) == (400, 400)
    assert abs(r.w1_dist - 2.5) < 1e-6

    b = np.round(rng.standard_normal(300) * 2.0, 3)
    rows = [(float(v), True) for v in a] + [(float(v), False) for v in b]
    df = spark.createDataFrame(rows, "value double, first boolean")
    r = wasserstein_1d(df, "value", "first").collect()[0]

    # mirror: integral of |ECDF_A - ECDF_B| over distinct values
    vals = sorted(set(a.tolist()) | set(b.tolist()))
    na, nb = len(a), len(b)
    ca = cb = 0
    acc = 0.0
    sa = sorted(a.tolist())
    sb = sorted(b.tolist())
    import bisect
    for i, v in enumerate(vals[:-1]):
        ca = bisect.bisect_right(sa, v)
        cb = bisect.bisect_right(sb, v)
        acc += round(
            (vals[i + 1] - v) * abs(ca * nb - cb * na) / (na * nb), 9
        )
    assert abs(r.w1_dist - acc) < 1e-8
