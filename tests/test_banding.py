"""The Hamming multi-index banding primitive equals brute force.

Every band layout the operators use is pinned: 64-bit codes in 4x16
(dHash/pHash 64) and 2x32 bands (SimHash wide), SimHash's narrow
``max_hamming + 1`` exact-match blocks (including 3x21, which leaves bit
63 outside every band), and 128-bit codes in 4x32 and 8x16 bands
(pHash/dHash 128).  Planted pairs sit at distance exactly
``max_hamming`` and ``max_hamming + 1`` with the differing bits spread
evenly across the bands — the pigeonhole edge, where the best band
carries exactly the probe radius.
"""

from __future__ import annotations

import numpy as np
import pytest

from heparchy_spark.operators.banding import (
    _MAX_BALL,
    _band_plan,
    _hamming_ball_masks,
    hamming_candidates,
    hamming_pairs,
)
from heparchy_spark.plans.inspect import executed_plan

CONFIGS = [
    pytest.param(1, 4, 10, id="64bit-4x16-r2"),
    pytest.param(1, 2, 3, id="64bit-2x32-r1"),
    pytest.param(1, 2, 5, id="64bit-2x32-r2"),
    pytest.param(1, 4, 3, id="64bit-narrow-4x16"),
    pytest.param(1, 3, 2, id="64bit-narrow-3x21"),
    pytest.param(2, 4, 10, id="128bit-4x32-r2"),
    pytest.param(2, 8, 10, id="128bit-8x16-r1"),
]


def _spread(rng, n_bands: int, width: int, d: int) -> int:
    """XOR mask of ``d`` bits dealt round-robin over the bands, so the
    fullest band carries ceil(d / n_bands) and the emptiest floor()."""
    per_band = [d // n_bands + (k < d % n_bands) for k in range(n_bands)]
    mask = 0
    for k, cnt in enumerate(per_band):
        for off in rng.choice(width, cnt, replace=False):
            mask |= 1 << (k * width + int(off))
    return mask


def _codes(n_words: int, n_bands: int, max_hamming: int, seed: int = 7):
    rng = np.random.default_rng(seed)
    n_bits = 64 * n_words
    width = n_bits // n_bands

    def rand_code() -> int:
        return int.from_bytes(rng.bytes(8 * n_words), "little")

    codes = [rand_code() for _ in range(40)]
    for base in codes[:8]:
        codes.append(base ^ _spread(rng, n_bands, width, max_hamming))
        codes.append(base ^ _spread(rng, n_bands, width, max_hamming))
        codes.append(base ^ _spread(rng, n_bands, width, max_hamming + 1))
    codes.append(codes[0])  # an exact duplicate
    if n_bands * width < n_bits and max_hamming:
        # a bit outside every band plus max_hamming - 1 spread ones
        codes.append(
            codes[1]
            ^ (1 << (n_bits - 1))
            ^ _spread(rng, n_bands, width, max_hamming - 1)
        )
    return codes


def _signed_words(code: int, n_words: int) -> list[int]:
    out = []
    for i in range(n_words):
        w = (code >> (64 * i)) & ((1 << 64) - 1)
        out.append(w - (1 << 64) if w >= (1 << 63) else w)
    return out


@pytest.mark.parametrize("n_words,n_bands,max_hamming", CONFIGS)
def test_hamming_pairs_equals_brute_force(
    spark, n_words, n_bands, max_hamming
):
    codes = _codes(n_words, n_bands, max_hamming)
    truth = {
        (i, j): bin(codes[i] ^ codes[j]).count("1")
        for i in range(len(codes))
        for j in range(i + 1, len(codes))
        if bin(codes[i] ^ codes[j]).count("1") <= max_hamming
    }
    # the planted edge pairs are present: every base has two partners at
    # exactly max_hamming
    assert sum(d == max_hamming for d in truth.values()) >= 16
    words = [f"w{i}" for i in range(n_words)]
    df = spark.createDataFrame(
        [(i, *_signed_words(c, n_words)) for i, c in enumerate(codes)],
        ["code_id", *words],
    )
    for pin_merge in (False, True):
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in hamming_pairs(
                df, "code_id", words, n_bands, max_hamming,
                pin_merge=pin_merge,
            ).collect()
        }
        assert got == truth, pin_merge
    spark.catalog.clearCache()


def test_radius_zero_joins_bands_without_probe(spark):
    df = spark.createDataFrame([(1, 5), (2, 7)], ["code_id", "w0"])
    exact = hamming_candidates(df, "code_id", ["w0"], 4, 3, pin_merge=False)
    probed = hamming_candidates(df, "code_id", ["w0"], 2, 3, pin_merge=False)
    # one Generate (the band explode) per join side that reads it
    assert executed_plan(exact).count("Generate") < executed_plan(
        probed
    ).count("Generate")
    spark.catalog.clearCache()


def test_band_plan_refusals_and_ball_sizes():
    assert len(_hamming_ball_masks(16, 5)) == 6885 > _MAX_BALL
    assert len(_hamming_ball_masks(32, 3)) == 5489 > _MAX_BALL
    masks = _hamming_ball_masks(32, 2)
    assert len(masks) == len(set(masks)) == 529
    assert max(bin(m).count("1") for m in masks) == 2
    assert _band_plan(1, 4, 19) == (16, 4)
    assert _band_plan(2, 4, 11) == (32, 2)
    assert _band_plan(1, 3, 2) == (21, 0)
    assert _band_plan(1, 1, 0) == (64, 0)
    for n_words, n_bands, max_hamming in [
        (1, 4, 20),  # 16-bit radius 5
        (2, 4, 12),  # 32-bit radius 3
        (2, 3, 10),  # 42-bit bands straddle the word boundary
        (1, 65, 64),  # a band narrower than one bit
    ]:
        with pytest.raises(ValueError):
            _band_plan(n_words, n_bands, max_hamming)
