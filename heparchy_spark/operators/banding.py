"""Hamming multi-index banding — the one near-duplicate index over
fixed-width binary codes (SimHash, dHash, pHash; 64 or 128 bits).

Construction (multi-index hashing, Norouzi, Punjani & Fleet 2012; the
filter-then-verify index of "Highly Efficient String Similarity Search
and Join over Compressed Indexes", ICDE 2022):

1. split the code into ``n_bands`` equal bands, one row per (code, band);
2. on ONE join side, replace each band key by every key within per-band
   Hamming radius ``r = max_hamming // n_bands`` (XOR against the
   Hamming-ball mask set);
3. equi-join the two sides on (band, key) — never all-pairs;
4. verify the distinct candidates by popcount.

Recall is EXACT by pigeonhole: a pair at distance ``d <= max_hamming``
spreads its differing bits over ``n_bands`` bands, so its best band
carries at most ``floor(d / n_bands) <= r`` of them and that band's probe
set contains the other side's exact key.  Bits left outside every band
(64 bits in 3 bands of 21) only lower the per-band counts.  Plain
exact-match banding (r = 0) is therefore exact only for
``n_bands > max_hamming``: SimHash's narrow ``max_hamming + 1`` blocks.

Why 32-bit keys at scale: the r9 10x rehearsal measured 16-bit band keys
saturating as the corpus approaches 2^16 codes — random candidates grow
~n^2/2^16 per band (shuffle exponent 1.94 for the 64-bit/16-bit-band
image pairing).  32-bit keys push that floor down ~2^16x; the cost moves
to the probe ball (C(32,<=2) = 529 keys per band per code at radius 2),
which is linear in n.  Balls above ``_MAX_BALL`` keys per band are refused:
16-bit radius 5 (6885 keys) and 32-bit radius 3 (5489 keys) cost more
than the saturation they avoid — use a wider code or more bands.

Why ``pin_merge`` differs by caller: the image-hash callers' codes come
out of a decode ``mapInPandas`` over a column-pruned scan, which Catalyst
sizes at ~bytes/row, so without the ``merge`` hint it statically
broadcasts the exploded band side — measured at 10x as a 26M-row
broadcast build repeated per task (2781 s executor time vs 4 s at 1x),
and AQE cannot demote a planner-chosen broadcast with no shuffle
boundary.  SimHash's codes come out of a JVM token aggregate, not a
Python map, and pinning ``merge`` there measured slower (sf0.1, 4 cores:
exec 1.83/2.22 s -> 2.87/3.20 s for identical output), so it stays off.
"""

from __future__ import annotations

import functools
import itertools
import math
import operator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["hamming_candidates", "hamming_pairs"]

# Largest per-band probe ball (keys) the construction accepts.
_MAX_BALL = 5000


def _hamming_ball_masks(width: int, radius: int) -> list[int]:
    """All XOR masks of ``width`` bits with popcount <= ``radius``
    (the Hamming ball around 0) — sum_{k<=r} C(width, k) masks."""
    masks = [0]
    for k in range(1, radius + 1):
        for bits in itertools.combinations(range(width), k):
            masks.append(sum(1 << i for i in bits))
    return masks


def _band_plan(
    n_words: int, n_bands: int, max_hamming: int
) -> tuple[int, int]:
    """(band width, probe radius) for ``n_bands`` bands over ``n_words``
    64-bit words, or ValueError when a band would straddle a word or the
    probe ball exceeds ``_MAX_BALL`` keys."""
    width = 64 * n_words // n_bands
    if width < 1 or any(
        k * width // 64 != ((k + 1) * width - 1) // 64 for k in range(n_bands)
    ):
        raise ValueError(
            f"{n_bands} bands over {64 * n_words} bits: each band must "
            "hold >= 1 bit and may not straddle a 64-bit word"
        )
    radius = max_hamming // n_bands
    ball = sum(math.comb(width, k) for k in range(radius + 1))
    if ball > _MAX_BALL:
        raise ValueError(
            f"max_hamming {max_hamming} over {n_bands} bands of {width} "
            f"bits needs per-band probe radius {radius} ({ball} keys per "
            f"band, > {_MAX_BALL}); use a wider code or more bands instead"
        )
    return width, radius


def hamming_candidates(
    codes: DataFrame,
    id_col: str,
    words: list[str],
    n_bands: int,
    max_hamming: int,
    *,
    pin_merge: bool,
) -> DataFrame:
    """Distinct candidate pairs of the banded probe join: every pair of
    ``codes`` rows within ``max_hamming`` bits, plus random band
    collisions, before any verify.

    ``codes`` holds one row per code: ``id_col`` and the code as the
    64-bit long columns ``words`` (low word first).  Output columns:
    ``id_a < id_b`` and each side's words as ``__w{i}_a`` / ``__w{i}_b``.
    The (id, words) frame is persisted: both join sides read it, and
    unpersisted each would re-run the upstream hash computation (a full
    image decode or token aggregate) for a frame of ~8 bytes per word.
    """
    from pyspark import StorageLevel

    width, radius = _band_plan(len(words), n_bands, max_hamming)
    w = [f"__w{i}" for i in range(len(words))]
    base = codes.select(
        F.col(id_col).alias("__id"),
        *[F.col(c).alias(n) for c, n in zip(words, w)],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # width 64 (one band per word): (1 << 64) - 1 does not fit a long
    # literal; -1 is all-ones
    bmask = F.lit(-1 if width == 64 else (1 << width) - 1)
    keys = [
        F.shiftright(w[k * width // 64], k * width % 64).bitwiseAND(bmask)
        for k in range(n_bands)
    ]
    # one explode, not an n_bands-way union: a union re-scans the code
    # frame once per band
    bands = base.select(
        "__id",
        *w,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("band"), key.alias("bkey"))
                    for k, key in enumerate(keys)
                ]
            )
        ).alias("__bb"),
    ).select("__id", *w, "__bb.band", "__bb.bkey")
    probe = bands
    if radius:
        # the mask set as ONE array literal: F.lit per mask (or F.lit of a
        # list / ndarray, converted element by element) is one py4j round
        # trip per mask — 529 at 32-bit radius 2
        ball = _hamming_ball_masks(width, radius)
        masks = ", ".join(f"{m}L" for m in ball)
        probe = bands.select(
            "__id",
            *w,
            "band",
            F.explode(F.expr(f"array({masks})")).alias("__mask"),
            "bkey",
        ).select(
            "__id",
            *w,
            "band",
            F.col("bkey").bitwiseXOR(F.col("__mask")).alias("bkey"),
        )
    a = probe.alias("a")
    b = (bands.hint("merge") if pin_merge else bands).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            *[F.col(f"a.{n}").alias(f"{n}_a") for n in w],
            *[F.col(f"b.{n}").alias(f"{n}_b") for n in w],
        )
        .distinct()
    )


def hamming_pairs(
    codes: DataFrame,
    id_col: str,
    words: list[str],
    n_bands: int,
    max_hamming: int,
    *,
    pin_merge: bool,
) -> DataFrame:
    """(id_a, id_b, hamming) for every pair of ``codes`` rows with
    ``id_a < id_b`` and Hamming distance <= ``max_hamming`` — exactly the
    brute-force all-pairs answer (see the module docstring for why), from
    :func:`hamming_candidates` plus the popcount verify."""
    cand = hamming_candidates(
        codes, id_col, words, n_bands, max_hamming, pin_merge=pin_merge
    )
    ham = functools.reduce(
        operator.add,
        [
            F.bit_count(F.col(f"__w{i}_a").bitwiseXOR(F.col(f"__w{i}_b")))
            for i in range(len(words))
        ],
    )
    return cand.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
