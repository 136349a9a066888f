"""Band-width candidate-growth calibration for the 128-bit pHash pairing.

Measures the quantity the wide-band design actually controls: the number
of DISTINCT candidate pairs the banded equi-join emits before the
popcount verify, at two corpus scales and two band widths, over the
avalanche-uniform pixel fixture (``multimodal_phash128_uniform*`` —
cross-group band keys in the uniform-bit regime, in-group near-dups at
exact Hamming 0).

Why candidates and not wall/shuffle: at rehearsal scales the LINEAR
probe volume (C(band,<=r) keys per image) dominates total bytes, so the
16-bit saturation floor (~n^2 * C(16,<=1) * 8 / 2^16 random collisions)
is invisible in wall-clock until ~1M images.  The candidate count
isolates it: measured r10 at 10x (sf0.1 -> /tmp/heparchy_scale_r10),
32-bit bands scale at exponent 1.00 (625 -> 6,274 — pure in-group
growth) vs 1.87 at 16-bit (2,493 -> 186,882) on the identical corpus.

    python tools/band_calibration.py [base_dir] [inflated_dir]

Defaults: /root/testdata/sf0.1 and /tmp/heparchy_scale_r10 (build the
latter with ``python tools/scale_rehearsal.py`` first).
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402


def candidate_count(spark, sf_dir: str, band_bits: int, max_hamming: int = 10) -> int:
    """Distinct (a, b) candidate pairs of the banded join at the given
    band width — ``operators.banding.hamming_candidates`` as
    ``phash128_neardup_pairs`` calls it, before the popcount verify."""
    from heparchy_spark.operators.banding import hamming_candidates
    from heparchy_spark.operators.multimodal import image_phash128
    from heparchy_spark.queries.multimodal import (
        _real_png_media_df,
        _uniform_fixture_pixels,
    )

    h = image_phash128(
        _real_png_media_df(spark, sf_dir, _uniform_fixture_pixels)
    ).where(F.col("decodable"))
    n = hamming_candidates(
        h,
        "media_id",
        ["phash_lo", "phash_hi"],
        128 // band_bits,
        max_hamming,
        pin_merge=True,
    ).count()
    spark.catalog.clearCache()
    return n


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    infl = sys.argv[2] if len(sys.argv) > 2 else "/tmp/heparchy_scale_r10"
    if not Path(infl).exists():
        print(f"{infl} missing — run tools/scale_rehearsal.py first")
        return 1
    from heparchy_spark.session import get_spark

    spark = get_spark("band-calibration")
    for bb in (32, 16):
        c1 = candidate_count(spark, base, bb)
        c10 = candidate_count(spark, infl, bb)
        exp = math.log(max(c10, 1) / max(c1, 1)) / math.log(10)
        print(
            f"band_bits={bb}: candidates base={c1} inflated={c10} "
            f"exponent={exp:.2f}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
