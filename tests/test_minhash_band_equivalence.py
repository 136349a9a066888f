"""The vectorized Arrow band table must be bit-identical to the plain-Python
MinHash banding mirror (``tools/build_expected.minhash_bands``, the same
arithmetic the precomputed minhash fixtures are built from).

The permutation constants are pinned by the precomputed minhash fixtures
and the DuckDB oracle; this test pins the Spark band table to the mirror
set by set, on real corpus text plus adversarial synthetic sets (single
shingle, extreme hash values), so any drift in the NumPy xxh64 port
fails fast and by name.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F

from heparchy_spark.operators.dedup import _band_table, hashed_shingles_df

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from build_expected import minhash_bands  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _collect(df):
    return sorted(
        (r["__id"], r["band"], r["bucket"]) for r in df.collect()
    )


def _mirror(sets, num_perm, bands):
    return sorted(
        (r["__id"], b, bucket)
        for r in sets.collect()
        for b, bucket in enumerate(minhash_bands(r["__shh"], num_perm, bands))
    )


def test_band_table_matches_expr_on_corpus(spark):
    from heparchy_spark.queries.tables import load

    docs = load(spark, SF_DIR, "documents")
    sets = hashed_shingles_df(docs, "text", "doc_id", 3)
    got = _collect(_band_table(sets, 64, 16))
    want = _mirror(sets, 64, 16)
    assert got == want
    assert len(got) > 0


def test_band_table_matches_expr_on_adversarial_sets(spark):
    # single-element sets, extreme 64-bit values (sign boundary, all-ones,
    # zero), duplicated across ids — exercises the uint64 wraparound and
    # the per-doc segment boundaries of the reduceat formulation
    rows = [
        (1, [0]),
        (2, [-1]),
        (3, [(1 << 63) - 1]),
        (4, [-(1 << 63)]),
        (5, [0, -1, (1 << 63) - 1, -(1 << 63), 42]),
        (6, [7]),
        (7, [7, 8]),
    ]
    sets = spark.createDataFrame(rows, "__id long, __shh array<long>").select(
        "__id", F.sort_array("__shh").alias("__shh")
    )
    got = _collect(_band_table(sets, 64, 16))
    want = _mirror(sets, 64, 16)
    assert got == want
    # non-default banding geometry too (8 bands of 4 over 32 perms)
    got32 = _collect(_band_table(sets, 32, 8))
    want32 = _mirror(sets, 32, 8)
    assert got32 == want32
