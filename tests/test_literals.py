"""``functions.literals.array_lit`` (a constant array as one SQL literal) and
the vector kernels built on it: equal, element for element and type for
type, to the per-element ``F.array(F.lit(...))`` form and to the plain-Python
mirrors of tools/build_expected.py."""

from __future__ import annotations

import math
import struct
import sys
from pathlib import Path

import numpy as np
import pyspark.sql.functions as F
import pytest

from heparchy_spark.functions.literals import array_lit
from heparchy_spark.operators.similarity import (
    embedding_near_dup_pairs,
    hyperplane_bucket,
    random_projection,
)
from heparchy_spark.queries.similarity import _planted_augmentation
from heparchy_spark.queries.tables import load

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from build_expected import _cosine, _seq_dot, spark_round  # noqa: E402

SF01 = "/root/testdata/sf0.1"

FINITE = [-0.0, 0.0, 5e-324, -5e-324, 1e308, -1e308, 1.5, 0.1, 1e16, 1e-7]
NON_FINITE = [float("nan"), float("inf"), float("-inf"), 2.0]
INTS = [0, -1, 2147483647, -2147483648, 2147483648, -2147483649,
        9223372036854775807, -9223372036854775808]
STRINGS = ["", "a", "it's", "back\\slash", "\\'", "'\\", "\\n", "new\nline",
           "unié", '"dq"']


def _bits(v):
    """Exact identity of a collected value (float sign and NaN included)."""
    if isinstance(v, list):
        return [_bits(x) for x in v]
    if isinstance(v, float):
        return ("f", struct.pack(">d", v) if not math.isnan(v) else "nan")
    return v


def _both(spark, values):
    if values and isinstance(values[0], list):
        ref = F.array(*[F.array(*[F.lit(x) for x in row]) for row in values])
    else:
        ref = F.array(*[F.lit(x) for x in values])
    return (
        spark.range(1).select(ref.alias("a")),
        spark.range(1).select(array_lit(values).alias("a")),
    )


@pytest.mark.parametrize(
    "values",
    [FINITE, INTS, INTS[:2], [1, 2.5], STRINGS, [True, False],
     [[1.0, -0.0], [5e-324, 1e308]], []],
    ids=["finite", "ints", "int32", "mixed", "strings", "bools", "2d", "empty"],
)
def test_array_lit_matches_per_element_lit(spark, values):
    ref, got = _both(spark, values)
    assert got.schema == ref.schema
    assert _bits(got.first()["a"]) == _bits(ref.first()["a"])


@pytest.mark.parametrize("values", [NON_FINITE, [[float("nan")], [1.0]]])
def test_array_lit_non_finite(spark, values):
    """NaN/inf elements: same element type and values; the CAST they are
    written with is nullable, so only ``containsNull`` may differ."""
    ref, got = _both(spark, values)
    elem = lambda df: df.schema["a"].dataType.elementType  # noqa: E731
    if isinstance(values[0], list):
        assert elem(got).elementType == elem(ref).elementType
    else:
        assert elem(got) == elem(ref)
    assert _bits(got.first()["a"]) == _bits(ref.first()["a"])


def test_array_lit_numpy_and_types(spark):
    planes = np.random.RandomState(3).standard_normal((3, 5))
    got = spark.range(1).select(array_lit(planes).alias("a")).first()["a"]
    assert _bits(got) == _bits(planes.tolist())
    ints = spark.range(1).select(array_lit(np.arange(3)).alias("a"))
    assert ints.schema["a"].dataType.simpleString() == "array<int>"
    with pytest.raises(TypeError):
        array_lit("abc")
    with pytest.raises(TypeError):
        array_lit([None])


@pytest.fixture(scope="module")
def emb01(spark):
    df = load(spark, SF01, "embeddings")
    return df, [(r.vec_id, list(r.embedding)) for r in df.collect()]


@pytest.mark.parametrize("bits", [6, 8, 12, 24])
@pytest.mark.parametrize("seed", [7, 9])
def test_hyperplane_bucket_matches_sequential_mirror(emb01, bits, seed):
    df, rows = emb01
    planes = np.random.RandomState(seed).standard_normal((bits, 64))
    got = dict(
        df.select(
            "vec_id", F.expr(hyperplane_bucket("embedding", 64, bits, seed))
        ).collect()
    )
    want = {
        vid: sum(1 << i for i in range(bits) if _seq_dot(v, planes[i]) > 0)
        for vid, v in rows
    }
    assert got == want


def test_random_projection_matches_mirror(emb01):
    df, rows = emb01
    planes = np.random.RandomState(7).standard_normal((16, 64))
    got = {
        r.vec_id: r.projection
        for r in random_projection(df, "embedding", "vec_id", 64).collect()
    }
    want = {
        vid: [spark_round(_seq_dot(v, planes[j]), 9) for j in range(16)]
        for vid, v in rows
    }
    assert got == want


def test_embedding_near_dup_pairs_matches_mirror(spark, emb01):
    """Table t uses seed + t: a pair is a candidate when any table buckets
    it together, and is kept at exact cosine >= threshold.  Input: the
    corpus query's planted near-duplicate augmentation."""
    df = _planted_augmentation(emb01[0])
    rows = [(r.vec_id, list(r.embedding)) for r in df.collect()]
    bits, tables, seed, thr = 8, 3, 9, 0.95
    buckets = []
    for t in range(tables):
        planes = np.random.RandomState(seed + t).standard_normal((bits, 64))
        buckets.append({
            vid: sum(1 << i for i in range(bits) if _seq_dot(v, planes[i]) > 0)
            for vid, v in rows
        })
    by_key: dict = {}
    for t, b in enumerate(buckets):
        for vid, key in b.items():
            by_key.setdefault((t, key), []).append(vid)
    vec = dict(rows)
    want = {}
    for ids in by_key.values():
        for a in ids:
            for b in ids:
                if a < b:
                    c = _cosine(vec[a], vec[b])
                    if c >= thr:
                        want[(a, b)] = c
    got = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_near_dup_pairs(
            df, "embedding", "vec_id", 64, threshold=thr, bits=bits,
            tables=tables, seed=seed,
        ).collect()
    }
    assert len(want) > 0
    assert got == want
