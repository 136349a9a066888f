"""The SQL-text vector helpers and the text fingerprints on edge inputs.

``dot``, ``l2_norm``, ``cosine``, ``hyperplane_bucket`` and
``random_projection`` (operators/similarity.py) were Column trees of
Python lambdas before they became SQL text, and so was the fingerprint
fold that ``fingerprint_df`` (operators/text.py) now runs as the NumPy
kernel ``functions.xxh64.fingerprints``.  The expected values below were
recorded from those lambda forms and must be matched bit for bit: NaN,
signed zeros, infinities, a null vector, a null element, ragged lengths
(``zip_with`` pads the short side with null), empty arrays, the
zero-norm cosine that ANSI division rejects, and text that is empty,
shorter than the n-gram, non-ASCII or null.  The raw-text fingerprints
are checked on the kernel and on its plain-Python mirror
(``tools/build_expected.fingerprint_raw``).  Doubles are written as
``float.hex`` so that -0.0 and +0.0 differ.
"""

from __future__ import annotations

import math
import struct
import sys
from pathlib import Path

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from heparchy_spark.functions.xxh64 import fingerprints

from heparchy_spark.operators.similarity import (
    cosine,
    dot,
    hyperplane_bucket,
    l2_norm,
    random_projection,
)
from heparchy_spark.operators.text import fingerprint_df

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from build_expected import fingerprint_raw  # noqa: E402

INF, NAN = float("inf"), float("nan")
VECTORS = [  # (id, a, b); 3-dim planes below
    (1, [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]),
    (2, [NAN, 1.0, 2.0], [1.0, 2.0, 3.0]),
    (3, [0.0, -0.0, 1.0], [-0.0, -0.0, 2.0]),
    (4, [-0.0, -0.0, -0.0], [1.0, 1.0, 1.0]),
    (5, [INF, 1.0, 0.5], [1.0, 1.0, 1.0]),
    (6, [1.0, -INF, 2.0], [1.0, 1.0, -INF]),
    (7, None, [1.0, 2.0, 3.0]),
    (8, [1.0, None, 3.0], [1.0, 2.0, 3.0]),
    (9, [1.0, 2.0, 3.0], [1.0, 2.0]),
    (10, [1.0], [1.0, 2.0, 3.0]),
    (11, [], []),
    (12, [1e308, 1e308, -1e308], [1e308, 1.0, 5e-324]),
    (13, [0.1, 0.2, 0.3], [0.3, 0.2, 0.1]),
]
DIV0 = "DIVIDE_BY_ZERO"
_P1 = ["0x1.b6d74fffe9fd0p-1", "-0x1.2a049fbbb668dp+0",
       "-0x1.d4577c601a3e6p-2", "-0x1.2a3db75f6c101p+0"]
_P3 = ["0x1.0cdcdf60f07d2p-5", "0x1.0ebd20f70a51dp-9",
       "0x1.04853c2e4856ap+0", "-0x1.5f54b1d572045p-3"]
_COMMON_PROJ = {
    1: _P1, 2: ["nan"] * 4, 3: _P3, 4: ["0x0.0p+0"] * 4,
    5: ["inf", "inf", "-inf", "inf"], 6: ["inf"] * 4, 7: [None] * 4,
    8: [None] * 4, 9: _P1, 10: [None] * 4, 11: [None] * 4,
}
# per element type of the vectors: the lambda forms' outputs by row id
EXPECTED = {
    "double": {
        "dot": {1: "0x1.8p+3", 2: "nan", 3: "0x1.0p+1", 4: "0x0.0p+0",
                5: "inf", 6: "-inf", 7: None, 8: None, 9: None, 10: None,
                11: "0x0.0p+0", 12: "inf", 13: "0x1.999999999999ap-4"},
        "l2_norm": {1: "0x1.deeea11683f49p+1", 2: "nan", 3: "0x1.0p+0",
                    4: "0x0.0p+0", 5: "inf", 6: "inf", 7: None, 8: None,
                    9: "0x1.deeea11683f49p+1", 10: "0x1.0p+0", 11: "0x0.0p+0",
                    12: "inf", 13: "0x1.7f254dab9cc3bp-2"},
        "cosine": {1: "0x1.7642358195b69p-2", 2: "nan", 3: "0x1.0p+0",
                   4: DIV0, 5: "nan", 6: "nan", 7: None, 8: None, 9: None,
                   10: None, 11: DIV0, 12: "nan", 13: "0x1.6db6db6db6db7p-1"},
        "bucket": {1: 1, 2: 15, 3: 7, 4: 0, 5: 11, 6: 15, 7: None, 8: None,
                   9: 1, 10: None, 11: None, 12: 9, 13: 1},
        "projection": {
            **_COMMON_PROJ,
            12: ["0x1.536d457cb9396p+1023", "-0x1.b4ddbd165d03fp+1021",
                 "-inf", "0x1.4e10a9d72d990p+1020"],
            13: ["0x1.5f12a64ad7ea9p-4", "-0x1.dcd432e16d878p-4",
                 "-0x1.76ac6364981eep-5", "-0x1.dd2f8be75cf99p-4"],
        },
    },
    "float": {
        "dot": {1: "0x1.8p+3", 2: "nan", 3: "0x1.0p+1", 4: "0x0.0p+0",
                5: "inf", 6: "-inf", 7: None, 8: None, 9: None, 10: None,
                11: "0x0.0p+0", 12: "nan", 13: "0x1.99999acccccd0p-4"},
        "l2_norm": {1: "0x1.deeea11683f49p+1", 2: "nan", 3: "0x1.0p+0",
                    4: "0x0.0p+0", 5: "inf", 6: "inf", 7: None, 8: None,
                    9: "0x1.deeea11683f49p+1", 10: "0x1.0p+0", 11: "0x0.0p+0",
                    12: "inf", 13: "0x1.7f254e7206f08p-2"},
        "cosine": {1: "0x1.7642358195b69p-2", 2: "nan", 3: "0x1.0p+0",
                   4: DIV0, 5: "nan", 6: "nan", 7: None, 8: None, 9: None,
                   10: None, 11: DIV0, 12: "nan", 13: "0x1.6db6db0539785p-1"},
        "bucket": {1: 1, 2: 15, 3: 7, 4: 0, 5: 11, 6: 15, 7: None, 8: None,
                   9: 1, 10: None, 11: None, 12: 11, 13: 1},
        "projection": {
            **_COMMON_PROJ,
            12: ["nan", "nan", "-inf", "nan"],
            13: ["0x1.5f12a6d44849dp-4", "-0x1.dcd4332625b72p-4",
                 "-0x1.76ac5fa285841p-5", "-0x1.dd2f8cb585887p-4"],
        },
    },
}

TEXTS = [
    (1, ""), (2, "a"), (3, "ab"), (4, "abc"), (5, "abcd"),
    (6, "héllo wörld ✓ 日本語 ÅΩ"), (7, None), (8, "   "),
    (9, "Hello, World!  The  QUICK fox."), (10, "ß"), (11, "日本"),
    (12, "日本語x"), (13, "😀a😀b"),
]
# fingerprint_df (normalized text) with ngram 4 and 3, by row id
FP_DF = {
    4: {1: -7444071767201028348, 2: -8582455328737087284,
        3: 2710560539726725091, 4: 1423657621850124518,
        5: -4077076865721474283, 6: -5703959749667564344, 7: 42,
        8: -7444071767201028348, 9: -6233589304038574348,
        10: -7444071767201028348, 11: -7444071767201028348,
        12: -5636050478767222463},
    3: {1: -7444071767201028348, 2: -8582455328737087284,
        3: 2710560539726725091, 4: 1139895681579344962,
        5: -7487359863388396770, 6: 755087017888146078, 7: 42,
        8: -7444071767201028348, 9: -6647049446106817758,
        10: -7444071767201028348, 11: -7444071767201028348,
        12: -5636050478767222463},
}
# fingerprint over the raw text (no normalization), ngram 4 and 2
FP_RAW = {
    1: (-7444071767201028348, -7444071767201028348),
    2: (-8582455328737087284, -8582455328737087284),
    3: (2710560539726725091, 4169632576438811487),
    4: (1423657621850124518, -6735511391216019059),
    5: (-4077076865721474283, 624394329551958417),
    6: (5588636664787296994, -8790265444323830635),
    7: (42, 42),
    8: (2590154795924065095, -8756255734648328506),
    9: (-3481898081134027730, -5280153871804495054),
    10: (-3147238609876219756, -3147238609876219756),
    11: (5255273406210089560, -2787330371647268794),
    12: (4279987605849881769, 8465569649293054588),
    13: (7223465623451430752, 1782361090056308694),
}


def _same(got, want) -> bool:
    """Bit equality of doubles (NaN equal to NaN), recursively."""
    if isinstance(want, list):
        return isinstance(got, list) and len(got) == len(want) and all(
            _same(g, w) for g, w in zip(got, want)
        )
    if want is None or isinstance(want, int):
        return got == want and type(got) is type(want)
    w = float.fromhex(want) if want != "nan" else NAN
    if math.isnan(w):
        return isinstance(got, float) and math.isnan(got)
    return struct.pack("<d", got) == struct.pack("<d", w)


@pytest.fixture(scope="module")
def vectors(spark):
    df = spark.createDataFrame(
        VECTORS, "id int, a array<double>, b array<double>"
    )
    return {
        "double": df,
        "float": df.select(
            "id",
            F.col("a").cast("array<float>").alias("a"),
            F.col("b").cast("array<float>").alias("b"),
        ),
    }


@pytest.mark.parametrize("etype", ["double", "float"])
def test_vector_helpers_match_lambda_forms(vectors, etype):
    df = vectors[etype]
    want = EXPECTED[etype]
    exprs = {
        "dot": dot("a", "b"),
        "l2_norm": l2_norm("a"),
        "cosine": cosine("a", "b"),
        "bucket": hyperplane_bucket("a", 3, 4, 7),
    }
    for name, sql in exprs.items():
        ok = [i for i, v in want[name].items() if v != DIV0]
        got = dict(
            df.where(F.col("id").isin(ok)).selectExpr("id", f"{sql} AS v").collect()
        )
        bad = {
            i: (got[i], want[name][i])
            for i in ok
            if not _same(got[i], want[name][i])
        }
        assert not bad, (name, bad)
        for i in set(want[name]) - set(ok):
            with pytest.raises(Exception, match=DIV0):
                df.where(F.col("id") == i).selectExpr(sql).collect()
    got = dict(random_projection(df, "a", "id", 3, out_dim=4).collect())
    bad = {
        i: (got[i], w) for i, w in want["projection"].items() if not _same(got[i], w)
    }
    assert not bad, bad


def test_fingerprint_matches_lambda_form(spark):
    df = spark.createDataFrame(TEXTS, "id int, text string")
    for ngram, want in FP_DF.items():
        short = df.where(F.col("id") <= 12)
        got = dict(fingerprint_df(short, "text", "id", ngram).collect())
        assert got == want, ngram
    ids, texts = zip(*TEXTS)
    mirror = {i: (fingerprint_raw(t), fingerprint_raw(t, 2)) for i, t in TEXTS}
    assert mirror == FP_RAW
    arr = pa.array(texts, pa.string())
    kernel = zip(fingerprints(arr, 4).tolist(), fingerprints(arr, 2).tolist())
    assert dict(zip(ids, kernel)) == FP_RAW


def test_helpers_are_sql_text_quoting_argument_names(spark):
    """Operator arguments are backtick-quoted, so a column name that is
    not a plain identifier still resolves."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "`my id` int, `v-1` array<double>"
    )
    assert isinstance(cosine("a", "b"), str)
    assert random_projection(df, "v-1", "my id", 3, out_dim=2).columns == [
        "my id",
        "projection",
    ]
