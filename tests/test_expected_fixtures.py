"""Pin the plain-Python expected-value toolchain against Spark.

The fixtures under ``tests/fixtures/expected_sf0_01`` are the oracle for
corpus queries whose semantics aren't expressible in portable SQL.  Their
credibility rests on two mirrors staying exact; both are pinned here:

- ``tools/xxh64.py`` == Spark's ``xxhash64`` (all input widths + chaining);
- ``tools/build_expected.normalize_text`` == ``dedup.normalize_text``
  (Java ``\\s`` is ASCII; trim/collapse semantics).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

EDGE_STRINGS = [
    "",
    "a",
    "hello world",
    "x" * 7,
    "y" * 8,
    "z" * 31,
    "w" * 32,
    "v" * 33,
    "unicode £é€ emoji \U0001f600 done",
    "tabs\tand\nnewlines\x0b\x0c\r mixed",
    "  MIXED Case!  punct.,;  42 ",
    "t" * 100,
]


def test_python_xxh64_matches_spark(spark):
    from xxh64 import xxhash64

    longs = [0, 1, -5, 123456789, 2**40, -(2**40), 2**62, -(2**62), -1, 7, 99, -(2**31)]
    rows = list(zip(range(len(EDGE_STRINGS)), EDGE_STRINGS, longs))
    df = spark.createDataFrame(rows, "i long, s string, n long")
    got = {
        r["i"]: (r["hs"], r["hn"], r["hni"], r["hsn"])
        for r in df.select(
            "i",
            F.xxhash64("s").alias("hs"),
            F.xxhash64("n").alias("hn"),
            F.xxhash64("n", F.lit(1)).alias("hni"),
            F.xxhash64("s", "n").alias("hsn"),
        ).collect()
    }
    for i, s, n in rows:
        assert got[i] == (
            xxhash64(s),
            xxhash64(n),
            xxhash64(n, ("int", 1)),
            xxhash64(s, n),
        ), (i, s)


def test_python_normalize_matches_spark(spark):
    from build_expected import normalize_text as py_norm

    from heparchy_spark.operators.dedup import normalize_text

    rows = list(enumerate(EDGE_STRINGS))
    df = spark.createDataFrame(rows, "i long, s string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_text("s").alias("n")).collect()
    }
    for i, s in rows:
        assert got[i] == py_norm(s), (i, s)


def test_python_fingerprint_matches_spark(spark):
    from build_expected import fingerprint as py_fp

    from heparchy_spark.operators.text import fingerprint_df

    rows = list(enumerate(EDGE_STRINGS)) + [(len(EDGE_STRINGS), None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["fp64"]
        for r in fingerprint_df(df, "text", "doc_id").collect()
    }
    for i, s in rows:
        assert got[i] == py_fp(s), (i, s)


def test_python_simhash_matches_spark(spark):
    from build_expected import simhash64 as py_sim

    from heparchy_spark.operators.dedup import simhash_df

    rows = list(enumerate(EDGE_STRINGS)) + [(len(EDGE_STRINGS), None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["simhash64"]
        for r in simhash_df(df, "text", "doc_id").collect()
    }
    for i, s in rows:
        assert got[i] == py_sim(s), (i, s)


@pytest.mark.parametrize(
    "name",
    [
        "text_fingerprints",
        "dedup_simhash_fingerprints",
        "dedup_simhash_pairs",
        "dedup_minhash_lsh_pairs",
        "dedup_lsh_threshold_audit",
        "multimodal_phash128_neardups",
        "multimodal_phash128_uniform_neardups",
        "multimodal_phash128_uniform16_neardups",
        "multimodal_crc32",
        "multimodal_byte_stats",
        "multimodal_payload_embedding",
    ],
)
def test_fixture_committed_and_nonempty(name):
    import pyarrow.parquet as pq

    path = (
        Path(__file__).resolve().parent
        / "fixtures"
        / "expected_sf0_01"
        / f"{name}.parquet"
    )
    assert path.exists(), f"run tools/build_expected.py ({name} missing)"
    assert pq.read_table(path).num_rows > 0


def test_python_seq_fold_matches_spark_dot(spark):
    """The ANN fixture mirrors (tools/build_expected._seq_dot/_seq_norm)
    assume Spark's zip_with/aggregate fold is a sequential left-to-right
    double accumulation — pin bit-identity on rounding-hostile float32
    vectors."""
    import numpy as np

    from heparchy_spark.operators.similarity import dot, l2_norm

    rng = np.random.RandomState(3)
    vecs = [
        [float(x) for x in np.float32(rng.standard_normal(64) * s)]
        for s in (1e-8, 1.0, 1e8, 3.7)
    ]
    rows = [(i, a, b) for i, (a, b) in enumerate(zip(vecs, vecs[::-1]))]
    df = spark.createDataFrame(
        rows, "i long, a array<float>, b array<float>"
    )
    got = {
        r["i"]: (r["d"], r["n"])
        for r in df.select(
            "i",
            F.expr(dot("a", "b")).alias("d"),
            F.expr(l2_norm("a")).alias("n"),
        ).collect()
    }
    for i, a, b in rows:
        s = 0.0
        for x, y in zip(a, b):
            s += float(np.float32(x)) * float(np.float32(y))
        n = 0.0
        for x in a:
            n += float(np.float32(x)) * float(np.float32(x))
        assert got[i] == (s, n**0.5), i  # bit-identical, no approx


def test_lsh_threshold_audit_planted(spark):
    """Planted extremes pin the audit's semantics: identical docs (true
    Jaccard 1.0 -> bucket 9) MUST all be candidates (identical sets ->
    identical signatures -> every band shared), and disjoint docs
    (Jaccard 0 -> bucket 0) are overwhelmingly non-candidates. The
    theoretical midpoint column is ~1.0 at bucket 9 and ~0 at bucket 0."""
    from heparchy_spark.operators.dedup import lsh_threshold_audit

    rows = []
    # 6 identical docs -> 15 pairs at jaccard 1.0
    for i in range(6):
        rows.append((i, "alpha beta gamma delta epsilon zeta eta theta"))
    # 8 mutually disjoint docs -> pairs at jaccard 0.0
    words = "abcdefgh"
    for i in range(8):
        w = [f"{words[i]}{j}" for j in range(8)]
        rows.append((10 + i, " ".join(w)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["j_bucket"]: r
        for r in lsh_threshold_audit(
            df, "text", "doc_id", sample_k=50
        ).collect()
    }
    assert got[9]["n_pairs"] >= 15
    assert got[9]["n_candidates"] == got[9]["n_pairs"]  # all identical pairs
    assert got[9]["cand_rate"] == 1.0
    assert got[9]["scurve_mid"] > 0.99
    assert got[0]["n_pairs"] >= 28
    assert got[0]["scurve_mid"] < 0.01
    # a disjoint pair can only collide through a 64-bit hash accident
    assert got[0]["n_candidates"] == 0
