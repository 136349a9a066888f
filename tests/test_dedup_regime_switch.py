"""The r11 size-regime switches must be output-invariant.

Both ``ngram_jaccard_pairs`` (prefix cache partitioned only above the
broadcast regime) and ``simhash_near_dup_pairs`` (wide 2x32 banding only
above the corpus-size gate) pick a physical plan from driver-side source
bytes; the declared results must be identical in either regime.  The
gates read ``_source_bytes`` at call time, so forcing the big regime is
a monkeypatch of that helper.
"""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401
import pytest

from heparchy_spark.operators import dedup

_BCAST_KEY = "spark.sql.autoBroadcastJoinThreshold"


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "a completely different document about spark physical planning"),
        (4, "a completely different document about spark physical plans"),
        (5, "short one"),
        (6, ""),
        (7, "the quick brown fox jumps over the lazy cat again and again"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_ppjoin_regimes_identical(spark, monkeypatch):
    docs = _docs(spark)
    small = _rows(
        dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5),
        ["id_a", "id_b", "jaccard"],
    )
    spark.catalog.clearCache()
    monkeypatch.setattr(dedup, "_source_bytes", lambda df: 1 << 40)
    big = _rows(
        dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5),
        ["id_a", "id_b", "jaccard"],
    )
    spark.catalog.clearCache()
    assert small == big
    assert small  # the corpus above does contain near-dup pairs


def test_simhash_regimes_identical(spark, monkeypatch):
    docs = _docs(spark)
    small = _rows(
        dedup.simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=3),
        ["id_a", "id_b", "hamming"],
    )
    spark.catalog.clearCache()
    monkeypatch.setattr(dedup, "_source_bytes", lambda df: 1 << 40)
    wide = _rows(
        dedup.simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=3),
        ["id_a", "id_b", "hamming"],
    )
    spark.catalog.clearCache()
    assert small == wide
    assert small


def test_unsized_sources_take_scale_safe_branches(spark, monkeypatch):
    """A remote (s3a) or unreadable input list must size as unknown,
    which selects the scale-safe branch of both gates; only a frame with
    no input files sizes to 0 (the small regime)."""
    docs = _docs(spark)
    assert dedup._source_bytes(docs) == 0
    small = _rows(
        dedup.simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=3),
        ["id_a", "id_b", "hamming"],
    )
    spark.catalog.clearCache()

    bands = []
    real = dedup.hamming_pairs
    monkeypatch.setattr(
        dedup,
        "hamming_pairs",
        lambda codes, id_col, words, n_bands, *a, **k: bands.append(n_bands)
        or real(codes, id_col, words, n_bands, *a, **k),
    )
    remote = _docs(spark)
    monkeypatch.setattr(
        remote, "inputFiles", lambda: ["s3a://corpus/documents/part-0.parquet"]
    )
    assert dedup._source_bytes(remote) >= dedup._SIMHASH_WIDE_MIN_BYTES
    wide = _rows(
        dedup.simhash_near_dup_pairs(remote, "text", "doc_id", max_hamming=3),
        ["id_a", "id_b", "hamming"],
    )
    spark.catalog.clearCache()
    assert bands == [2]  # the wide 2x32 banding
    assert wide == small

    missing = _docs(spark)
    monkeypatch.setattr(
        missing, "inputFiles", lambda: ["file:///nonexistent/part-0.parquet"]
    )
    assert dedup._source_bytes(missing) >= dedup._SIMHASH_WIDE_MIN_BYTES


@pytest.mark.parametrize("setting", [None, "20MB", "-1"])
def test_ppjoin_threshold_public_read_matches_jvm(spark, monkeypatch, setting):
    """The PPJoin gate reads the broadcast threshold as the public conf
    string (the default reads '10485760b', a user setting '20MB',
    disabled '-1'). Its parse must equal the JVM's own parsed threshold,
    so the gate picks the same branch as a JVM-side read would. The
    15 MB prefix estimate sits between the default and the 20MB
    setting, so both branches are exercised."""
    monkeypatch.setattr(
        dedup, "_source_bytes", lambda df: 15 * 2**20 / dedup._PPJOIN_PREF_EXPANSION
    )
    docs = _docs(spark)
    try:
        if setting is not None:
            spark.conf.set(_BCAST_KEY, setting)
        jvm = int(
            spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )
        assert dedup._byte_string(spark.conf.get(_BCAST_KEY)) == jvm
        want = jvm >= 0 and 15 * 2**20 <= jvm
        assert dedup._ppjoin_prefix_broadcasts(docs) == want
    finally:
        spark.conf.unset(_BCAST_KEY)


def test_byte_string_units():
    assert dedup._byte_string("10485760b") == 10485760
    assert dedup._byte_string("20MB") == 20 << 20
    assert dedup._byte_string(" 1g ") == 1 << 30
    assert dedup._byte_string("512") == 512
    assert dedup._byte_string("-1") == -1
    with pytest.raises(ValueError):
        dedup._byte_string("1.5g")
