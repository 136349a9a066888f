"""``functions.xxh64``, the NumPy port of Spark's xxhash64, bit for bit
against the plain-Python mirrors ``tools/xxh64.py`` and
``tools/build_expected.fingerprint_raw``.

The inputs cover null, empty and 1-3 character text, text of exactly
``ngram`` characters, and 2-, 3- and 4-byte UTF-8 characters, at
``ngram`` 1, 2, 4 and 10 (10 four-byte characters are a 40-byte gram,
which takes the >= 32-byte stripe path).  A sliced Arrow array (non-zero
offset), documents thousands of characters long, and a Spark run cut
into 7-row Arrow batches read the same values."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from heparchy_spark.functions import xxh64
from heparchy_spark.operators.text import fingerprint_df

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
import xxh64 as mirror  # noqa: E402
from build_expected import fingerprint, fingerprint_raw  # noqa: E402

# 1-byte, 2-byte (é ß), 3-byte (日 ✓) and 4-byte (😀 𝄞) characters
ALPHABET = "ab éß日✓😀𝄞"
EDGE = [
    None, "", "a", "é", "日", "😀", "ab", "a😀", "abc", "日本語",
    "abcd", "😀😀😀😀", "é日😀a", "𝄞" * 10, "😀" * 11, "a" * 10,
    "héllo wörld ✓ 日本語 ÅΩ",
]


def _texts(seed: int, n: int) -> list[str | None]:
    rnd = random.Random(seed)
    return EDGE + [
        None if rnd.random() < 0.05 else "".join(
            rnd.choice(ALPHABET) for _ in range(rnd.randint(0, 50))
        )
        for _ in range(n)
    ]


@pytest.mark.parametrize("ngram", [1, 2, 4, 10])
def test_fingerprints_match_mirror(ngram):
    texts = _texts(ngram, 200)
    want = [fingerprint_raw(t, ngram) for t in texts]
    arr = pa.array(texts, pa.string())
    assert xxh64.fingerprints(arr, ngram).tolist() == want
    # a slice shares the parent's buffers: its offsets start mid-buffer
    part = arr[5:143]
    assert part.offset == 5
    assert xxh64.fingerprints(part, ngram).tolist() == want[5:143]
    large = pa.array(texts[40:], pa.large_string())
    assert xxh64.fingerprints(large, ngram).tolist() == want[40:]



def test_fingerprints_long_documents_match_mirror(monkeypatch):
    """Documents of thousands of characters among short ones: the fold
    runs the shared NumPy steps while ``TAIL_DOCS`` documents are still
    folding and finishes the longest in plain Python; with a small
    ``SLICE_BYTES`` one array takes several kernel calls, and a document
    longer than the cap is a call on its own.  Every way reads the
    mirror's values."""
    rnd = random.Random(11)
    texts = _texts(11, 40) + [
        "".join(rnd.choice(ALPHABET) for _ in range(n))
        for n in (20000, 5000, 3000, 700)
    ]
    rnd.shuffle(texts)
    want = [fingerprint_raw(t, 4) for t in texts]
    arr = pa.array(texts, pa.string())
    assert xxh64.fingerprints(arr, 4).tolist() == want
    longest = max(range(len(texts)), key=lambda i: len(texts[i] or ""))
    alone = xxh64.fingerprints(arr[longest : longest + 1], 4).tolist()
    assert alone == [want[longest]]
    monkeypatch.setattr(xxh64, "SLICE_BYTES", 256)
    assert xxh64.fingerprints(arr, 4).tolist() == want
    assert xxh64.fingerprints(arr[3:], 4).tolist() == want[3:]

def test_hash_paths_match_mirror():
    rnd = random.Random(7)
    # every tail combination below and above the 32-byte stripe path
    spans = [bytes(rnd.getrandbits(8) for _ in range(n)) for n in range(0, 80)]
    spans += [bytes(rnd.getrandbits(8) for _ in range(rnd.randint(0, 100)))
              for _ in range(100)]
    buf = np.frombuffer(b"".join(spans), np.uint8)
    starts = np.cumsum([0] + [len(s) for s in spans[:-1]])
    lengths = [len(s) for s in spans]
    for seed in (42, 0, (1 << 64) - 1):
        got = xxh64.hash_bytes(buf, starts, lengths, np.uint64(seed)).tolist()
        assert got == [mirror.hash_bytes(s, seed) for s in spans]
    empty = xxh64.hash_bytes(buf, [0, 3], [0, 0])  # one length, no bytes
    assert empty.tolist() == [mirror.hash_bytes(b"")] * 2
    words = [0, 1, 42, (1 << 63) - 1, 1 << 63, (1 << 64) - 1]
    vals = np.array(words, np.uint64)
    for seed in (42, 0, (1 << 64) - 1):
        got = xxh64.hash_long(vals, np.uint64(seed)).tolist()
        assert got == [mirror.hash_long(w, seed) for w in words]
    assert xxh64.hash_int(1, vals).tolist() == [mirror.hash_int(1, w) for w in words]


def test_fingerprint_df_across_small_batches(spark):
    texts = _texts(3, 60)
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = dict(fingerprint_df(df.coalesce(1), "text", "id").collect())
    finally:
        spark.conf.set(key, old)
    assert got == {i: fingerprint(t) for i, t in enumerate(texts)}


def test_spans_rebases_a_sliced_list_array():
    arr = pa.array([[1, 2], [3], [4, 5, 6], [7]], pa.list_(pa.int64()))[1:3]
    values, off = xxh64.spans(arr)
    assert values.tolist() == [3, 4, 5, 6] and off.tolist() == [0, 1, 4]
