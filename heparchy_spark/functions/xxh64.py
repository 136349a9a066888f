"""Vectorized XXH64, bit-identical to Spark's ``xxhash64`` expression.

NumPy ports of Spark's ``XXH64`` (``org.apache.spark.unsafe.hash.XXH64``)
over uint64 arrays, mirrored in plain Python by ``tools/xxh64.py``:

- ``hash_long`` / ``hash_int``: the 8- and 4-byte word paths Spark takes
  for long and int inputs;
- ``hash_bytes``: ``hashUnsafeBytes`` over many spans of one byte buffer
  at once, the spans grouped by byte length so that every group runs as
  whole-array operations (the >= 32-byte stripe path included);
- ``fingerprints``: the rolling character n-gram fold of
  ``operators/text.py`` ``fingerprint_df``, vectorized across documents.

``spans`` is the one place a sliced Arrow array's offsets are rebased;
``matrix`` reads a list column of vectors through it as one 2-D float64
array, and ``list_array`` writes a 2-D array back as a list column.

The module is registered with cloudpickle to pickle by value: a function
sent to Python workers that calls into it carries the module along, so
the workers need not import ``heparchy_spark``.  It imports nothing of
the package.
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark import cloudpickle

__all__ = [
    "fingerprints",
    "hash_bytes",
    "hash_int",
    "hash_long",
    "list_array",
    "matrix",
    "spans",
]

_U = np.uint64
P1 = _U(0x9E3779B185EBCA87)
P2 = _U(0xC2B2AE3D27D4EB4F)
P3 = _U(0x165667B19E3779F9)
P4 = _U(0x85EBCA77C2B2AE63)
P5 = _U(0x27D4EB2F165667C5)
SEED = _U(42)


def _rotl(x, r: int):
    return (x << _U(r)) | (x >> _U(64 - r))


def _fmix(h):
    h = h ^ (h >> _U(33))
    h = h * P2
    h = h ^ (h >> _U(29))
    h = h * P3
    return h ^ (h >> _U(32))


def _round(acc, k):
    return _rotl(acc + k * P2, 31) * P1


def hash_long(value, seed):
    """XXH64 of 64-bit words (``XXH64.hashLong``), uint64 in and out.
    ``value`` is an array; ufuncs wrap without the overflow warning that
    NumPy's scalar arithmetic gives a scalar ``seed``."""
    h = np.add(seed, P5 + _U(8)) ^ _round(_U(0), value)
    return _fmix(_rotl(h, 27) * P1 + P4)


def hash_int(value: int, seed):
    """XXH64 4-byte path (``XXH64.hashInt``; Spark hashes int literals
    this way) of one int ``value`` against uint64 ``seed``s."""
    with np.errstate(over="ignore"):
        h = seed + P5 + _U(4)
        h = h ^ _U(value & 0xFFFFFFFF) * P1
        return _fmix(_rotl(h, 23) * P2 + P3)


def spans(arr):
    """``(values, offsets)`` of an Arrow string, binary or list array:
    the value buffer as NumPy (bytes for strings) and the ``len + 1``
    int64 offsets, rebased so that ``offsets[0] == 0`` and ``values``
    ends at the last element's end.  A sliced array's offsets are
    absolute into the shared buffer; every kernel reads them through
    here."""
    import pyarrow as pa

    t = arr.type
    large = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
    large = large or pa.types.is_large_list(t)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], np.int64 if large else np.int32)
    off = off[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        values = arr.values.to_numpy(zero_copy_only=False)
    elif bufs[2] is None:
        values = np.empty(0, np.uint8)
    else:
        values = np.frombuffer(bufs[2], np.uint8)
    return values[off[0] : off[-1]], off - off[0]


def matrix(arr):
    """An Arrow list array of equal-length numeric vectors as a
    ``(len, dim)`` float64 NumPy matrix, one row per element; a null
    component reads as NaN.  A null or ragged row raises ``ValueError``
    (the rows do not form a matrix)."""
    if arr.null_count:
        raise ValueError("a null row in a vector column")
    values, off = spans(arr)
    dim = int(off[1]) if len(arr) else 0
    if np.any(np.diff(off) != dim):
        raise ValueError("ragged rows in a vector column")
    return values.astype(np.float64).reshape(len(arr), dim)


def list_array(m):
    """The rows of a 2-D NumPy array as an Arrow list array (the inverse
    of ``matrix``), its values of ``m``'s dtype."""
    import pyarrow as pa

    off = np.arange(len(m) + 1, dtype=np.int32) * m.shape[1]
    return pa.ListArray.from_arrays(off, np.ascontiguousarray(m).ravel())


def _words(buf, starts, at, size: int):
    """The little-endian ``size``-byte word at ``starts + at`` of each span,
    gathered through an unaligned view of ``buf`` with a word at every
    byte offset."""
    n = max(len(buf) - size + 1, 0)
    every = np.ndarray((n,), f"<u{size}", buffer=buf, strides=(1,))
    return every[starts + at].astype(np.uint64)


def _hash_fixed(buf, starts, length: int, seed):
    """``hashUnsafeBytes`` of spans that all hold ``length`` bytes."""
    seed = np.full(len(starts), seed, np.uint64)  # an array even if length = 0
    at = 0
    if length >= 32:
        v = [seed + P1 + P2, seed + P2, seed + _U(0), seed - P1]
        while at + 32 <= length:
            for j in range(4):
                v[j] = _round(v[j], _words(buf, starts, at + 8 * j, 8))
            at += 32
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for vj in v:
            h = (h ^ _round(_U(0), vj)) * P1 + P4
    else:
        h = seed + P5
    h = h + _U(length)
    while at + 8 <= length:
        h = h ^ _round(_U(0), _words(buf, starts, at, 8))
        h = _rotl(h, 27) * P1 + P4
        at += 8
    if at + 4 <= length:
        h = h ^ _words(buf, starts, at, 4) * P1
        h = _rotl(h, 23) * P2 + P3
        at += 4
    while at < length:
        h = h ^ _words(buf, starts, at, 1) * P5
        h = _rotl(h, 11) * P1
        at += 1
    return _fmix(h)


def hash_bytes(buf, starts, lengths, seed=SEED):
    """``XXH64.hashUnsafeBytes`` of every span ``buf[s : s + n]`` for
    ``(s, n)`` in ``zip(starts, lengths)``, under one uint64 ``seed``;
    uint64 out.  Spans of one byte length are hashed together."""
    starts = np.asarray(starts, np.int64)
    lengths = np.asarray(lengths, np.int64)
    sizes = np.flatnonzero(np.bincount(lengths, minlength=1))
    with np.errstate(over="ignore"):
        if len(sizes) == 1:  # one length (ASCII n-grams): no regrouping
            return _hash_fixed(buf, starts, int(sizes[0]), seed)
        out = np.empty(len(starts), np.uint64)
        for n in sizes:
            sel = np.flatnonzero(lengths == n)
            out[sel] = _hash_fixed(buf, starts[sel], int(n), seed)
    return out


# documents per ``fingerprints`` kernel call are cut so that each call
# reads at most this many text bytes (a longer document is one call on
# its own): a call peaks at about 64 bytes per text byte (character
# starts, gram positions and hashes, the hash temporaries), so at most
# ~70 MB whatever the Arrow batch size
SLICE_BYTES = 1 << 20
# the fold steps all documents still folding together while at least
# this many are; past that, one NumPy step (~35 ufunc calls, 35-45 us)
# costs more than folding each remaining document in plain Python
# (~1.7 us per gram), so the longest documents finish there
TAIL_DOCS = 16


def fingerprints(strings, ngram: int):
    """The ``fingerprint_df`` fold over an Arrow string array, as
    int64: per document, ``acc = xxhash64(acc, xxhash64(gram))`` from
    ``acc = 0`` over its character n-grams in order (``substr``
    semantics: characters, not bytes); text shorter than ``ngram``
    characters hashes whole, and a null gives 42 (the seed).

    The documents are folded in runs of at most ``SLICE_BYTES`` text
    bytes (``_fold``)."""
    buf, off = spans(strings)
    valid = strings.is_valid().to_numpy(zero_copy_only=False)
    out = np.empty(len(strings), np.uint64)
    a = 0
    while a < len(strings):
        b = int(np.searchsorted(off, off[a] + SLICE_BYTES, side="right")) - 1
        b = max(b, a + 1)
        out[a:b] = _fold(buf[off[a] : off[b]], off[a : b + 1] - off[a],
                         valid[a:b], ngram)
        a = b
    return out.view(np.int64)


def _fold(buf, off, valid, ngram: int):
    """``fingerprints`` of the documents at ``off`` in ``buf``, uint64.

    Character starts are the bytes that are not UTF-8 continuation
    bytes.  Every gram is hashed in one ``hash_bytes`` pass.  The
    documents are ordered by gram count, descending, so the documents
    still folding at step ``t`` are a prefix, and each step is one
    vectorized ``_step`` over that prefix while it holds at least
    ``TAIL_DOCS`` documents; the longer documents then finish in
    ``_fold_tail``, so the number of NumPy steps never depends on the
    longest document."""
    n = len(valid)
    cs = np.flatnonzero((buf & 0xC0) != 0x80)  # character starts
    first = np.searchsorted(cs, off)  # first char of each doc, + the end
    chars = np.diff(first)
    cs = np.append(cs, len(buf))  # the byte after the last char
    grams = np.where(valid & (chars >= ngram), chars - ngram + 1, 0)
    out = np.full(n, SEED, np.uint64)
    short = np.flatnonzero(valid & (grams == 0))
    out[short] = hash_bytes(buf, off[short], off[short + 1] - off[short])
    gofs = np.cumsum(grams) - grams  # each doc's first gram in ``k``
    pos = np.repeat(first[:-1] - gofs, grams) + np.arange(grams.sum())
    with np.errstate(over="ignore"):
        k = _round(_U(0), hash_bytes(buf, cs[pos], cs[pos + ngram] - cs[pos]))
    del cs, pos
    order = np.argsort(-grams, kind="stable")
    order = order[: np.count_nonzero(grams)]
    steps = grams[order]
    base = gofs[order]
    tail = steps[TAIL_DOCS - 1] if len(order) >= TAIL_DOCS else 0
    live = np.searchsorted(-steps, -np.arange(tail))
    acc = np.zeros(len(order), np.uint64)
    with np.errstate(over="ignore"):
        for t, m in enumerate(live):
            acc[:m] = _step(acc[:m], k[base[:m] + t])
    for i in np.flatnonzero(steps > tail):
        ks = k[base[i] + tail : base[i] + steps[i]].tolist()
        acc[i] = _fold_tail(int(acc[i]), ks)
    out[order] = acc
    return out


def _step(acc, k):
    """``hash_long(v, hash_long(acc, SEED))`` for ``k = _round(0, v)``:
    one fold step, the second hash's input round taken ahead."""
    h = (hash_long(acc, SEED) + (P5 + _U(8))) ^ k
    return _fmix(_rotl(h, 27) * P1 + P4)


_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (int(p) for p in (P1, P2, P3, P4, P5))


def _fold_tail(acc: int, ks: list) -> int:
    """``_step`` folded over ``ks`` in plain Python ints, for the few
    documents that outlast the others in a ``_fold``."""
    c = (int(SEED) + _P5 + 8) & _M
    for k in ks:
        a = acc * _P2 & _M
        a = ((a << 31 | a >> 33) & _M) * _P1 & _M
        h = c ^ a
        h = (((h << 27 | h >> 37) & _M) * _P1 + _P4) & _M
        h ^= h >> 33
        h = h * _P2 & _M
        h ^= h >> 29
        h = h * _P3 & _M
        h ^= h >> 32
        h = ((h + _P5 + 8) & _M) ^ k
        h = (((h << 27 | h >> 37) & _M) * _P1 + _P4) & _M
        h ^= h >> 33
        h = h * _P2 & _M
        h ^= h >> 29
        h = h * _P3 & _M
        acc = h ^ h >> 32
    return acc


cloudpickle.register_pickle_by_value(sys.modules[__name__])
