"""Build expected-value parquet fixtures for corpus queries whose oracle
cannot be expressed in portable SQL (xxhash64 signatures, zlib CRCs,
NumPy byte stats).

Run:  python tools/build_expected.py [sf_dir] [out_dir]
Defaults: /root/testdata/sf0.01 -> tests/fixtures/expected_sf0_01/

Everything here is PLAIN PYTHON — pyarrow to read the input tables,
``tools/xxh64.py`` (pure-Python xxHash-64, pinned equal to Spark's
``xxhash64`` in tests), ``zlib``/``numpy`` for byte stats — no Spark.
The oracle SQL for these queries is then a ``read_parquet`` of the
committed fixture, which turns the driver's rows-only check into a full
row-count + schema + value-hash match against an independent
implementation.  The committed files are bound to sf0.01 (the driver's
correctness scale).

Semantics mirrored (cross-checked by the driver and
``tests/test_expected_fixtures.py``):

- ``normalize_text``: Java-regex ``\\s`` is ASCII ``[ \\t\\n\\x0B\\f\\r]``;
  lower -> strip non-alnum -> collapse whitespace -> trim.
- MinHash/LSH: 3-token shingle hashes composed from chained per-token
  xxhash64; 64 perms via (h & 2^32-1) + j * (xxhash64(h, int 1) & 2^32-1);
  16 bands of 4 rows, band bucket = chained xxhash64 of the 4 perms;
  candidates from shared (band, bucket); exact Jaccard >= 0.5 on distinct
  shingle-hash sets.
- SimHash: majority vote per bit over DISTINCT token hashes; pairs =
  all pairs at Hamming <= 3 (the pigeonhole block join is exact).
- Fingerprint: xxhash64 fold over 4-char-gram hashes of the normalized
  text; whole-string hash when shorter than 4 chars.
- Multimodal: payload = magic(doc_id % 4) + UTF-8 text (the corpus'
  deterministic synthesis); CRC32 via zlib; Shannon entropy via the same
  NumPy reduction the Arrow UDF runs; 16-bucket byte histogram embedding,
  L2-normalized in float32, summed in double, Spark HALF_UP round(6).
"""

from __future__ import annotations

import re
import sys
import zlib
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
from xxh64 import xxhash64  # noqa: E402

_WS = " \t\n\x0b\x0c\r"
_NON_ALNUM = re.compile(f"[^a-z0-9{_WS}]")
_WS_RUN = re.compile(f"[{_WS}]+")


def normalize_text(s: str | None) -> str | None:
    if s is None:
        return None
    s = s.lower()
    s = _NON_ALNUM.sub(" ", s)
    s = _WS_RUN.sub(" ", s)
    return s.strip(" ")


def tokens(s: str | None) -> list[str]:
    n = normalize_text(s)
    if n is None:
        return []
    return n.split(" ")


def spark_round(x: float, scale: int = 6) -> float:
    """Spark's Round on double: BigDecimal.valueOf(x).setScale(HALF_UP)."""
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
        )
    )


# --------------------------------------------------------------------------
# text / dedup expected values
# --------------------------------------------------------------------------
def fingerprint(text: str | None, ngram: int = 4) -> int:
    """Mirror of operators/text.py ``fingerprint_df``: the n-gram fold
    of the normalized text."""
    return fingerprint_raw(normalize_text(text), ngram)


def fingerprint_raw(s: str | None, ngram: int = 4) -> int:
    """Mirror of ``functions.xxh64.fingerprints``: xxhash64 fold over
    the character n-grams of ``s`` as given."""
    if s is None:
        return 42  # Spark xxhash64 of an all-null input returns the seed
    if len(s) < ngram:
        return xxhash64(s)
    acc = 0
    for i in range(len(s) - ngram + 1):
        acc = xxhash64(acc, xxhash64(s[i : i + ngram]))
    return acc


def simhash64(text: str | None) -> int:
    if text is None:
        return 0
    hashes = {xxhash64(t) for t in tokens(text)}
    n = len(hashes)
    fp = 0
    for i in range(64):
        cnt = sum((h >> i) & 1 for h in hashes)
        if 2 * cnt > n:
            fp |= 1 << i
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def shingle_hash_set(text: str | None, n: int = 3) -> set[int]:
    toks = tokens(text)
    hs = [xxhash64(t) for t in toks]
    return {
        xxhash64(*hs[i : i + n]) for i in range(len(hs) - n + 1)
    }


def winnowing_rows(
    docs: list[tuple[int, str | None]], k: int = 3, window: int = 4
) -> list[tuple[int, int]]:
    """Mirror of operators.text.winnowing_fingerprints: per-window
    minimum of word-k-gram hashes, distinct per doc, full windows only.
    Token stream matches the Spark side (split of normalized text with
    empty tokens kept, the shingle_hash_stream convention)."""
    out = set()
    for did, text in docs:
        toks = tokens(text)
        hs = [xxhash64(t) for t in toks]
        grams = [xxhash64(*hs[i : i + k]) for i in range(len(hs) - k + 1)]
        for i in range(len(grams) - window + 1):
            out.add((did, min(grams[i : i + window])))
    return sorted(out)


def winnowing_pairs_rows(
    docs, k: int = 3, window: int = 4, min_shared: int = 2, max_df: int = 100
) -> list[tuple]:
    """Mirror of operators.text.winnowing_overlap_pairs over the
    winnowing_rows fingerprints: drop fingerprints with document
    frequency > max_df, count shared fingerprints per (a < b) pair,
    keep >= min_shared, ratio = shared / min(|fp_a|, |fp_b|)."""
    from collections import Counter, defaultdict

    fps = winnowing_rows(docs, k=k, window=window)
    df_count = Counter(fp for _d, fp in fps)
    kept = [(d, fp) for d, fp in fps if df_count[fp] <= max_df]
    sizes = Counter(d for d, _fp in kept)
    by_fp = defaultdict(list)
    for d, fp in kept:
        by_fp[fp].append(d)
    shared: Counter = Counter()
    for fp, ds in by_fp.items():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                shared[(ds[i], ds[j])] += 1
    out = []
    for (a, b), s in sorted(shared.items()):
        if s >= min_shared:
            out.append((a, b, s, s / min(sizes[a], sizes[b])))
    return out


def minhash_bands(shingles, num_perm: int = 64, bands: int = 16) -> list[int]:
    """LSH band buckets of one non-empty shingle-hash set, band order:
    the mirror of operators/dedup.py ``_band_table``.  Permutation j is
    ``min(t1 + j * t2)`` with ``t1 = h & 2^32-1`` and
    ``t2 = xxhash64(h, int 1) & 2^32-1``; a band's bucket is the chained
    xxhash64 of its ``num_perm // bands`` signature rows."""
    rows = num_perm // bands
    mask = (1 << 32) - 1
    # one pass over the set: the (t1, t2) pairing per element must come
    # from the SAME iteration — two separate comprehensions were only
    # paired correctly by CPython's stable iteration of an unmutated set
    t12 = [(h & mask, xxhash64(h, ("int", 1)) & mask) for h in shingles]
    sig = [min(a + j * b for a, b in t12) for j in range(num_perm)]
    return [xxhash64(*sig[b * rows : (b + 1) * rows]) for b in range(bands)]


def minhash_pairs(
    docs: list[tuple[int, str | None]],
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> list[tuple[int, int, float]]:
    sets: dict[int, set[int]] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    for did, text in docs:
        sh = shingle_hash_set(text)
        if not sh:
            continue
        sets[did] = sh
        for b, bucket in enumerate(minhash_bands(sh, num_perm, bands)):
            buckets.setdefault((b, bucket), []).append(did)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    for a, b in sorted(cand):
        inter = float(len(sets[a] & sets[b]))
        union = float(len(sets[a])) + float(len(sets[b])) - inter
        jac = inter / union
        if jac >= threshold:
            out.append((a, b, jac))
    return out


def lsh_threshold_audit_rows(
    docs: list[tuple[int, str | None]],
    sample_k: int = 200,
    num_perm: int = 64,
    bands: int = 16,
) -> list[tuple]:
    """Mirror of operators.dedup.lsh_threshold_audit: bottom-k docs by
    sha256 of the id string, all pairs, true shingle Jaccard decile vs
    band-bucket candidate flag, plus the theoretical midpoint S-curve
    (the same plain-Python arithmetic the operator emits as literals)."""
    import hashlib
    import math

    rows_per_band = num_perm // bands
    sel = sorted(
        docs, key=lambda d: hashlib.sha256(str(d[0]).encode()).hexdigest()
    )[:sample_k]
    sets: dict[int, set[int]] = {}
    bb: dict[int, set[tuple[int, int]]] = {}
    for did, text in sel:
        sh = shingle_hash_set(text)
        if not sh:
            continue
        sets[did] = sh
        bb[did] = set(enumerate(minhash_bands(sh, num_perm, bands)))
    buckets: dict[int, list[int]] = {}
    ids = sorted(sets)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            inter = float(len(sets[a] & sets[b]))
            union = float(len(sets[a])) + float(len(sets[b])) - inter
            jac = inter / union
            bkt = min(9, int(math.floor(jac * 10)))
            n, c = buckets.get(bkt, (0, 0))
            buckets[bkt] = (n + 1, c + (1 if bb[a] & bb[b] else 0))
    scurve = [
        round(1.0 - (1.0 - ((i + 0.5) / 10.0) ** rows_per_band) ** bands, 6)
        for i in range(10)
    ]
    return [
        (bkt, n, c, spark_round(c / n, 6), scurve[bkt])
        for bkt, (n, c) in sorted(buckets.items())
    ]


def simhash_pairs(
    fps: dict[int, int], max_hamming: int = 3
) -> list[tuple[int, int, int]]:
    ids = sorted(fps)
    out = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            x = (fps[ids[i]] ^ fps[ids[j]]) & ((1 << 64) - 1)
            h = bin(x).count("1")
            if h <= max_hamming:
                out.append((ids[i], ids[j], h))
    return out


# --------------------------------------------------------------------------
# multimodal expected values (mirror of queries/multimodal._media_df synth)
# --------------------------------------------------------------------------
_KINDS = ["image", "image", "audio", "video"]

# GIF construction constants — keep in sync with queries/multimodal.py.
_GIF_HDR = bytes.fromhex("474946383961" + "40003000000000")
_GIF_FRAME = bytes.fromhex("2C" + "00000000" + "4000" + "3000" + "00"
                           + "02" + "0100" + "00")
_GIF_TRAILER = b"\x3b"


def payload_for(doc_id: int, text: str | None) -> bytes:
    """Mirror of queries/multimodal._media_df payload synthesis: REAL
    minimal containers built with struct.pack — an implementation
    independent of the Spark SQL construction.

    NOTE: Spark's concat/unhex NULL-propagates, so a null text means a
    NULL payload and every downstream multimodal operator sees null —
    which plain-Python mirrors of crc/entropy/decode would have to
    replicate per-operator.  main() asserts the corpus has no null texts
    instead, so any future fixture data with nulls fails LOUDLY at build
    time rather than silently diverging."""
    import struct

    body = (text or "").encode("utf-8")
    k = doc_id % 4
    if k == 0:  # PNG: signature + IHDR (truecolor, zero CRC)
        return (
            bytes.fromhex("89504E470D0A1A0A") + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", 32 + doc_id % 64, 32 + doc_id % 48)
            + bytes([8, 2, 0, 0, 0]) + b"\x00\x00\x00\x00" + body
        )
    if k == 1:  # JPEG: SOI + APP0/JFIF + SOF0
        return (
            bytes.fromhex("FFD8FFE000104A464946000101000001000100 00".replace(" ", ""))
            + bytes.fromhex("FFC0001108")
            + struct.pack(">HH", 24 + doc_id % 100, 24 + doc_id % 120)
            + bytes.fromhex("03011100021101031101") + body
        )
    if k == 2:  # WAV: RIFF/WAVE PCM16, data = text bytes
        channels = 1 + doc_id % 2
        rate = [8000, 16000, 44100][doc_id % 3]
        block_align = channels * 2
        return (
            b"RIFF" + struct.pack("<I", len(body) + 36) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                          rate * block_align, block_align, 16)
            + b"data" + struct.pack("<I", len(body)) + body
        )
    # animated GIF: 1 + id%97 frames, text after the trailer
    return _GIF_HDR + _GIF_FRAME * (1 + doc_id % 97) + _GIF_TRAILER + body


def expected_decode(doc_id: int, text: str | None) -> dict:
    """Expected decode_media output derived from the GENERATOR parameters
    — no parser runs here, so the fixture is independent of BOTH the
    Spark path and the operator's stdlib parsers."""
    k = doc_id % 4
    if k == 0:
        return {
            "width": 32 + doc_id % 64, "height": 32 + doc_id % 48,
            "channels": 3, "sample_rate": None, "n_frames": 1,
            "mean_amplitude": None,
        }
    if k == 1:
        return {
            "width": 24 + doc_id % 120, "height": 24 + doc_id % 100,
            "channels": 3, "sample_rate": None, "n_frames": 1,
            "mean_amplitude": None,
        }
    if k == 2:
        body = (text or "").encode("utf-8")
        channels = 1 + doc_id % 2
        framesize = channels * 2
        n_frames = len(body) // framesize
        data = body[: n_frames * framesize]
        samples = np.frombuffer(
            data[: (len(data) // 2) * 2], dtype="<i2"
        ).astype("float64")
        amp = float(np.abs(samples).mean() / 32768.0) if samples.size else 0.0
        return {
            "width": None, "height": None, "channels": channels,
            "sample_rate": [8000, 16000, 44100][doc_id % 3],
            "n_frames": n_frames, "mean_amplitude": amp,
        }
    return {
        "width": 64, "height": 48, "channels": 3, "sample_rate": None,
        "n_frames": 1 + doc_id % 97, "mean_amplitude": None,
    }


def expected_resample(doc_id: int, text: str | None):
    """Mirror of operators/multimodal.resample_audio (factor 2) on the
    generator's WAV params: PCM16 frames = the text bytes, decimated
    [::2]; identical NumPy reduction for the amplitude."""
    body = (text or "").encode("utf-8")
    channels = 1 + doc_id % 2
    rate = [8000, 16000, 44100][doc_id % 3]
    fs = channels * 2
    nf = len(body) // fs
    frames = np.frombuffer(body[: nf * fs], dtype="<i2").reshape(nf, channels)
    sub = frames[::2]
    amp = (
        float(np.abs(sub.astype("float64")).mean() / 32768.0)
        if sub.size
        else 0.0
    )
    return (
        doc_id,
        rate,
        max(rate // 2, 1),
        nf,
        int(sub.shape[0]),
        amp,
    )


def vad_rows(doc_id: int, text: str | None, frame_len: int = 8) -> list[tuple]:
    """Mirror of operators/multimodal.audio_vad_segments on the
    generator's WAV params: PCM16 frames = the text bytes; identical
    NumPy float64 windowing, global-RMS threshold, run-length output."""
    body = (text or "").encode("utf-8")
    channels = 1 + doc_id % 2
    fs = channels * 2
    nf = len(body) // fs
    if nf == 0:
        return []
    frames = (
        np.frombuffer(body[: nf * fs], dtype="<i2").astype("float64")
        / 32768.0
    )
    sig_rms = float(np.sqrt(np.mean(frames * frames)))
    n_win = nf // frame_len
    if n_win == 0 or sig_rms == 0.0:
        return []
    win = frames[: n_win * frame_len * channels].reshape(
        n_win, frame_len * channels
    )
    wrms = np.sqrt(np.mean(win * win, axis=1))
    voiced = wrms > sig_rms
    rows, seg_idx, i = [], 0, 0
    while i < n_win:
        if voiced[i]:
            j = i
            while j < n_win and voiced[j]:
                j += 1
            rows.append(
                (doc_id, seg_idx, i, j - i, round(float(np.mean(wrms[i:j])), 6))
            )
            seg_idx += 1
            i = j
        else:
            i += 1
    return rows


def spectral_rows(doc_id: int, text: str | None, window: int = 64) -> tuple | None:
    """Mirror of operators/multimodal.audio_spectral_profile on the
    generator's WAV params: PCM16 = text bytes, channels 1+id%2;
    identical NumPy float64 mono-mix, rFFT window power, four band
    means + power-weighted centroid bin, round 6."""
    body = (text or "").encode("utf-8")
    channels = 1 + doc_id % 2
    fs = channels * 2
    nf = len(body) // fs
    n_win = nf // window
    if n_win == 0:
        return None
    frames = (
        np.frombuffer(body[: nf * fs], dtype="<i2").astype("float64")
        / 32768.0
    )
    mono = frames.reshape(nf, channels).mean(axis=1)
    win = mono[: n_win * window].reshape(n_win, window)
    spec = np.fft.rfft(win, axis=1)
    n_bins = window // 2
    band = n_bins // 4
    power = (spec.real**2 + spec.imag**2)[:, 1 : n_bins + 1]
    band_means = [
        float(power[:, b * band : (b + 1) * band].mean()) for b in range(4)
    ]
    total = float(power.sum())
    if total > 0.0:
        k = np.arange(1, n_bins + 1, dtype="float64")
        centroid = float((power * k[None, :]).sum() / total)
    else:
        centroid = 0.0
    return (
        doc_id,
        n_win,
        round(centroid, 6),
        round(band_means[0], 6),
        round(band_means[1], 6),
        round(band_means[2], 6),
        round(band_means[3], 6),
    )


def frame_rows(
    media_id: int, buf: bytes, every_n: int = 8
) -> list[tuple[int, int, int]]:
    """Mirror of operators/multimodal.sample_frames slicing: (media_id,
    frame_idx, frame_bytes) per sampled frame; the frame count is the
    generator's GIF frame count."""
    n_frames = 1 + media_id % 97
    step = max(len(buf) // max(n_frames, 1), 1)
    out = []
    for fi in range(0, n_frames, every_n):
        off = (fi * step) % max(len(buf), 1)
        out.append((media_id, fi, len(buf[off : off + step])))
    return out


def keyframe_rows(
    media_id: int, buf: bytes, every_n: int = 4, top_k: int = 3
) -> list[tuple[int, int, int, int]]:
    """Mirror of operators/multimodal.keyframe_select: frame slices via
    the sample_frames rule, 16-bin byte histograms, L1 change vs the
    predecessor, top-k under (change desc, frame_idx)."""
    n_frames = 1 + media_id % 97
    step = max(len(buf) // max(n_frames, 1), 1)
    hists = []
    for fi in range(0, n_frames, every_n):
        off = (fi * step) % max(len(buf), 1)
        arr = np.frombuffer(buf[off : off + step], dtype=np.uint8)
        h = (
            np.bincount(arr >> 4, minlength=16).astype("int64")
            if arr.size
            else np.zeros(16, dtype="int64")
        )
        hists.append((fi, h))
    scored = [
        (int(np.abs(h - ph).sum()), fi)
        for (fi, h), (_, ph) in zip(hists[1:], hists[:-1])
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [
        (media_id, fi, l1, rank + 1)
        for rank, (l1, fi) in enumerate(scored[:top_k])
    ]


def byte_stats(buf: bytes) -> tuple[int, float, int]:
    arr = np.frombuffer(buf, dtype=np.uint8)
    counts = np.bincount(arr, minlength=256) if arr.size else np.zeros(1)
    p = counts[counts > 0] / max(arr.size, 1)
    entropy = float(-(p * np.log2(p)).sum()) if arr.size else 0.0
    return len(buf), entropy, zlib.crc32(buf)


def payload_embedding_sum(buf: bytes, dim: int = 16) -> float:
    arr = np.frombuffer(buf, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype("float64")
    norm = np.linalg.norm(hist)
    vec = (hist / norm if norm else hist).astype("float32")
    acc = 0.0
    for v in vec:  # sequential fold, like F.aggregate
        acc = acc + float(v)
    return spark_round(acc, 6)


# --------------------------------------------------------------------------


def bpe_merges(docs, n_merges=8) -> list[tuple]:
    """Mirror of operators.text.bpe_train: word-frequency table from the
    normalized token stream, then greedy highest-count pair merges with
    the (count DESC, left ASC, right ASC) tie-break."""
    freq: dict[str, int] = {}
    for _, text in docs:
        for w in tokens(text):
            freq[w] = freq.get(w, 0) + 1
    vocab = [(list(w) + ["</w>"], c) for w, c in freq.items()]
    merges = []
    for idx in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in vocab:
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + c
        if not pc:
            break
        (left, right), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((idx, left, right, n))
        nxt = []
        for syms, c in vocab:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, c))
        vocab = nxt
    return merges




def unigram_vocab(
    docs,
    vocab_size: int = 48,
    iters: int = 3,
    seed_size: int = 192,
    max_sub_len: int = 4,
) -> list[tuple]:
    """Mirror of operators.text.unigram_lm_train (hard-EM unigram LM):
    frequency-seeded candidates (all single chars + top multi-char
    substrings by weight with (wt desc, s asc) ties), per-iteration
    Viterbi segmentation of the distinct-word table under +1-smoothed
    log-probs (split scan left to right, strictly-better updates), exact
    integer usage counts, final top-``vocab_size`` by (count desc,
    subword asc)."""
    import math

    freq: dict[str, int] = {}
    for _, text in docs:
        for w in tokens(text):
            if w:
                freq[w] = freq.get(w, 0) + 1
    weights: dict[str, int] = {}
    for w, c in freq.items():
        for ln in range(1, max_sub_len + 1):
            for i in range(0, len(w) - ln + 1):
                s = w[i : i + ln]
                weights[s] = weights.get(s, 0) + c
    multi = sorted(
        ((s, wt) for s, wt in weights.items() if len(s) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:seed_size]
    cand = {s: wt for s, wt in weights.items() if len(s) == 1}
    cand.update(dict(multi))

    def logprobs(counts: dict) -> dict:
        v = len(counts)
        total = sum(counts.values())
        return {
            s: math.log((c + 1) / (total + v)) for s, c in counts.items()
        }

    lp = logprobs(cand)
    max_len = max(len(s) for s in lp)
    counts: dict[str, int] = {}
    for _ in range(iters):
        counts = {s: 0 for s in lp}
        for w, c in freq.items():
            best: list = [0.0] + [None] * len(w)
            back = [0] * (len(w) + 1)
            for i in range(1, len(w) + 1):
                for j in range(max(0, i - max_len), i):
                    piece = w[j:i]
                    if best[j] is None or piece not in lp:
                        continue
                    sc = best[j] + lp[piece]
                    if best[i] is None or sc > best[i]:
                        best[i] = sc
                        back[i] = j
            if best[len(w)] is None:
                continue
            i = len(w)
            while i > 0:
                counts[w[back[i] : i]] += c
                i = back[i]
        lp = logprobs(counts)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [
        (i + 1, s, int(n), round(lp[s], 6))
        for i, (s, n) in enumerate(ranked[:vocab_size])
    ]


def bpe_encode_counts(docs, merges) -> list[tuple]:
    """Mirror of operators.text.bpe_encode_counts for the learned rules."""
    def enc_len(w: str) -> int:
        syms = list(w) + ["</w>"]
        for left, right in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    cache: dict[str, int] = {}
    rows = []
    for did, text in docs:
        ws = tokens(text)
        if not ws:
            continue
        n_bpe = 0
        n_sym = 0
        for w in ws:
            if w not in cache:
                cache[w] = enc_len(w)
            n_bpe += cache[w]
            n_sym += len(w) + 1
        rows.append(
            (did, len(ws), n_sym, n_bpe, spark_round(n_bpe / len(ws), 6))
        )
    return rows


def unigram_encode(docs, vocab) -> list[tuple]:
    """Mirror of operators.text.unigram_encode_counts under the trained
    unigram vocabulary: per-doc word count, Viterbi token count (char
    fallback for uncoverable words), tokens-per-word (spark_round 6)."""
    table = {s: lpv for _, s, _, lpv in vocab}
    max_len = max((len(s) for s in table), default=1)

    def enc(w: str) -> int:
        best: list = [0.0] + [None] * len(w)
        back = [0] * (len(w) + 1)
        for i in range(1, len(w) + 1):
            for j in range(max(0, i - max_len), i):
                piece = w[j:i]
                if best[j] is None or piece not in table:
                    continue
                sc = best[j] + table[piece]
                if best[i] is None or sc > best[i]:
                    best[i] = sc
                    back[i] = j
        if best[len(w)] is None:
            return len(w)
        n, i = 0, len(w)
        while i > 0:
            n += 1
            i = back[i]
        return n

    cache: dict[str, int] = {}
    rows = []
    for did, text in docs:
        ws = [w for w in tokens(text) if w]
        if not ws:
            continue
        n_uni = 0
        for w in ws:
            if w not in cache:
                cache[w] = enc(w)
            n_uni += cache[w]
        rows.append(
            (did, len(ws), n_uni, spark_round(n_uni / len(ws), 6))
        )
    return rows


def unigram_perplexity(docs, vocab) -> list[tuple]:
    """Mirror of operators.text.lm_perplexity under the trained unigram
    vocabulary: per-word Viterbi-best summed log-probs (left-to-right
    addition), min(logprob)-1 per-character OOV floor for uncoverable
    words, per-word scores spark_round(8) then accumulated as exact
    DECIMAL(38,10); per-doc nll_nats / nats_per_token spark_round(6)."""
    table = {s: lpv for _, s, _, lpv in vocab}
    max_len = max((len(s) for s in table), default=1)
    unk_lp = min(table.values(), default=0.0) - 1.0
    q10 = Decimal(1).scaleb(-10)

    def one(w: str) -> tuple[int, Decimal]:
        best: list = [0.0] + [None] * len(w)
        back = [0] * (len(w) + 1)
        for i in range(1, len(w) + 1):
            for j in range(max(0, i - max_len), i):
                piece = w[j:i]
                if best[j] is None or piece not in table:
                    continue
                sc = best[j] + table[piece]
                if best[i] is None or sc > best[i]:
                    best[i] = sc
                    back[i] = j
        if best[len(w)] is None:
            lp = len(w) * unk_lp
            n_tok = len(w)
        else:
            pieces, i = [], len(w)
            while i > 0:
                pieces.append(w[back[i] : i])
                i = back[i]
            lp = 0.0
            for piece in pieces[::-1]:
                lp += table[piece]
            n_tok = len(pieces)
        return n_tok, Decimal(repr(spark_round(lp, 8))).quantize(
            q10, rounding=ROUND_HALF_UP
        )

    cache: dict[str, tuple[int, Decimal]] = {}
    rows = []
    for did, text in docs:
        ws = [w for w in tokens(text) if w]
        if not ws:
            continue
        n_tokens, total = 0, Decimal(0)
        for w in ws:
            if w not in cache:
                cache[w] = one(w)
            nt, dec = cache[w]
            n_tokens += nt
            total += dec
        nll = -float(total)
        rows.append(
            (
                did,
                len(ws),
                n_tokens,
                spark_round(nll, 6),
                spark_round(nll / n_tokens, 6),
            )
        )
    return rows


def rouge_l_rows(docs, pairs) -> list[tuple]:
    """Mirror of operators.text.rouge_l_pairs over the mirrored MinHash
    pairs: token-LCS length + precision/recall/F1 (reference = id_a)."""
    toks = {did: [w for w in tokens(text) if w] for did, text in docs}

    def lcs(a: list, b: list) -> int:
        if not a or not b:
            return 0
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, start=1):
                cur[j] = (
                    prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
                )
            prev = cur
        return prev[-1]

    rows = []
    for a, b, _jac in pairs:
        ref, cand = toks[a], toks[b]
        ln = lcs(ref, cand)
        p = ln / len(cand) if cand else 0.0
        r = ln / len(ref) if ref else 0.0
        f = 2 * p * r / (p + r) if (p + r) > 0 else 0.0
        rows.append((a, b, ln, round(p, 6), round(r, 6), round(f, 6)))
    return rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = Path(
        sys.argv[2]
        if len(sys.argv) > 2
        else Path(__file__).resolve().parent.parent
        / "tests/fixtures/expected_sf0_01"
    )
    out_dir.mkdir(parents=True, exist_ok=True)

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = list(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    assert all(t is not None for _, t in docs), (
        "fixture corpus contains null texts: the plain-Python mirrors do "
        "not replicate Spark's NULL propagation — extend them first"
    )

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, out_dir / f"{name}.parquet")
        print(f"{name}: {table.num_rows} rows")

    vr = [
        row
        for did, text in docs
        if did % 4 == 2
        for row in vad_rows(did, text)
    ]
    write(
        "multimodal_audio_vad",
        pa.table(
            {
                "media_id": pa.array([r[0] for r in vr], pa.int64()),
                "seg_idx": pa.array([r[1] for r in vr], pa.int32()),
                "start_window": pa.array([r[2] for r in vr], pa.int32()),
                "n_windows": pa.array([r[3] for r in vr], pa.int32()),
                "seg_rms": pa.array([r[4] for r in vr], pa.float64()),
            }
        ),
    )

    sp = [
        row
        for row in (
            spectral_rows(did, text) for did, text in docs if did % 4 == 2
        )
        if row is not None
    ]
    write(
        "multimodal_audio_spectral",
        pa.table(
            {
                "media_id": pa.array([r[0] for r in sp], pa.int64()),
                "n_windows": pa.array([r[1] for r in sp], pa.int32()),
                "centroid_bin": pa.array([r[2] for r in sp], pa.float64()),
                "b0_power": pa.array([r[3] for r in sp], pa.float64()),
                "b1_power": pa.array([r[4] for r in sp], pa.float64()),
                "b2_power": pa.array([r[5] for r in sp], pa.float64()),
                "b3_power": pa.array([r[6] for r in sp], pa.float64()),
            }
        ),
    )

    ug = unigram_vocab(docs)
    ue = unigram_encode(docs, ug)
    write(
        "text_unigram_encode_counts",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in ue], pa.int64()),
                "n_words": pa.array([r[1] for r in ue], pa.int64()),
                "n_unigram_tokens": pa.array([r[2] for r in ue], pa.int64()),
                "unigram_per_word": pa.array([r[3] for r in ue], pa.float64()),
            }
        ),
    )
    up = unigram_perplexity(docs, ug)
    write(
        "text_lm_perplexity",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in up], pa.int64()),
                "n_words": pa.array([r[1] for r in up], pa.int64()),
                "n_tokens": pa.array([r[2] for r in up], pa.int64()),
                "nll_nats": pa.array([r[3] for r in up], pa.float64()),
                "nats_per_token": pa.array(
                    [r[4] for r in up], pa.float64()
                ),
            }
        ),
    )
    write(
        "text_unigram_lm_vocab",
        pa.table(
            {
                "rank": pa.array([r[0] for r in ug], pa.int64()),
                "subword": pa.array([r[1] for r in ug], pa.string()),
                "n_uses": pa.array([r[2] for r in ug], pa.int64()),
                "logprob": pa.array([r[3] for r in ug], pa.float64()),
            }
        ),
    )

    bm = bpe_merges(docs)
    enc = bpe_encode_counts(docs, [(r[1], r[2]) for r in bm])
    write(
        "text_bpe_encode_counts",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in enc], pa.int64()),
                "n_words": pa.array([r[1] for r in enc], pa.int64()),
                "n_char_symbols": pa.array([r[2] for r in enc], pa.int64()),
                "n_bpe_tokens": pa.array([r[3] for r in enc], pa.int64()),
                "bpe_per_word": pa.array([r[4] for r in enc], pa.float64()),
            }
        ),
    )
    write(
        "text_bpe_vocab_merges",
        pa.table(
            {
                "merge_idx": pa.array([r[0] for r in bm], pa.int32()),
                "left": pa.array([r[1] for r in bm], pa.string()),
                "right": pa.array([r[2] for r in bm], pa.string()),
                "pair_count": pa.array([r[3] for r in bm], pa.int64()),
            }
        ),
    )

    # text_fingerprints
    write(
        "text_fingerprints",
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "fp64": pa.array([fingerprint(t) for _, t in docs], pa.int64()),
            }
        ),
    )

    # dedup_simhash_fingerprints + pairs
    fps = {d: simhash64(t) for d, t in docs}
    write(
        "dedup_simhash_fingerprints",
        pa.table(
            {
                "doc_id": pa.array(sorted(fps), pa.int64()),
                "simhash64": pa.array(
                    [fps[d] for d in sorted(fps)], pa.int64()
                ),
            }
        ),
    )
    sp = simhash_pairs(fps)
    write(
        "dedup_simhash_pairs",
        pa.table(
            {
                "id_a": pa.array([a for a, _, _ in sp], pa.int64()),
                "id_b": pa.array([b for _, b, _ in sp], pa.int64()),
                "hamming": pa.array([h for _, _, h in sp], pa.int32()),
            }
        ),
    )

    # dedup_minhash_lsh_pairs
    mp = minhash_pairs(docs)
    write(
        "dedup_minhash_lsh_pairs",
        pa.table(
            {
                "id_a": pa.array([a for a, _, _ in mp], pa.int64()),
                "id_b": pa.array([b for _, b, _ in mp], pa.int64()),
                "jaccard": pa.array([j for _, _, j in mp], pa.float64()),
            }
        ),
    )

    # dedup_lsh_threshold_audit
    au = lsh_threshold_audit_rows(docs)
    write(
        "dedup_lsh_threshold_audit",
        pa.table(
            {
                "j_bucket": pa.array([r[0] for r in au], pa.int32()),
                "n_pairs": pa.array([r[1] for r in au], pa.int64()),
                "n_candidates": pa.array([r[2] for r in au], pa.int64()),
                "cand_rate": pa.array([r[3] for r in au], pa.float64()),
                "scurve_mid": pa.array([r[4] for r in au], pa.float64()),
            }
        ),
    )

    rl = rouge_l_rows(docs, mp)
    write(
        "dedup_rouge_l_pairs",
        pa.table(
            {
                "id_a": pa.array([r[0] for r in rl], pa.int64()),
                "id_b": pa.array([r[1] for r in rl], pa.int64()),
                "lcs_len": pa.array([r[2] for r in rl], pa.int32()),
                "rouge_p": pa.array([r[3] for r in rl], pa.float64()),
                "rouge_r": pa.array([r[4] for r in rl], pa.float64()),
                "rouge_f": pa.array([r[5] for r in rl], pa.float64()),
            }
        ),
    )

    # text_compression_signals (zlib streams are bit-stable per level)
    comp = []
    for did, text in docs:
        buf = (text or "").encode("utf-8")
        c = zlib.compress(buf, 6)
        comp.append(
            (
                did,
                len(buf),
                len(c),
                round(len(c) / len(buf), 6) if buf else 1.0,
            )
        )
    write(
        "text_compression_signals",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in comp], pa.int64()),
                "n_bytes": pa.array([r[1] for r in comp], pa.int64()),
                "n_compressed": pa.array([r[2] for r in comp], pa.int64()),
                "compression_ratio": pa.array(
                    [r[3] for r in comp], pa.float64()
                ),
            }
        ),
    )

    # text_winnowing_fingerprints
    wf = winnowing_rows(docs)
    write(
        "text_winnowing_fingerprints",
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in wf], pa.int64()),
                "fingerprint": pa.array([f for _, f in wf], pa.int64()),
            }
        ),
    )

    wp = winnowing_pairs_rows(docs)
    write(
        "dedup_winnowing_pairs",
        pa.table(
            {
                "id_a": pa.array([r[0] for r in wp], pa.int64()),
                "id_b": pa.array([r[1] for r in wp], pa.int64()),
                "shared_fps": pa.array([r[2] for r in wp], pa.int64()),
                "overlap": pa.array([r[3] for r in wp], pa.float64()),
            }
        ),
    )

    # dedup_incremental_minhash: the batch/corpus split of the SAME band
    # join — a (new, seen) pair shares a bucket independently of which
    # table holds each side, so the incremental result is exactly the
    # cross-split slice of the full pair set (new ids all exceed seen ids
    # because the split is an id cut).
    inc = [(b, a, j) for a, b, j in mp if a < 400 <= b]
    write(
        "dedup_incremental_minhash",
        pa.table(
            {
                "new_id": pa.array([n for n, _, _ in inc], pa.int64()),
                "seen_id": pa.array([s for _, s, _ in inc], pa.int64()),
                "jaccard": pa.array([j for _, _, j in inc], pa.float64()),
            }
        ),
    )

    # multimodal
    payloads = [(d, payload_for(d, t)) for d, t in docs]
    write(
        "multimodal_crc32",
        pa.table(
            {
                "media_id": pa.array([d for d, _ in payloads], pa.int64()),
                "crc32": pa.array(
                    [zlib.crc32(p) for _, p in payloads], pa.int64()
                ),
            }
        ),
    )
    stats = [(d, *byte_stats(p)) for d, p in payloads]
    write(
        "multimodal_byte_stats",
        pa.table(
            {
                "media_id": pa.array([s[0] for s in stats], pa.int64()),
                "n_bytes": pa.array([s[1] for s in stats], pa.int64()),
                "entropy": pa.array([s[2] for s in stats], pa.float64()),
                "crc32": pa.array([s[3] for s in stats], pa.int64()),
            }
        ),
    )
    write(
        "multimodal_payload_embedding",
        pa.table(
            {
                "media_id": pa.array([d for d, _ in payloads], pa.int64()),
                "embedding_sum": pa.array(
                    [payload_embedding_sum(p) for _, p in payloads],
                    pa.float64(),
                ),
            }
        ),
    )

    # multimodal_decode_meta: expected properties from generator params
    decoded = [(d, _KINDS[d % 4], expected_decode(d, t)) for d, t in docs]
    write(
        "multimodal_decode_meta",
        pa.table(
            {
                "media_id": pa.array([d for d, _, _ in decoded], pa.int64()),
                "kind": pa.array([k for _, k, _ in decoded], pa.string()),
                "width": pa.array(
                    [m["width"] for _, _, m in decoded], pa.int32()
                ),
                "height": pa.array(
                    [m["height"] for _, _, m in decoded], pa.int32()
                ),
                "channels": pa.array(
                    [m["channels"] for _, _, m in decoded], pa.int32()
                ),
                "sample_rate": pa.array(
                    [m["sample_rate"] for _, _, m in decoded], pa.int32()
                ),
                "n_frames": pa.array(
                    [m["n_frames"] for _, _, m in decoded], pa.int32()
                ),
                "mean_amplitude": pa.array(
                    [m["mean_amplitude"] for _, _, m in decoded], pa.float64()
                ),
            }
        ),
    )

    # ANN top-k expected values (similarity_lsh_topk / similarity_ivf_topk)
    write_ann_fixtures(sf_dir, write)

    # similarity_kmeans_assign: distributed-Lloyd trajectory mirror
    write_kmeans_fixture(sf_dir, write)

    # physics_antikt_jets: anti-kT merge-trajectory mirror
    write_jets_fixture(sf_dir, write)

    # physics_softdrop_jets: C/A tree + soft-drop grooming mirror
    write_softdrop_fixture(sf_dir, write)

    # dedup_cdc_shared_chunks: content-defined chunking shared spans
    cdc_rows = cdc_shared_chunks(docs)
    write(
        "dedup_cdc_shared_chunks",
        pa.table(
            {
                "chunk_hash": pa.array([r[0] for r in cdc_rows], pa.int64()),
                "n_docs": pa.array([r[1] for r in cdc_rows], pa.int64()),
                "n_occurrences": pa.array(
                    [r[2] for r in cdc_rows], pa.int64()
                ),
                "chunk_len": pa.array([r[3] for r in cdc_rows], pa.int32()),
            }
        ),
    )

    # dedup_duplicated_spans: exact-substring (token 8-gram) dup spans
    span_rows = duplicated_spans(docs)
    write(
        "dedup_duplicated_spans",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in span_rows], pa.int64()),
                "span_start": pa.array([r[1] for r in span_rows], pa.int32()),
                "span_end": pa.array([r[2] for r in span_rows], pa.int32()),
                "span_tokens": pa.array(
                    [r[3] for r in span_rows], pa.int32()
                ),
                "n_grams": pa.array([r[4] for r in span_rows], pa.int64()),
            }
        ),
    )

    # multimodal_frame_sample: video payload frame fan-out (every 8th)
    frames = [
        row
        for d, p in payloads
        if d % 4 == 3
        for row in frame_rows(d, p)
    ]
    kf = [
        row
        for d, p in payloads
        if d % 4 == 3
        for row in keyframe_rows(d, p)
    ]
    write(
        "multimodal_keyframe_select",
        pa.table(
            {
                "media_id": pa.array([r[0] for r in kf], pa.int64()),
                "frame_idx": pa.array([r[1] for r in kf], pa.int32()),
                "l1_change": pa.array([r[2] for r in kf], pa.int64()),
                "kf_rank": pa.array([r[3] for r in kf], pa.int32()),
            }
        ),
    )

    write(
        "multimodal_frame_sample",
        pa.table(
            {
                "media_id": pa.array([r[0] for r in frames], pa.int64()),
                "frame_idx": pa.array([r[1] for r in frames], pa.int32()),
                "frame_bytes": pa.array([r[2] for r in frames], pa.int64()),
            }
        ),
    )

    # multimodal_dhash_neardups: fixture pixels -> dHash -> ALL-PAIRS
    # Hamming (independent of the Spark side's banded candidate join,
    # so any multi-index recall loss hash-mismatches here)
    dh = dhash_neardup_rows([d for d, _ in docs])
    write(
        "multimodal_dhash_neardups",
        pa.table(
            {
                "id_a": pa.array([r[0] for r in dh], pa.int64()),
                "id_b": pa.array([r[1] for r in dh], pa.int64()),
                "hamming": pa.array([r[2] for r in dh], pa.int32()),
            }
        ),
    )

    ge = []
    for did in sorted(d for d, _ in docs if d % 4 == 0):
        g = did // 8
        r = np.arange(16, dtype="int64")[:, None]
        c = np.arange(16, dtype="int64")[None, :]
        base = ((g + 1) * 2654435761 * (r * 16 + c + 1)) % 251
        pix = np.minimum(base + 3 * (did % 8), 255)
        gh = np.abs(pix[:, 1:] - pix[:, :-1])
        gv = np.abs(pix[1:, :] - pix[:-1, :])
        n_pos = gh.size + gv.size
        total = int(gh.sum()) + int(gv.sum())
        ge.append((did, int(pix.size), total / n_pos))
    write(
        "multimodal_image_gradients",
        pa.table(
            {
                "media_id": pa.array([r[0] for r in ge], pa.int64()),
                "n_pixels": pa.array([r[1] for r in ge], pa.int32()),
                "grad_energy": pa.array([r[2] for r in ge], pa.float64()),
                "decodable": pa.array([True] * len(ge), pa.bool_()),
            }
        ),
    )

    ph = phash_neardup_rows([d for d, _ in docs])
    write(
        "multimodal_phash_neardups",
        pa.table(
            {
                "id_a": pa.array([r[0] for r in ph], pa.int64()),
                "id_b": pa.array([r[1] for r in ph], pa.int64()),
                "hamming": pa.array([r[2] for r in ph], pa.int32()),
            }
        ),
    )

    p128 = phash128_neardup_rows([d for d, _ in docs])
    write(
        "multimodal_phash128_neardups",
        pa.table(
            {
                "id_a": pa.array([r[0] for r in p128], pa.int64()),
                "id_b": pa.array([r[1] for r in p128], pa.int64()),
                "hamming": pa.array([r[2] for r in p128], pa.int32()),
            }
        ),
    )

    # the uniform-fixture calibration pair share one all-pairs mirror:
    # both band widths must return exactly these rows (pigeonhole)
    pu = phash128_uniform_rows([d for d, _ in docs])
    for nm in (
        "multimodal_phash128_uniform_neardups",
        "multimodal_phash128_uniform16_neardups",
    ):
        write(
            nm,
            pa.table(
                {
                    "id_a": pa.array([r[0] for r in pu], pa.int64()),
                    "id_b": pa.array([r[1] for r in pu], pa.int64()),
                    "hamming": pa.array([r[2] for r in pu], pa.int32()),
                }
            ),
        )

    # multimodal_resample_audio: WAV frame decimation from generator params
    res = [expected_resample(d, t) for d, t in docs if d % 4 == 2]
    write(
        "multimodal_resample_audio",
        pa.table(
            {
                "media_id": pa.array([r[0] for r in res], pa.int64()),
                "sample_rate": pa.array([r[1] for r in res], pa.int32()),
                "new_rate": pa.array([r[2] for r in res], pa.int32()),
                "n_frames": pa.array([r[3] for r in res], pa.int32()),
                "new_frames": pa.array([r[4] for r in res], pa.int32()),
                "mean_amplitude": pa.array([r[5] for r in res], pa.float64()),
            }
        ),
    )




# --------------------------------------------------------------------------
# ANN expected values (mirrors of operators/similarity — plain Python/NumPy)
# --------------------------------------------------------------------------
# The two ANN corpus queries are APPROXIMATE but fully DETERMINISTIC at
# fixture scale: hyperplanes come from RandomState(7), the IVF sample
# (limit 2000) covers the whole 500-row sf0.01 embeddings table in file
# order, and every Spark-side float op is either a sequential
# zip_with/aggregate fold (mirrored as a left-to-right Python loop —
# identical IEEE doubles) or the very NumPy expressions copied below.


def _seq_dot(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def _seq_norm(a) -> float:
    s = 0.0
    for x in a:
        s += float(x) * float(x)
    return s**0.5


def _cosine(a, b) -> float:
    return _seq_dot(a, b) / (_seq_norm(a) * _seq_norm(b))


def _topk_rows(cands, k=10):
    """(query_id, match_id, cosine) -> ranked rows, Spark tie-break."""
    out = []
    for qid in sorted({c[0] for c in cands}):
        mine = sorted(
            (c for c in cands if c[0] == qid),
            key=lambda c: (-c[2], c[1]),
        )
        for rk, (q, m, cos) in enumerate(mine[:k], start=1):
            out.append((q, m, spark_round(cos, 9), rk))
    return out


def ann_lsh_topk(
    vec_ids, vecs, dim=64, bits=6, seed=7, k=10, n_queries=5
) -> list[tuple]:
    """Mirror of operators.similarity.lsh_cosine_topk (bits=6, seed=7)."""
    planes = np.random.RandomState(seed).standard_normal((bits, dim))

    def bucket(v) -> int:
        b = 0
        for i in range(bits):
            if _seq_dot(v, planes[i]) > 0:
                b += 1 << i
        return b

    buckets = [bucket(v) for v in vecs]
    cands = []
    for qi, qid in enumerate(vec_ids):
        if qid >= n_queries:
            continue
        for mi, mid in enumerate(vec_ids):
            if buckets[mi] == buckets[qi]:
                cands.append((qid, mid, _cosine(vecs[mi], vecs[qi])))
    return _topk_rows(cands, k)


def ann_ivf_topk(
    vec_ids,
    vecs,
    n_centroids=16,
    sample_size=2000,
    iters=4,
    seed=7,
    nprobe=2,
    k=10,
    n_queries=5,
) -> list[tuple]:
    """Mirror of train_centroids + ivf_topk: identical NumPy expressions,
    so the k-means trajectory and cell assignments reproduce exactly."""
    x_all = np.stack([np.asarray(v) for v in vecs]).astype("float64")
    x = x_all[:sample_size]
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    cents = np.ascontiguousarray(cents, dtype="float64")
    cn2 = (cents**2).sum(axis=1)
    base_cell = (cn2[None, :] - 2.0 * (x_all @ cents.T)).argmin(axis=1)
    qidx = [i for i, v in enumerate(vec_ids) if v < n_queries]
    xq = x_all[qidx]
    d2q = cn2[None, :] - 2.0 * (xq @ cents.T)
    probes = np.argsort(d2q, axis=1)[:, :nprobe]
    cands = []
    for row, qi in enumerate(qidx):
        cells = set(int(c) for c in probes[row])
        for mi, mid in enumerate(vec_ids):
            if int(base_cell[mi]) in cells:
                cands.append((vec_ids[qi], mid, _cosine(vecs[mi], vecs[qi])))
    return _topk_rows(cands, k)




def dhash_neardup_rows(doc_ids, max_hamming=10) -> list[tuple]:
    """Mirror of queries.multimodal.multimodal_dhash_neardups: the
    fixture pixel recipe (group base pattern + in-group brightness
    shift), the integer 128-bit dHash pipeline (channel-mean grayscale,
    nearest-neighbor 9x16 grid, gradient signs — bit r*8+c), then
    ALL-PAIRS Hamming — deliberately NOT the banded join the Spark side
    uses, so this fixture independently audits the multi-index recall
    guarantee of the 32-bit wide-band construction."""
    hashes = []
    for did in sorted(d for d in doc_ids if d % 4 == 0):
        g = did // 8
        r = np.arange(16, dtype="int64")[:, None]
        c = np.arange(16, dtype="int64")[None, :]
        base = ((g + 1) * 2654435761 * (r * 16 + c + 1)) % 251
        pix = np.minimum(base + 3 * (did % 8), 255)
        # three identical channels -> integer channel-mean == pix
        gray = pix
        ys = (np.arange(16) * 16) // 16
        xs = (np.arange(9) * 16) // 9
        gg = gray[np.ix_(ys, xs)]
        bits = (gg[:, :-1] < gg[:, 1:]).astype("uint64").ravel()
        code = 0
        for i in range(128):
            if bits[i]:
                code |= 1 << i
        hashes.append((did, code))
    out = []
    for i in range(len(hashes)):
        a, ha = hashes[i]
        for j in range(i + 1, len(hashes)):
            b, hb = hashes[j]
            d = bin(ha ^ hb).count("1")
            if d <= max_hamming:
                out.append((a, b, d))
    return out


def phash_neardup_rows(doc_ids, max_hamming=8) -> list[tuple]:
    """Mirror of queries.multimodal.multimodal_phash_neardups: fixture
    pixels -> 32x32 nearest-neighbor grayscale -> orthonormal 2-D
    DCT-II -> 8x8 block, median-of-63-non-DC threshold -> 64-bit code,
    then ALL-PAIRS Hamming — independent of the Spark side's banded
    join, so any banding recall loss hash-mismatches."""
    n32 = np.arange(32, dtype="float64")
    basis = np.cos(np.pi * (2.0 * n32[None, :] + 1.0) * n32[:, None] / 64.0)
    basis[0] *= np.sqrt(1.0 / 32.0)
    basis[1:] *= np.sqrt(2.0 / 32.0)
    hashes = []
    for did in sorted(d for d in doc_ids if d % 4 == 0):
        g = did // 8
        r = np.arange(16, dtype="int64")[:, None]
        c = np.arange(16, dtype="int64")[None, :]
        base = ((g + 1) * 2654435761 * (r * 16 + c + 1)) % 251
        pix = np.minimum(base + 3 * (did % 8), 255)
        # three identical channels -> integer channel-mean == pix
        ys = (np.arange(32) * 16) // 32
        gg = pix[np.ix_(ys, ys)].astype("float64")
        co = basis @ gg @ basis.T
        # 1e-6 rounding before the median compare, mirroring
        # operators/multimodal._phash64: exact-tie coefficients land
        # +-1 ulp apart depending on the BLAS matmul kernel
        flat = np.round(co[:8, :8].ravel(), 6)
        med = np.median(flat[1:])
        val = 0
        for i in range(64):
            if flat[i] > med:
                val |= 1 << i
        hashes.append((did, val))
    out = []
    for i in range(len(hashes)):
        a, ha = hashes[i]
        for j in range(i + 1, len(hashes)):
            b, hb = hashes[j]
            d = bin(ha ^ hb).count("1")
            if d <= max_hamming:
                out.append((a, b, d))
    return out


def phash128_neardup_rows(doc_ids, max_hamming=10) -> list[tuple]:
    """Mirror of queries.multimodal.multimodal_phash128_neardups:
    fixture pixels -> 32x32 grayscale -> orthonormal 2-D DCT-II -> 8x16
    block, median-of-127-non-DC threshold -> 128-bit code, then
    ALL-PAIRS Hamming — independent of the Spark side's 32-bit-banded
    join, so any banding recall loss hash-mismatches."""
    n32 = np.arange(32, dtype="float64")
    basis = np.cos(np.pi * (2.0 * n32[None, :] + 1.0) * n32[:, None] / 64.0)
    basis[0] *= np.sqrt(1.0 / 32.0)
    basis[1:] *= np.sqrt(2.0 / 32.0)
    hashes = []
    for did in sorted(d for d in doc_ids if d % 4 == 0):
        g = did // 8
        r = np.arange(16, dtype="int64")[:, None]
        c = np.arange(16, dtype="int64")[None, :]
        base = ((g + 1) * 2654435761 * (r * 16 + c + 1)) % 251
        pix = np.minimum(base + 3 * (did % 8), 255)
        ys = (np.arange(32) * 16) // 32
        gg = pix[np.ix_(ys, ys)].astype("float64")
        co = basis @ gg @ basis.T
        # 1e-6 rounding before the median compare (see _phash64 mirror)
        flat = np.round(co[:8, :16].ravel(), 6)
        med = np.median(flat[1:])
        code = 0
        for i in range(128):
            if flat[i] > med:
                code |= 1 << i
        hashes.append((did, code))
    out = []
    for i in range(len(hashes)):
        a, ha = hashes[i]
        for j in range(i + 1, len(hashes)):
            b, hb = hashes[j]
            d = bin(ha ^ hb).count("1")
            if d <= max_hamming:
                out.append((a, b, d))
    return out


def _uniform_pixels(did: int) -> "np.ndarray":
    """Verbatim mirror of queries.multimodal._uniform_fixture_pixels
    (single grayscale plane — the three channels are identical, so the
    integer channel-mean equals the plane): splitmix64 finalizer over
    (group, cell) mod 200 + a non-clipping +3*(did%8) shift."""
    g = did // 8
    mask = (1 << 64) - 1
    pix = np.empty((16, 16), dtype="int64")
    for r in range(16):
        for c in range(16):
            z = (
                g * 0x9E3779B97F4A7C15
                + (r * 16 + c + 1) * 0xBF58476D1CE4E5B9
            ) & mask
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
            z ^= z >> 31
            pix[r, c] = z % 200
    return pix + 3 * (did % 8)


def phash128_uniform_rows(doc_ids, max_hamming=10) -> list[tuple]:
    """Mirror of queries.multimodal.multimodal_phash128_uniform_neardups
    (and its 16-bit-band calibration twin — identical output by the
    pigeonhole recall guarantee): avalanche-uniform fixture pixels ->
    32x32 grayscale -> orthonormal 2-D DCT-II -> 8x16 block,
    median-of-127-non-DC threshold -> 128-bit code, then ALL-PAIRS
    Hamming — independent of the Spark side's banded join at either
    band width."""
    n32 = np.arange(32, dtype="float64")
    basis = np.cos(np.pi * (2.0 * n32[None, :] + 1.0) * n32[:, None] / 64.0)
    basis[0] *= np.sqrt(1.0 / 32.0)
    basis[1:] *= np.sqrt(2.0 / 32.0)
    hashes = []
    for did in sorted(d for d in doc_ids if d % 4 == 0):
        pix = _uniform_pixels(did)
        ys = (np.arange(32) * 16) // 32
        gg = pix[np.ix_(ys, ys)].astype("float64")
        co = basis @ gg @ basis.T
        # 1e-6 rounding before the median compare (see _phash64 mirror)
        flat = np.round(co[:8, :16].ravel(), 6)
        med = np.median(flat[1:])
        code = 0
        for i in range(128):
            if flat[i] > med:
                code |= 1 << i
        hashes.append((did, code))
    out = []
    for i in range(len(hashes)):
        a, ha = hashes[i]
        for j in range(i + 1, len(hashes)):
            b, hb = hashes[j]
            d = bin(ha ^ hb).count("1")
            if d <= max_hamming:
                out.append((a, b, d))
    return out


def incremental_ivf_rows(
    vec_ids,
    vecs,
    n_centroids=16,
    sample_size=2000,
    iters=4,
    seed=7,
    threshold=0.95,
    seen_min=100,
    fresh_max=50,
    plant_k=25,
    plant_offset=1_000_000,
) -> list[tuple]:
    """Mirror of queries.similarity.similarity_incremental_ivf_assign:
    train on the seen corpus (ids >= seen_min, ordered), assign the new
    batch (fresh ids < fresh_max + planted perturbed copies of seen ids
    seen_min..seen_min+plant_k) via the identical cn2 - 2 x@cT argmin,
    then the best same-cell cosine under (cos desc, seen id asc)."""
    seen = sorted(
        (vid, np.asarray(v, dtype="float64"))
        for vid, v in zip(vec_ids, vecs)
        if vid >= seen_min
    )
    x = np.stack([v for _, v in seen])[:sample_size]
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    cents = np.ascontiguousarray(cents, dtype="float64")
    cn2 = (cents**2).sum(axis=1)

    seen_x = np.stack([v for _, v in seen])
    seen_cell = (cn2[None, :] - 2.0 * (seen_x @ cents.T)).argmin(axis=1)
    by_cell: dict[int, list[tuple]] = {}
    for (sid, sv), c in zip(seen, seen_cell):
        by_cell.setdefault(int(c), []).append((sid, sv))

    news = [
        (vid, np.asarray(v, dtype="float64"))
        for vid, v in zip(vec_ids, vecs)
        if vid < fresh_max
    ]
    for vid, v in zip(vec_ids, vecs):
        if seen_min <= vid < seen_min + plant_k:
            news.append(
                (
                    vid + plant_offset,
                    np.array(
                        [
                            float(v[j]) * (1.0 + 0.0005 * ((vid + j) % 3))
                            for j in range(len(v))
                        ],
                        dtype="float64",
                    ),
                )
            )
    new_x = np.stack([v for _, v in news])
    new_cell = (cn2[None, :] - 2.0 * (new_x @ cents.T)).argmin(axis=1)
    out = []
    for (nid, nv), c in zip(news, new_cell):
        c = int(c)
        dist2 = spark_round(((nv - cents[c]) ** 2).sum(), 6)
        members = by_cell.get(c, [])
        if members:
            cands = sorted(
                (
                    (spark_round(_cosine(nv, sv), 9), sid)
                    for sid, sv in members
                ),
                key=lambda t: (-t[0], t[1]),
            )
            bc, bid = cands[0]
            out.append((nid, c, dist2, len(members), bid, bc, bc >= threshold))
        else:
            out.append((nid, c, dist2, 0, None, None, False))
    return out


def ivf_recall_rows(vec_ids, vecs, k=10, n_queries=5) -> list[tuple]:
    """Mirror of queries.similarity.similarity_ivf_recall_at_k: exact
    brute-force cosine top-k per query vs the ann_ivf_topk mirror's
    result sets; recall = one int/int division."""
    approx_sets: dict = {}
    for q, m, _c, _r in ann_ivf_topk(vec_ids, vecs):
        approx_sets.setdefault(q, set()).add(m)
    cands = [
        (qid, mid, _cosine(vecs[mi], vecs[qi]))
        for qi, qid in enumerate(vec_ids)
        if qid < n_queries
        for mi, mid in enumerate(vec_ids)
    ]
    per_q: dict = {}
    for q, m, _c, _r in _topk_rows(cands, k):
        per_q.setdefault(q, []).append(m)
    out = []
    for q in sorted(per_q):
        ms = per_q[q]
        hits = sum(1 for m in ms if m in approx_sets.get(q, ()))
        out.append((q, len(ms), hits, hits / len(ms)))
    return out


def pq_recall_rows(vec_ids, vecs, k=10, n_queries=5) -> list[tuple]:
    """Mirror of queries.similarity.similarity_pq_recall_at_k: exact
    brute-force squared-L2 top-k per query (sequential-fold
    differences, (d2, id) tie-break) vs the ann_pq_topk mirror's
    result sets; recall = one int/int division."""
    approx_sets: dict = {}
    for q, m, _d, _r in ann_pq_topk(vec_ids, vecs):
        approx_sets.setdefault(q, set()).add(m)

    def l2sq(a, b) -> float:
        s = 0.0
        for x, y in zip(a, b):
            d = float(x) - float(y)
            s += d * d
        return s

    out = []
    for qi, qid in enumerate(vec_ids):
        if qid >= n_queries:
            continue
        cands = sorted(
            ((l2sq(vecs[mi], vecs[qi]), mid) for mi, mid in enumerate(vec_ids)),
            key=lambda c: (c[0], c[1]),
        )[:k]
        hits = sum(1 for _d, m in cands if m in approx_sets.get(qid, ()))
        out.append((qid, len(cands), hits, hits / len(cands)))
    return sorted(out)


def semantic_dedup_rows(
    vec_ids,
    vecs,
    n_centroids=8,
    sample_size=2000,
    iters=4,
    seed=7,
    threshold=0.95,
    plant_k=25,
    plant_offset=1_000_000,
    rank_window=512,
) -> list[tuple]:
    """Mirror of queries.similarity.similarity_semantic_dedup: planted
    augmentation -> seeded Lloyd (xxhash64-of-id-ordered sample — the
    corpus-spanning deterministic order the Spark side uses, see
    operators.similarity._bounded_sample) -> nearest-centroid
    assignment -> per-cluster rank by (round9 centroid distance, id) ->
    drop on cosine >= threshold to a better-ranked member within
    ``rank_window`` ranks (the operator's skew bound; identical to the
    unbounded sweep while every cell holds <= rank_window+1 vectors,
    which holds at the sf0.01 fixture scale)."""
    ids = list(vec_ids)
    xs = [np.asarray(v, dtype="float64") for v in vecs]
    for vid, v in zip(vec_ids, vecs):
        if vid < plant_k:
            ids.append(vid + plant_offset)
            xs.append(
                np.array(
                    [
                        float(v[j]) * (1.0 + 0.0005 * ((vid + j) % 3))
                        for j in range(len(v))
                    ],
                    dtype="float64",
                )
            )
    order = sorted(range(len(ids)), key=lambda i: xxhash64(ids[i]))
    ids_s = [ids[i] for i in order]
    x_all = np.stack([xs[i] for i in order])
    x = x_all[:sample_size]
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    cents = np.ascontiguousarray(cents, dtype="float64")
    cn2 = (cents**2).sum(axis=1)
    cell = (cn2[None, :] - 2.0 * (x_all @ cents.T)).argmin(axis=1)
    dists = []
    for i in range(len(ids_s)):
        c = cents[cell[i]]
        v = x_all[i]
        s = 0.0
        for j in range(len(v)):
            d = float(v[j]) - float(c[j])
            s += d * d
        dists.append(spark_round(s**0.5, 9))
    by_cluster: dict[int, list[int]] = {}
    for i in range(len(ids_s)):
        by_cluster.setdefault(int(cell[i]), []).append(i)
    kept: dict[int, bool] = {}
    # mirror of the operator's predicate EXACTLY: raw dot against
    # (t * |x|) * |y| with zero-norm vectors excluded — NOT dot/(nx*ny)
    # >= t, which rounds differently within a ULP of the threshold
    norms = [_seq_norm(x_all[i]) for i in range(len(ids_s))]
    for members in by_cluster.values():
        members.sort(key=lambda i: (dists[i], ids_s[i]))
        for pos, i in enumerate(members):
            kept[i] = not any(
                norms[i] > 0
                and norms[y] > 0
                and _seq_dot(x_all[i], x_all[y])
                >= threshold * norms[i] * norms[y]
                for y in members[max(0, pos - rank_window) : pos]
            )
    return [
        (ids_s[i], int(cell[i]), spark_round(dists[i], 6), kept[i])
        for i in range(len(ids_s))
    ]


def mmr_rerank_rows(
    vec_ids, vecs, n_queries=3, n_cand=20, k=5, lam=0.7
) -> list[tuple]:
    """Mirror of operators.similarity.mmr_rerank over the brute-cosine
    top-20 candidates (self excluded): greedy lam*rel - (1-lam)*max-sim
    sweep, pen clamped at 0, ties to the ascending-id first-seen row."""
    vmap = dict(zip(vec_ids, vecs))
    out = []
    for qid in range(n_queries):
        q = vmap[qid]
        sims = [
            (did, spark_round(_cosine(v, q), 9))
            for did, v in zip(vec_ids, vecs)
            if did != qid
        ]
        sims.sort(key=lambda t: (-t[1], t[0]))
        remaining = sorted(sims[:n_cand])
        selected: list[tuple] = []
        while remaining and len(selected) < k:
            best = None
            best_score = None
            for did, rel in remaining:
                pen = 0.0
                for sdid, _, _ in selected:
                    c = _cosine(vmap[did], vmap[sdid])
                    if c > pen:
                        pen = c
                score = round(lam * float(rel) - (1.0 - lam) * pen, 9)
                if best is None or score > best_score:
                    best, best_score = (did, rel), score
            selected.append((best[0], best[1], best_score))
            remaining = [r for r in remaining if r[0] != best[0]]
        for rank, (did, rel, score) in enumerate(selected, start=1):
            out.append((qid, did, rank, rel, score))
    return out


def random_projection_rows(
    vec_ids, vecs, dim=64, out_dim=16, seed=7
) -> list[tuple]:
    """Mirror of operators.similarity.random_projection + the JL norm
    diagnostics of the similarity_random_projection corpus query."""
    planes = np.random.RandomState(seed).standard_normal((out_dim, dim))
    out = []
    for did, v in zip(vec_ids, vecs):
        proj = [
            spark_round(_seq_dot(v, planes[j]), 9) for j in range(out_dim)
        ]
        s = 0.0
        for p in proj:
            s += p * p
        l2p = spark_round((s / float(out_dim)) ** 0.5, 9)
        l2o = spark_round(_seq_norm(v), 9)
        out.append((did, l2o, l2p, spark_round(l2p / l2o, 6)))
    return out


def write_ann_fixtures(sf_dir: str, write) -> None:
    et = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vec_ids = et["vec_id"].to_pylist()
    vecs = [np.asarray(v, dtype="float32") for v in et["embedding"].to_pylist()]
    for name, rows in [
        ("similarity_lsh_topk", ann_lsh_topk(vec_ids, vecs)),
        ("similarity_ivf_topk", ann_ivf_topk(vec_ids, vecs)),
        ("similarity_pq_topk", ann_pq_topk(vec_ids, vecs)),
    ]:
        val_col = "adc_d2" if name == "similarity_pq_topk" else "cosine_sim"
        write(
            name,
            pa.table(
                {
                    "query_id": pa.array([r[0] for r in rows], pa.int64()),
                    "match_id": pa.array([r[1] for r in rows], pa.int64()),
                    val_col: pa.array([r[2] for r in rows], pa.float64()),
                    "rk": pa.array([r[3] for r in rows], pa.int32()),
                }
            ),
        )

    rec = ivf_recall_rows(vec_ids, vecs)
    write(
        "similarity_ivf_recall_at_k",
        pa.table(
            {
                "query_id": pa.array([r[0] for r in rec], pa.int64()),
                "k_exact": pa.array([r[1] for r in rec], pa.int64()),
                "n_hits": pa.array([r[2] for r in rec], pa.int64()),
                "recall_at_k": pa.array([r[3] for r in rec], pa.float64()),
            }
        ),
    )

    prec = pq_recall_rows(vec_ids, vecs)
    write(
        "similarity_pq_recall_at_k",
        pa.table(
            {
                "query_id": pa.array([r[0] for r in prec], pa.int64()),
                "k_exact": pa.array([r[1] for r in prec], pa.int64()),
                "n_hits": pa.array([r[2] for r in prec], pa.int64()),
                "recall_at_k": pa.array([r[3] for r in prec], pa.float64()),
            }
        ),
    )

    inc = incremental_ivf_rows(vec_ids, vecs)
    write(
        "similarity_incremental_ivf_assign",
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in inc], pa.int64()),
                "cluster": pa.array([r[1] for r in inc], pa.int32()),
                "dist2": pa.array([r[2] for r in inc], pa.float64()),
                "n_cell_seen": pa.array([r[3] for r in inc], pa.int64()),
                "best_seen_id": pa.array([r[4] for r in inc], pa.int64()),
                "best_cosine": pa.array([r[5] for r in inc], pa.float64()),
                "is_near_dup": pa.array([r[6] for r in inc], pa.bool_()),
            }
        ),
    )

    rp = random_projection_rows(vec_ids, vecs)
    write(
        "similarity_random_projection",
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rp], pa.int64()),
                "l2_orig": pa.array([r[1] for r in rp], pa.float64()),
                "l2_proj_scaled": pa.array([r[2] for r in rp], pa.float64()),
                "jl_ratio": pa.array([r[3] for r in rp], pa.float64()),
            }
        ),
    )

    mmr = mmr_rerank_rows(vec_ids, vecs)
    write(
        "similarity_mmr_rerank",
        pa.table(
            {
                "query_id": pa.array([r[0] for r in mmr], pa.int64()),
                "doc_id": pa.array([r[1] for r in mmr], pa.int64()),
                "mmr_rank": pa.array([r[2] for r in mmr], pa.int32()),
                "relevance": pa.array([r[3] for r in mmr], pa.float64()),
                "mmr_score": pa.array([r[4] for r in mmr], pa.float64()),
            }
        ),
    )

    sem = semantic_dedup_rows(vec_ids, vecs)
    write(
        "similarity_semantic_dedup",
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in sem], pa.int64()),
                "cluster": pa.array([r[1] for r in sem], pa.int32()),
                "dist_to_centroid": pa.array(
                    [r[2] for r in sem], pa.float64()
                ),
                "kept": pa.array([r[3] for r in sem], pa.bool_()),
            }
        ),
    )



def ann_pq_topk(
    vec_ids,
    vecs,
    m=8,
    n_codes=16,
    sample_size=2000,
    iters=4,
    seed=7,
    k=10,
    n_queries=5,
) -> list[tuple]:
    """Mirror of pq_train + pq_encode + pq_adc_topk (identical NumPy
    expressions; ADC partials decimal-summed like queries/numeric)."""
    x_all = np.stack([np.asarray(v) for v in vecs]).astype("float64")
    x = x_all[:sample_size]
    dim = x.shape[1]
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = []
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        cents = xs[
            rng.choice(len(xs), size=min(n_codes, len(xs)), replace=False)
        ]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents)
    books = np.ascontiguousarray(np.stack(books), dtype="float64")
    codes = np.empty((len(x_all), m), dtype="int32")
    for s in range(m):
        xs = x_all[:, s * sub : (s + 1) * sub]
        d2 = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1).astype("int32")
    rows = []
    for qi, qid in enumerate(vec_ids):
        if qid >= n_queries:
            continue
        q = x_all[qi]
        lut = np.empty((m, n_codes))
        for s in range(m):
            qs = q[s * sub : (s + 1) * sub]
            lut[s] = ((books[s] - qs[None, :]) ** 2).sum(axis=1)
        cands = []
        for mi, mid in enumerate(vec_ids):
            acc = Decimal(0)
            for s in range(m):
                acc += Decimal(repr(float(lut[s][codes[mi, s]]))).quantize(
                    Decimal(1).scaleb(-10), rounding=ROUND_HALF_UP
                )
            cands.append((mid, spark_round(float(acc), 6)))
        cands.sort(key=lambda c: (c[1], c[0]))
        for rk, (mid, d2v) in enumerate(cands[:k], start=1):
            rows.append((qid, mid, d2v, rk))
    return rows




def duplicated_spans(docs, n=8, min_occurrences=2) -> list[tuple]:
    """Mirror of operators/dedup.duplicated_ngram_spans: token 8-gram
    hashes (chained xxhash64, Spark-identical), corpus-wide occurrence
    counts, per-doc island merge of duplicated positions."""
    from collections import Counter

    gram_count: Counter = Counter()
    doc_grams: dict[int, list[tuple[int, int]]] = {}
    for doc_id, text in docs:
        if text is None:
            continue  # split(NULL) explodes to no rows in Spark
        hs = [xxhash64(t) for t in tokens(text)]
        gh = []
        for p in range(len(hs) - n + 1):
            g = xxhash64(*hs[p : p + n])
            gh.append((p, g))
            gram_count[g] += 1
        doc_grams[doc_id] = gh
    rows = []
    for doc_id, gh in doc_grams.items():
        pos = [p for p, g in gh if gram_count[g] >= min_occurrences]
        if not pos:
            continue
        start = prev = pos[0]
        cnt = 1
        for p in pos[1:]:
            if p - prev <= n:
                prev = p
                cnt += 1
            else:
                rows.append((doc_id, start, prev + n - 1, prev + n - start, cnt))
                start = prev = p
                cnt = 1
        rows.append((doc_id, start, prev + n - 1, prev + n - start, cnt))
    return rows


def cdc_shared_chunks(docs, divisor=16) -> list[tuple]:
    """Mirror of cdc_chunk_stream + the shared-chunks aggregation."""
    from collections import defaultdict

    occ = defaultdict(list)  # chunk_hash -> [(doc_id, n_toks)]
    for doc_id, text in docs:
        if text is None:
            # Spark drops null-text docs: split(normalize_text(NULL)) is
            # NULL and posexplode emits no rows — mirror exactly.
            continue
        toks = normalize_text(text).split(" ")
        hs = [xxhash64(t) for t in toks]
        chunks = []
        cur = []
        for pos, h in enumerate(hs):
            if pos == 0 or h % divisor == 0:
                if cur:
                    chunks.append(cur)
                cur = []
            cur.append(h)
        if cur:
            chunks.append(cur)
        for ch in chunks:
            acc = 0
            for h in ch:
                acc = xxhash64(acc, h)
            occ[acc].append((doc_id, len(ch)))
    rows = []
    for chash, hits in occ.items():
        n_docs = len({d for d, _ in hits})
        if n_docs >= 2:
            rows.append(
                (chash, n_docs, len(hits), min(n for _, n in hits))
            )
    return rows




# --------------------------------------------------------------------------
# Distributed k-means expected values (mirror of operators/clustering)
# --------------------------------------------------------------------------
# Replays heparchy_spark.operators.clustering.kmeans_fit_assign exactly:
# init = first k vectors by vec_id; assignment argmin over the identical
# NumPy expression (|c|^2 - 2 x.c, first-match tie-break); per-(cluster,dim)
# sums accumulate DECIMAL quantizations of round-10 addends (mirroring
# Spark's round(x,10) -> cast decimal(38,10) -> SUM chain); centroid =
# round8(float(sum)/count); final dist2 = round6(((x-c)^2).sum()).


def kmeans_assign_rows(vec_ids, vecs, k=8, iters=4):
    from decimal import ROUND_HALF_UP, Decimal

    q10 = Decimal("1e-10")

    def dec10(x: float) -> Decimal:
        # Spark: round(double, 10) then cast decimal(38,10) — two steps.
        r = spark_round(float(x), 10)
        return Decimal(repr(r)).quantize(q10, rounding=ROUND_HALF_UP)

    ids = np.asarray(vec_ids, dtype="int64")
    x = np.stack([np.asarray(v, dtype="float32") for v in vecs]).astype(
        "float64"
    )
    order = np.argsort(ids, kind="stable")
    cents = x[order[:k]].copy()
    dim = x.shape[1]
    for _ in range(iters):
        c = np.ascontiguousarray(cents, dtype="float64")
        cn2 = (c**2).sum(axis=1)
        d2 = cn2[None, :] - 2.0 * (x @ c.T)
        assign = d2.argmin(axis=1)
        new = cents.copy()
        for ci in range(k):
            members = x[assign == ci]
            if not len(members):
                continue
            for di in range(dim):
                s = sum((dec10(v) for v in members[:, di]), Decimal(0))
                new[ci, di] = spark_round(float(s) / len(members), 8)
        cents = new
    c = np.ascontiguousarray(cents, dtype="float64")
    cn2 = (c**2).sum(axis=1)
    d2 = cn2[None, :] - 2.0 * (x @ c.T)
    assign = d2.argmin(axis=1)
    chosen = c[assign]
    true_d2 = ((x - chosen) ** 2).sum(axis=1)
    return [
        (int(ids[i]), int(assign[i]), spark_round(true_d2[i], 6))
        for i in range(len(ids))
    ]


def write_kmeans_fixture(sf_dir: str, write) -> None:
    et = pq.read_table(
        f"{sf_dir}/embeddings.parquet",
        columns=["vec_id", "embedding", "label"],
    )
    rows = kmeans_assign_rows(
        et["vec_id"].to_pylist(), et["embedding"].to_pylist()
    )
    write(
        "similarity_kmeans_assign",
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "cluster": pa.array([r[1] for r in rows], pa.int32()),
                "dist2": pa.array([r[2] for r in rows], pa.float64()),
            }
        ),
    )

    # similarity_cluster_purity: label rollup over the SAME trajectory
    from collections import Counter

    labels = dict(zip(et["vec_id"].to_pylist(), et["label"].to_pylist()))
    per: Counter = Counter()
    for vid, cluster, _d2 in rows:
        per[(cluster, labels[vid])] += 1
    totals: Counter = Counter()
    for (cluster, _lab), n in per.items():
        totals[cluster] += n
    purity = []
    for cluster in sorted(totals):
        top_lab, top_n = sorted(
            ((lab, n) for (c, lab), n in per.items() if c == cluster),
            key=lambda kv: (-kv[1], kv[0]),
        )[0]
        purity.append(
            (cluster, totals[cluster], top_lab, top_n / totals[cluster])
        )
    write(
        "similarity_cluster_purity",
        pa.table(
            {
                "cluster": pa.array([r[0] for r in purity], pa.int32()),
                "n_members": pa.array([r[1] for r in purity], pa.int64()),
                "top_label": pa.array([r[2] for r in purity], pa.int64()),
                "top_share": pa.array([r[3] for r in purity], pa.float64()),
            }
        ),
    )




# --------------------------------------------------------------------------
# Anti-kT jets expected values (mirror of operators/jets — plain NumPy)
# --------------------------------------------------------------------------
# The kernel below REPLAYS operators/jets.py's synth + merge trajectory with
# the identical NumPy expressions (the ANN-fixture technique): inputs are
# exact xxhash64 words, so both sides see the same doubles end to end.
# _jets_cluster/_jets_softdrop rebuild the full distance matrix every merge;
# tests/test_jets.py pins the package's incremental kernels equal to them.


def _jets_synth(h1, h2, h3):
    two32 = float(1 << 32)
    u1 = (h1 & 0xFFFFFFFF).astype("float64") / two32
    u2 = (h2 & 0xFFFFFFFF).astype("float64") / two32
    u3 = (h3 & 0xFFFFFFFF).astype("float64") / two32
    pt = 1.0 + 49.0 * u1 * u1
    eta = 6.4 * (u2 - 0.5)
    phi = 2.0 * np.pi * (u3 - 0.5)
    return pt * np.cos(phi), pt * np.sin(phi), pt * np.sinh(eta), pt * np.cosh(eta)


def _jets_weights(pt2, p):
    # generalized-kT beam measure pt^(2p); exact same branch
    # expressions as operators/jets.py _beam_weights
    if p == -1.0:
        return 1.0 / pt2
    if p == 0.0:
        return np.ones_like(pt2)
    if p == 1.0:
        return pt2.copy()
    return pt2 ** float(p)


def _jets_cluster(px, py, pz, e, R=0.4, ptmin=5.0, p=-1.0):
    px, py, pz, e = (np.array(a, dtype="float64") for a in (px, py, pz, e))
    nc = np.ones(len(px), dtype="int64")
    jets = []
    while len(px):
        pt2 = px * px + py * py
        inv = _jets_weights(pt2, p)
        y = 0.5 * np.log((e + pz) / (e - pz))
        phi = np.arctan2(py, px)
        n = len(px)
        best_ij = None
        if n > 1:
            dy = y[:, None] - y[None, :]
            dphi = np.abs(phi[:, None] - phi[None, :])
            dphi = np.where(dphi > np.pi, 2.0 * np.pi - dphi, dphi)
            dr2 = dy * dy + dphi * dphi
            dij = np.minimum(inv[:, None], inv[None, :]) * dr2 / (R * R)
            iu = np.triu_indices(n, k=1)
            flat = dij[iu]
            k = int(np.argmin(flat))
            kb = int(np.argmin(inv))
            if not inv[kb] <= flat[k]:
                best_ij = (int(iu[0][k]), int(iu[1][k]))
        if best_ij is None:
            b = int(np.argmin(inv)) if n > 1 else 0
            jpt = float(np.sqrt(pt2[b]))
            if jpt >= ptmin:
                m2 = float(e[b] ** 2 - px[b] ** 2 - py[b] ** 2 - pz[b] ** 2)
                jets.append((int(nc[b]), jpt, float(y[b]), float(phi[b]),
                             float(np.sqrt(max(m2, 0.0)))))
            keep = np.arange(n) != b
        else:
            i, j = best_ij
            px[i] += px[j]; py[i] += py[j]; pz[i] += pz[j]; e[i] += e[j]
            nc[i] += nc[j]
            keep = np.arange(n) != j
        px, py, pz, e, nc = px[keep], py[keep], pz[keep], e[keep], nc[keep]
    jets.sort(key=lambda t: -t[1])
    return jets


def _jets_softdrop(px, py, pz, e, R=0.8, zcut=0.1, beta=0.0, ptmin=30.0):
    """Mirror of operators/jets.py softdrop_cluster — identical
    expressions, identical trajectory (C/A tree + grooming walk)."""
    px, py, pz, e = (np.array(a, dtype="float64") for a in (px, py, pz, e))
    n0 = len(px)
    nodes = [
        (float(px[i]), float(py[i]), float(pz[i]), float(e[i]), -1, -1, 1)
        for i in range(n0)
    ]
    nid = list(range(n0))
    nc = np.ones(n0, dtype="int64")
    jets = []
    while len(px):
        pt2 = px * px + py * py
        inv = np.ones_like(pt2)
        y = 0.5 * np.log((e + pz) / (e - pz))
        phi = np.arctan2(py, px)
        n = len(px)
        best_ij = None
        if n > 1:
            dy = y[:, None] - y[None, :]
            dphi = np.abs(phi[:, None] - phi[None, :])
            dphi = np.where(dphi > np.pi, 2.0 * np.pi - dphi, dphi)
            dr2 = dy * dy + dphi * dphi
            dij = np.minimum(inv[:, None], inv[None, :]) * dr2 / (R * R)
            iu = np.triu_indices(n, k=1)
            flat = dij[iu]
            k = int(np.argmin(flat))
            kb = int(np.argmin(inv))
            if not inv[kb] <= flat[k]:
                best_ij = (int(iu[0][k]), int(iu[1][k]))
        if best_ij is None:
            b = int(np.argmin(inv)) if n > 1 else 0
            jpt = float(np.sqrt(pt2[b]))
            if jpt >= ptmin:
                jets.append((jpt, nid[b]))
            keep = np.arange(n) != b
        else:
            i, j = best_ij
            px[i] += px[j]; py[i] += py[j]; pz[i] += pz[j]; e[i] += e[j]
            nc[i] += nc[j]
            nodes.append(
                (float(px[i]), float(py[i]), float(pz[i]), float(e[i]),
                 nid[i], nid[j], int(nc[i]))
            )
            nid[i] = len(nodes) - 1
            keep = np.arange(n) != j
        px, py, pz, e, nc = px[keep], py[keep], pz[keep], e[keep], nc[keep]
        nid = [v for v, kp in zip(nid, keep) if kp]
    jets.sort(key=lambda t: -t[0])
    out = []
    for jpt, root in jets:
        node = root
        zg = 0.0
        rg = 0.0
        while True:
            _, _, _, _, lf, rt, _ = nodes[node]
            if lf < 0:
                zg = 0.0; rg = 0.0
                break
            lpx, lpy, lpz, le = nodes[lf][:4]
            rpx, rpy, rpz, re_ = nodes[rt][:4]
            ptl = float(np.sqrt(lpx * lpx + lpy * lpy))
            ptr = float(np.sqrt(rpx * rpx + rpy * rpy))
            yl = float(0.5 * np.log((le + lpz) / (le - lpz)))
            yr = float(0.5 * np.log((re_ + rpz) / (re_ - rpz)))
            phl = float(np.arctan2(lpy, lpx))
            phr = float(np.arctan2(rpy, rpx))
            dph = abs(phl - phr)
            if dph > float(np.pi):
                dph = 2.0 * float(np.pi) - dph
            dyy = yl - yr
            rg_c = float(np.sqrt(dyy * dyy + dph * dph))
            z = min(ptl, ptr) / (ptl + ptr)
            if z >= zcut * (rg_c / R) ** beta:
                zg = z; rg = rg_c
                break
            node = lf if ptl >= ptr else rt
        gpx, gpy, gpz, ge, _, _, gnc = nodes[node]
        gpt = float(np.sqrt(gpx * gpx + gpy * gpy))
        gm2 = ge * ge - gpx * gpx - gpy * gpy - gpz * gpz
        gm = float(np.sqrt(max(gm2, 0.0)))
        out.append((jpt, gpt, gm, zg, rg, gnc))
    return out


def write_softdrop_fixture(sf_dir: str, write) -> None:
    ev = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id"])
    ids = sorted(ev["event_id"].to_pylist())
    by_event: dict[int, list[int]] = {}
    for eid in ids:
        by_event.setdefault(eid // 200, []).append(eid)
    rows = []
    for jev in sorted(by_event):
        eids = by_event[jev]
        hs = [
            np.array(
                [xxhash64(eid, ("int", j)) & ((1 << 64) - 1) for eid in eids],
                dtype="uint64",
            )
            for j in (1, 2, 3)
        ]
        px, py, pz, e = _jets_synth(*hs)
        for r, (jpt, gpt, gm, zg, rg, ncg) in enumerate(
            _jets_softdrop(px, py, pz, e)
        ):
            rows.append(
                (
                    jev,
                    r + 1,
                    spark_round(jpt, 6),
                    spark_round(gpt, 6),
                    spark_round(gm, 6),
                    spark_round(zg, 6),
                    spark_round(rg, 6),
                    ncg,
                )
            )
    write(
        "physics_softdrop_jets",
        pa.table(
            {
                "jet_event": pa.array([r[0] for r in rows], pa.int64()),
                "jet_rank": pa.array([r[1] for r in rows], pa.int32()),
                "pt_raw": pa.array([r[2] for r in rows], pa.float64()),
                "pt_groomed": pa.array([r[3] for r in rows], pa.float64()),
                "m_groomed": pa.array([r[4] for r in rows], pa.float64()),
                "z_g": pa.array([r[5] for r in rows], pa.float64()),
                "r_g": pa.array([r[6] for r in rows], pa.float64()),
                "n_con_groomed": pa.array([r[7] for r in rows], pa.int64()),
            }
        ),
    )


def write_jets_fixture(sf_dir: str, write) -> None:
    ev = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id"])
    ids = sorted(ev["event_id"].to_pylist())
    by_event: dict[int, list[int]] = {}
    for eid in ids:
        by_event.setdefault(eid // 200, []).append(eid)
    # (fixture_name, generalized-kT p) — anti-kT and Cambridge/Aachen
    variants = [("physics_antikt_jets", -1.0), ("physics_ca_jets", 0.0)]
    rows_by: dict[str, list] = {name: [] for name, _ in variants}
    for jev in sorted(by_event):
        eids = by_event[jev]
        hs = [
            np.array(
                [xxhash64(eid, ("int", j)) & ((1 << 64) - 1) for eid in eids],
                dtype="uint64",
            )
            for j in (1, 2, 3)
        ]
        px, py, pz, e = _jets_synth(*hs)
        for name, pexp in variants:
            for r, (ncon, jpt, jy, jphi, jm) in enumerate(
                _jets_cluster(px, py, pz, e, p=pexp)
            ):
                rows_by[name].append(
                    (
                        jev,
                        r + 1,
                        ncon,
                        spark_round(jpt, 6),
                        spark_round(jy, 6),
                        spark_round(jphi, 6),
                        spark_round(jm, 6),
                    )
                )
    for name, _ in variants:
        rows = rows_by[name]
        write(
            name,
            pa.table(
                {
                    "jet_event": pa.array([r[0] for r in rows], pa.int64()),
                    "jet_rank": pa.array([r[1] for r in rows], pa.int32()),
                    "n_constituents": pa.array(
                        [r[2] for r in rows], pa.int64()
                    ),
                    "jet_pt": pa.array([r[3] for r in rows], pa.float64()),
                    "jet_y": pa.array([r[4] for r in rows], pa.float64()),
                    "jet_phi": pa.array([r[5] for r in rows], pa.float64()),
                    "jet_mass": pa.array([r[6] for r in rows], pa.float64()),
                }
            ),
        )


if __name__ == "__main__":
    main()
