"""Multimodal columns: opaque ``binary`` payloads + typed metadata
(SURVEY.md §2.12 / BASELINE north star).

Design: media travels as an opaque ``BinaryType`` column beside a typed
metadata struct; every byte-level operator (format sniffing, size, entropy,
histograms, chunked fingerprints) is REAL and runs either JVM-side (column
algebra) or as a per-row Python function through
``functions.worker.map_rows`` (one column-pruned ``mapInArrow``; the
operator keeps only its per-row function and its output schema).
Container-level decode is
REAL for every format whose structure is stdlib-parseable: PNG IHDR, JPEG
SOFn markers, WAV (stdlib ``wave`` + true PCM amplitude), animated GIF
(frame count from image descriptors), and AVI (avih header + movi chunk
count).  Only PIXEL/SAMPLE decode of entropy-coded formats (JPEG bitmap,
Matroska/MP4 codecs) needs external libraries absent from this
environment; payloads in no parseable container fall back to the
clearly-marked deterministic fake (``_fake_decode``), and a full codec
drops in by extending ``_try_real_decode`` only.

At 100 TB: payloads dominate bytes; operators that don't need payload bytes
must never read them (column pruning does this for free since the payload
is its own Parquet column), and Arrow batch sizes are bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` to keep Arrow buffers in
executor memory.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window

from heparchy_spark.functions.worker import map_rows
from heparchy_spark.operators.banding import hamming_pairs

__all__ = [
    "MEDIA_SCHEMA",
    "MEDIA_META_SCHEMA",
    "sniff_format",
    "byte_stats",
    "decode_media",
    "sample_frames",
    "payload_embedding",
    "keyframe_select",
    "image_dhash",
    "image_phash",
    "image_phash128",
    "phash128_neardup_pairs",
    "image_gradient_energy",
    "dhash_neardup_pairs",
    "audio_vad_segments",
    "audio_spectral_profile",
]

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("codec", T.StringType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META_SCHEMA, True),
    ]
)

_MAGIC = [
    ("89504E47", "png"),
    ("FFD8FF", "jpeg"),
    ("47494638", "gif"),
    ("52494646", "riff"),  # wav/avi container
    ("664C6143", "flac"),
    ("1A45DFA3", "matroska"),
]


def sniff_format(payload: Column | str) -> Column:
    """Container format from magic bytes — pure column algebra (JVM-side),
    reads only the first 4 payload bytes per row."""
    p = F.col(payload) if isinstance(payload, str) else payload
    head = F.upper(F.hex(F.substring(p, 1, 4)))
    # ISO-BMFF (mp4/mov) has no leading magic: the signature is the
    # 'ftyp' box TYPE at bytes 5-8 (the first 4 bytes are the box SIZE,
    # which varies with the compatible-brand list — matching a size
    # literal both misses real mp4s and mislabels arbitrary binaries)
    ftyp = F.upper(F.hex(F.substring(p, 5, 4))) == "66747970"
    expr: Column = F.when(ftyp, F.lit("mp4")).otherwise(F.lit("unknown"))
    for magic, name in reversed(_MAGIC):
        expr = F.when(head.startswith(magic.upper()), F.lit(name)).otherwise(expr)
    return expr


_BYTE_STATS_FIELDS = [
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("entropy", T.DoubleType(), False),
    T.StructField("crc32", T.LongType(), False),
]


def byte_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """REAL payload statistics, one row per payload through
    ``map_rows``: byte length, Shannon entropy of the byte histogram,
    CRC32."""
    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType(), False), *_BYTE_STATS_FIELDS]
    )

    def row(payload):
        buf = bytes(payload) if payload is not None else b""
        arr = np.frombuffer(buf, dtype=np.uint8)
        counts = np.bincount(arr, minlength=256) if arr.size else np.zeros(1)
        p = counts[counts > 0] / max(arr.size, 1)
        entropy = float(-(p * np.log2(p)).sum()) if arr.size else 0.0
        yield len(buf), entropy, zlib.crc32(buf)

    return map_rows(df, row, out_schema, [id_col], [payload_col])


# ---------------------------------------------------------------------------
# DECODE — real stdlib container parsers, labeled fake only when no
# parser matches.
#
# All five parsers use public format specs and stdlib tools only: PNG IHDR
# (RFC 2083 / ISO 15948), JPEG SOFn marker walk (ITU T.81 §B), the
# ``wave`` module for WAV (plus a true mean-amplitude reduction over the
# PCM samples), animated-GIF block walk (GIF89a spec), and RIFF/AVI
# (AVIMAINHEADER + movi chunk count).  Only payloads in none of these
# containers (e.g. Matroska, MP4) fall back to the clearly marked
# deterministic fake below; a full codec (PIL/ffmpeg) drops in by
# extending ``_try_real_decode`` only.
# ---------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _parse_png_header(payload: bytes) -> dict | None:
    """Real PNG IHDR parse (stdlib struct; returns None if not a valid
    PNG header)."""
    import struct

    if len(payload) < 8 + 8 + 13 or not payload.startswith(_PNG_SIG):
        return None
    length, ctype = struct.unpack_from(">I4s", payload, 8)
    if ctype != b"IHDR" or length != 13:
        return None
    w, h, bitdepth, colortype = struct.unpack_from(">IIBB", payload, 16)
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(colortype)
    if channels is None or not (0 < w and 0 < h):
        return None
    return {
        "width": int(w),
        "height": int(h),
        "channels": int(channels),
        "sample_rate": None,
        "n_frames": 1,
        "mean_amplitude": None,
    }


def _read_wav(payload: bytes) -> tuple[int, int, int, int, bytes] | None:
    """(channels, frame rate, header frame count, sample width, frame
    bytes) of a WAV payload, read with the stdlib ``wave`` module; None
    when the payload is not a parseable WAVE.  The header's frame count
    is reported as is: the data chunk may hold fewer whole frames, and
    each caller trims to what it needs."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            nframes = w.getnframes()
            return (
                w.getnchannels(),
                w.getframerate(),
                nframes,
                w.getsampwidth(),
                w.readframes(nframes),
            )
    except Exception:
        return None


def _parse_wav(payload: bytes) -> dict | None:
    """Real WAV decode via the stdlib ``wave`` module; mean amplitude is a
    true reduction over the 16-bit PCM samples.  Returns None when the
    RIFF payload is not a parseable WAVE."""
    wav = _read_wav(payload)
    if wav is None:
        return None
    ch, sr, nframes, sampwidth, data = wav
    mean_amp = 0.0
    if sampwidth == 2 and data:
        samples = np.frombuffer(
            data[: (len(data) // 2) * 2], dtype="<i2"
        ).astype("float64")
        if samples.size:
            mean_amp = float(np.abs(samples).mean() / 32768.0)
    return {
        "width": None,
        "height": None,
        "channels": int(ch),
        "sample_rate": int(sr),
        "n_frames": int(nframes),
        "mean_amplitude": mean_amp,
    }


_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # SOFn frame headers (C4=DHT, C8=JPG, CC=DAC)


def _parse_jpeg(payload: bytes) -> dict | None:
    """Real JPEG dimension parse: walk the marker-segment stream (public
    format, ITU T.81 §B) until an SOFn frame header carries
    precision/height/width/component-count.  Byte walking only — no
    entropy decode, no codec library."""
    import struct

    if payload[:2] != b"\xff\xd8" or len(payload) < 4:
        return None
    i = 2
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone markers carry no length
            continue
        if i + 4 > len(payload):
            return None
        (seglen,) = struct.unpack_from(">H", payload, i + 2)
        if marker in _SOF_MARKERS:
            if i + 2 + seglen > len(payload) or seglen < 8:
                return None
            h, w = struct.unpack_from(">HH", payload, i + 5)
            ncomp = payload[i + 9]
            if not (0 < w and 0 < h and 0 < ncomp):
                return None
            return {
                "width": int(w),
                "height": int(h),
                "channels": int(ncomp),
                "sample_rate": None,
                "n_frames": 1,
                "mean_amplitude": None,
            }
        i += 2 + seglen
    return None


def _parse_gif(payload: bytes) -> dict | None:
    """Real GIF parse (public format, GIF89a spec): logical-screen
    dimensions from the LSD, frame count by walking the block stream and
    counting image descriptors (0x2C) until the trailer (0x3B).  Animated
    GIF is the corpus' video container.  Trailing bytes after the trailer
    are tolerated (common in the wild)."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a") or len(payload) < 13:
        return None
    w, h, flags = struct.unpack_from("<HHB", payload, 6)
    i = 13
    if flags & 0x80:  # global color table
        i += 3 * (2 << (flags & 0x07))

    def skip_subblocks(j: int) -> int | None:
        while True:
            if j >= len(payload):
                return None
            n = payload[j]
            j += 1
            if n == 0:
                return j
            j += n

    n_frames = 0
    while i < len(payload):
        block = payload[i]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label byte + sub-blocks
            nxt = skip_subblocks(i + 2)
            if nxt is None:
                return None
            i = nxt
        elif block == 0x2C:  # image descriptor
            if i + 10 > len(payload):
                return None
            (iflags,) = struct.unpack_from("<B", payload, i + 9)
            i += 10
            if iflags & 0x80:  # local color table
                i += 3 * (2 << (iflags & 0x07))
            i += 1  # LZW minimum code size
            nxt = skip_subblocks(i)
            if nxt is None:
                return None
            i = nxt
            n_frames += 1
        else:
            return None  # corrupt block stream
    if n_frames == 0:
        return None
    return {
        "width": int(w),
        "height": int(h),
        "channels": 3,
        "sample_rate": None,
        "n_frames": n_frames,
        "mean_amplitude": None,
    }


def _parse_avi(payload: bytes) -> dict | None:
    """Real AVI parse (public RIFF format, msdn AVIMAINHEADER): dims and
    dwTotalFrames from the 'avih' chunk inside the 'hdrl' LIST; when a
    'movi' LIST is present the actual video-stream chunks ('##db'/'##dc')
    are counted and take precedence over the header's claim."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    avih: dict | None = None
    movi_frames = 0
    saw_movi = False

    def walk(start: int, end: int) -> None:
        nonlocal avih, movi_frames, saw_movi
        i = start
        while i + 8 <= end:
            fourcc = payload[i : i + 4]
            (size,) = struct.unpack_from("<I", payload, i + 4)
            body = i + 8
            if fourcc == b"LIST" and body + 4 <= end:
                ltype = payload[body : body + 4]
                if ltype == b"movi":
                    saw_movi = True
                walk(body + 4, min(body + size, end))
            elif fourcc == b"avih" and size >= 40 and body + 40 <= end:
                vals = struct.unpack_from("<10I", payload, body)
                avih = {
                    "total_frames": vals[4],
                    "width": vals[8],
                    "height": vals[9],
                }
            elif fourcc[2:4] in (b"db", b"dc") and fourcc[:2].isdigit():
                movi_frames += 1
            i = body + size + (size & 1)  # chunks are word-aligned

    walk(12, min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0]))
    if avih is None:
        return None
    n = movi_frames if saw_movi else avih["total_frames"]
    if n <= 0 or avih["width"] <= 0 or avih["height"] <= 0:
        return None
    return {
        "width": int(avih["width"]),
        "height": int(avih["height"]),
        "channels": 3,
        "sample_rate": None,
        "n_frames": int(n),
        "mean_amplitude": None,
    }


def _avi_frame_chunks(payload: bytes) -> list[bytes] | None:
    """Extract the video-stream chunk bodies ('##db'/'##dc') from an
    AVI's 'movi' LIST, in stream order — for an uncompressed ('db')
    stream each body IS the decoded frame bitmap.  Returns None unless
    the payload is a RIFF/AVI with at least one such chunk, so callers
    can fall back to the labeled stub path for other containers."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    frames: list[bytes] = []

    def walk(start: int, end: int, in_movi: bool) -> None:
        i = start
        while i + 8 <= end:
            fourcc = payload[i : i + 4]
            (size,) = struct.unpack_from("<I", payload, i + 4)
            body = i + 8
            if fourcc == b"LIST" and body + 4 <= end:
                ltype = payload[body : body + 4]
                walk(
                    body + 4,
                    min(body + size, end),
                    in_movi or ltype == b"movi",
                )
            elif (
                in_movi
                and fourcc[2:4] in (b"db", b"dc")
                and fourcc[:2].isdigit()
            ):
                frames.append(payload[body : min(body + size, end)])
            i = body + size + (size & 1)  # chunks are word-aligned

    walk(12, min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0]), False)
    return frames or None


def _try_real_decode(payload: bytes) -> dict | None:
    """Dispatch on magic bytes to a REAL decoder; None -> caller falls back
    to the labeled fake."""
    if payload.startswith(_PNG_SIG):
        return _parse_png_header(payload)
    if payload[:2] == b"\xff\xd8":
        return _parse_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _parse_gif(payload)
    if payload[:4] == b"RIFF":
        if payload[8:12] == b"AVI ":
            return _parse_avi(payload)
        return _parse_wav(payload)
    return None


def _fake_decode(payload: bytes, kind: str) -> dict:
    """DETERMINISTIC FAKE decoder: derives plausible media properties from
    a seeded hash of the payload — NOT a real codec."""
    h = zlib.crc32(payload) if payload else 0
    rng = np.random.default_rng(h)
    if kind == "audio":
        return {
            "width": None,
            "height": None,
            "channels": int(1 + h % 2),
            "sample_rate": int([8000, 16000, 44100][h % 3]),
            "n_frames": int(1000 + h % 9000),
            "mean_amplitude": float(rng.uniform(0.01, 0.5)),
        }
    w, hh = int(16 + h % 1024), int(16 + (h >> 10) % 1024)
    return {
        "width": w,
        "height": hh,
        "channels": 3,
        "sample_rate": None,
        "n_frames": 1 if kind == "image" else int(24 * (1 + h % 300)),
        "mean_amplitude": float(rng.uniform(0.0, 1.0)),
    }


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("mean_amplitude", T.DoubleType(), True),
    ]
)


def decode_media(
    df: DataFrame, payload_col: str = "payload", kind_col: str = "kind"
) -> DataFrame:
    """Decode payloads to per-media properties, one row per payload
    through ``map_rows``.  PNG/JPEG/GIF/WAV/AVI containers decode for
    REAL (stdlib — see ``_try_real_decode``); payloads in no parseable
    container use the labeled deterministic fake."""

    def row(kind, payload):
        buf = bytes(payload or b"")
        d = _try_real_decode(buf) or _fake_decode(buf, kind)
        yield (
            kind,
            d["width"],
            d["height"],
            d["channels"],
            d["sample_rate"],
            d["n_frames"],
            d["mean_amplitude"],
        )

    return map_rows(df, row, DECODED_SCHEMA, ["media_id"], [kind_col, payload_col])


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_payload", T.BinaryType(), True),
    ]
)


def sample_frames(
    df: DataFrame, every_n: int = 24, payload_col: str = "payload"
) -> DataFrame:
    """Frame sampling for video payloads: one output row per sampled frame.
    The frame COUNT comes from the real container parse (GIF image
    descriptors / AVI movi chunks — ``_try_real_decode``).  For AVI
    payloads with a 'movi' LIST, the sampled frame payloads are the
    REAL video-stream chunk bodies (``_avi_frame_chunks`` — the decoded
    bitmap for an uncompressed stream), so downstream histograms/
    keyframe scores see actual frame content.  Other containers keep
    the labeled stub path (slices of the raw payload stand in for
    decoded frames — the GIF/codec decoders aren't in this
    environment); payloads in no parseable container fall back to the
    fake count.  The fan-out shape — one input row → many output rows
    through ``map_rows`` — is the real thing in every path."""

    def row(payload):
        buf = bytes(payload or b"")
        chunks = _avi_frame_chunks(buf)
        if chunks is not None:
            for fi in range(0, len(chunks), every_n):
                yield fi, chunks[fi]
            return
        real = _try_real_decode(buf)
        n_frames = (real or _fake_decode(buf, "video"))["n_frames"]
        step = max(len(buf) // max(n_frames, 1), 1)
        for fi in range(0, n_frames, every_n):
            off = (fi * step) % max(len(buf), 1)
            yield fi, buf[off : off + step]

    return map_rows(df, row, FRAMES_SCHEMA, ["media_id"], [payload_col])


def payload_embedding(
    df: DataFrame, dim: int = 16, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """REAL byte-level feature vector (not a stub): L2-normalized histogram
    of byte values folded into ``dim`` buckets — a cheap content signature
    usable by the similarity operators downstream."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )

    def row(payload):
        arr = np.frombuffer(bytes(payload or b""), dtype=np.uint8)
        hist = np.bincount(arr % dim, minlength=dim).astype("float64")
        norm = np.linalg.norm(hist)
        yield ((hist / norm if norm else hist).astype("float32").tolist(),)

    return map_rows(df, row, out_schema, [id_col], [payload_col])


# ---------------------------------------------------------------------------
# REAL image resize (full stdlib PNG codec) + audio resample
# ---------------------------------------------------------------------------


def _png_decode_pixels(payload: bytes):
    """Full PNG pixel decode for 8-bit gray/RGB/RGBA images: walks the
    chunk stream, zlib-inflates the IDAT stream, and undoes all five
    standard scanline filters (None/Sub/Up/Average/Paeth).  Pure stdlib
    + NumPy.  Returns (width, height, channels, uint8[h, w, c]) or None
    when the payload is not a pixel-bearing PNG (header-only
    containers, other formats, unsupported bit depths).
    """
    import struct
    import zlib

    if not payload.startswith(_PNG_SIG):
        return None
    pos = 8
    w = h = ch = None
    idat = b""
    while pos + 8 <= len(payload):
        ln, ctype = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            return None
        if ctype == b"IHDR":
            if ln != 13:
                return None
            w, h, bd, ct, comp, filt, interlace = struct.unpack_from(
                ">IIBBBBB", data, 0
            )
            if bd != 8:
                return None
            # Adam7-interlaced streams carry MORE filter bytes than the
            # sequential layout, so they'd pass the length guard below
            # and decode to garbled pixels — reject them (and any
            # nonstandard compression/filter method) up front.
            if comp != 0 or filt != 0 or interlace != 0:
                return None
            ch = {0: 1, 2: 3, 6: 4}.get(ct)
            if ch is None:
                return None
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if not w or not h or ch is None or not idat:
        return None
    try:
        raw = zlib.decompress(idat)
    except Exception:
        return None
    stride = w * ch
    if len(raw) < h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    p = 0
    for r in range(h):
        f = raw[p]
        cur = np.frombuffer(raw, np.uint8, stride, p + 1).copy()
        p += stride + 1
        if f == 0:
            pass
        elif f == 1:  # Sub
            for i in range(ch, stride):
                cur[i] = (int(cur[i]) + int(cur[i - ch])) & 0xFF
        elif f == 2:  # Up (uint8 addition wraps mod 256 by definition)
            cur = cur + prev
        elif f == 3:  # Average
            for i in range(stride):
                left = int(cur[i - ch]) if i >= ch else 0
                cur[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(cur[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (int(cur[i]) + pr) & 0xFF
        else:
            return None
        out[r] = cur
        prev = cur
    return int(w), int(h), int(ch), out.reshape(h, w, ch)


def _png_encode(arr: "np.ndarray") -> bytes:
    """Encode uint8[h, w, c] (c in {1, 3, 4}) as a REAL PNG: filter-0
    scanlines, one zlib-6 IDAT, correct CRC32 on every chunk — any
    standards-compliant decoder (including :func:`_png_decode_pixels`)
    reads it back exactly."""
    import struct
    import zlib

    h, w, ch = arr.shape
    ct = {1: 0, 3: 2, 4: 6}[ch]

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("out_width", T.IntegerType(), True),
        T.StructField("out_height", T.IntegerType(), True),
        T.StructField("out_payload", T.BinaryType(), True),
    ]
)


def resize_images(
    df: DataFrame, factor: int = 2, payload_col: str = "payload"
) -> DataFrame:
    """REAL image resize: decode PNG pixels (full codec above),
    nearest-neighbor downsample by an integer ``factor`` (every
    factor-th row/column — deterministic, no interpolation arithmetic
    to disagree about), re-encode as a real PNG.  One row out per row
    in; non-pixel payloads (header-only containers, other formats)
    yield NULL outputs rather than a fake.  One row per payload through
    ``map_rows`` — the standard multimodal preprocessing shape: payloads
    never leave the executor, the driver sees only the frame."""

    def row(payload):
        dec = _png_decode_pixels(bytes(payload or b""))
        if dec is None:
            yield None, None, None, None, None
            return
        w, h, ch, arr = dec
        sub = np.ascontiguousarray(arr[::factor, ::factor, :])
        yield w, h, sub.shape[1], sub.shape[0], _png_encode(sub)

    return map_rows(df, row, RESIZED_SCHEMA, ["media_id"], [payload_col])


RESAMPLED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("new_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("new_frames", T.IntegerType(), True),
        T.StructField("mean_amplitude", T.DoubleType(), True),
        T.StructField("out_payload", T.BinaryType(), True),
    ]
)


def resample_audio(
    df: DataFrame, factor: int = 2, payload_col: str = "payload"
) -> DataFrame:
    """REAL audio resample by frame decimation: parse the WAV (stdlib
    ``wave``), keep every ``factor``-th PCM frame across all channels,
    re-encode a real WAV at rate/factor, and report the decimated
    signal's true mean |amplitude|.  Decimation (not windowed sinc) is
    the deterministic choice — no filter kernel arithmetic to diverge —
    and the honest label for a corpus-scale loudness/feature pass.
    Non-WAV payloads yield NULL outputs."""

    def row(payload):
        import io
        import wave

        wav = _read_wav(bytes(payload or b""))
        if wav is None or wav[3] != 2:
            yield None, None, None, None, None, None
            return
        ch, sr, nf, _sw, data = wav
        fs = ch * 2
        nf = min(nf, len(data) // fs)
        frames = np.frombuffer(data[: nf * fs], dtype="<i2").reshape(nf, ch)
        sub = frames[::factor]
        amp = (
            float(np.abs(sub.astype("float64")).mean() / 32768.0)
            if sub.size
            else 0.0
        )
        out = io.BytesIO()
        with wave.open(out, "wb") as wo:
            wo.setnchannels(ch)
            wo.setsampwidth(2)
            wo.setframerate(max(sr // factor, 1))
            wo.writeframes(sub.tobytes())
        yield sr, max(sr // factor, 1), nf, int(sub.shape[0]), amp, out.getvalue()

    return map_rows(df, row, RESAMPLED_SCHEMA, ["media_id"], [payload_col])


def keyframe_select(
    df: DataFrame,
    every_n: int = 4,
    top_k: int = 3,
    payload_col: str = "payload",
) -> DataFrame:
    """Keyframe selection over video payloads: sample frames
    (:func:`sample_frames`), compute a 16-bin byte histogram per frame
    (the real content signal on the sliced frame payloads), score each
    frame by the L1 histogram change against its PREDECESSOR, and keep
    the ``top_k`` largest changes per media — the shot-boundary
    heuristic every video curation pipeline starts from.

    Output: (media_id, frame_idx, l1_change, kf_rank), frame 0
    excluded (no predecessor).  Ranking order (l1 desc, frame_idx) is
    total, so the result is a pure function of the payload bytes.

    Scale shape: frame fan-out and histograms are ``map_rows`` passes
    (the labeled multimodal Python boundary);
    the change score is a JVM lag-window + zip_with fold over the
    16-long arrays on the media key, and only the per-media top-k
    ranking shuffles — state is |media| x top_k.
    """
    frames = sample_frames(df, every_n=every_n, payload_col=payload_col)

    hist_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("hist", T.ArrayType(T.LongType()), False),
        ]
    )

    def hist(payload):
        arr = np.frombuffer(bytes(payload or b""), dtype=np.uint8)
        yield (
            np.bincount(arr >> 4, minlength=16).astype("int64").tolist()
            if arr.size
            else [0] * 16,
        )

    h = map_rows(
        frames, hist, hist_schema, ["media_id", "frame_idx"], ["frame_payload"]
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    with_prev = h.withColumn("prev", F.lag("hist").over(w)).where(
        F.col("prev").isNotNull()
    )
    l1 = F.aggregate(
        F.zip_with("hist", "prev", lambda a, b: F.abs(a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = with_prev.select("media_id", "frame_idx", l1.alias("l1_change"))
    wr = Window.partitionBy("media_id").orderBy(
        F.desc("l1_change"), F.asc("frame_idx")
    )
    return (
        scored.withColumn("kf_rank", F.row_number().over(wr))
        .where(F.col("kf_rank") <= top_k)
    )


def _dhash64(arr: "np.ndarray") -> int:
    """64-bit difference hash of a decoded uint8 [h, w, c] image: integer
    grayscale (channel mean, floor), nearest-neighbor downsample to 9x8
    (the resize_images index rule), bit j*8+i set iff gray[j, i] <
    gray[j, i+1].  Pure integer pipeline — deterministic everywhere."""
    h, w = arr.shape[0], arr.shape[1]
    gray = arr.astype("uint32").sum(axis=2) // arr.shape[2]
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    g = gray[np.ix_(ys, xs)]
    bits = (g[:, :-1] < g[:, 1:]).astype("uint64")
    weights = (
        np.uint64(1) << np.arange(64, dtype="uint64").reshape(8, 8)
    )
    val = int((bits * weights).sum())
    return val - (1 << 64) if val >= (1 << 63) else val  # signed int64


def _dhash128(arr: "np.ndarray") -> tuple[int, int]:
    """128-bit difference hash of a decoded uint8 [h, w, c] image:
    integer grayscale (channel mean, floor), nearest-neighbor
    downsample to a 9x16 grid (9 wide, 16 tall — twice the rows of
    :func:`_dhash64`), bit r*8+c set iff gray[r, c] < gray[r, c+1];
    bits 0..63 -> ``lo`` word, 64..127 -> ``hi``.  Twice the code
    width is the scale lever: 128 bits band into four 32-bit keys
    whose random collision floor is ~2^16x lower than the 64-bit
    code's 16-bit bands (see ``operators/banding.py``).  Pure integer
    pipeline — deterministic everywhere."""
    h, w = arr.shape[0], arr.shape[1]
    gray = arr.astype("uint32").sum(axis=2) // arr.shape[2]
    ys = (np.arange(16) * h) // 16
    xs = (np.arange(9) * w) // 9
    g = gray[np.ix_(ys, xs)]
    bits = (g[:, :-1] < g[:, 1:]).astype("uint64")
    weights = (
        np.uint64(1) << np.arange(64, dtype="uint64").reshape(8, 8)
    )
    lo = int((bits[:8] * weights).sum())
    hi = int((bits[8:] * weights).sum())
    lo = lo - (1 << 64) if lo >= (1 << 63) else lo
    hi = hi - (1 << 64) if hi >= (1 << 63) else hi
    return lo, hi


def image_dhash128(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """128-bit difference hash per image: (id, dhash_lo, dhash_hi,
    decodable) — same decode and output contract as :func:`image_dhash`,
    twice the code width (see :func:`_dhash128` for why width is the
    scale lever).  A pure ``map_rows`` projection, zero shuffles."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("dhash_lo", T.LongType(), True),
            T.StructField("dhash_hi", T.LongType(), True),
            T.StructField("decodable", T.BooleanType(), False),
        ]
    )

    def row(payload):
        dec = _png_decode_pixels(bytes(payload or b""))
        yield (None, None, False) if dec is None else (*_dhash128(dec[3]), True)

    return map_rows(df, row, schema, [id_col], [payload_col])


def image_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Perceptual difference-hash per image: (id, dhash, decodable).

    dHash is the classic near-duplicate-image signature (adjacent-pixel
    gradient signs on an 8x9 grayscale thumbnail): small recompressions
    / brightness shifts move few bits, so near-dup detection is a
    Hamming-radius search over 64-bit codes — exactly the machinery the
    binary-quantized ANN family already provides (``hamming_topk``, or
    band the code into 4x16-bit keys for the LSH-bucket equi-join at
    corpus scale; never all-pairs).

    Decode uses the real stdlib PNG codec (``_png_decode_pixels``);
    payloads that don't carry pixels (header-only corpus containers,
    other formats) come back ``decodable = false`` with a null hash —
    they are EXCLUDED from dedup rather than colliding at hash 0.

    Scale shape: a pure ``map_rows`` projection over the scan — zero
    shuffles; downstream pairing is the banded equi-join.
    """
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("dhash", T.LongType(), True),
            T.StructField("decodable", T.BooleanType(), False),
        ]
    )

    def row(payload):
        dec = _png_decode_pixels(bytes(payload or b""))
        yield (None, False) if dec is None else (_dhash64(dec[3]), True)

    return map_rows(df, row, schema, [id_col], [payload_col])


def _dct_basis(n: int = 32) -> "np.ndarray":
    """Orthonormal DCT-II basis matrix (n x n, float64): row k =
    a_k * cos(pi * (2j + 1) * k / (2n)), a_0 = sqrt(1/n), else
    sqrt(2/n).  Pure NumPy construction — the fixture mirror builds
    the identical expression, so coefficients are bit-identical."""
    j = np.arange(n, dtype="float64")
    k = j[:, None]
    d = np.cos(np.pi * (2.0 * j[None, :] + 1.0) * k / (2.0 * n))
    d[0] *= np.sqrt(1.0 / n)
    d[1:] *= np.sqrt(2.0 / n)
    return d


def _phash64(arr: "np.ndarray", basis: "np.ndarray") -> int:
    """64-bit DCT perceptual hash of a decoded uint8 [h, w, c] image:
    integer grayscale (channel mean, floor), nearest-neighbor resample
    to 32x32 (the resize_images index rule), 2-D orthonormal DCT-II,
    top-left 8x8 low-frequency block; bit i (row-major) set iff
    coefficient i exceeds the MEDIAN of the 63 non-DC coefficients
    (63 values -> the exact middle element, no averaging).  pHash
    reads global structure where dHash reads local gradients, so it
    survives smoothing/rescaling that flips many dHash bits; a uniform
    brightness shift moves only the DC coefficient -> hash unchanged."""
    h, w = arr.shape[0], arr.shape[1]
    gray = arr.astype("uint32").sum(axis=2) // arr.shape[2]
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    g = gray[np.ix_(ys, xs)].astype("float64")
    co = basis @ g @ basis.T
    # round to 1e-6 before the median compare: the structural fixtures
    # produce coefficient pairs that are mathematically EQUAL but land
    # +-1 ulp apart depending on the BLAS kernel (DYNAMIC_ARCH OpenBLAS
    # picks per-CPU matmul paths), so a bare float compare against the
    # median flips bits across machines.  1e-6 is ~7 orders above ulp
    # noise (~1e-13 at these magnitudes) and ~5 orders below the
    # smallest genuine coefficient gap — same ULP-robustness rule as
    # the corpus's ROUND-before-transcendentals convention.
    flat = np.round(co[:8, :8].ravel(), 6)
    med = np.median(flat[1:])
    bits = flat > med
    val = 0
    for i in range(64):
        if bits[i]:
            val |= 1 << i
    return val - (1 << 64) if val >= (1 << 63) else val  # signed int64


def _phash128(arr: "np.ndarray", basis: "np.ndarray") -> tuple[int, int]:
    """128-bit DCT perceptual hash — the measured answer to the 64-bit
    multi-index band floor (SCALE.md round-9 rehearsal: with 4x16-bit
    bands a random pair collides with p ~ 1/120, so candidates grow
    ~n^2/120).  Same decode/resample/DCT as :func:`_phash64`, but the
    code keeps the top-left 8x16 low-frequency block (128
    coefficients), thresholded at the median of the 127 non-DC values
    (odd count -> the exact middle element, engine-exact).  Bands over
    a 128-bit code are 32 bits wide, so the random-collision floor
    drops to ~4*ball/2^32 (~5e-7 at radius 2) — quadratic-with-a-
    vanishing-constant instead of 1/120.  Returns (lo, hi) signed
    int64 words: bit i of the flat block for i < 64 lives in ``lo``,
    bit i-64 in ``hi``."""
    h, w = arr.shape[0], arr.shape[1]
    gray = arr.astype("uint32").sum(axis=2) // arr.shape[2]
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    g = gray[np.ix_(ys, xs)].astype("float64")
    co = basis @ g @ basis.T
    # 1e-6 rounding before the median compare — see _phash64 (BLAS
    # kernel choice decides exact-tie bits without it)
    flat = np.round(co[:8, :16].ravel(), 6)
    med = np.median(flat[1:])
    lo = hi = 0
    for i in range(64):
        if flat[i] > med:
            lo |= 1 << i
        if flat[64 + i] > med:
            hi |= 1 << i
    lo = lo - (1 << 64) if lo >= (1 << 63) else lo
    hi = hi - (1 << 64) if hi >= (1 << 63) else hi
    return lo, hi


def image_phash128(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """128-bit DCT perceptual hash per image: (id, phash_lo, phash_hi,
    decodable) — same decode and output contract as :func:`image_phash`,
    twice the code width (see :func:`_phash128` for why width is the
    scale lever).  A pure ``map_rows`` projection, zero shuffles."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("phash_lo", T.LongType(), True),
            T.StructField("phash_hi", T.LongType(), True),
            T.StructField("decodable", T.BooleanType(), False),
        ]
    )
    basis = _dct_basis(32)

    def row(payload):
        dec = _png_decode_pixels(bytes(payload or b""))
        yield (
            (None, None, False) if dec is None else (*_phash128(dec[3], basis), True)
        )

    return map_rows(df, row, schema, [id_col], [payload_col])


def phash128_neardup_pairs(
    hashes: DataFrame,
    max_hamming: int = 10,
    band_bits: int = 32,
) -> DataFrame:
    """Near-duplicate pairs over 128-bit perceptual hashes
    (:func:`image_phash128`): the Hamming multi-index banding of
    ``operators/banding.py`` on the ``phash_lo``/``phash_hi`` code words,
    ``128 // band_bits`` bands probed at radius ``max_hamming //
    n_bands``.  ``band_bits`` defaults to the 32-bit production path; 16
    keeps the same pigeonhole recall guarantee (8 bands, radius
    ``max_hamming // 8``) and exists for the band-saturation calibration
    twin (``multimodal_phash128_uniform16_neardups``)."""
    return hamming_pairs(
        hashes.where(F.col("decodable")),
        "media_id",
        ["phash_lo", "phash_hi"],
        128 // band_bits,
        max_hamming,
        pin_merge=True,
    )


def dhash128_neardup_pairs(
    hashes: DataFrame,
    max_hamming: int = 10,
) -> DataFrame:
    """Near-duplicate pairs over 128-bit difference hashes
    (:func:`image_dhash128`): four 32-bit bands of the
    ``dhash_lo``/``dhash_hi`` code words through ``operators/banding.py``
    — the measured scale fix (r9 10x rehearsal: 64-bit/16-bit-band
    pairing wall exp 1.38 from band-key saturation; the 32-bit-band path
    measured 1.10)."""
    return hamming_pairs(
        hashes.where(F.col("decodable")),
        "media_id",
        ["dhash_lo", "dhash_hi"],
        4,
        max_hamming,
        pin_merge=True,
    )


def image_phash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """DCT perceptual hash per image: (id, phash, decodable) — the
    frequency-domain companion to :func:`image_dhash` (same decode,
    same output contract, same downstream banded pairing of
    ``operators/banding.py`` via :func:`dhash_neardup_pairs` with
    ``hash_col="phash"``).  A pure ``map_rows`` projection — zero
    shuffles."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("phash", T.LongType(), True),
            T.StructField("decodable", T.BooleanType(), False),
        ]
    )
    basis = _dct_basis(32)

    def row(payload):
        dec = _png_decode_pixels(bytes(payload or b""))
        yield (None, False) if dec is None else (_phash64(dec[3], basis), True)

    return map_rows(df, row, schema, [id_col], [payload_col])


def dhash_neardup_pairs(
    hashes: DataFrame,
    max_hamming: int = 10,
    hash_col: str = "dhash",
) -> DataFrame:
    """Near-duplicate image pairs from 64-bit dHash (or pHash, via
    ``hash_col``) codes: (id_a, id_b, hamming) for every decodable pair
    within ``max_hamming`` bits.

    Four 16-bit bands through the Hamming multi-index banding of
    ``operators/banding.py``: one side probes every band key within
    per-band radius ``max_hamming // 4``, so recall is EXACT by
    pigeonhole at any radius (plain exact-match banding is only exact
    for d <= 3), and only candidates pay the popcount verify.  The probe costs sum_{k<=r} C(16, k) rows per band per code
    on ONE side (137x at the default radius 2), linear in corpus size;
    ``max_hamming`` >= 20 (radius 5, 6885 keys) is refused — add bands.
    """
    return hamming_pairs(
        hashes.where(F.col("decodable")),
        "media_id",
        [hash_col],
        4,
        max_hamming,
        pin_merge=True,
    )


VAD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("seg_idx", T.IntegerType(), False),
        T.StructField("start_window", T.IntegerType(), False),
        T.StructField("n_windows", T.IntegerType(), False),
        T.StructField("seg_rms", T.DoubleType(), False),
    ]
)


def audio_vad_segments(
    df: DataFrame,
    frame_len: int = 8,
    payload_col: str = "payload",
) -> DataFrame:
    """Energy-based voice-activity detection over REAL WAV PCM: split
    the decoded 16-bit signal into analysis windows of ``frame_len``
    multichannel frames, mark a window voiced when its RMS exceeds the
    whole signal's RMS, and emit one row per maximal voiced run —
    (media_id, seg_idx, start_window, n_windows, seg_rms) with seg_rms
    the round-6 mean of the run's window RMS values (normalized to
    [0, 1] by the int16 range).  The adaptive global-RMS threshold is
    the classic first-pass VAD every speech curation pipeline starts
    from; non-WAV payloads emit no rows.

    Determinism: the whole computation is NumPy float64 over exact
    int16 samples with a fixed operation order, so a plain-Python
    mirror reproduces it bit-for-bit.  Scale shape: a pure ``map_rows``
    fan-out over the scan (one input row → one row per voiced segment)
    — zero shuffles.
    """

    def row(payload):
        wav = _read_wav(bytes(payload or b""))
        if wav is None or wav[3] != 2:
            return
        ch, _sr, nf, _sw, data = wav
        fs = ch * 2
        nf = min(nf, len(data) // fs)
        if nf == 0:
            return
        frames = np.frombuffer(data[: nf * fs], dtype="<i2").astype("float64") / 32768.0
        sig_rms = float(np.sqrt(np.mean(frames * frames)))
        n_win = nf // frame_len
        if n_win == 0 or sig_rms == 0.0:
            return
        win = frames[: n_win * frame_len * ch].reshape(n_win, frame_len * ch)
        wrms = np.sqrt(np.mean(win * win, axis=1))
        voiced = wrms > sig_rms
        seg_idx = 0
        i = 0
        while i < n_win:
            if voiced[i]:
                j = i
                while j < n_win and voiced[j]:
                    j += 1
                yield seg_idx, i, j - i, round(float(np.mean(wrms[i:j])), 6)
                seg_idx += 1
                i = j
            else:
                i += 1

    return map_rows(df, row, VAD_SCHEMA, ["media_id"], [payload_col])


SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_windows", T.IntegerType(), False),
        T.StructField("centroid_bin", T.DoubleType(), False),
        T.StructField("b0_power", T.DoubleType(), False),
        T.StructField("b1_power", T.DoubleType(), False),
        T.StructField("b2_power", T.DoubleType(), False),
        T.StructField("b3_power", T.DoubleType(), False),
    ]
)


def audio_spectral_profile(
    df: DataFrame,
    window: int = 64,
    payload_col: str = "payload",
) -> DataFrame:
    """Frequency-domain audio features over REAL WAV PCM — the
    first-pass spectral fingerprint of an audio curation pipeline
    (music/speech/noise separate on band balance and centroid long
    before a codec model is involved): decode 16-bit PCM, mono-mix the
    channels, cut non-overlapping ``window``-sample frames, rFFT each,
    and emit one row per media — mean power in four equal bands of the
    32 non-DC bins plus the power-weighted mean frequency bin
    (spectral centroid), all round-6 doubles.  Payloads that aren't
    parseable 16-bit WAVs, or are shorter than one window, emit no
    rows.

    Determinism: NumPy float64 with a fixed operation order (rFFT,
    squared magnitudes, axis means) over exact int16 samples — a
    plain-Python mirror reproduces it bit-for-bit.  Scale shape: a pure
    ``map_rows`` filter-projection over the scan, zero shuffles; the
    FFT cost is O(samples log window) per row, embarrassingly
    parallel.
    """
    n_bins = window // 2  # non-DC rFFT bins
    band = n_bins // 4

    def row(payload):
        wav = _read_wav(bytes(payload or b""))
        if wav is None or wav[3] != 2:
            return
        ch, _sr, nf, _sw, data = wav
        fs = ch * 2
        nf = min(nf, len(data) // fs)
        n_win = nf // window
        if n_win == 0:
            return
        frames = np.frombuffer(data[: nf * fs], dtype="<i2").astype("float64") / 32768.0
        mono = frames.reshape(nf, ch).mean(axis=1)
        win = mono[: n_win * window].reshape(n_win, window)
        spec = np.fft.rfft(win, axis=1)
        power = (spec.real**2 + spec.imag**2)[:, 1 : n_bins + 1]
        band_means = [
            round(float(power[:, b * band : (b + 1) * band].mean()), 6)
            for b in range(4)
        ]
        total = float(power.sum())
        if total > 0.0:
            k = np.arange(1, n_bins + 1, dtype="float64")
            centroid = float((power * k[None, :]).sum() / total)
        else:
            centroid = 0.0
        yield (n_win, round(centroid, 6), *band_means)

    return map_rows(df, row, SPECTRAL_SCHEMA, ["media_id"], [payload_col])


def image_gradient_energy(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Image information-content gate: mean absolute neighbor gradient
    of the decoded integer grayscale — the cheap blur/flat screen an
    image curation pipeline runs before spending on embeddings (a
    solid-color or near-flat image scores ~0, natural structure scores
    high).  Output (id, n_pixels, grad_energy, decodable): total
    |horizontal| + |vertical| gradient summed EXACTLY in integers over
    all valid positions, divided once by the position count —
    engine-exact by construction, no rounding grid.

    Scale shape: a pure ``map_rows`` projection over the scan, zero
    shuffles; integer ops only.
    """
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_pixels", T.IntegerType(), True),
            T.StructField("grad_energy", T.DoubleType(), True),
            T.StructField("decodable", T.BooleanType(), False),
        ]
    )

    def row(payload):
        dec = _png_decode_pixels(bytes(payload or b""))
        if dec is None:
            yield None, None, False
            return
        arr = dec[3]
        gray = arr.astype("int64").sum(axis=2) // arr.shape[2]
        gh = np.abs(gray[:, 1:] - gray[:, :-1])
        gv = np.abs(gray[1:, :] - gray[:-1, :])
        n_pos = gh.size + gv.size
        total = int(gh.sum()) + int(gv.sum())
        yield gray.size, total / n_pos if n_pos else 0.0, True

    return map_rows(df, row, schema, [id_col], [payload_col])
