"""Multimodal-column queries over the ``documents`` table.

No driver table carries real media, so the corpus builds deterministic
binary payloads from document text — REAL minimal containers, all in one
SQL projection (``selectExpr``; no UDF in the construction):

- ``doc_id%4==0`` → PNG: full 8-byte signature + IHDR chunk, truecolor,
  per-doc dimensions, document text as trailing bytes;
- ``==1`` → JPEG: SOI + APP0/JFIF + SOF0 frame header with per-doc
  dimensions, text as trailing bytes;
- ``==2`` → WAV: complete RIFF/WAVE with fmt (PCM16, per-doc channel
  count + sample rate) and a data chunk whose PCM samples ARE the text
  bytes;
- ``==3`` → animated GIF (the video container): header + logical screen
  descriptor + ``1 + doc_id % 97`` image descriptors + trailer, text
  after the trailer (tolerated by real decoders).

Every payload round-trips through the REAL stdlib parsers in
``operators/multimodal.py`` — no corpus query reaches the fake decoder.
Format sniffing + byte length hash-check against a portable-SQL oracle
(lengths are closed-form); every ``map_rows`` path (entropy, decode, frame
fan-out, embedding) hash-checks against plain-Python expected-value
fixtures whose payloads are constructed independently with struct.pack
(tools/build_expected.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from heparchy_spark.functions.worker import map_rows
from heparchy_spark.operators.multimodal import (
    byte_stats,
    decode_media,
    payload_embedding,
    sample_frames,
    sniff_format,
)
from heparchy_spark.queries import expected_fixture_sql, register
from heparchy_spark.queries.tables import load

_KINDS = ["image", "image", "audio", "video"]

# GIF construction constants (shared with tools/build_expected.py mirror):
# 13-byte header+LSD (64x48, no GCT), 14-byte empty frame (image
# descriptor + LZW min code + one 1-byte sub-block + terminator), trailer.
GIF_HDR_HEX = "474946383961" + "40003000000000"
GIF_FRAME_HEX = "2C" + "00000000" + "4000" + "3000" + "00" + "02" + "0100" + "00"
GIF_TRAILER_HEX = "3B"

# The header builders below return Spark SQL text over the ``documents``
# columns, not Columns: the whole synthesis is parsed once by one
# ``selectExpr`` instead of costing a py4j round trip per byte of header.


def _concat(*parts: str) -> str:
    return f"concat({', '.join(parts)})"


def _hex(*fields: str) -> str:
    """A constant header run (hex digits) as a SQL string literal."""
    return "'" + "".join(fields) + "'"


def _byte_hex(x: str) -> str:
    return f"lpad(hex(({x}) & 255), 2, '0')"


def _int_hex(x: str, nbytes: int, *, little_endian: bool) -> str:
    """Fixed-width hex of an integer expression, byte order selectable —
    the building block for binary headers."""
    order = range(nbytes) if little_endian else reversed(range(nbytes))
    return _concat(*[_byte_hex(f"shiftright({x}, {8 * i})") for i in order])


def _png_hex(doc_id: str) -> str:
    """Full PNG signature + IHDR (truecolor, zero CRC — parsers don't
    check): 33 bytes, then text. Dims: 32+id%64 x 32+id%48."""
    return _concat(
        _hex("89504E470D0A1A0A", "0000000D", "49484452"),
        _int_hex(f"32 + {doc_id} % 64", 4, little_endian=False),
        _int_hex(f"32 + {doc_id} % 48", 4, little_endian=False),
        _hex("08", "02", "00", "00", "00", "00000000"),
    )


def _jpeg_hex(doc_id: str) -> str:
    """SOI + APP0/JFIF + SOF0 (baseline, 3 components, zero-CRC-free
    format): 39 bytes, then text. Dims: 24+id%120 x 24+id%100."""
    return _concat(
        _hex("FFD8", "FFE0", "0010", "4A46494600", "0101", "00", "0001",
             "0001", "0000"),
        _hex("FFC0", "0011", "08"),
        _int_hex(f"24 + {doc_id} % 100", 2, little_endian=False),  # height
        _int_hex(f"24 + {doc_id} % 120", 2, little_endian=False),  # width
        _hex("03", "011100", "021101", "031101"),
    )


def _wav_hex(doc_id: str, text_len: str) -> str:
    """Complete RIFF/WAVE header for PCM16 whose data chunk is the text
    bytes: 44 bytes, then text(=samples). Channels 1+id%2; sample rate
    from {8000,16000,44100} by id%3."""
    channels = f"CAST(1 + {doc_id} % 2 AS BIGINT)"
    rate = (
        "CAST(element_at(array(8000, 16000, 44100), "
        f"CAST({doc_id} % 3 + 1 AS INT)) AS BIGINT)"
    )
    block_align = f"{channels} * 2"
    return _concat(
        _hex("52494646"),                                   # "RIFF"
        _int_hex(f"{text_len} + 36", 4, little_endian=True),
        _hex("57415645", "666D7420", "10000000", "0100"),   # WAVE fmt 16 PCM
        _int_hex(channels, 2, little_endian=True),
        _int_hex(rate, 4, little_endian=True),
        _int_hex(f"{rate} * ({block_align})", 4, little_endian=True),  # byte rate
        _int_hex(block_align, 2, little_endian=True),
        _hex("1000"),                                       # 16 bits/sample
        _hex("64617461"),                                   # "data"
        _int_hex(text_len, 4, little_endian=True),
    )


def _gif_hex(doc_id: str) -> str:
    """Animated GIF with 1 + id%97 empty frames; text rides after the
    trailer."""
    return _concat(
        _hex(GIF_HDR_HEX),
        f"repeat('{GIF_FRAME_HEX}', CAST({doc_id} % 97 + 1 AS INT))",
        _hex(GIF_TRAILER_HEX),
    )


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> synthetic media table (media_id, kind, payload) with
    REAL container bytes (module docstring). One projection: the header
    hex is concatenated with hex(text) and unhex-ed once."""
    docs = load(spark, sf_dir, "documents")
    text_bytes = "encode(text, 'utf-8')"
    text_len = f"CAST(length({text_bytes}) AS BIGINT)"
    header_hex = (
        f"CASE WHEN doc_id % 4 = 0 THEN {_png_hex('doc_id')} "
        f"WHEN doc_id % 4 = 1 THEN {_jpeg_hex('doc_id')} "
        f"WHEN doc_id % 4 = 2 THEN {_wav_hex('doc_id', text_len)} "
        f"ELSE {_gif_hex('doc_id')} END"
    )
    kinds = ", ".join(f"'{k}'" for k in _KINDS)
    return docs.selectExpr(
        "doc_id AS media_id",
        f"element_at(array({kinds}), CAST(doc_id % 4 + 1 AS INT)) AS kind",
        f"unhex(concat({header_hex}, hex({text_bytes}))) AS payload",
    )


@register(
    "multimodal_sniff_profile",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                           WHEN 2 THEN 'riff' WHEN 3 THEN 'gif' END
             AS format,
           CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 39 WHEN 2 THEN 44
                           WHEN 3 THEN 13 + 14 * (1 + doc_id % 97) + 1 END
             + octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
    doc="Binary payload profiling JVM-side: magic-byte format sniffing + "
    "byte length, no Python, payload column pruned to 4 bytes for the "
    "sniff. The oracle's n_bytes is the closed-form container-header "
    "length per kind (PNG 33, JPEG 39, WAV 44, GIF 14/frame + 14).",
)
def multimodal_sniff_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_df(spark, sf_dir)
    return media.select(
        "media_id",
        sniff_format("payload").alias("format"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


@register(
    "multimodal_crc32",
    expected_fixture_sql("multimodal_crc32"),
    doc="JVM-side CRC32 content checksum per payload (exact-dup primitive "
    "for binary columns); oracle = stdlib zlib.crc32, precomputed.",
)
def multimodal_crc32(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_df(spark, sf_dir)
    return media.select("media_id", F.crc32("payload").alias("crc32"))


@register(
    "multimodal_byte_stats",
    expected_fixture_sql("multimodal_byte_stats"),
    doc="Per-row map_rows byte statistics: length, Shannon "
    "entropy, CRC32 per payload; oracle = plain-Python/NumPy mirror, "
    "precomputed.",
)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return byte_stats(_media_df(spark, sf_dir))


@register(
    "multimodal_decode_meta",
    expected_fixture_sql("multimodal_decode_meta"),
    doc="Decoded media properties via REAL stdlib container parsers "
    "(PNG IHDR / JPEG SOF0 / WAV incl. true PCM mean amplitude / "
    "animated-GIF frame count) through per-row map_rows — every "
    "corpus payload takes a real parse path, none reaches the fake "
    "decoder; oracle = expected values derived from the payload "
    "GENERATOR's parameters (plain Python, no parser), precomputed.",
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_media(_media_df(spark, sf_dir))


@register(
    "multimodal_frame_sample",
    expected_fixture_sql("multimodal_frame_sample"),
    doc="Video frame sampling fan-out: one row per sampled frame via "
    "map_rows; the frame COUNT is the real GIF image-descriptor count "
    "(1 + doc_id % 97), frame extraction remains a labeled payload-slice "
    "stub; oracle = plain-Python mirror of the fan-out with the "
    "generator's frame count, precomputed.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_df(spark, sf_dir).where(F.col("kind") == "video")
    return sample_frames(media, every_n=8).select(
        "media_id", "frame_idx", F.length("frame_payload").alias("frame_bytes")
    )


@register(
    "multimodal_payload_embedding",
    expected_fixture_sql("multimodal_payload_embedding"),
    doc="Byte-histogram content embedding (real, not stubbed) — feeds the "
    "similarity operators; oracle = plain-Python/NumPy mirror, precomputed.",
)
def multimodal_payload_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = payload_embedding(_media_df(spark, sf_dir), dim=16)
    return emb.select(
        "media_id", F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x), 6).alias("embedding_sum")
    )


@register(
    "multimodal_resample_audio",
    expected_fixture_sql("multimodal_resample_audio"),
    doc="REAL audio resample (operators/multimodal.resample_audio): the "
    "WAV payloads' PCM16 frames decimate 2:1 inside a per-row "
    "map_rows — stdlib wave parse, every-2nd-frame keep across "
    "channels, re-encode at half rate, true mean |amplitude| of the "
    "kept signal. The oracle fixture mirrors the decimation from the "
    "generator parameters alone (tools/build_expected.py "
    "expected_resample — no parser in the oracle path). The sibling "
    "resize_images operator is the image twin: a full stdlib PNG codec "
    "(all five scanline filters) + nearest-neighbor downsample + real "
    "re-encode, pytest-verified on pixel-bearing PNGs (the corpus' "
    "header-only PNG payloads carry no pixels to resize, so it has no "
    "corpus row — see tests/test_multimodal.py).",
)
def multimodal_resample_audio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.multimodal import resample_audio

    media = _media_df(spark, sf_dir).where(F.col("kind") == "audio")
    return resample_audio(media, factor=2).select(
        "media_id",
        "sample_rate",
        "new_rate",
        "n_frames",
        "new_frames",
        "mean_amplitude",
    )


@register(
    "multimodal_keyframe_select",
    expected_fixture_sql("multimodal_keyframe_select"),
    doc="Keyframe selection per video: 16-bin byte histograms on the "
    "sampled frame payloads, L1 change vs the predecessor frame, "
    "top-3 largest changes per media under a (change desc, frame_idx) "
    "total order — the shot-boundary heuristic of a video curation "
    "pipeline.  Frame fan-out + histograms are per-row "
    "map_rows passes; the change score is a JVM lag-window + zip_with "
    "fold; only the |media| x 3 ranking state shuffles.  Oracle = "
    "plain-Python mirror of slicing/histogram/ranking, precomputed "
    "(operators/multimodal.py keyframe_select).",
)
def multimodal_keyframe_select(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.multimodal import keyframe_select

    media = _media_df(spark, sf_dir).where(F.col("kind") == "video")
    return keyframe_select(media, every_n=4, top_k=3)


@register(
    "multimodal_audio_vad",
    expected_fixture_sql("multimodal_audio_vad"),
    doc="Energy-based voice-activity detection over the REAL WAV "
    "payloads: per 8-frame analysis window RMS vs the whole signal's "
    "RMS (the adaptive first-pass VAD of a speech curation pipeline), "
    "one row per maximal voiced run with its round-6 mean window RMS.  "
    "Pure per-row map_rows fan-out — zero shuffles at any "
    "corpus size.  Oracle fixture mirrors the windowing/threshold/"
    "run-length logic from the generator parameters in plain Python "
    "(operators/multimodal.py audio_vad_segments).",
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.multimodal import audio_vad_segments

    media = _media_df(spark, sf_dir).where(F.col("kind") == "audio")
    return audio_vad_segments(media, frame_len=8)


def _dhash_fixture_pixels(doc_id: int):
    """Deterministic 16x16 RGB pixels for the dHash corpus row: docs in
    the same ``doc_id // 8`` group share a base pattern (a pure-integer
    mix of group, row, col), and the in-group member at ``doc_id % 8``
    rides a +3*offset brightness shift, clipped at 255 — a monotone
    shift preserves every gradient sign except where clipping flattens
    it, so group pairs land at SMALL (usually <= 10) Hamming distance
    while distinct groups do not.  Shared verbatim with the
    plain-NumPy fixture mirror in tools/build_expected.py."""
    import numpy as np

    g = doc_id // 8
    r = np.arange(16, dtype="int64")[:, None]
    c = np.arange(16, dtype="int64")[None, :]
    # multiplicative mix: the per-cell GRADIENTS (what dHash reads)
    # depend on g, so distinct groups give unrelated hashes — an
    # additive mix would only shift the offset and every group would
    # share one gradient field
    base = ((g + 1) * 2654435761 * (r * 16 + c + 1)) % 251
    pix = np.minimum(base + 3 * (doc_id % 8), 255).astype("uint8")
    return np.repeat(pix[:, :, None], 3, axis=2)


def _uniform_fixture_pixels(doc_id: int):
    """Avalanche-hashed 16x16 RGB pixels — the UNIFORM-KEY calibration
    fixture (r9 verdict: the mod-251 recipe above has structurally
    correlated DCT coefficients, so pHash band keys collide far above
    the random floor at ANY band width, pinning the rehearsal shuffle
    exponent at ~1.9 regardless of key width).  Each cell's base is a
    splitmix64 finalizer over (group, cell) reduced mod 200 — full
    avalanche, so cross-group DCT coefficients (hence band keys) sit in
    the uniform-bit regime the wide-band analysis assumes.  The in-group
    member at ``doc_id % 8`` rides a +3*offset brightness shift that
    NEVER clips (base <= 199, shift <= 21): a constant shift moves only
    the DC coefficient of an orthonormal DCT, so in-group images share
    all 127 non-DC coefficients exactly — pHash-128 distance 0 — while
    cross-group codes are ~uniform 128-bit (expected distance 64, never
    near 10).  Shared verbatim with the plain-NumPy fixture mirror in
    tools/build_expected.py."""
    import numpy as np

    g = doc_id // 8
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
    out = (pix + 3 * (doc_id % 8)).astype("uint8")
    return np.repeat(out[:, :, None], 3, axis=2)


def _real_png_media_df(
    spark: SparkSession, sf_dir: str, pixels_fn=None
) -> DataFrame:
    """(media_id, payload) of REAL pixel-bearing PNGs — the stdlib
    encoder over the deterministic fixture pixels, one per image-kind
    doc (doc_id % 4 == 0).  One PNG per doc through ``map_rows``, a pure
    map."""
    import pyspark.sql.types as T

    from heparchy_spark.operators.multimodal import _png_encode

    pixels_fn = pixels_fn or _dhash_fixture_pixels
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 4 == 0)
        .select("doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def row(did):
        yield did, _png_encode(pixels_fn(did))

    return map_rows(docs, row, schema, [], ["doc_id"])


@register(
    "multimodal_dhash_neardups",
    expected_fixture_sql("multimodal_dhash_neardups"),
    doc="Perceptual near-duplicate image pairs over REAL decoded PNGs: "
    "stdlib PNG encode of deterministic fixture pixels (brightness-"
    "shifted in-group copies), full decode -> 128-bit dHash (9x16 "
    "grid, two code words) -> four 32-BIT band keys + per-band "
    "Hamming-ball probe (radius 2, recall EXACT by pigeonhole) -> "
    "popcount verify.  Migrated off the 64-bit/16-bit-band pairing "
    "after the r9 10x rehearsal measured its band-key saturation "
    "(wall exp 1.38, candidates ~n^2/120 as keys approach 2^16); the "
    "32-bit keys push the random collision floor down ~2^16x.  The "
    "oracle fixture is a genuinely independent check: it computes "
    "ALL-PAIRS Hamming distances in plain NumPy and keeps d <= 10, so "
    "any banding recall loss hash-mismatches.  Never all-pairs on the "
    "Spark side — candidates are the banded equi-join.",
)
def multimodal_dhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.multimodal import (
        dhash128_neardup_pairs,
        image_dhash128,
    )

    media = _real_png_media_df(spark, sf_dir)
    return dhash128_neardup_pairs(image_dhash128(media), max_hamming=10)


@register(
    "multimodal_phash_neardups",
    expected_fixture_sql("multimodal_phash_neardups"),
    doc="DCT perceptual-hash near-duplicate pairs over the same REAL "
    "decoded PNGs as the dHash gate: 32x32 grayscale -> orthonormal "
    "2-D DCT-II -> 8x8 low-frequency block -> median-threshold 64-bit "
    "code, then the multi-index banded candidate join (per-band "
    "Hamming-ball probe, radius 8, recall EXACT by pigeonhole) + "
    "popcount verify.  pHash reads global structure where dHash reads "
    "local gradients (a uniform brightness shift moves only the DC "
    "coefficient), so the two gates flag different edit classes.  The "
    "oracle fixture computes ALL-PAIRS Hamming in independent plain "
    "NumPy, auditing banding recall directly.  Never all-pairs on the "
    "Spark side.",
)
def multimodal_phash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.multimodal import (
        dhash_neardup_pairs,
        image_phash,
    )

    media = _real_png_media_df(spark, sf_dir)
    return dhash_neardup_pairs(
        image_phash(media), max_hamming=8, hash_col="phash"
    )


@register(
    "multimodal_phash128_neardups",
    expected_fixture_sql("multimodal_phash128_neardups"),
    doc="128-bit DCT perceptual-hash near-duplicate pairs — the measured "
    "scale fix for the 64-bit band floor (r9 10x rehearsal: 16-bit band "
    "keys saturate, candidates ~n^2/120): same real PNG decode and "
    "orthonormal DCT as the 64-bit gate, but the code keeps the 8x16 "
    "low-frequency block (median-of-127 threshold) and the multi-index "
    "join bands are 32 BITS wide, dropping the random-collision floor "
    "to ~5e-7 per pair (probe ball C(32,<=2)=529 keys/band, linear in "
    "n).  Recall exact by pigeonhole at radius 10//4=2.  Oracle "
    "fixture computes ALL-PAIRS 128-bit Hamming in plain NumPy, so any "
    "banding recall loss hash-mismatches.",
)
def multimodal_phash128_neardups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.multimodal import (
        image_phash128,
        phash128_neardup_pairs,
    )

    media = _real_png_media_df(spark, sf_dir)
    return phash128_neardup_pairs(image_phash128(media), max_hamming=10)


@register(
    "multimodal_phash128_uniform_neardups",
    expected_fixture_sql("multimodal_phash128_uniform_neardups"),
    doc="128-bit pHash near-dup pairs over the AVALANCHE-UNIFORM pixel "
    "fixture (splitmix64 per-cell bases, non-clipping in-group "
    "brightness shift): the regime the wide-band analysis actually "
    "targets.  The r9 rehearsal measured the structural mod-251 "
    "fixture's shuffle exponent pinned at ~1.9 at EVERY band width — "
    "its DCT coefficients are correlated across groups, so band keys "
    "collide structurally, not randomly.  Here cross-group codes are "
    "~uniform 128-bit (in-group pairs sit at exact distance 0: a "
    "constant shift moves only the DC coefficient), so 32-bit band "
    "keys hit their ~5e-7 random-collision floor and candidate volume "
    "stays linear in n.  Same real PNG encode/decode path and 32-bit "
    "banded join as the production gate; oracle fixture computes "
    "ALL-PAIRS 128-bit Hamming in plain NumPy.",
)
def multimodal_phash128_uniform_neardups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.multimodal import (
        image_phash128,
        phash128_neardup_pairs,
    )

    media = _real_png_media_df(spark, sf_dir, _uniform_fixture_pixels)
    return phash128_neardup_pairs(image_phash128(media), max_hamming=10)


@register(
    "multimodal_phash128_uniform16_neardups",
    expected_fixture_sql("multimodal_phash128_uniform16_neardups"),
    doc="The 16-BIT-BAND calibration twin of "
    "multimodal_phash128_uniform_neardups: identical uniform-pixel "
    "corpus, identical recall guarantee (8 bands x per-band radius 1 "
    "covers Hamming <= 10 by pigeonhole), identical output — ONLY the "
    "band-key width differs.  Exists so the 10x scale rehearsal can "
    "measure exactly what 32-bit keys buy in the uniform regime: "
    "16-bit keys saturate as n approaches 2^16 (random collision "
    "floor ~8*17/2^16 per pair) and candidate shuffle goes ~n^2, "
    "while the 32-bit twin's floor (~529*4/2^32) keeps it linear.  "
    "NOT the production path — a deliberately-undersized control.  "
    "Oracle is the same all-pairs NumPy fixture.",
)
def multimodal_phash128_uniform16_neardups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.multimodal import (
        image_phash128,
        phash128_neardup_pairs,
    )

    media = _real_png_media_df(spark, sf_dir, _uniform_fixture_pixels)
    return phash128_neardup_pairs(
        image_phash128(media), max_hamming=10, band_bits=16
    )


@register(
    "multimodal_audio_spectral",
    expected_fixture_sql("multimodal_audio_spectral"),
    doc="Frequency-domain audio profile over the REAL WAV payloads: "
    "mono-mixed 16-bit PCM cut into 64-sample windows, rFFT per "
    "window, mean power in four equal bands of the 32 non-DC bins + "
    "the power-weighted mean frequency bin (spectral centroid) — the "
    "first-pass spectral fingerprint an audio curation pipeline "
    "separates music/speech/noise on.  Pure per-row map_rows "
    "over the scan, zero shuffles.  Oracle fixture mirrors the exact "
    "NumPy float64 pipeline from the generator parameters in plain "
    "Python (operators/multimodal.py audio_spectral_profile).",
)
def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.multimodal import audio_spectral_profile

    media = _media_df(spark, sf_dir).where(F.col("kind") == "audio")
    return audio_spectral_profile(media, window=64)


@register(
    "multimodal_image_gradients",
    expected_fixture_sql("multimodal_image_gradients"),
    doc="Image information-content gate over the REAL decoded PNGs: "
    "mean absolute neighbor gradient of the integer grayscale — the "
    "cheap blur/flat screen run before spending on embeddings (solid "
    "color scores ~0, structure scores high).  Total |dx| + |dy| sums "
    "EXACTLY in integers; ONE division by the position count — "
    "engine-exact, no rounding grid.  Pure zero-shuffle map_rows.  "
    "Oracle fixture recomputes from the fixture pixel recipe in plain "
    "NumPy (operators/multimodal.py image_gradient_energy).",
)
def multimodal_image_gradients(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.multimodal import image_gradient_energy

    media = _real_png_media_df(spark, sf_dir)
    return image_gradient_energy(media)
