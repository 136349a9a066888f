"""Multimodal operator tests: real byte-level ops checked against Python
ground truth; stubbed decode checked for plumbing shape + determinism."""

from __future__ import annotations

import sys
import zlib
from pathlib import Path

import numpy as np
import pytest

from heparchy_spark.operators.multimodal import (
    byte_stats,
    decode_media,
    payload_embedding,
    sample_frames,
    sniff_format,
)

PAYLOADS = [
    (0, "image", b"\x89PNG\r\n\x1a\nrest-of-png"),
    (1, "image", b"\xff\xd8\xff\xe0JFIFdata"),
    (2, "audio", b"RIFF....WAVEfmt data-bytes-here"),
    (3, "video", b"\x1a\x45\xdf\xa3matroska-payload" * 40),
    (4, "image", b"plainbytes-no-magic"),
    (5, "audio", b""),
]


@pytest.fixture(scope="module")
def media(spark):
    from heparchy_spark.operators.multimodal import MEDIA_SCHEMA

    rows = [(i, k, p, None) for i, k, p in PAYLOADS]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_sniff_format(media):
    got = {
        r["media_id"]: r["fmt"]
        for r in media.select("media_id", sniff_format("payload").alias("fmt")).collect()
    }
    assert got == {
        0: "png", 1: "jpeg", 2: "riff", 3: "matroska", 4: "unknown", 5: "unknown"
    }


def test_byte_stats_exact(media):
    got = {r["media_id"]: r for r in byte_stats(media).collect()}
    for mid, _, payload in PAYLOADS:
        assert got[mid]["n_bytes"] == len(payload)
        assert got[mid]["crc32"] == zlib.crc32(payload)
        arr = np.frombuffer(payload, dtype=np.uint8)
        if arr.size:
            c = np.bincount(arr, minlength=256)
            p = c[c > 0] / arr.size
            assert got[mid]["entropy"] == pytest.approx(-(p * np.log2(p)).sum())
        else:
            assert got[mid]["entropy"] == 0.0


def test_decode_media_deterministic_and_shaped(media):
    a = {r["media_id"]: r.asDict() for r in decode_media(media).collect()}
    b = {r["media_id"]: r.asDict() for r in decode_media(media).collect()}
    assert a == b  # deterministic fake
    assert a[2]["sample_rate"] in (8000, 16000, 44100)  # audio fields
    assert a[0]["width"] is not None and a[0]["channels"] == 3  # image fields


def test_sample_frames_fanout(media):
    video = media.where("kind = 'video'")
    frames = sample_frames(video, every_n=24).collect()
    assert len(frames) > 1  # 1 -> N fan-out
    assert all(r["media_id"] == 3 for r in frames)
    idxs = [r["frame_idx"] for r in frames]
    assert idxs == sorted(idxs) and idxs[0] == 0


def test_payload_embedding_normalized(media):
    rows = payload_embedding(media, dim=16).collect()
    by_id = {r["media_id"]: np.array(r["embedding"]) for r in rows}
    for mid, _, payload in PAYLOADS:
        v = by_id[mid]
        assert len(v) == 16
        if payload:
            assert np.linalg.norm(v) == pytest.approx(1.0, rel=1e-5)


# ---------------------------------------------------------------------------
# Real container parsers (round-3): GIF / JPEG / AVI frame+dimension parse
# from actual container bytes, and the corpus-wide no-fake guarantee.
# ---------------------------------------------------------------------------
def _minimal_gif(n_frames: int, w: int = 64, h: int = 48) -> bytes:
    import struct

    hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0, 0, 0)
    frame = (
        b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + b"\x02" + b"\x01\x00" + b"\x00"
    )
    return hdr + frame * n_frames + b"\x3b"


def _minimal_avi(n_movi_frames: int, w: int = 320, h: int = 240) -> bytes:
    import struct

    avih = struct.pack(
        "<10I", 33333, 0, 0, 0, n_movi_frames, 0, 1, 0, w, h
    ) + b"\x00" * 16  # pad to the full 56-byte AVIMAINHEADER
    hdrl = b"LIST" + struct.pack("<I", 4 + 8 + len(avih)) + b"hdrl" \
        + b"avih" + struct.pack("<I", len(avih)) + avih
    movi_items = b"".join(
        b"00dc" + struct.pack("<I", 4) + b"\x00" * 4
        for _ in range(n_movi_frames)
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_items)) + b"movi" + movi_items
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_parse_gif_counts_image_descriptors():
    from heparchy_spark.operators.multimodal import _parse_gif, _try_real_decode

    for n in (1, 5, 97):
        d = _parse_gif(_minimal_gif(n))
        assert d == {
            "width": 64, "height": 48, "channels": 3,
            "sample_rate": None, "n_frames": n, "mean_amplitude": None,
        }
    # trailing garbage after the trailer is tolerated (corpus payloads)
    assert _parse_gif(_minimal_gif(3) + b"lorem ipsum")["n_frames"] == 3
    # GCT skipping: set the GCT flag with a 2-entry table
    import struct
    hdr = b"GIF89a" + struct.pack("<HHBBB", 8, 8, 0x80, 0, 0) + b"\x00" * 6
    frame = (
        b"\x2c" + struct.pack("<HHHHB", 0, 0, 8, 8, 0)
        + b"\x02" + b"\x01\x00" + b"\x00"
    )
    assert _parse_gif(hdr + frame + b"\x3b")["n_frames"] == 1
    assert _try_real_decode(_minimal_gif(2))["n_frames"] == 2
    assert _parse_gif(b"GIF89a truncated") is None


def test_parse_jpeg_sof_dimensions():
    import struct

    from heparchy_spark.operators.multimodal import _parse_jpeg

    app0 = bytes.fromhex("FFE000104A46494600010100000100010000")
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 123, 456, 3) \
        + bytes.fromhex("011100021101031101")
    d = _parse_jpeg(b"\xff\xd8" + app0 + sof + b"trailing text")
    assert (d["width"], d["height"], d["channels"]) == (456, 123, 3)
    assert d["n_frames"] == 1
    # progressive (SOF2) parses too; DHT (C4) must be skipped, not matched
    dht = b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"
    sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 17, 8, 10, 20, 1) + b"\x00" * 9
    assert _parse_jpeg(b"\xff\xd8" + dht + sof2)["width"] == 20
    assert _parse_jpeg(b"\xff\xd8\x00\x01") is None


def test_parse_avi_movi_count_beats_header_claim():
    from heparchy_spark.operators.multimodal import _parse_avi, _try_real_decode

    avi = _minimal_avi(7)
    d = _parse_avi(avi)
    assert (d["width"], d["height"], d["n_frames"]) == (320, 240, 7)
    assert _try_real_decode(avi)["n_frames"] == 7
    # header-only AVI (no movi list yet): falls back to dwTotalFrames
    import struct
    hdr_only = _minimal_avi(3)
    cut = hdr_only.index(b"LIST", 12 + 4)  # strip the movi LIST
    body_len = cut - 8
    hdr_only = b"RIFF" + struct.pack("<I", body_len) + hdr_only[8:cut]
    assert _parse_avi(hdr_only)["n_frames"] == 3


def test_corpus_payloads_never_reach_fake_decoder(spark):
    """Every corpus media payload must parse through a REAL container
    parser — the fake decoder is unreachable from corpus queries."""
    from heparchy_spark.operators.multimodal import _try_real_decode
    from heparchy_spark.queries.multimodal import _media_df

    rows = _media_df(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    unparsed = [
        r["media_id"] for r in rows if _try_real_decode(bytes(r["payload"])) is None
    ]
    assert unparsed == []


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_media_payloads_equal_struct_pack_mirror(spark, sf_dir):
    """Every synthesized payload byte equals the independent struct.pack
    construction of tools/build_expected.payload_for."""
    from heparchy_spark.queries.multimodal import _media_df
    from heparchy_spark.queries.tables import load

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from build_expected import payload_for

    got = {
        r.media_id: bytes(r.payload)
        for r in _media_df(spark, sf_dir).select("media_id", "payload").collect()
    }
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs) > 0
    bad = [r.doc_id for r in docs if got[r.doc_id] != payload_for(r.doc_id, r.text)]
    assert bad == []


# ---------------------------------------------------------------------------
# REAL PNG codec + resize + audio resample
# ---------------------------------------------------------------------------


def _png_with_filters(arr: np.ndarray, filters: list[int]) -> bytes:
    """Independent PNG encoder applying a GIVEN filter type per scanline
    (plain-Python reference implementing the spec forward direction) —
    exercises the operator's de-filter paths 0-4."""
    import struct

    h, w, ch = arr.shape
    ct = {1: 0, 3: 2, 4: 6}[ch]
    stride = w * ch
    flat = arr.reshape(h, stride).astype(int)
    raw = bytearray()
    for r in range(h):
        f = filters[r % len(filters)]
        raw.append(f)
        prev = flat[r - 1] if r else np.zeros(stride, dtype=int)
        for i in range(stride):
            x = flat[r][i]
            a = flat[r][i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                enc = x
            elif f == 1:
                enc = x - a
            elif f == 2:
                enc = x - b
            elif f == 3:
                enc = x - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc = x - pr
            raw.append(enc & 0xFF)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (
        bytes.fromhex("89504E470D0A1A0A")
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def test_png_codec_decodes_all_five_filters():
    from heparchy_spark.operators.multimodal import _png_decode_pixels

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(10, 9, 3), dtype=np.uint8)
    payload = _png_with_filters(arr, [0, 1, 2, 3, 4])
    w, h, ch, got = _png_decode_pixels(payload)
    assert (w, h, ch) == (9, 10, 3)
    assert np.array_equal(got, arr)


def test_png_encode_decode_roundtrip_gray_rgb_rgba():
    from heparchy_spark.operators.multimodal import (
        _png_decode_pixels,
        _png_encode,
    )

    rng = np.random.RandomState(11)
    for ch in (1, 3, 4):
        arr = rng.randint(0, 256, size=(7, 5, ch), dtype=np.uint8)
        w, h, c, got = _png_decode_pixels(_png_encode(arr))
        assert (w, h, c) == (5, 7, ch)
        assert np.array_equal(got, arr)


def test_resize_images_nearest_neighbor_and_null_for_headers(spark):
    from heparchy_spark.operators.multimodal import (
        _png_decode_pixels,
        _png_encode,
        resize_images,
    )

    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    header_only = bytes.fromhex("89504E470D0A1A0A")  # no IHDR/IDAT
    df = spark.createDataFrame(
        [(1, bytearray(_png_encode(arr))), (2, bytearray(header_only))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in resize_images(df, factor=2).collect()}
    r1 = out[1]
    assert (r1["width"], r1["height"]) == (6, 8)
    assert (r1["out_width"], r1["out_height"]) == (3, 4)
    _, _, _, got = _png_decode_pixels(bytes(r1["out_payload"]))
    assert np.array_equal(got, arr[::2, ::2, :])
    assert out[2]["out_payload"] is None and out[2]["width"] is None


def test_resample_audio_decimates_and_reencodes(spark):
    import io
    import struct
    import wave

    from heparchy_spark.operators.multimodal import resample_audio

    # 2-channel PCM16, 6 frames of known samples
    frames = np.array(
        [[100, -100], [200, -200], [300, -300],
         [400, -400], [500, -500], [600, -600]],
        dtype="<i2",
    )
    body = frames.tobytes()
    wavb = (
        b"RIFF" + struct.pack("<I", len(body) + 36) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 2, 16000, 16000 * 4, 4, 16)
        + b"data" + struct.pack("<I", len(body)) + body
    )
    df = spark.createDataFrame(
        [(7, bytearray(wavb))], "media_id long, payload binary"
    )
    row = resample_audio(df, factor=2).collect()[0]
    assert row["sample_rate"] == 16000 and row["new_rate"] == 8000
    assert row["n_frames"] == 6 and row["new_frames"] == 3
    kept = frames[::2].astype("float64")
    assert row["mean_amplitude"] == float(np.abs(kept).mean() / 32768.0)
    with wave.open(io.BytesIO(bytes(row["out_payload"]))) as wv:
        assert wv.getframerate() == 8000
        assert wv.getnframes() == 3
        got = np.frombuffer(wv.readframes(3), dtype="<i2").reshape(3, 2)
    assert np.array_equal(got, frames[::2])


def test_png_decode_rejects_interlaced():
    """Adam7 streams carry MORE filter bytes than sequential layout, so
    they'd pass the length guard and decode garbled — the IHDR
    interlace byte must short-circuit to None (the decoder never checks
    chunk CRCs, so flipping the byte on a valid PNG is a faithful
    stand-in for a real interlaced file)."""
    from heparchy_spark.operators.multimodal import (
        _png_decode_pixels,
        _png_encode,
    )

    arr = np.arange(60, dtype=np.uint8).reshape(5, 4, 3)
    payload = bytearray(_png_encode(arr))
    assert _png_decode_pixels(bytes(payload)) is not None
    # IHDR data starts at offset 16; interlace is its 13th byte
    assert payload[12:16] == b"IHDR"
    payload[16 + 12] = 1
    assert _png_decode_pixels(bytes(payload)) is None


def test_keyframe_select_finds_planted_shot_boundary(spark):
    """A 6-frame payload whose bytes switch distribution at frame 3
    must rank frame 3 first, with the mirror-exact L1 score.

    Uses a GIF container: GIF frames stay on the labeled stub-slice
    path (no LZW decoder in this environment), which is exactly what
    this test pins.  AVI payloads now take the real movi-chunk frame
    path — covered by test_keyframe_select_real_avi_planted_boundary."""
    from heparchy_spark.operators.multimodal import keyframe_select

    # _minimal_gif(6) gives a REAL container with n_frames=6; append a
    # payload body whose slices flip from 0x00-bytes to 0xFF-bytes so
    # the sample_frames slicing (step = len//6) crosses the boundary
    # inside one frame step.
    body = bytes(_minimal_gif(6))
    # pad so len(buf)//6 slices land on a clean half/half split
    pad = (b"\x00" * 600) + (b"\xff" * 600)
    buf = body + pad
    df = spark.createDataFrame(
        [(1, bytearray(buf))], "media_id long, payload binary"
    )
    out = keyframe_select(df, every_n=1, top_k=6).orderBy("kf_rank").collect()
    assert [r.kf_rank for r in out] == list(range(1, 6))  # frames 1..5
    # mirror: replicate slicing + histograms in plain Python
    import numpy as np

    step = max(len(buf) // 6, 1)
    hists = []
    for fi in range(6):
        off = (fi * step) % len(buf)
        arr = np.frombuffer(buf[off : off + step], dtype=np.uint8)
        hists.append(np.bincount(arr >> 4, minlength=16).astype("int64"))
    want = sorted(
        (
            (int(np.abs(hists[fi] - hists[fi - 1]).sum()), fi)
            for fi in range(1, 6)
        ),
        key=lambda t: (-t[0], t[1]),
    )
    got = [(r.l1_change, r.frame_idx) for r in out]
    assert got == want
    assert got[0][0] > 0  # the boundary frame carries a real change


def _avi_with_frames(frames: list) -> bytes:
    """Real minimal AVI whose movi chunks carry the given frame byte
    payloads (word-aligned per the RIFF spec)."""
    import struct

    n = len(frames)
    avih = struct.pack("<10I", 33333, 0, 0, 0, n, 0, 1, 0, 16, 16) + b"\x00" * 16
    hdrl = (
        b"LIST" + struct.pack("<I", 4 + 8 + len(avih)) + b"hdrl"
        + b"avih" + struct.pack("<I", len(avih)) + avih
    )
    movi_items = b"".join(
        b"00db" + struct.pack("<I", len(fb)) + fb + (b"\x00" * (len(fb) & 1))
        for fb in frames
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_items)) + b"movi" + movi_items
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_frame_chunks_extracts_bodies():
    from heparchy_spark.operators.multimodal import _avi_frame_chunks

    frames = [b"\x11" * 9, b"\x22" * 4, b"\x33" * 7]  # odd sizes -> padding
    got = _avi_frame_chunks(_avi_with_frames(frames))
    assert got == frames
    # non-AVI and movi-less AVI payloads decline (stub path stays)
    assert _avi_frame_chunks(b"GIF89a whatever") is None
    assert _avi_frame_chunks(_minimal_gif(3)) is None


def test_keyframe_select_real_avi_planted_boundary(spark):
    """keyframe_select over a REAL AVI: the histograms see the decoded
    movi frame bodies, so a planted shot boundary (uniform 0x11 frames
    then uniform 0xFF frames) must rank first with the full-mass L1."""
    import pyspark.sql.functions as F

    from heparchy_spark.operators.multimodal import keyframe_select

    frame_len = 64
    frames = [b"\x11" * frame_len] * 6 + [b"\xff" * frame_len] * 6
    avi = _avi_with_frames(frames)
    df = spark.createDataFrame(
        [(1, bytearray(avi))], "media_id long, payload binary"
    )
    out = keyframe_select(df, every_n=1, top_k=2).collect()
    by_rank = {r.kf_rank: r for r in out}
    # boundary at frame 6: whole histogram mass moves bucket 1 -> 15
    assert by_rank[1].frame_idx == 6
    assert by_rank[1].l1_change == 2 * frame_len
    # every other transition is identical-frame -> zero change
    assert by_rank[2].l1_change == 0


def test_image_dhash_and_neardup_pairs(spark):
    """dHash over REAL decoded PNG pixels: a brightness-shifted copy
    stays within the Hamming radius, an unrelated image does not,
    non-pixel payloads are excluded, and a strictly-increasing-row
    image gives the all-ones hash (signed -1)."""
    import numpy as np

    from heparchy_spark.operators.multimodal import (
        _png_encode,
        dhash_neardup_pairs,
        image_dhash,
    )

    rng = np.random.RandomState(13)
    base = rng.randint(0, 200, (32, 32, 3)).astype(np.uint8)
    shifted = np.clip(base.astype(np.int16) + 3, 0, 255).astype(np.uint8)
    other = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    ramp = np.tile(
        (np.arange(18, dtype=np.uint8) * 14)[None, :, None], (16, 1, 3)
    )
    rows = [
        (0, bytearray(_png_encode(base))),
        (1, bytearray(_png_encode(shifted))),
        (2, bytearray(_png_encode(other))),
        (3, bytearray(b"\x89PNG\r\n\x1a\x08header-only")),  # not a PNG
        (4, bytearray(_png_encode(ramp))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hs = {r.media_id: r for r in image_dhash(df).collect()}
    assert hs[3].decodable is False and hs[3].dhash is None
    assert all(hs[i].decodable for i in (0, 1, 2, 4))
    assert hs[4].dhash == -1  # every adjacent step increases -> all bits

    mask = (1 << 64) - 1
    def ham(a, b):
        return bin((a ^ b) & mask).count("1")

    assert ham(hs[0].dhash, hs[1].dhash) <= 10
    assert ham(hs[0].dhash, hs[2].dhash) > 10

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_neardup_pairs(image_dhash(df), max_hamming=10).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == ham(hs[0].dhash, hs[1].dhash)
    assert all(3 not in p and (0, 2) != p for p in pairs)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dhash_neardup_pairs(image_dhash(df), max_hamming=20)


def test_dhash_neardup_recall_is_exact_across_bands(spark):
    """The multi-index probe must find a distance-10 pair whose
    differing bits spread 3/3/2/2 across the four 16-bit bands — the
    case plain exact-match banding (no band agrees) silently drops —
    and must NOT emit a distance-12 pair at max_hamming=10."""
    from heparchy_spark.operators.multimodal import dhash_neardup_pairs

    base = 0x0123_4567_89AB_CDEF
    # 3 bits in band 0 (bits 0-15), 3 in band 1, 2 in band 2, 2 in band 3
    spread10 = (
        base
        ^ 0b111
        ^ (0b10101 << 16)
        ^ (0b11 << 32)
        ^ (0b1001 << 48)
    )
    # 3/3/3/3 spread: distance 12 from base, above the radius ->
    # excluded (and >10 from spread10 too: bands barely overlap)
    spread12 = (
        base
        ^ (0b111 << 4)
        ^ (0b111 << 20)
        ^ (0b111 << 36)
        ^ (0b111 << 52)
    )

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = [
        (0, signed(base), True),
        (1, signed(spread10), True),
        (2, signed(spread12), True),
    ]
    hdf = spark.createDataFrame(
        rows, "media_id long, dhash long, decodable boolean"
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_neardup_pairs(hdf, max_hamming=10).collect()
    }
    assert pairs == {(0, 1): 10}


def test_dhash128_pairs_recall_equals_all_pairs(spark):
    """128-bit dHash + the 32-bit wide-band pairing: the banded probe
    join must return EXACTLY the all-pairs 128-bit popcount truth —
    including a distance-10 pair whose differing bits spread 3/3/2/2
    across the four 32-bit bands (needs the radius-2 ball; exact-match
    banding drops it) — and a brightness-shifted copy must pair with
    its base over REAL decoded PNGs."""
    import numpy as np

    from heparchy_spark.operators.multimodal import (
        _png_encode,
        dhash128_neardup_pairs,
        image_dhash128,
    )

    rng = np.random.RandomState(13)
    base = rng.randint(0, 200, (32, 32, 3)).astype(np.uint8)
    shifted = np.clip(base.astype(np.int16) + 3, 0, 255).astype(np.uint8)
    other = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    rows = [
        (0, bytearray(_png_encode(base))),
        (1, bytearray(_png_encode(shifted))),
        (2, bytearray(_png_encode(other))),
        (3, bytearray(b"\x89PNG\r\n\x1a\x08header-only")),  # not a PNG
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hs = {r.media_id: r for r in image_dhash128(df).collect()}
    assert hs[3].decodable is False and hs[3].dhash_lo is None
    mask = (1 << 64) - 1

    def ham(a, b):
        return bin(((a.dhash_lo ^ b.dhash_lo) & mask)).count("1") + bin(
            ((a.dhash_hi ^ b.dhash_hi) & mask)
        ).count("1")

    assert ham(hs[0], hs[1]) <= 10 < ham(hs[0], hs[2])
    truth = {
        (a, b): ham(hs[a], hs[b])
        for a in (0, 1, 2)
        for b in (0, 1, 2)
        if a < b and ham(hs[a], hs[b]) <= 10
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash128_neardup_pairs(
            image_dhash128(df), max_hamming=10
        ).collect()
    }
    assert got == truth

    # synthetic codes: 3/2/3/2 band spread at d=10 (kept: best band has
    # 2 differing bits == the radius), d=12 at 3/3/3/3 (cut: no band
    # within radius AND above the verify threshold)
    b0 = 0x0123_4567_89AB_CDEF
    lo10 = b0 ^ 0b111 ^ (0b101 << 32)  # 3 bits band0, 2 bits band1
    hi10 = b0 ^ (0b1011 << 8) ^ (0b1001 << 40)  # 3 band2, 2 band3
    lo12 = b0 ^ (0b111 << 4) ^ (0b111 << 36)
    hi12 = b0 ^ (0b111 << 4) ^ (0b111 << 36)

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    hdf = spark.createDataFrame(
        [
            (0, signed(b0), signed(b0), True),
            (1, signed(lo10), signed(hi10), True),
            (2, signed(lo12), signed(hi12), True),
        ],
        "media_id long, dhash_lo long, dhash_hi long, decodable boolean",
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash128_neardup_pairs(hdf, max_hamming=10).collect()
    }
    assert pairs == {(0, 1): 10}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dhash128_neardup_pairs(hdf, max_hamming=12)


def test_phash128_band_widths_agree_on_adversarial_spread(spark):
    """The 16-bit-band calibration twin and the 32-bit production path
    are BOTH exact-recall by pigeonhole, so they must return the same
    pair set — pinned on codes whose differing bits are spread to
    stress each width's worst case: d=10 at 2 bits in every 16-bit
    band's first 10 bit-pairs (16-bit radius 1 survives only via the
    three empty bands; 32-bit radius 2 survives via band 3), and d=11
    (cut by the popcount verify in both)."""
    from heparchy_spark.operators.multimodal import phash128_neardup_pairs

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    b0 = 0x7EDC_BA98_7654_3210
    # d=10: 16-bit bands (within each word: nibble-groups of 16 bits)
    # carry 2/2/2/2 on lo and 2/0/0/0 on hi -> three empty 16-bit bands,
    # while the 32-bit view sees 4/4/2/0 (band at exactly radius 2)
    lo10 = b0 ^ 0b11 ^ (0b11 << 16) ^ (0b11 << 32) ^ (0b11 << 48)
    hi10 = b0 ^ (0b11 << 2)
    # d=11: 2/2/2/2 on lo and 2/1/0/0 on hi -> a 16-bit band within
    # radius 1 and a 32-bit band within radius 2 BOTH generate the
    # candidate, but the exact popcount verify cuts it at max_hamming=10
    hi11 = hi10 ^ (1 << 20)
    hdf = spark.createDataFrame(
        [
            (0, signed(b0), signed(b0), True),
            (1, signed(lo10), signed(hi10), True),
            (2, signed(lo10), signed(hi11), True),
        ],
        "media_id long, phash_lo long, phash_hi long, decodable boolean",
    )
    expect = {(0, 1): 10, (1, 2): 1}  # (0,2)=11 cut in both widths
    for band_bits in (16, 32):
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in phash128_neardup_pairs(
                hdf, max_hamming=10, band_bits=band_bits
            ).collect()
        }
        assert pairs == expect, band_bits


def test_audio_vad_finds_planted_burst(spark):
    """A WAV of silence + loud burst + silence must yield exactly one
    voiced segment covering the burst windows, with the mirror-exact
    RMS; silence-only and non-WAV payloads yield no rows."""
    import io
    import struct
    import wave

    import numpy as np

    from heparchy_spark.operators.multimodal import audio_vad_segments

    def wav(samples: np.ndarray) -> bytes:
        out = io.BytesIO()
        with wave.open(out, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.astype("<i2").tobytes())
        return out.getvalue()

    sig = np.zeros(320, dtype=np.int64)
    sig[:40] = 10          # faint noise floor
    sig[128:192] = 20000   # the burst: windows 16..23 at frame_len=8
    sig[280:] = 10
    rows = [
        (0, bytearray(wav(sig))),
        (1, bytearray(wav(np.zeros(160, dtype=np.int64)))),  # pure silence
        (2, bytearray(b"not a wav at all")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = audio_vad_segments(df, frame_len=8).collect()
    assert {r.media_id for r in out} == {0}
    assert len(out) == 1
    seg = out[0]
    assert (seg.start_window, seg.n_windows, seg.seg_idx) == (16, 8, 0)
    frames = sig.astype("float64") / 32768.0
    win = frames.reshape(40, 8)
    wrms = np.sqrt(np.mean(win * win, axis=1))
    assert seg.seg_rms == round(float(np.mean(wrms[16:24])), 6)


def test_image_phash_brightness_invariance_and_pairs(spark):
    """pHash over REAL decoded PNGs: a uniform non-clipping brightness
    shift moves ONLY the DC coefficient, so the hash is IDENTICAL
    (where dHash merely stays close); an unrelated image is far; the
    banded pairing over phash recovers the planted pair; non-pixel
    payloads are excluded."""
    import numpy as np

    from heparchy_spark.operators.multimodal import (
        _dct_basis,
        _phash64,
        _png_encode,
        dhash_neardup_pairs,
        image_phash,
    )

    rng = np.random.RandomState(13)
    base = rng.randint(0, 200, (32, 32, 3)).astype(np.uint8)
    shifted = (base.astype(np.int16) + 40).astype(np.uint8)  # no clip
    other = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    rows = [
        (0, bytearray(_png_encode(base))),
        (1, bytearray(_png_encode(shifted))),
        (2, bytearray(_png_encode(other))),
        (3, bytearray(b"\x89PNG\r\n\x1a\x08header-only")),  # not a PNG
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hs = {r.media_id: r for r in image_phash(df).collect()}
    assert hs[3].decodable is False and hs[3].phash is None
    # brightness shift: DC-only change -> bit-identical hash
    assert hs[0].phash == hs[1].phash

    mask = (1 << 64) - 1

    def ham(a, b):
        return bin((a ^ b) & mask).count("1")

    assert ham(hs[0].phash, hs[2].phash) > 8
    # the UDF agrees with the direct NumPy pipeline
    assert hs[0].phash == _phash64(base, _dct_basis(32))

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_neardup_pairs(
            image_phash(df), max_hamming=8, hash_col="phash"
        ).collect()
    }
    assert pairs == {(0, 1): 0}


def test_phash_banding_recovers_cross_band_spread(spark):
    """A pair whose differing bits spread across all four bands (the
    r6 dHash recall bug class) is still recovered at radius 8: two
    hand-built codes at Hamming 8, 2 bits per band."""
    import pyspark.sql.functions as F

    from heparchy_spark.operators.multimodal import dhash_neardup_pairs

    a = 0x0123456789ABCDEF
    flip = 0x0003000300030003  # 2 bits in each 16-bit band
    b = a ^ flip
    df = spark.createDataFrame(
        [(1, a, True), (2, b, True)],
        "media_id long, phash long, decodable boolean",
    )
    got = dhash_neardup_pairs(df, max_hamming=8, hash_col="phash").collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 8)]


def test_audio_spectral_profile_planted_tone(spark):
    """A pure tone at rFFT bin 4 of a 64-sample window concentrates all
    power in band 0 and puts the centroid exactly at 4.0; a bin-20
    tone lands in band 2 with centroid 20.0; short or non-WAV payloads
    emit no rows; a stereo payload mono-mixes before the FFT."""
    import io
    import wave

    import numpy as np

    from heparchy_spark.operators.multimodal import audio_spectral_profile

    def wav(samples: np.ndarray, channels: int = 1) -> bytes:
        out = io.BytesIO()
        with wave.open(out, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.astype("<i2").tobytes())
        return out.getvalue()

    t = np.arange(256, dtype="float64")
    low = (10000 * np.sin(2 * np.pi * 4 * t / 64)).astype(np.int64)
    high = (10000 * np.sin(2 * np.pi * 20 * t / 64)).astype(np.int64)
    # stereo: left = tone, right = -tone -> mono mix is silence
    stereo = np.empty(512, dtype=np.int64)
    stereo[0::2] = low
    stereo[1::2] = -low
    rows = [
        (0, bytearray(wav(low))),
        (1, bytearray(wav(high))),
        (2, bytearray(wav(low[:32]))),      # shorter than one window
        (3, bytearray(b"not a wav")),
        (4, bytearray(wav(stereo, channels=2))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in audio_spectral_profile(df, window=64).collect()}
    assert set(got) == {0, 1, 4}
    assert got[0].n_windows == 4 and got[1].n_windows == 4
    # bin 4 lives in band 0 (bins 1-8); bin 20 in band 2 (bins 17-24)
    assert got[0].b0_power > 1000 * max(
        got[0].b1_power, got[0].b2_power, got[0].b3_power
    )
    assert got[1].b2_power > 1000 * max(
        got[1].b0_power, got[1].b1_power, got[1].b3_power
    )
    assert abs(got[0].centroid_bin - 4.0) < 1e-6
    assert abs(got[1].centroid_bin - 20.0) < 1e-6
    # anti-phase stereo mono-mixes to (near-)silence: centroid from the
    # rounding residue only, all band powers ~0
    assert got[4].b0_power < 1e-6 and got[4].b2_power < 1e-6


def test_image_gradient_energy_flat_vs_structured(spark):
    """A solid-color image scores exactly 0 gradient energy, a
    checkerboard scores the maximum (255 at every neighbor step), a
    ramp scores its exact step size, and non-pixel payloads come back
    decodable=false with null energy."""
    import numpy as np

    from heparchy_spark.operators.multimodal import (
        _png_encode,
        image_gradient_energy,
    )

    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    checker = (255 * ((np.arange(8)[:, None] + np.arange(8)[None, :]) % 2))
    checker = np.repeat(checker.astype(np.uint8)[:, :, None], 3, axis=2)
    ramp = np.tile((np.arange(8, dtype=np.uint8) * 10)[None, :, None], (8, 1, 3))
    rows = [
        (0, bytearray(_png_encode(flat))),
        (1, bytearray(_png_encode(checker))),
        (2, bytearray(_png_encode(ramp))),
        (3, bytearray(b"no pixels here")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in image_gradient_energy(df).collect()}
    assert got[3].decodable is False and got[3].grad_energy is None
    assert got[0].grad_energy == 0.0
    assert got[1].grad_energy == 255.0
    # ramp: horizontal steps of 10 (56 positions), vertical 0 (56)
    assert abs(got[2].grad_energy - 10 * 56 / 112) < 1e-12
    assert got[0].n_pixels == 64
