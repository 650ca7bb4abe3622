"""Multimodal plumbing: binary payload column, Arrow-batched extraction,
real stdlib codecs (PPM/BMP/WAV) + explicit compressed-format boundary."""

from __future__ import annotations

import hashlib

import pytest

from kafkastreamingetl_spark.operators.multimodal import (
    _fake_decode,
    decode_image,
    extract_features,
    resize_payloads,
    sample_frames,
    with_binary_payload,
)


def test_corrupt_signatures_return_none_not_crash():
    """A JPEG or PNG signature over garbage parses-and-fails to None like
    any other corrupt payload — round 15 retired the last
    NotImplementedError (baseline JPEG decodes for real below)."""
    assert decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 32) is None
    assert decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32) is None


# ---------------------------------------------------------------------------
# Real stdlib codecs (round 13): PPM / BMP / WAV on planted payloads
# ---------------------------------------------------------------------------


def _ppm(width, height, pixels, comment=False):
    head = b"P6\n"
    if comment:
        head += b"# planted comment\n"
    head += b"%d %d\n255\n" % (width, height)
    return head + bytes(pixels)


def _bmp24(width, height, rows_top_down):
    """24-bit BI_RGB BMP, BOTTOM-UP storage (positive height), from
    top-down (r, g, b) row lists — the orientation trap decode must undo."""
    import struct

    stride = (width * 3 + 3) & ~3
    body = b""
    for row in reversed(rows_top_down):  # file stores bottom row first
        line = b"".join(bytes((b, g, r)) for (r, g, b) in row)  # BGR
        body += line + b"\x00" * (stride - len(line))
    pixel_offset = 14 + 40
    size = pixel_offset + len(body)
    return (
        b"BM" + struct.pack("<IHHI", size, 0, 0, pixel_offset)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(body), 2835, 2835, 0, 0)
        + body
    )


def _wav16(sample_rate, samples):
    import struct

    data = struct.pack("<%dh" % len(samples), *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_ppm_decode_known_pixels():
    # 2x2: red, green / blue, white — with a header comment
    px = [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    d = decode_image(_ppm(2, 2, px, comment=True))
    assert (d["format"], d["width"], d["height"]) == ("ppm", 2, 2)
    assert d["px00"] == (255, 0, 0)
    assert abs(d["mean_r"] - (255 + 255) / 4) < 1e-9
    assert abs(d["mean_g"] - (255 + 255) / 4) < 1e-9
    assert abs(d["mean_b"] - (255 + 255) / 4) < 1e-9


def test_ppm_truncated_pixels_returns_none():
    assert decode_image(_ppm(4, 4, [0] * 10)) is None
    assert decode_image(b"P6\n0 2\n255\n") is None


def test_bmp_decode_undoes_bottom_up_and_bgr():
    # 3x2 top-down rows; stride padding exercised (3*3=9 -> 12 bytes/row)
    top = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    bottom = [(10, 20, 30), (40, 50, 60), (70, 80, 90)]
    d = decode_image(_bmp24(3, 2, [top, bottom]))
    assert (d["format"], d["width"], d["height"]) == ("bmp", 3, 2)
    # px00 must be the TOP-LEFT pixel in RGB despite bottom-up BGR storage
    assert d["px00"] == (255, 0, 0)
    assert abs(d["mean_r"] - (255 + 10 + 40 + 70) / 6) < 1e-9
    assert abs(d["mean_b"] - (255 + 30 + 60 + 90) / 6) < 1e-9


def test_bmp_compressed_or_wrong_depth_returns_none():
    import struct

    raw = bytearray(_bmp24(2, 2, [[(0, 0, 0)] * 2] * 2))
    struct.pack_into("<H", raw, 28, 8)  # biBitCount = 8
    assert decode_image(bytes(raw)) is None
    raw = bytearray(_bmp24(2, 2, [[(0, 0, 0)] * 2] * 2))
    struct.pack_into("<I", raw, 30, 1)  # biCompression = BI_RLE8
    assert decode_image(bytes(raw)) is None


def test_wav_decode_known_samples():
    from kafkastreamingetl_spark.operators.multimodal import decode_audio

    d = decode_audio(_wav16(8000, [0, 1000, -1000, 500]))
    assert (d["format"], d["n_channels"], d["sample_rate"], d["bits"]) == (
        "wav", 1, 8000, 16,
    )
    assert d["n_samples"] == 4
    assert d["duration_ms"] == (4 * 1000) // 8000
    assert abs(d["mean_abs_amplitude"] - (0 + 1000 + 1000 + 500) / 4) < 1e-9


def test_wav_garbage_returns_none():
    from kafkastreamingetl_spark.operators.multimodal import decode_audio

    assert decode_audio(b"RIFFxxxxNOPE") is None
    assert decode_audio(b"not audio at all") is None
    # float32 WAV (audioFormat=3) is a compressed-adjacent out-of-scope
    import struct

    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    bad = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    assert decode_audio(bad) is None


def test_decode_features_spark_lane_matches_local_decoder(spark):
    """The mapInPandas lane must agree with the plain-Python decoder on
    every planted payload class: decodable PPM, decodable BMP, garbage,
    NULL — and never fail the task on the undecodable ones."""
    from kafkastreamingetl_spark.operators.multimodal import (
        decode_audio_features,
        decode_image_features,
    )

    px = [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    jpeg_px = [[(90, 160, 40)] * 8 for _ in range(8)]
    payloads = [
        (1, _ppm(2, 2, px)),
        (2, _bmp24(3, 2, [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
                          [(10, 20, 30), (40, 50, 60), (70, 80, 90)]])),
        (3, b"not an image"),
        (4, None),
        (5, _jpeg(8, 8, jpeg_px)),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_image_features(df).collect()}
    ref1 = decode_image(payloads[0][1])
    assert got[1].format == "ppm" and got[1].width == 2
    assert abs(got[1].mean_r - ref1["mean_r"]) < 1e-9
    assert got[1].px00_rgb == "ff0000"
    assert got[2].format == "bmp" and got[2].px00_rgb == "ff0000"
    assert got[3].format is None and got[3].width is None
    assert got[4].format is None
    ref5 = decode_image(payloads[4][1])
    assert got[5].format == "jpeg" and got[5].width == 8
    assert abs(got[5].mean_g - ref5["mean_g"]) < 1e-9
    assert got[5].px00_rgb == "%02x%02x%02x" % ref5["px00"]

    wav_rows = [(1, _wav16(16000, [100, -200, 300])), (2, b"junk"), (3, None)]
    adf = spark.createDataFrame(wav_rows, "doc_id long, payload binary")
    agot = {r.doc_id: r for r in decode_audio_features(adf).collect()}
    assert agot[1].sample_rate == 16000 and agot[1].n_samples == 3
    assert abs(agot[1].mean_abs_amplitude - 200.0) < 1e-9
    assert agot[2].format is None and agot[3].format is None


def test_extract_features_binary_path(spark):
    rows = [(1, "hello world"), (2, "café bytes")]  # non-ASCII exercised
    df = with_binary_payload(spark.createDataFrame(rows, ["doc_id", "text"]))
    assert dict(df.dtypes)["payload"] == "binary"
    got = {r.doc_id: r for r in extract_features(df).collect()}
    for doc_id, text in rows:
        raw = text.encode("utf-8")
        digest = hashlib.md5(raw).hexdigest()
        r = got[doc_id]
        assert r.n_bytes == len(raw)  # bytes, not chars (café: 10 vs 9)
        assert r.content_md5 == digest
        assert (r.fake_width, r.fake_height) == _fake_decode(digest)


def test_resize_is_one_to_one_and_bounded(spark):
    rows = [(1, "x" * 100), (2, "short")]
    df = with_binary_payload(spark.createDataFrame(rows, ["doc_id", "text"]))
    got = {r.doc_id: r for r in resize_payloads(df, target_bytes=64).collect()}
    assert len(got) == 2  # 1:1 contract
    assert got[1].n_bytes_in == 100 and got[1].n_bytes_out == 64
    assert bytes(got[1].payload_resized) == b"x" * 64
    assert got[2].n_bytes_out == 5  # shorter than target: untouched
    assert bytes(got[2].payload_resized) == b"short"


def test_frame_sampling_stride_and_indices(spark):
    # 100 bytes -> 4 frames of 32 (last partial); stride 2 keeps idx 0, 2
    df = with_binary_payload(
        spark.createDataFrame([(1, "ab" * 50)], ["doc_id", "text"])
    )
    got = sorted(
        sample_frames(df, frame_bytes=32, stride=2).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in got] == [0, 2]
    assert all(r.n_frames_total == 4 for r in got)
    assert len(bytes(got[0].frame_bytes)) == 32
    assert len(bytes(got[1].frame_bytes)) == 32
    assert bytes(got[1].frame_bytes) == ("ab" * 50).encode()[64:96]


def test_null_payload_propagates_not_crashes(spark):
    """A null binary cell must propagate as null features / null resize
    output and contribute zero frames — bytes(None) in the worker would
    otherwise fail the whole task."""
    from kafkastreamingetl_spark.operators.multimodal import (
        extract_features,
        resize_payloads,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, b"hello world"), (2, None)], "doc_id long, payload binary"
    )
    feats = {r.doc_id: r for r in extract_features(df).collect()}
    assert feats[1].content_md5 is not None
    assert feats[2].content_md5 is None and feats[2].n_bytes is None

    rs = {r.doc_id: r for r in resize_payloads(df).collect()}
    assert rs[1].payload_resized is not None
    assert rs[2].payload_resized is None and rs[2].n_bytes_in is None

    frames = sample_frames(df).collect()
    assert all(r.doc_id == 1 for r in frames)
    assert len(frames) > 0


def test_arrow_lane_accepts_non_bigint_ids(spark):
    """An int32 id column must not break the Arrow-batched feature lane:
    _slim casts ids to bigint JVM-side so the lane sees the declared
    schema."""
    from kafkastreamingetl_spark.operators.multimodal import (
        extract_features,
        with_binary_payload,
    )

    docs = spark.createDataFrame(
        [(1, "abc"), (2, "def")], "doc_id int, text string"
    )
    rows = extract_features(with_binary_payload(docs)).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert all(r.n_bytes == 3 for r in rows)


def test_bmp_top_down_negative_height():
    """biHeight < 0 = top-down storage: px00 must come from the FIRST
    stored row and means must be identical to the bottom-up twin."""
    import struct

    top = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    bottom = [(10, 20, 30), (40, 50, 60), (70, 80, 90)]
    raw = bytearray(_bmp24(3, 2, [top, bottom]))
    # flip to top-down: negate height and reorder rows to top-first
    struct.pack_into("<i", raw, 22, -2)
    stride = 12
    off = 54
    rows = bytes(raw[off : off + stride]), bytes(raw[off + stride : off + 2 * stride])
    raw[off : off + stride] = rows[1]          # top row stored first now
    raw[off + stride : off + 2 * stride] = rows[0]
    d_td = decode_image(bytes(raw))
    d_bu = decode_image(_bmp24(3, 2, [top, bottom]))
    assert d_td["px00"] == d_bu["px00"] == (255, 0, 0)
    for k in ("mean_r", "mean_g", "mean_b", "width", "height"):
        assert d_td[k] == d_bu[k], k


def test_wav_stereo_and_8bit():
    import struct

    from kafkastreamingetl_spark.operators.multimodal import decode_audio

    # stereo 16-bit: 2 frames of (L, R) — n_samples counts FRAMES
    data = struct.pack("<4h", 100, -100, 300, -300)
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    d = decode_audio(wav)
    assert d["n_channels"] == 2 and d["n_samples"] == 2
    assert abs(d["mean_abs_amplitude"] - 200.0) < 1e-9

    # 8-bit mono: unsigned with 128 offset
    data8 = bytes([128, 138, 118, 128])
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav8 = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt8) + 8 + len(data8))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
        + b"data" + struct.pack("<I", len(data8)) + data8
    )
    d8 = decode_audio(wav8)
    assert d8["bits"] == 8 and d8["n_samples"] == 4
    assert abs(d8["mean_abs_amplitude"] - 5.0) < 1e-9


def _png(width, height, rows_top_down, *, alpha=False, filters=None,
         bit_depth=8, color_type=None, interlace=0, split_idat=True):
    """Planted PNG: per-row filter ENCODE (the inverse of the decoder's
    unfilter, PNG spec §9), zlib-deflated scanlines, proper CRCs.
    ``filters[y]`` picks each row's filter so one payload can exercise
    all five unfilter paths."""
    import struct
    import zlib

    n_ch = 4 if alpha else 3
    ct = color_type if color_type is not None else (6 if alpha else 2)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, ct, 0, 0,
                       interlace)
    stride = width * n_ch
    raw = bytearray()
    prev = bytes(stride)
    filters = filters or [0] * height
    for y, row in enumerate(rows_top_down):
        line = bytes(v for px in row for v in px)
        f = filters[y]
        enc = bytearray(line)
        if f == 1:
            for i in range(stride - 1, n_ch - 1, -1):
                enc[i] = (enc[i] - line[i - n_ch]) & 0xFF
        elif f == 2:
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                a = line[i - n_ch] if i >= n_ch else 0
                enc[i] = (enc[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = line[i - n_ch] if i >= n_ch else 0
                b = prev[i]
                c = prev[i - n_ch] if i >= n_ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc)
        prev = line
    idat = zlib.compress(bytes(raw))
    mid = len(idat) // 2 if split_idat else len(idat)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    out += chunk(b"IDAT", idat[:mid])
    if split_idat:
        out += chunk(b"IDAT", idat[mid:])
    return out + chunk(b"IEND", b"")


def test_png_decode_exercises_all_five_filters():
    """One 3×5 RGB payload, one row per filter type (None/Sub/Up/Average/
    Paeth) + IDAT split across two chunks: decode must undo every filter
    and reassemble the stream."""
    import random

    rng = random.Random(14)
    px = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(3)] for _ in range(5)]
    d = decode_image(_png(3, 5, px, filters=[0, 1, 2, 3, 4]))
    assert (d["format"], d["width"], d["height"]) == ("png", 3, 5)
    assert d["px00"] == px[0][0]
    n = 15
    assert abs(d["mean_r"] - sum(p[0] for r in px for p in r) / n) < 1e-9
    assert abs(d["mean_g"] - sum(p[1] for r in px for p in r) / n) < 1e-9
    assert abs(d["mean_b"] - sum(p[2] for r in px for p in r) / n) < 1e-9


def test_png_rgba_alpha_ignored_in_rgb_stats():
    px = [[(10, 20, 30, 255), (40, 50, 60, 0)],
          [(70, 80, 90, 128), (100, 110, 120, 7)]]
    d = decode_image(_png(2, 2, px, alpha=True, filters=[0, 4]))
    assert (d["format"], d["width"], d["height"]) == ("png", 2, 2)
    assert d["px00"] == (10, 20, 30)
    assert abs(d["mean_r"] - (10 + 40 + 70 + 100) / 4) < 1e-9
    assert abs(d["mean_b"] - (30 + 60 + 90 + 120) / 4) < 1e-9


def test_png_agrees_with_bmp_and_ppm_on_identical_pixels():
    """The three decoders are independent code paths over the same pixel
    semantics — identical planted pixels must yield identical stats."""
    import random

    rng = random.Random(99)
    px = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(4)] for _ in range(3)]
    flat = [c for row in px for p in row for c in p]
    d_png = decode_image(_png(4, 3, px, filters=[2, 3, 1]))
    d_ppm = decode_image(_ppm(4, 3, flat))
    d_bmp = decode_image(_bmp24(4, 3, px))
    for k in ("width", "height", "mean_r", "mean_g", "mean_b", "px00"):
        assert d_png[k] == d_ppm[k] == d_bmp[k], k


def test_png_unsupported_variants_return_none():
    """Palette / 16-bit / Adam7 / truncated / corrupt-deflate payloads are
    data-quality facts (None), not task failures — same contract as the
    compressed-BMP branch."""
    px = [[(1, 2, 3)]]
    assert decode_image(_png(1, 1, px, bit_depth=16)) is None
    assert decode_image(_png(1, 1, px, interlace=1)) is None
    assert decode_image(_png(1, 1, px, color_type=3)) is None
    good = _png(2, 2, [[(0, 0, 0)] * 2] * 2, split_idat=False)
    assert decode_image(good[:-30]) is None  # truncated mid-IDAT
    # corrupt the deflate stream body (IHDR is 8+25 bytes in)
    bad = bytearray(good)
    bad[8 + 25 + 8 + 2] ^= 0xFF
    assert decode_image(bytes(bad)) is None


def test_codec_property_roundtrip_random_images():
    """Property check (seeded, no hypothesis dependency churn): random
    small PPM and BMP payloads decode to exactly the planted dimensions,
    means, and top-left pixel."""
    import random

    rng = random.Random(1313)
    for trial in range(25):
        w, h = rng.randint(1, 9), rng.randint(1, 7)
        px = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
               for _ in range(w)] for _ in range(h)]
        flat = [c for row in px for p in row for c in p]
        want_r = sum(p[0] for row in px for p in row) / (w * h)
        want_b = sum(p[2] for row in px for p in row) / (w * h)

        d = decode_image(_ppm(w, h, flat, comment=trial % 2 == 0))
        assert (d["width"], d["height"]) == (w, h)
        assert abs(d["mean_r"] - want_r) < 1e-9
        assert d["px00"] == px[0][0]

        d2 = decode_image(_bmp24(w, h, px))
        assert (d2["width"], d2["height"]) == (w, h)
        assert abs(d2["mean_b"] - want_b) < 1e-9
        assert d2["px00"] == px[0][0]
        assert abs(d2["mean_r"] - d["mean_r"]) < 1e-9

        d3 = decode_image(
            _png(w, h, px, filters=[rng.randrange(5) for _ in range(h)],
                 alpha=False)
        )
        assert (d3["width"], d3["height"]) == (w, h)
        assert abs(d3["mean_r"] - d["mean_r"]) < 1e-9
        assert abs(d3["mean_b"] - want_b) < 1e-9
        assert d3["px00"] == px[0][0]

        # lossy leg: q=1 JPEG round trip, tolerance not exactness, every
        # subsampling mode exercised across the trials
        sub = ((1, 1), (2, 1), (2, 2))[trial % 3]
        d4 = decode_image(_jpeg(w, h, px, subsample=sub))
        assert (d4["format"], d4["width"], d4["height"]) == ("jpeg", w, h)
        if sub == (1, 1):
            # full-res chroma: per-pixel error is just DCT+color rounding
            assert all(
                abs(a - b) <= 4 for a, b in zip(d4["px00"], px[0][0])
            )
        # means survive chroma box-averaging even on noise (averaging is
        # mean-preserving up to edge clamping): tight on every mode
        assert abs(d4["mean_r"] - want_r) <= 4


# ---------------------------------------------------------------------------
# Baseline JPEG (round 15): planted-payload encoder (T.81 Annex K tables,
# all-ones quant) differential against the stdlib decoder
# ---------------------------------------------------------------------------

# Standard Huffman tables from T.81 Annex K.3 — public spec constants.
_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
           list(range(12)))
_AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
])
_AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
])


def _zigzag_diagonal_walk():
    """Independent derivation of the zigzag scan order (anti-diagonal
    walk) — transcription-error check against the module constant."""
    order = []
    for s in range(15):
        rows = list(range(max(0, s - 7), min(s, 7) + 1))
        for r in (rows if s % 2 == 1 else reversed(rows)):
            order.append(r * 8 + (s - r))
    return order


_ZZ = _zigzag_diagonal_walk()


def _enc_huff(counts, symbols):
    """symbol -> (code, length), canonical assignment (T.81 Annex C)."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[symbols[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return table


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code, length):
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1s


def _fdct_quant1(samples):
    """Level-shift + float FDCT + round (quant all ones), raster in,
    zigzag out. Textbook DCT-II — independent of the decoder's basis."""
    import math

    shifted = [s - 128 for s in samples]
    F = []
    for v in range(8):
        cv = 1 / math.sqrt(2) if v == 0 else 1.0
        for u in range(8):
            cu = 1 / math.sqrt(2) if u == 0 else 1.0
            acc = 0.0
            for y in range(8):
                for x in range(8):
                    acc += (
                        shifted[y * 8 + x]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            F.append(int(round(acc * cu * cv / 4.0)))
    return [F[i] for i in _ZZ]


def _enc_block(bw, zz, pred, dc_tab, ac_tab):
    diff = zz[0] - pred
    s = abs(diff).bit_length()
    code, ln = dc_tab[s]
    bw.put(code, ln)
    if s:
        bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
    run = 0
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]
            bw.put(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_tab[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]
        bw.put(code, ln)
    return zz[0]


def _plane_block(plane, pw, ph, ox, oy):
    """8x8 raster samples at (ox, oy), edge-replicated beyond bounds."""
    return [
        plane[min(oy + y, ph - 1) * pw + min(ox + x, pw - 1)]
        for y in range(8)
        for x in range(8)
    ]


def _jpeg(width, height, rows_top_down, *, gray=False, subsample=(1, 1),
          restart=0):
    """Planted baseline JPEG: all-ones quant tables, Annex K Huffman
    tables, luma sampling = ``subsample`` ((1,1)=4:4:4, (2,1)=4:2:2,
    (2,2)=4:2:0; chroma 1x1 box-averaged), optional restart interval."""
    import struct

    hs, vs = (1, 1) if gray else subsample
    # full-res Y/Cb/Cr planes from the planted RGB
    Y, Cb, Cr = [], [], []
    for row in rows_top_down:
        for (r, g, b) in row:
            Y.append(min(255, max(0, round(0.299 * r + 0.587 * g + 0.114 * b))))
            Cb.append(min(255, max(0, round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b))))
            Cr.append(min(255, max(0, round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b))))
    cw, chh = -(-width // hs), -(-height // vs)
    if not gray and (hs, vs) != (1, 1):
        # chroma box-average with edge clamp
        def down(plane):
            out = []
            for cy in range(chh):
                for cx in range(cw):
                    acc = n = 0
                    for dy in range(vs):
                        for dx in range(hs):
                            x, y = cx * hs + dx, cy * vs + dy
                            if x < width and y < height:
                                acc += plane[y * width + x]
                                n += 1
                    out.append(round(acc / n))
            return out
        Cb, Cr = down(Cb), down(Cr)

    mcux, mcuy = -(-width // (8 * hs)), -(-height // (8 * vs))
    dc_l, ac_l = _enc_huff(*_DC_LUM), _enc_huff(*_AC_LUM)
    dc_c, ac_c = _enc_huff(*_DC_CHR), _enc_huff(*_AC_CHR)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # DQT 0: all ones
    if not gray:
        out += seg(0xDB, bytes([0x01]) + bytes([1] * 64))
    for tc_th, (counts, syms) in (
        ((0x00, _DC_LUM), (0x10, _AC_LUM)) if gray
        else ((0x00, _DC_LUM), (0x10, _AC_LUM), (0x01, _DC_CHR),
              (0x11, _AC_CHR))
    ):
        out += seg(0xC4, bytes([tc_th]) + bytes(counts) + bytes(syms))
    if restart:
        out += seg(0xDD, struct.pack(">H", restart))
    if gray:
        sof = bytes([8]) + struct.pack(">HH", height, width) + bytes(
            [1, 1, 0x11, 0]
        )
        sos_comps = bytes([1, 1, 0x00])
    else:
        sof = bytes([8]) + struct.pack(">HH", height, width) + bytes(
            [3, 1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1]
        )
        sos_comps = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11])
    out += seg(0xC0, sof)
    out += seg(0xDA, sos_comps + bytes([0, 63, 0]))

    comps = [(Y, width, height, hs, vs, dc_l, ac_l)]
    if not gray:
        if (hs, vs) == (1, 1):
            comps += [(Cb, width, height, 1, 1, dc_c, ac_c),
                      (Cr, width, height, 1, 1, dc_c, ac_c)]
        else:
            comps += [(Cb, cw, chh, 1, 1, dc_c, ac_c),
                      (Cr, cw, chh, 1, 1, dc_c, ac_c)]

    bw = _JpegBitWriter()
    preds = [0] * len(comps)
    rst = 0
    total = mcux * mcuy
    for mcu in range(total):
        if restart and mcu and mcu % restart == 0:
            bw.flush()
            out += bw.out
            bw = _JpegBitWriter()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcux)
        for ci, (plane, pw, ph, ch, cv, dct, act) in enumerate(comps):
            for by in range(cv):
                for bx in range(ch):
                    block = _plane_block(
                        plane, pw, ph, (mx * ch + bx) * 8, (my * cv + by) * 8
                    )
                    preds[ci] = _enc_block(
                        bw, _fdct_quant1(block), preds[ci], dct, act
                    )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_zigzag_constant_matches_diagonal_walk():
    from kafkastreamingetl_spark.operators.multimodal import _JPEG_ZIGZAG

    assert list(_JPEG_ZIGZAG) == _ZZ
    assert sorted(_JPEG_ZIGZAG) == list(range(64))


def test_jpeg_flat_color_roundtrips_within_rounding():
    """Flat color -> DC-only blocks: the q=1 DCT round-trip is exact and
    only the YCbCr<->RGB integer rounding remains (<=2 per channel)."""
    px = [[(200, 60, 120)] * 16 for _ in range(8)]
    d = decode_image(_jpeg(16, 8, px))
    assert d["format"] == "jpeg"
    assert (d["width"], d["height"]) == (16, 8)
    for got, want in zip(d["px00"], (200, 60, 120)):
        assert abs(got - want) <= 2
    for mean, want in ((d["mean_r"], 200), (d["mean_g"], 60),
                       (d["mean_b"], 120)):
        assert abs(mean - want) <= 2


def test_jpeg_444_random_pixels_close_everywhere():
    """4:4:4 q=1: per-pixel error budget = DCT rounding (~+-2) + color
    rounding (~+-2). Random (worst-case spectral) content, non-multiple-
    of-8 dims to exercise edge-replication padding."""
    import random

    rng = random.Random(15)
    w, h = 13, 11
    px = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(w)] for _ in range(h)]
    d = decode_image(_jpeg(w, h, px))
    assert (d["width"], d["height"]) == (w, h)
    for got, want in zip(d["px00"], px[0][0]):
        assert abs(got - want) <= 8
    for mean, ch in ((d["mean_r"], 0), (d["mean_g"], 1), (d["mean_b"], 2)):
        want = sum(p[ch] for row in px for p in row) / (w * h)
        assert abs(mean - want) <= 3


def test_jpeg_420_subsampling_with_restart_markers():
    """4:2:0 with DRI=1 (a restart marker after every MCU): two flat
    16px-aligned color bands, 20x13 canvas (exercises MCU padding on
    both axes and chroma that never straddles a band)."""
    left, right = (40, 180, 90), (220, 30, 160)
    px = [[left] * 16 + [right] * 4 for _ in range(13)]
    d = decode_image(_jpeg(20, 13, px, subsample=(2, 2), restart=1))
    assert (d["width"], d["height"]) == (20, 13)
    for got, want in zip(d["px00"], left):
        assert abs(got - want) <= 3
    for mean, ch in ((d["mean_r"], 0), (d["mean_g"], 1), (d["mean_b"], 2)):
        want = (16 * left[ch] + 4 * right[ch]) / 20
        assert abs(mean - want) <= 4


def test_jpeg_422_subsampling():
    px = [[(10, 250, 125)] * 10 for _ in range(6)]
    d = decode_image(_jpeg(10, 6, px, subsample=(2, 1)))
    assert (d["width"], d["height"]) == (10, 6)
    for got, want in zip(d["px00"], (10, 250, 125)):
        assert abs(got - want) <= 3


def test_jpeg_grayscale_single_component():
    """1-component scan: r=g=b=Y; a horizontal ramp catches block-grid
    or orientation mistakes the flat cases cannot."""
    w, h = 9, 5
    px = [[(x * 28, x * 28, x * 28) for x in range(w)] for _ in range(h)]
    d = decode_image(_jpeg(w, h, px, gray=True))
    assert (d["width"], d["height"]) == (w, h)
    assert d["mean_r"] == d["mean_g"] == d["mean_b"]
    for got, want in zip(d["px00"], px[0][0]):
        assert abs(got - want) <= 3
    want_mean = sum(p[0] for row in px for p in row) / (w * h)
    assert abs(d["mean_r"] - want_mean) <= 3


def test_jpeg_agrees_with_png_on_identical_pixels():
    """Cross-codec differential: the same planted pixels through the
    lossless PNG path and the q=1 JPEG path must give near-identical
    stats — catches any systematic bias (orientation, channel swap,
    level shift) in either codec."""
    import random

    rng = random.Random(151)
    w, h = 8, 8
    px = [[(rng.randrange(256),) * 3 for _ in range(w)] for _ in range(h)]
    d_png = decode_image(_png(w, h, px))
    d_jpg = decode_image(_jpeg(w, h, px))
    assert abs(d_png["mean_r"] - d_jpg["mean_r"]) <= 2
    assert abs(d_png["mean_b"] - d_jpg["mean_b"]) <= 2
    assert all(abs(a - b) <= 6 for a, b in zip(d_png["px00"], d_jpg["px00"]))


def test_jpeg_unsupported_variants_and_truncation_return_none():
    import struct

    px = [[(100, 150, 200)] * 8 for _ in range(8)]
    good = _jpeg(8, 8, px)
    assert decode_image(good) is not None
    # truncated mid-entropy-data
    assert decode_image(good[: len(good) // 2]) is None
    # progressive (SOF2) rejected
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_image(prog) is None
    # 12-bit precision rejected: patch SOF precision byte
    idx = good.index(b"\xff\xc0")
    twelve = good[: idx + 4] + bytes([12]) + good[idx + 5 :]
    assert decode_image(twelve) is None
    # restart interval declared but markers absent -> truncated -> None
    # (needs a MULTI-MCU image: a single-MCU scan never reaches an
    # interval boundary, so DRI=1 there is legitimately marker-free)
    big = _jpeg(16, 16, [[(100, 150, 200)] * 16 for _ in range(16)])
    assert decode_image(big) is not None
    dri = big[:2] + struct.pack(">BBHH", 0xFF, 0xDD, 4, 1) + big[2:]
    assert decode_image(dri) is None
