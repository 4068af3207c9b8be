"""Binary-payload decoders (BMP / PPM / PNG / GIF / WAV-PCM / MP3
metadata). These tests pin the decoders against HANDCRAFTED byte
fixtures (independent of the module's own encoders), the closed-form
sums of those encoders, and the fail-closed quarantine paths."""

from __future__ import annotations

import struct

from beholder_spark.operators import multimodal as mm


def _bmp_2x1() -> bytes:
    # handcrafted 2x1 24-bit BMP: pixel(0,0)=BGR(1,2,3), pixel(1,0)=BGR(4,5,6)
    raster = bytes([1, 2, 3, 4, 5, 6, 0, 0])  # row padded to 8 bytes
    return (
        b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
        + raster
    )


def test_bmp_decode_handcrafted_bytes():
    w, h, fmt, sr, sg, sb, ok = mm.decode_bmp_bytes(_bmp_2x1())
    assert (w, h, fmt, ok) == (2, 1, "bmp24", True)
    assert (sr, sg, sb) == (3 + 6, 2 + 5, 1 + 4)  # stored BGR → logical RGB


def test_bmp_decode_top_down_and_failures():
    # top-down variant (negative height) decodes identically
    b = bytearray(_bmp_2x1())
    b[22:26] = struct.pack("<i", -1)
    assert mm.decode_bmp_bytes(bytes(b))[:2] == (2, 1)
    # fail-closed: wrong magic, truncation, unsupported bpp/compression
    assert mm.decode_bmp_bytes(b"XX" + _bmp_2x1()[2:])[-1] is False
    assert mm.decode_bmp_bytes(_bmp_2x1()[:-3])[-1] is False
    bpp8 = bytearray(_bmp_2x1())
    bpp8[28:30] = struct.pack("<H", 8)
    assert mm.decode_bmp_bytes(bytes(bpp8))[-1] is False
    # fail-closed: data offset pointing INTO the headers must not decode
    # header bytes as raster with parse_ok=True
    hdr_off = bytearray(_bmp_2x1())
    hdr_off[10:14] = struct.pack("<I", 40)
    assert mm.decode_bmp_bytes(bytes(hdr_off) + bytes(64))[-1] is False
    assert mm.decode_image_bytes(b"\x89PNG\r\n")[-1] is False  # truncated PNG signature


def test_ppm_decode_handcrafted_bytes():
    ppm = b"P6\n# comment\n2 2\n255\n" + bytes(range(12))
    w, h, fmt, sr, sg, sb, ok = mm.decode_ppm_bytes(ppm)
    assert (w, h, fmt, ok) == (2, 2, "ppm", True)
    assert (sr, sg, sb) == (0 + 3 + 6 + 9, 1 + 4 + 7 + 10, 2 + 5 + 8 + 11)
    assert mm.decode_ppm_bytes(b"P6\n2 2\n255\n" + bytes(5))[-1] is False  # truncated
    assert mm.decode_ppm_bytes(b"P6\n2 2\n65535\n" + bytes(24))[-1] is False  # 16-bit maxval


def test_wav_decode_stereo_and_failures():
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(44100)
        wf.writeframes(struct.pack("<6h", 10, -10, 20, -20, 5, 5))
    nch, rate, n, total, ok = mm.decode_wav_bytes(buf.getvalue())
    assert (nch, rate, n, total, ok) == (2, 44100, 3, 10, True)
    assert mm.decode_wav_bytes(b"RIFFjunk")[-1] is False
    # 8-bit PCM: parses as WAV but violates the 16-bit SPEC → fail-closed
    b8 = io.BytesIO()
    with wave.open(b8, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(bytes(4))
    assert mm.decode_wav_bytes(b8.getvalue())[-1] is False


def test_decode_image_spark_path_quarantines_mixed_batch(spark):
    """Spark-side decode over a mixed batch: valid BMP rows decode, junk
    rows quarantine with parse_ok False — one Arrow pass, no poison."""
    rows = [
        (1, bytearray(mm.make_bmp_bytes(4, 3, 9))),
        (2, bytearray(b"not an image")),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: (r.dec_width, r.dec_height, r.dec_sum_g, r.dec_parse_ok)
           for r in mm.decode_image(df, "payload").collect()}
    assert got[1] == (4, 3, 4 * 3 * 9, True)
    assert got[2] == (None, None, None, False)
    assert got[3] == (None, None, None, False)


def _png_forward_filter(pixels, f, ch):
    """Independent FORWARD filter implementation (the test-side inverse
    of the decoder's defilter): pixels is h×(w·ch) raw bytes."""
    h = len(pixels)
    out = bytearray()
    prev = [0] * len(pixels[0])
    for y in range(h):
        row = pixels[y]
        out.append(f)
        for x in range(len(row)):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if (x >= ch and y > 0) else 0
            b = b if y > 0 else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = (row[x] - a) & 0xFF
            elif f == 2:
                v = (row[x] - b) & 0xFF
            elif f == 3:
                v = (row[x] - (a + b) // 2) & 0xFF
            else:  # paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (row[x] - pred) & 0xFF
            out.append(v)
        prev = row
    return bytes(out)


def _png_wrap(raw, w, h, color):
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def test_png_every_filter_type_defilters_exactly():
    """Each PNG filter type (0–4) round-trips: the test FORWARD-filters a
    known 3×2 RGB raster with its own independent implementation; the
    decoder must recover the exact channel sums."""
    pixels = [
        [10, 200, 30, 250, 5, 60, 90, 130, 170],
        [15, 25, 35, 45, 55, 65, 75, 85, 95],
    ]
    exp = tuple(sum(row[i::3][j] for row in pixels for j in range(3)) for i in range(3))
    for f in range(5):
        raw = _png_forward_filter(pixels, f, 3)
        got = mm.decode_png_bytes(_png_wrap(raw, 3, 2, 2))
        assert got == (3, 2, "png8-rgb", *exp, True), f"filter {f}"


def test_png_gray_rgba_and_failures():
    import struct
    import zlib

    # gray: sum reported in all three channels
    raw = bytes([0, 1, 2, 0, 3, 4])  # 2×2 gray, filter 0 rows
    assert mm.decode_png_bytes(_png_wrap(raw, 2, 2, 0)) == (2, 2, "png8-gray", 10, 10, 10, True)
    # RGBA: alpha excluded from sums
    raw = bytes([0, 1, 2, 3, 255, 4, 5, 6, 255])
    assert mm.decode_png_bytes(_png_wrap(raw, 2, 1, 6)) == (2, 1, "png8-rgba", 5, 7, 9, True)
    # corrupted CRC fails closed
    good = bytearray(mm.make_png_bytes(3, 2, 9))
    good[-5] ^= 0xFF  # flip a byte inside IEND's CRC
    assert mm.decode_png_bytes(bytes(good))[-1] is False
    # 16-bit depth unsupported → fail-closed
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    def chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16) + chunk(b"IDAT", zlib.compress(b"\x00" * 13)) + chunk(b"IEND", b"")
    assert mm.decode_png_bytes(bad)[-1] is False


# ---------------------------------------------------------------------------
# REAL GIF decode: strict LZW + palette mapping, handcrafted bytes
# independent of the fixture encoder, and the fail-closed paths
# ---------------------------------------------------------------------------


def _gif_handcrafted_2x1() -> bytes:
    # 2x1 GIF87a, 4-entry global palette, mcs=2; pixels = indices 1, 2.
    # LZW (width 3, LSB-first): CLEAR(100) 001 010 END(101)
    # bits: 100 001 010 101 -> bytes LSB-first: 0b10001100=0x8C, 0b1010=0x0A
    pal = bytes((10, 20, 30,  1, 2, 3,  4, 5, 6,  7, 8, 9))
    return (
        b"GIF87a" + struct.pack("<HHBBB", 2, 1, 0x81, 0, 0) + pal
        + bytes((0x2C,)) + struct.pack("<HHHHB", 0, 0, 2, 1, 0)
        + bytes((2, 2, 0x8C, 0x0A, 0x00, 0x3B))
    )


def test_gif_decode_handcrafted_bytes():
    w, h, fmt, sr, sg, sb, ok = mm.decode_gif_bytes(_gif_handcrafted_2x1())
    assert (w, h, fmt, ok) == (2, 1, "gif", True)
    assert (sr, sg, sb) == (1 + 4, 2 + 5, 3 + 6)  # palette entries 1 and 2


def test_gif_fixture_roundtrip_closed_form_and_interlace():
    for w, h, g in [(4, 2, 0), (20, 9, 255), (40, 30, 7)]:  # 1200 px forces width growth
        want = (w, h, "gif", w * h * (w + h - 2) // 2, w * h * g, 7 * w * h, True)
        assert mm.decode_gif_bytes(mm.make_gif_bytes(w, h, g)) == want
        assert mm.decode_gif_bytes(mm.make_gif_bytes(w, h, g, interlace=True)) == want
    # dispatch reaches the GIF path
    assert mm.decode_image_bytes(mm.make_gif_bytes(4, 2, 9))[2] == "gif"


def test_gif_lzw_real_compression_and_kwkwk():
    # A REAL LZW stream the literal-only encoder never emits: 'aabbb'-style
    # repeats force dictionary hits including the KwKwK corner (code ==
    # next free slot). mcs=2: CLEAR=4 END=5, width 3.
    # pixels 0 0 1 1 1: codes CLEAR 0 6(KwKwK: 00) ... build directly:
    #   CLEAR, 0, 6?  table after '0': {6:'00'} pending — decoder: code 6
    #   == len(table) uses prev+prev[0] = '00' -> pixels 0,0,0. Use target
    #   pixels 0 0 0 1 1 1: codes CLEAR 0 6 1 8; after 6: table 6='00',
    #   prev='00'; code 1 -> out '1', table 7='000'... wait 7='0'+'1'? no:
    #   append prev+entry[0] = '00'+'1' -> 7='001'; code 8 == len(table)
    #   -> prev+prev[0] = '1'+'1' = '11' -> pixels ...1,1,1 total 000111.
    bits = [(4, 3), (0, 3), (6, 3), (1, 3), (8, 4)]  # width grows to 4 after 8 entries
    acc = 0
    nbits = 0
    data = bytearray()
    for code, width in bits:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    out = mm._gif_lzw_decode(bytes(data), 2, 6)
    assert out == bytes((0, 0, 0, 1, 1, 1))


def test_gif_decode_fail_closed():
    good = mm.make_gif_bytes(6, 4, 50)
    assert mm.decode_gif_bytes(good[:20])[-1] is False  # truncated in palette
    assert mm.decode_gif_bytes(good[:-10])[-1] is False  # truncated in data
    assert mm.decode_gif_bytes(b"GIF90a" + good[6:])[-1] is False  # bad version
    # no color table anywhere (GCT flag cleared; palette bytes parse as junk)
    nogct = bytearray(good)
    nogct[10] &= 0x7F
    assert mm.decode_gif_bytes(bytes(nogct))[-1] is False
    # index beyond palette: 2-entry local palette, literal code 3 in stream
    # width-3 codes LSB-first: CLEAR(100) then 3(011) -> bits 011100 = 0x1C
    bad_idx = (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0)
        + bytes((0x2C,)) + struct.pack("<HHHHB", 0, 0, 1, 1, 0x80)  # LCT size 0 -> 2 entries
        + bytes((10, 20, 30, 1, 2, 3))
        + bytes((2, 1, 0x1C, 0x00, 0x3B))
    )
    assert mm.decode_gif_bytes(bad_idx)[-1] is False
    # EOI before all pixels decoded fails closed:
    # bits CLEAR(100) END(101) -> 101100 = 0x2C
    short = (
        b"GIF87a" + struct.pack("<HHBBB", 2, 1, 0x80, 0, 0)
        + bytes((10, 20, 30, 1, 2, 3))
        + bytes((0x2C,)) + struct.pack("<HHHHB", 0, 0, 2, 1, 0)
        + bytes((2, 1, 0x2C, 0x00, 0x3B))
    )
    assert mm.decode_gif_bytes(short)[-1] is False
    # trailer before any image descriptor
    noimg = b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0) + bytes((0x3B,))
    assert mm.decode_gif_bytes(noimg)[-1] is False
    # bad LZW min code size
    badmcs = bytearray(good)
    # mcs byte sits right after the image descriptor (6+7 header, 768 GCT,
    # 8 GCE extension, 10 descriptor)
    pos = 6 + 7 + 768 + 8 + 10
    assert good[pos] == 8
    badmcs[pos] = 12
    assert mm.decode_gif_bytes(bytes(badmcs))[-1] is False


# ---------------------------------------------------------------------------
# REAL MP3 frame-header walk
# ---------------------------------------------------------------------------


def test_mp3_walk_handcrafted_single_frame():
    # one 128 kbps 44.1 kHz frame, padding bit SET: 144000*128//44100+1 = 418
    hdr = bytes((0xFF, 0xFB, (9 << 4) | (0 << 2) | 2, 0x00))
    frame = hdr + b"\x00" * (418 - 4)
    assert mm.parse_mp3_meta_bytes(frame) == (1, 44100, 128, 1152 * 1000 // 44100, True)


def test_mp3_walk_vbr_id3_tags_and_failures():
    b = mm.make_mp3_bytes(9, 5)
    sb = sum(mm.MP3_BITRATES[(5 + i) % 14] for i in range(9))
    assert mm.parse_mp3_meta_bytes(b) == (9, 44100, sb, 9 * 1152 * 1000 // 44100, True)
    # ID3v1 trailer is skipped
    assert mm.parse_mp3_meta_bytes(b + b"TAG" + b"\x00" * 125)[0] == 9
    # strict walk failures: truncated frame, trailing junk, mixed samplerate,
    # free-format bitrate, MPEG-2 version bits, non-syncsafe ID3 size
    assert mm.parse_mp3_meta_bytes(b[:-5])[-1] is False
    assert mm.parse_mp3_meta_bytes(b + b"xx")[-1] is False
    mix = mm.make_mp3_bytes(1, 0, sr_idx=0, with_id3=False) + mm.make_mp3_bytes(
        1, 0, sr_idx=1, with_id3=False
    )
    assert mm.parse_mp3_meta_bytes(mix)[-1] is False
    free = bytes((0xFF, 0xFB, 0x00, 0x00)) + b"\x00" * 100
    assert mm.parse_mp3_meta_bytes(free)[-1] is False
    v2 = bytearray(mm.make_mp3_bytes(1, 0, with_id3=False))
    v2[1] = 0xF3  # MPEG-2 version bits
    assert mm.parse_mp3_meta_bytes(bytes(v2))[-1] is False
    badid3 = b"ID3\x04\x00\x00" + bytes((0, 0, 0x80, 0)) + b"\x00" * 20
    assert mm.parse_mp3_meta_bytes(badid3)[-1] is False


def test_mp3_meta_spark_path_quarantines_mixed_batch(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "payload": [mm.make_mp3_bytes(3, 0), b"not audio"]}
    )
    out = {
        r["doc_id"]: r
        for r in mm.parse_mp3_meta(spark.createDataFrame(pdf), "payload").collect()
    }
    assert out[1]["mp3_n_frames"] == 3 and out[1]["mp3_parse_ok"] is True
    assert out[2]["mp3_parse_ok"] is False and out[2]["mp3_n_frames"] is None


# ---------------------------------------------------------------------------
# Adversarial-payload regressions: resource bombs fail closed BEFORE
# allocation
# ---------------------------------------------------------------------------


def test_huge_claimed_rasters_fail_closed_without_allocating():
    # tiny payloads claiming 65535x65535 frames must quarantine at the
    # MAX_DECODE_PIXELS header check, before any work proportional to
    # the claim
    import zlib

    def chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(
            ">I", zlib.crc32(typ + data) & 0xFFFFFFFF
        )

    png_bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 65535, 65535, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
        + chunk(b"IEND", b"")
    )
    assert mm.decode_png_bytes(png_bomb)[-1] is False
    # GIF claiming a 65535x65535 frame over a 2-entry palette
    gif_bomb = (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x80, 0, 0)
        + bytes((10, 20, 30, 1, 2, 3))
        + bytes((0x2C,)) + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
        + bytes((2, 1, 0x2C, 0x00, 0x3B))
    )
    assert mm.decode_gif_bytes(gif_bomb)[-1] is False


def test_png_inflate_is_bounded_by_claimed_raster():
    import zlib

    # valid 2x2 gray IHDR but IDAT inflates to 1 MB: the bounded inflate
    # must stop at the claimed raster size and fail closed
    def chunk(typ, data):
        return struct.pack(">I", len(data)) + typ + data + struct.pack(
            ">I", zlib.crc32(typ + data) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bomb_idat = zlib.compress(b"\x00" * (1 << 20))
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb_idat) + chunk(b"IEND", b"")
    )
    assert mm.decode_png_bytes(png)[-1] is False
    # and the honest payload still decodes
    assert mm.decode_png_bytes(mm.make_png_bytes(4, 3, 9))[-1] is True


# ---------------------------------------------------------------------------
# Codec injection seam: decode_image's `decoder`
# parameter is the swap point for a C decoder (libjpeg-turbo / PIL
# adapter). These tests are the CONFORMANCE HARNESS a swapped decoder
# must pass: same mapInPandas slot, same fixture families,
# bit-identical output vs the pure-Python reference.
# ---------------------------------------------------------------------------


def _make_sentinel_decoder():
    """Closure (not a module-level function) so cloudpickle serializes it
    BY VALUE — executors cannot import the test module. A real adapter
    ships its module via --py-files / ship_package instead."""

    def sentinel(payload):
        return (1, 1, "turbo-sentinel", 0, 0, 0, True)

    return sentinel


def _make_mock_fast_decoder():
    """Mock 'fast decoder' shaped like a real adapter: independent fast
    paths for the formats the fast library covers (pure-bytes BMP/PPM —
    genuinely different implementations from the reference's numpy
    path), reference fallback for the rest — exactly how a
    libjpeg-turbo adapter that only speaks JFIF composes with the
    pure-Python reference. Built as a closure so cloudpickle ships it
    by value."""
    from beholder_spark.operators.multimodal import _FAIL, decode_image_bytes

    def bmp_bytes_only(payload):
        if payload is None or len(payload) < 54 or payload[:2] != b"BM":
            return _FAIL
        off = int.from_bytes(payload[10:14], "little")
        hdr = int.from_bytes(payload[14:18], "little")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        planes = int.from_bytes(payload[26:28], "little")
        bpp = int.from_bytes(payload[28:30], "little")
        comp = int.from_bytes(payload[30:34], "little")
        if hdr < 40 or planes != 1 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
            return _FAIL
        if off < 14 + hdr:
            return _FAIL
        h_abs = abs(h)
        stride = (w * 3 + 3) & ~3
        if len(payload) < off + stride * h_abs:
            return _FAIL
        sb = sg = sr = 0
        for y in range(h_abs):
            row = payload[off + y * stride : off + y * stride + w * 3]
            sb += sum(row[0::3])
            sg += sum(row[1::3])
            sr += sum(row[2::3])
        return (w, h_abs, "bmp24", sr, sg, sb, True)

    def ppm_bytes_only(payload):
        import re

        if payload is None or not payload.startswith(b"P6"):
            return _FAIL
        m = re.match(rb"P6\s+(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s+(\d+)\s", payload)
        if m is None:
            return _FAIL
        w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
        if maxval != 255 or w <= 0 or h <= 0:
            return _FAIL
        off = m.end()
        raster = payload[off : off + w * h * 3]
        if len(raster) < w * h * 3:
            return _FAIL
        return (w, h, "ppm", sum(raster[0::3]), sum(raster[1::3]), sum(raster[2::3]), True)

    def mock_fast(payload):
        if payload is not None and payload[:2] == b"BM":
            return bmp_bytes_only(bytes(payload))
        if payload is not None and payload[:2] == b"P6":
            return ppm_bytes_only(bytes(payload))
        return decode_image_bytes(payload)

    return mock_fast


def test_decode_image_seam_injected_callable_runs_on_executors(spark):
    rows = [(1, bytearray(mm.make_bmp_bytes(4, 3, 9))), (2, None)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = mm.decode_image(df, "payload", decoder=_make_sentinel_decoder()).collect()
    assert {r.dec_fmt for r in got} == {"turbo-sentinel"}  # not the default codec


def test_decode_image_seam_keeps_zero_exchange_plan(spark):
    rows = [(1, bytearray(mm.make_bmp_bytes(4, 3, 9)))]
    df = spark.createDataFrame(rows, "id long, payload binary")
    plan = (
        mm.decode_image(df, "payload", decoder=_make_mock_fast_decoder())
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # the swap point never changes the plan


def test_decode_image_seam_conformance_on_oracle_fixtures(spark):
    """The mock fast decoder must match the reference BIT-FOR-BIT over
    the BMP and PNG fixture families (the mock's own fast path and its
    reference fallback), including quarantine rows."""
    from pyspark.sql import functions as F

    ids = spark.range(60).select(F.col("id").alias("doc_id"))
    bmp = mm.with_bmp_payload(
        ids.select(
            "doc_id",
            (F.col("doc_id") % 17 + 1).alias("w"),
            (F.col("doc_id") % 9 + 1).alias("h"),
            (F.col("doc_id") % 256).alias("g"),
        ),
        "w", "h", "g",
    )
    png = mm.with_png_payload(
        ids.select(
            "doc_id",
            (F.col("doc_id") % 13 + 1).alias("w"),
            (F.col("doc_id") % 7 + 1).alias("h"),
            (F.col("doc_id") % 256).alias("g"),
        ),
        "w", "h", "g",
    )
    hostile = spark.createDataFrame(
        [(1000, bytearray(b"not an image")), (1001, None)], "doc_id long, payload binary"
    )
    for fixture in (bmp, png.unionByName(hostile, allowMissingColumns=True)):
        cols = [c for c in fixture.columns if c != "payload"]
        ref = {
            tuple(r[c] for c in cols): r
            for r in mm.decode_image(fixture, "payload").collect()
        }
        fast = {
            tuple(r[c] for c in cols): r
            for r in mm.decode_image(fixture, "payload", decoder=_make_mock_fast_decoder()).collect()
        }
        assert ref.keys() == fast.keys()
        for k in ref:
            assert tuple(ref[k]) == tuple(fast[k]), k
