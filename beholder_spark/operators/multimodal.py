"""Binary-payload decoders for the lossless and uncompressed formats.

Images and audio ride as ``binary`` columns; the decoders here are pure
Python/numpy (no codec libs) and turn a payload into typed metadata:
BMP, PPM, PNG and GIF images (dims + RGB channel sums), WAV-PCM audio
and MP3 frame-header metadata. Every decoder is total: a malformed
payload returns its ``parse_ok False`` tuple instead of raising, so the
Spark paths (:func:`decode_image`, :func:`parse_mp3_meta`) quarantine
bad rows inside one Arrow pass.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
# ---------------------------------------------------------------------------
# Uncompressed formats. BMP and PPM are length-prefixed raster dumps
# and WAV-PCM is parsed by the stdlib `wave` module; PNG, GIF and the
# MP3 frame walk follow further below. Decode SPEC, pinned here:
#   - BMP: 'BM' magic, BITMAPINFOHEADER, 24-bit, uncompressed only;
#     rows bottom-up, padded to 4 bytes; stored channel order is BGR,
#     outputs are LOGICAL RGB channel sums (integer-exact).
#   - PPM: binary 'P6', maxval 255.
#   - WAV: stdlib wave; mono/stereo 16-bit PCM; outputs n_channels,
#     sample_rate, n_samples, and the integer sum of samples.
#   Any violation → parse_ok False, other fields NULL (P7 contract).
# ---------------------------------------------------------------------------

# Resource-bomb guard (SPEC): decoder headers are UNTRUSTED. Any decode
# whose claimed raster exceeds this pixel count fails closed BEFORE any
# allocation proportional to the claim (a ~90-byte payload can otherwise
# declare a 65535x65535 frame and kill the executor with an allocation,
# or a GIF/PNG compression bomb can inflate a few MB thousands-fold).
# 64 MP is far beyond real crawled images; production knob, raise as
# needed.
MAX_DECODE_PIXELS = 64_000_000

IMAGE_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("parse_ok", T.BooleanType(), True),
    ]
)

_FAIL = (None, None, None, None, None, None, False)


def decode_bmp_bytes(payload: bytes | None) -> tuple:
    """Parse a 24-bit uncompressed BMP: header fields + per-channel pixel
    sums (numpy over the raster; padding stripped, bottom-up respected)."""
    import struct

    import numpy as np

    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        return _FAIL
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return _FAIL
    # fail-closed: a data offset pointing INTO the headers (< 14-byte file
    # header + DIB header) would decode header bytes as raster with
    # parse_ok=True — that violates the P7 contract above
    if data_off < 14 + hdr_size:
        return _FAIL
    bottom_up = h > 0
    h_abs = abs(h)
    row_stride = (w * 3 + 3) & ~3  # rows padded to 4-byte multiples
    need = data_off + row_stride * h_abs
    if len(payload) < need:
        return _FAIL
    raster = np.frombuffer(payload, dtype=np.uint8, count=row_stride * h_abs, offset=data_off)
    rows = raster.reshape(h_abs, row_stride)[:, : w * 3].reshape(h_abs, w, 3)
    if bottom_up:
        rows = rows[::-1]
    sums = rows.reshape(-1, 3).astype(np.int64).sum(axis=0)
    # stored BGR → logical RGB
    return (w, h_abs, "bmp24", int(sums[2]), int(sums[1]), int(sums[0]), True)


def decode_ppm_bytes(payload: bytes | None) -> tuple:
    """Parse binary PPM ('P6', maxval 255): dims + RGB channel sums."""
    import re as _re

    import numpy as np

    if payload is None or not payload.startswith(b"P6"):
        return _FAIL
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster
    m = _re.match(rb"P6\s+(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if m is None:
        return _FAIL
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval != 255 or w <= 0 or h <= 0:
        return _FAIL
    off = m.end()
    if len(payload) < off + w * h * 3:
        return _FAIL
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=off)
    sums = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
    return (w, h, "ppm", int(sums[0]), int(sums[1]), int(sums[2]), True)


def decode_image_bytes(payload: bytes | None) -> tuple:
    """Magic-byte dispatch: real decode for BMP/PPM/PNG/GIF, fail-closed
    for anything else."""
    if payload is None:
        return _FAIL
    if payload[:2] == b"BM":
        return decode_bmp_bytes(payload)
    if payload[:2] == b"P6":
        return decode_ppm_bytes(payload)
    if bytes(payload[:8]) == _PNG_SIG:
        return decode_png_bytes(payload)
    if bytes(payload[:6]) in (b"GIF87a", b"GIF89a"):
        return decode_gif_bytes(payload)
    return _FAIL


def decode_image(
    df: DataFrame,
    bin_col: str,
    out_prefix: str = "dec_",
    decoder=None,
) -> DataFrame:
    """REAL image decode over a binary column (BMP/PPM/PNG/GIF — see
    module SPEC) in one zero-exchange mapInPandas pass; an unsupported
    or malformed payload quarantines with parse_ok False.

    ``decoder`` is the CODEC INJECTION SEAM: any
    callable ``bytes|None -> 7-tuple`` matching IMAGE_DECODED_SCHEMA
    (w, h, fmt, sum_r, sum_g, sum_b, parse_ok) slots into the identical
    zero-exchange plan — this is how a production deployment swaps the
    pure-Python reference codec for a C decoder (e.g. a
    PIL/libjpeg-turbo adapter) without touching the plan. The callable
    is cloudpickled to executors, so module-level functions and
    closures over picklable state both work. Conformance contract: a
    swapped decoder must match the reference bit-for-bit on the fixture
    families (test_multimodal.py::test_decode_image_seam_* is
    the harness). Defaults to :func:`decode_image_bytes`.
    """
    dec = decode_image_bytes if decoder is None else decoder
    in_schema = df.schema
    out_schema = T.StructType(
        list(in_schema.fields)
        + [T.StructField(out_prefix + f.name, f.dataType, True) for f in IMAGE_DECODED_SCHEMA.fields]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = pdf[bin_col].map(dec)
            for i, f in enumerate(IMAGE_DECODED_SCHEMA.fields):
                pdf[out_prefix + f.name] = decoded.map(lambda t, i=i: t[i])
            yield pdf

    return df.mapInPandas(batches, out_schema)


def decode_wav_bytes(payload: bytes | None) -> tuple:
    """Parse WAV 16-bit PCM via the stdlib wave module: returns
    (n_channels, sample_rate, n_samples, sum_samples, parse_ok), the sum
    taken over a numpy int16 view of the frame bytes."""
    import io
    import wave

    import numpy as np

    if payload is None:
        return (None, None, None, None, False)
    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
            if wf.getsampwidth() != 2:
                return (None, None, None, None, False)
            nch, rate, n = wf.getnchannels(), wf.getframerate(), wf.getnframes()
            frames = wf.readframes(n)
    except (wave.Error, EOFError):
        return (None, None, None, None, False)
    samples = np.frombuffer(frames, dtype="<i2")
    return (nch, rate, n, int(samples.astype(np.int64).sum()), True)


def make_bmp_bytes(w: int, h: int, g: int) -> bytes:
    """Deterministic 24-bit BMP fixture: pixel (x, y) = RGB((x+y) % 256,
    g, 7), rows bottom-up with standard padding (sums have closed forms
    for small dims)."""
    import struct

    row_stride = (w * 3 + 3) & ~3
    raster = bytearray()
    for y_file in range(h):  # file order is bottom-up
        y = h - 1 - y_file
        row = bytearray()
        for x in range(w):
            r = (x + y) % 256
            row += bytes((7, g, r))  # stored BGR
        row += b"\x00" * (row_stride - len(row))
        raster += row
    size = 54 + len(raster)
    header = (
        b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    )
    return bytes(header + raster)


@F.pandas_udf(T.BinaryType())
def _make_bmp_udf(cols: pd.DataFrame) -> pd.Series:
    return pd.Series(
        [make_bmp_bytes(int(w), int(h), int(g)) for w, h, g in cols.itertuples(index=False)]
    )


def with_bmp_payload(df: DataFrame, w_col: str, h_col: str, g_col: str, out: str = "payload") -> DataFrame:
    """Deterministic BMP fixture column (see :func:`make_bmp_bytes`)."""
    return df.withColumn(out, _make_bmp_udf(F.struct(w_col, h_col, g_col)))


def _png_defilter(data: bytes, w: int, h: int, ch: int):
    """Reverse PNG scanline filtering (types 0–4). Up/Sub vectorize
    (uint8 wraparound / per-lane cumsum); Average/Paeth are inherently
    sequential per byte — fine for fixture-scale rasters, and at corpus
    scale each image is one row's work inside an Arrow batch anyway."""
    import numpy as np

    stride = w * ch
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        if pos >= len(data):
            raise ValueError("truncated raster")
        f = data[pos]
        pos += 1
        if pos + stride > len(data):
            raise ValueError("truncated raster")
        row = np.frombuffer(data, np.uint8, stride, pos).copy()
        pos += stride
        prev = out[y - 1] if y > 0 else np.zeros(stride, np.uint8)
        if f == 0:
            out[y] = row
        elif f == 1:  # Sub: per-channel-lane prefix sum mod 256
            r = row.reshape(w, ch).astype(np.uint32)
            out[y] = (np.cumsum(r, axis=0) % 256).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up: uint8 addition wraps mod 256
            out[y] = row + prev
        elif f == 3:  # Average
            o = out[y]
            for x in range(stride):
                a = int(o[x - ch]) if x >= ch else 0
                o[x] = (int(row[x]) + (a + int(prev[x])) // 2) & 0xFF
        elif f == 4:  # Paeth
            o = out[y]
            for x in range(stride):
                a = int(o[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                o[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown filter {f}")
    return out


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # gray, RGB, RGBA (8-bit, non-interlaced)


def decode_png_bytes(payload: bytes | None) -> tuple:
    """REAL PNG decode (stdlib zlib + numpy defilter): 8-bit gray/RGB/
    RGBA, non-interlaced, all five filter types, chunk CRCs verified.
    Output matches the BMP/PPM shape; gray images report the gray sum in
    all three channels; RGBA alpha is excluded from the sums (SPEC)."""
    import struct
    import zlib

    import numpy as np

    if payload is None or not bytes(payload).startswith(_PNG_SIG):
        return _FAIL
    buf = bytes(payload)
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    try:
        while pos + 8 <= len(buf):
            length, typ = struct.unpack_from(">I4s", buf, pos)
            data = buf[pos + 8 : pos + 8 + length]
            if len(data) != length or pos + 12 + length > len(buf):
                return _FAIL
            (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
            if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
                return _FAIL
            pos += 12 + length
            if typ == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
        if ihdr is None or not idat:
            return _FAIL
        w, h, depth, color, comp, filt, interlace = ihdr
        ch = _PNG_CHANNELS.get(color)
        if depth != 8 or ch is None or comp != 0 or filt != 0 or interlace != 0 or w == 0 or h == 0:
            return _FAIL
        if w * h > MAX_DECODE_PIXELS:
            return _FAIL
        # bounded inflate: a zlib bomb must not expand past the raster the
        # header promises (exact length is re-checked by the defilter)
        dec = zlib.decompressobj()
        expected = h * (1 + w * ch)
        inflated = dec.decompress(bytes(idat), expected)
        if len(inflated) != expected or dec.unconsumed_tail or dec.decompress(b"", 1):
            return _FAIL
        raster = _png_defilter(inflated, w, h, ch)
    except (struct.error, zlib.error, ValueError):
        return _FAIL
    px = raster.reshape(h, w, ch).astype(np.int64)
    if ch == 1:
        s = int(px.sum())
        return (w, h, "png8-gray", s, s, s, True)
    sums = px.reshape(-1, ch).sum(axis=0)
    fmt = "png8-rgb" if ch == 3 else "png8-rgba"
    return (w, h, fmt, int(sums[0]), int(sums[1]), int(sums[2]), True)


def make_png_bytes(w: int, h: int, g: int) -> bytes:
    """Deterministic 8-bit RGB PNG fixture (filter-0 rows, same pixel
    formula as :func:`make_bmp_bytes` → same closed-form sums)."""
    import struct
    import zlib

    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter type 0
        for x in range(w):
            raw += bytes((((x + y) % 256), g, 7))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@F.pandas_udf(T.BinaryType())
def _make_png_udf(cols: pd.DataFrame) -> pd.Series:
    return pd.Series(
        [make_png_bytes(int(w), int(h), int(g)) for w, h, g in cols.itertuples(index=False)]
    )


def with_png_payload(df: DataFrame, w_col: str, h_col: str, g_col: str, out: str = "payload") -> DataFrame:
    """Deterministic PNG fixture column (see :func:`make_png_bytes`)."""
    return df.withColumn(out, _make_png_udf(F.struct(w_col, h_col, g_col)))


# ---------------------------------------------------------------------------
# REAL GIF decode. GIF is the web's ubiquitous legacy palette format,
# and its LZW stream needs no codec libs. Decode
# SPEC, pinned here (change this comment, not behavior):
#   - GIF87a/GIF89a magic; logical screen descriptor; the FIRST image
#     frame only is decoded (animation frames after it are ignored);
#     extensions before it are skipped structurally (sub-block walk).
#   - Color table: local table overrides global; no table at all is a
#     violation. Reported dims are the first frame's (not the screen's).
#   - LZW: variable-width codes (min-code-size 2..8 -> widths 3..12),
#     strict: a code beyond the table, data exhausted before w*h pixels,
#     an index >= palette size, or EOI before w*h pixels all fail
#     closed. Bits after the w*h-th pixel are ignored (real encoders
#     sometimes omit EOI). Dictionary caps at 4096 per the spec.
#   - Interlace flag honored (4-pass row order). GIF89a transparency is
#     IGNORED for channel sums: every pixel sums its palette RGB.
#   Any violation -> parse_ok False, other fields NULL (P7 contract).
# ---------------------------------------------------------------------------


def _gif_skip_subblocks(payload: bytes, pos: int):
    """Walk a sub-block chain; return position after its terminator or
    None if it runs off the end."""
    while True:
        if pos >= len(payload):
            return None
        ln = payload[pos]
        pos += 1
        if ln == 0:
            return pos
        pos += ln


def _gif_lzw_decode(data: bytes, mcs: int, n_pixels: int):
    """Strict GIF-flavor LZW: LSB-first packed variable-width codes.
    Returns exactly n_pixels index bytes, or None on any violation."""
    clear = 1 << mcs
    end = clear + 1
    base = [bytes((i,)) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    out = bytearray()
    prev = None
    bitpos = 0
    total_bits = len(data) * 8
    while len(out) < n_pixels:
        if bitpos + width > total_bits:
            return None
        byte_i = bitpos >> 3
        window = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (window >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(base)
            width = mcs + 1
            prev = None
            continue
        if code == end:
            return None  # EOI before all pixels decoded
        if code < len(table) and (code < clear or len(table[code])):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            return None
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:n_pixels])


def decode_gif_bytes(payload: bytes | None) -> tuple:
    """REAL GIF decode (see SPEC block above): header/descriptor parse,
    strict LZW inflate of the first frame, palette-mapped RGB channel
    sums via numpy. Output matches IMAGE_DECODED_SCHEMA."""
    import struct

    import numpy as np

    if payload is None or len(payload) < 13 or bytes(payload[:6]) not in (b"GIF87a", b"GIF89a"):
        return _FAIL
    _sw, _sh, packed, _bg, _par = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if len(payload) < pos + 3 * n:
            return _FAIL
        gct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while True:  # walk to the first image descriptor
        if pos >= len(payload):
            return _FAIL
        block = payload[pos]
        pos += 1
        if block == 0x2C:
            break
        if block == 0x21:  # extension: label byte + sub-block chain
            pos = _gif_skip_subblocks(payload, pos + 1)
            if pos is None:
                return _FAIL
            continue
        return _FAIL  # trailer (0x3B) or junk before any frame
    if len(payload) < pos + 9:
        return _FAIL
    _left, _top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
    pos += 9
    if w == 0 or h == 0 or w * h > MAX_DECODE_PIXELS:
        return _FAIL
    ct = gct
    if ipacked & 0x80:  # local color table overrides
        n = 2 << (ipacked & 7)
        if len(payload) < pos + 3 * n:
            return _FAIL
        ct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    if ct is None or pos >= len(payload):
        return _FAIL
    mcs = payload[pos]
    pos += 1
    if mcs < 2 or mcs > 8:
        return _FAIL
    chunks = []
    while True:  # image data sub-block chain
        if pos >= len(payload):
            return _FAIL
        ln = payload[pos]
        pos += 1
        if ln == 0:
            break
        if len(payload) < pos + ln:
            return _FAIL
        chunks.append(payload[pos : pos + ln])
        pos += ln
    idx = _gif_lzw_decode(b"".join(chunks), mcs, w * h)
    if idx is None:
        return _FAIL
    arr = np.frombuffer(idx, np.uint8)
    if int(arr.max(initial=0)) >= len(ct):
        return _FAIL
    if ipacked & 0x40:  # interlaced: rows stored in 4-pass order
        order = np.concatenate(
            [np.arange(0, h, 8), np.arange(4, h, 8), np.arange(2, h, 4), np.arange(1, h, 2)]
        )
        rows = np.empty((h, w), np.uint8)
        rows[order] = arr.reshape(h, w)
        arr = rows.reshape(-1)
    sums = ct[arr].astype(np.int64).sum(axis=0)
    return (int(w), int(h), "gif", int(sums[0]), int(sums[1]), int(sums[2]), True)


def _gif_lzw_encode_literals(indices: bytes, mcs: int) -> bytes:
    """Minimal valid LZW stream: CLEAR then one literal code per pixel,
    tracking the decoder's table growth so each code is emitted at the
    width the decoder will read it with (the classic 'uncompressed GIF'
    technique — correctness over ratio; the DECODER handles real
    compression)."""
    clear = 1 << mcs
    end = clear + 1
    width = mcs + 1
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int, w: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    table_len = clear + 2
    first = True
    for v in indices:
        emit(v, width)
        if not first and table_len < 4096:
            table_len += 1
            if table_len == (1 << width) and width < 12:
                width += 1
        first = False
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def make_gif_bytes(w: int, h: int, g: int, interlace: bool = False) -> bytes:
    """Deterministic GIF89a fixture: 256-entry global palette with entry
    i = (i, g, 7); pixel (x, y) uses index (x + y) % 256. For w + h <= 257
    the channel sums have the same closed form as the PNG fixture:
    sum_r = w*h*(w+h-2)/2, sum_g = w*h*g, sum_b = 7*w*h. A GCE extension
    block is included so decode exercises the extension-skip path."""
    import struct

    if w <= 0 or h <= 0 or w + h > 257:
        raise ValueError("fixture needs 0 < w, h with w + h <= 257")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT present, 256 entries
    pal = bytearray()
    for i in range(256):
        pal += bytes((i, g % 256, 7))
    out += pal
    out += bytes((0x21, 0xF9, 4, 0, 0, 0, 0, 0))  # GCE: no transparency, then terminator
    out += bytes((0x2C,)) + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    if interlace:
        row_order = (
            list(range(0, h, 8)) + list(range(4, h, 8)) + list(range(2, h, 4)) + list(range(1, h, 2))
        )
    else:
        row_order = range(h)
    idx = bytearray()
    for y in row_order:
        for x in range(w):
            idx.append((x + y) % 256)
    out.append(8)  # LZW min code size
    stream = _gif_lzw_encode_literals(bytes(idx), 8)
    for off in range(0, len(stream), 255):
        chunk = stream[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out += bytes((0x00, 0x3B))  # block terminator + trailer
    return bytes(out)


# ---------------------------------------------------------------------------
# REAL MP3 frame-header walk: audio METADATA parse without a DSP
# decode (curation pipelines overwhelmingly need duration/bitrate/
# samplerate screening, which the frame walk gives exactly). Parse SPEC, pinned here:
#   - Optional ID3v2 tag at byte 0 ('ID3', 10-byte header, syncsafe
#     size) is skipped; ID3v1 ('TAG', 128 bytes) at EOF is skipped.
#   - Frames: MPEG-1 Layer III only (sync 0xFFE, version 11, layer 01);
#     bitrate index 1..14, samplerate index 0..2, no free-format.
#     frame_len = 144000 * bitrate_kbps // samplerate + padding.
#   - STRICT walk: frames must tile the payload exactly (after tag
#     skips); any gap, truncated frame, or header violation fails
#     closed. Samplerate must be constant across frames; bitrate may
#     vary (VBR) and is reported as the exact integer sum.
#   - duration_ms = n_frames * 1152 * 1000 // samplerate (integer, so
#     results are exact and platform-independent).
# ---------------------------------------------------------------------------

MP3_BITRATES = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
MP3_SAMPLERATES = (44100, 48000, 32000)

MP3_META_SCHEMA = T.StructType(
    [
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("sum_bitrate_kbps", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("parse_ok", T.BooleanType(), True),
    ]
)

_MP3_FAIL = (None, None, None, None, False)


def parse_mp3_meta_bytes(payload: bytes | None) -> tuple:
    """Walk MPEG-1 Layer III frame headers (see SPEC above): returns
    (n_frames, sample_rate, sum_bitrate_kbps, duration_ms, parse_ok)."""
    if payload is None or len(payload) < 4:
        return _MP3_FAIL
    pos = 0
    end = len(payload)
    if payload[:3] == b"ID3":
        if end < 10:
            return _MP3_FAIL
        sz = payload[6:10]
        if any(b & 0x80 for b in sz):
            return _MP3_FAIL  # syncsafe bytes must have bit 7 clear
        pos = 10 + ((sz[0] << 21) | (sz[1] << 14) | (sz[2] << 7) | sz[3])
    if end - pos >= 128 and payload[end - 128 : end - 125] == b"TAG":
        end -= 128
    n_frames = 0
    samplerate = None
    sum_bitrate = 0
    while pos < end:
        if pos + 4 > end:
            return _MP3_FAIL
        b0, b1, b2 = payload[pos], payload[pos + 1], payload[pos + 2]
        # sync (11 bits) + version 11 (MPEG-1) + layer 01 (III): 0xFF 0xFB/0xFA
        if b0 != 0xFF or (b1 & 0xFE) != 0xFA:
            return _MP3_FAIL
        br_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 3
        padding = (b2 >> 1) & 1
        if br_idx == 0 or br_idx == 15 or sr_idx == 3:
            return _MP3_FAIL  # free-format / reserved
        sr = MP3_SAMPLERATES[sr_idx]
        if samplerate is None:
            samplerate = sr
        elif sr != samplerate:
            return _MP3_FAIL
        kbps = MP3_BITRATES[br_idx - 1]
        flen = 144000 * kbps // sr + padding
        if pos + flen > end:
            return _MP3_FAIL  # truncated frame
        n_frames += 1
        sum_bitrate += kbps
        pos += flen
    if n_frames == 0:
        return _MP3_FAIL
    return (n_frames, samplerate, sum_bitrate, n_frames * 1152 * 1000 // samplerate, True)


def parse_mp3_meta(df: DataFrame, bin_col: str, out_prefix: str = "mp3_") -> DataFrame:
    """MP3 metadata over a binary column via the same mapInPandas shape
    as :func:`decode_image`; violations quarantine with parse_ok False."""
    in_schema = df.schema
    out_schema = T.StructType(
        list(in_schema.fields)
        + [T.StructField(out_prefix + f.name, f.dataType, True) for f in MP3_META_SCHEMA.fields]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            meta = pdf[bin_col].map(parse_mp3_meta_bytes)
            for i, f in enumerate(MP3_META_SCHEMA.fields):
                pdf[out_prefix + f.name] = meta.map(lambda t, i=i: t[i])
            yield pdf

    return df.mapInPandas(batches, out_schema)


def make_mp3_bytes(n_frames: int, br_start: int, sr_idx: int = 0, with_id3: bool = True) -> bytes:
    """Deterministic MP3 fixture: n_frames MPEG-1 Layer III headers with
    zeroed payloads; frame i uses bitrate index ((br_start + i) % 14) + 1
    (VBR), padding bit off. Optionally prefixed with a minimal ID3v2 tag."""
    out = bytearray()
    if with_id3:
        body = b"\x00" * 17
        out += b"ID3\x04\x00\x00" + bytes((0, 0, 0, len(body))) + body
    sr = MP3_SAMPLERATES[sr_idx]
    for i in range(n_frames):
        br_idx = (br_start + i) % 14 + 1
        kbps = MP3_BITRATES[br_idx - 1]
        flen = 144000 * kbps // sr
        hdr = bytes((0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0x00))
        out += hdr + b"\x00" * (flen - 4)
    return bytes(out)
