"""Multimodal column operators: opaque binary payloads + typed metadata.

BASELINE.json extension tier. Images/audio/video travel through Spark as
``binary`` columns beside typed metadata (schemas.MEDIA_ASSETS) — never
as driver-side objects. Decode / feature-extract / resize / frame-sample
run as Arrow-batched ``mapInPandas`` operators.

Decode is REAL for the formats that need no codec library — BMP
(BI_RGB 24/32bpp) and PPM (P6) parse with pure numpy; PNG (all five
color types, depths 1/2/4/8/16, all five scanline filters, Adam7
interlace) inflates through stdlib ``zlib``; GIF87a/89a (variable-width
LZW, interlace, animation composition with disposal/transparency)
and baseline TIFF (both byte orders, LZW early-change, PackBits,
horizontal predictor, palette) parse in pure Python/numpy; and JPEG —
baseline/extended sequential (SOF0/SOF1) AND progressive (SOF2,
spectral selection + successive approximation), grayscale or YCbCr at
any sampling incl. 4:2:0, restart markers — huffman-decodes + IDCTs in
pure numpy (:func:`_decode_jpeg`) — into actual pixel arrays, which
featurize (:func:`_pixel_features`) from real content. Audio decodes natively too: WAV through a hand-parsed RIFF
reader (integer PCM, IEEE float, G.711 mu-law/A-law, IMA ADPCM)
and FLAC through a pure-Python subset decoder (:func:`_decode_flac`:
rice residuals, FIXED + LPC predictors, all four stereo assignments,
CRC-8/16 verified — lossless, so tests assert exact sample equality);
video decodes for MJPEG-AVI containers and animated GIFs. The
remaining codec-absent formats are the ones whose spec embeds
non-derivable constant tables or patent-era entropy coders
(mp3/aac/vorbis audio, h264/vp9-class video, 12-bit or
arithmetic-coded JPEG, tiled/16-bit TIFF) — those still fall back to
the deterministic sha256 fake decoder / raise through
:func:`real_decode`'s documented codec-absent branch (no PIL/cv2/
ffmpeg — see :data:`HAVE_CODECS`).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # real codecs are optional; this container has none
    import PIL.Image  # noqa: F401

    HAVE_CODECS = True
except ImportError:
    HAVE_CODECS = False

#: output schema of :func:`extract_features`
FEATURE_SCHEMA = (
    "asset_id long, media_type string, n_bytes int, content_sha256 string, "
    "feature array<double>"
)

FEATURE_DIM = 8


def _fake_decode(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a codec+model: sha256 bytes -> [0,1)
    floats. Used for payloads in formats this container can't decode."""
    h = hashlib.sha256(payload).digest()
    return [h[i] / 255.0 for i in range(dim)]


# ---------------------------------------------------------------------------
# Real decoders: BMP (BI_RGB 24/32bpp) and PPM (P6), pure numpy
# ---------------------------------------------------------------------------
#
# These two uncompressed formats need no codec library — a header parse
# plus a strided numpy view — which makes the decode path HONEST for
# real pixels in this container (PNG additionally inflates via stdlib
# zlib, sequential + progressive JPEG decode via the huffman+IDCT
# machinery below) while formats
# needing a true codec library (mp3/video) still
# raise through ``real_decode``'s documented codec-absent branch.


def _decode_bmp(payload: bytes):
    """Uncompressed BMP -> (h, w, 3) uint8 RGB array.

    Supports the common case: BITMAPINFOHEADER (or larger) DIB header,
    BI_RGB compression, 24 or 32 bits per pixel, bottom-up or top-down
    row order, 4-byte row padding.
    """
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    (dib_size,) = struct.unpack_from("<I", payload, 14)
    if dib_size < 40:
        raise ValueError(f"unsupported BMP DIB header size {dib_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression}")
    if bpp not in (24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("degenerate BMP dimensions")
    channels = bpp // 8
    row_bytes = (width * channels + 3) & ~3  # rows pad to 4 bytes
    need = pix_off + row_bytes * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * height,
                        offset=pix_off)
    rows = raw.reshape(height, row_bytes)[:, : width * channels]
    px = rows.reshape(height, width, channels)
    if not top_down:
        px = px[::-1]
    # BMP stores BGR(A); return RGB
    return np.ascontiguousarray(px[:, :, 2::-1])


def _decode_ppm(payload: bytes):
    """Binary PPM (P6, maxval <= 255) -> (h, w, 3) uint8 RGB array."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = magic + 3 whitespace-separated ints, '#' comments allowed
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    width, height, maxval = fields
    if width <= 0 or height <= 0 or not (0 < maxval <= 255):
        raise ValueError(f"unsupported PPM geometry {fields}")
    need = width * height * 3
    if len(payload) - pos < need:
        raise ValueError("truncated PPM raster")
    raw = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    return raw.reshape(height, width, 3)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """Reverse the per-scanline PNG filters (None/Sub/Up/Average/Paeth)
    over ``h`` scanlines of ``stride`` bytes each -> (h, stride) uint8.

    None/Up/Sub are fully vectorized (Up has no left dependency; Sub is
    a per-channel-lane prefix sum mod 256).  Average and Paeth depend on
    BOTH the left and up neighbors, which is an inherently sequential
    left-to-right recurrence — those scanlines fall back to a per-byte
    loop, so images whose encoder leaned on Paeth/Average decode at
    interpreter speed, not numpy speed (fine for thumbnails/fixtures;
    a production image pipeline brings a codec library)."""
    import numpy as np

    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        cur = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if ft == 0:  # None
            pass
        elif ft == 2:  # Up — vectorized (no left dependency)
            cur += prev
        elif ft == 1:  # Sub — per-lane prefix sum mod 256, vectorized
            n_px = stride // bpp
            lanes = cur[: n_px * bpp].reshape(n_px, bpp).astype(np.int64)
            cur[: n_px * bpp] = (
                lanes.cumsum(axis=0) & 0xFF
            ).astype(np.uint8).reshape(-1)
        elif ft == 3:  # Average
            for i in range(stride):
                left = int(cur[i - bpp]) if i >= bpp else 0
                cur[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[i] = (int(cur[i]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = cur
        prev = cur
    return out


#: Adam7 pass grid: (x0, y0, dx, dy) per pass, in stream order
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _decode_png(payload: bytes):
    """PNG -> (h, w, 3) uint8 RGB array via stdlib ``zlib`` + numpy —
    no codec library.  All five color types (grayscale, RGB, palette,
    gray+alpha, RGBA; alpha dropped, gray broadcast), bit depths
    1/2/4 (gray scaled to 8-bit, palette indices raw), 8, and 16
    (high byte kept), and BOTH interlace methods (none / Adam7 — the
    seven per-pass sub-rasters each carry their own filtered scanline
    run and scatter back onto the full grid)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    hdr = None
    plte = None
    idat = []
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if hdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = hdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None or comp != 0 or filt != 0 or interlace > 1:
        raise ValueError(
            f"unsupported PNG shape color={color} interlace={interlace}"
        )
    if depth not in (1, 2, 4, 8, 16) or (
        depth < 8 and color not in (0, 3)
    ) or (depth == 16 and color == 3):
        raise ValueError(f"unsupported PNG depth={depth} for color={color}")
    raw = zlib.decompress(b"".join(idat))

    def read_sub(pos: int, ws: int, hs: int):
        """One (sub-)raster: ``hs`` filtered scanlines at width ``ws``
        starting at ``pos`` in the decompressed stream -> ((hs, ws,
        channels) uint8, next pos)."""
        bits_pp = depth * channels
        stride = (ws * bits_pp + 7) // 8
        bpp = max(1, bits_pp // 8)
        need = hs * (stride + 1)
        if pos + need > len(raw):
            raise ValueError("PNG raster size mismatch")
        rows = _png_unfilter(raw[pos : pos + need], hs, stride, bpp)
        if depth == 8:
            px = rows[:, : ws * channels].reshape(hs, ws, channels)
        elif depth == 16:
            px = rows[:, : ws * channels * 2 : 2].reshape(
                hs, ws, channels
            )  # network byte order: even positions are the high bytes
        else:
            bits = np.unpackbits(rows, axis=1)[:, : ws * depth]
            weights = 1 << np.arange(depth - 1, -1, -1)
            vals = (
                bits.reshape(hs, ws, depth).astype(np.uint16) * weights
            ).sum(axis=2)
            if color == 0:  # scale 1/2/4-bit gray to full 8-bit range
                vals = vals * (255 // ((1 << depth) - 1))
            px = vals[:, :, None]
        return px.astype(np.uint8), pos + need

    if interlace == 0:
        px, end = read_sub(0, w, h)
        if end != len(raw):
            raise ValueError("PNG raster size mismatch")
    else:
        px = np.zeros((h, w, channels), dtype=np.uint8)
        pos2 = 0
        for x0, y0, dx, dy in _ADAM7:
            ws = (w - x0 + dx - 1) // dx
            hs = (h - y0 + dy - 1) // dy
            if ws <= 0 or hs <= 0:
                continue
            sub, pos2 = read_sub(pos2, ws, hs)
            px[y0::dy, x0::dx] = sub
        if pos2 != len(raw):
            raise ValueError("PNG raster size mismatch")
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        idx = px[:, :, 0]
        if int(idx.max()) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return np.ascontiguousarray(plte[idx])
    if color in (0, 4):
        return np.repeat(px[:, :, :1], 3, axis=2)
    return np.ascontiguousarray(px[:, :, :3])


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (ISO 12639 / TIFF 6.0 §13): 8-bit symbols,
    MSB-first packed variable-width codes starting at 9 bits, Clear=256,
    EOI=257, table grows from 258, and the EARLY-CHANGE width bump
    (width increments when the next code WOULD reach 2^width - 1 —
    one code earlier than GIF)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                reset()
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("TIFF: bad first LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("TIFF: LZW code out of range")
            out += entry
            prev = entry
            if len(table) == (1 << width) - 1 and width < 12:  # early change
                width += 1
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """TIFF PackBits (Apple RLE): n in 0..127 -> copy n+1 literals;
    n in -127..-1 -> repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("TIFF: PackBits run truncated")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError("TIFF: PackBits output short")
    return bytes(out[:expected])


def _decode_tiff(payload: bytes):
    """Baseline TIFF 6.0 -> (h, w, 3) uint8 RGB: both byte orders
    (II/MM), first IFD only, strip-based storage, compressions 1 (none)
    / 5 (LZW, with horizontal-differencing predictor 2) / 32773
    (PackBits), photometrics 0/1 (grayscale, 8-bit), 2 (RGB, 8-bit per
    sample), 3 (palette, 16-bit colormap scaled >>8).  Tiled TIFFs,
    16-bit samples, and planar configuration 2 raise ValueError (the
    fake-decoder fallback upstream)."""
    import struct

    import numpy as np

    if payload[:4] == b"II\x2a\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00\x2a":
        bo = ">"
    else:
        raise ValueError("TIFF: bad magic")
    if len(payload) < 8:
        raise ValueError("TIFF: truncated header")
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("TIFF: IFD offset out of range")
    (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
    tags: dict[int, tuple[int, list[int]]] = {}
    _SZ = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    for e in range(n_entries):
        off = ifd_off + 2 + 12 * e
        if off + 12 > len(payload):
            raise ValueError("TIFF: IFD entry out of range")
        tag, typ, cnt = struct.unpack_from(bo + "HHI", payload, off)
        if typ not in _SZ:
            continue
        total = _SZ[typ] * cnt
        if total <= 4:
            voff = off + 8
        else:
            (voff,) = struct.unpack_from(bo + "I", payload, off + 8)
        if voff + total > len(payload):
            raise ValueError("TIFF: tag value out of range")
        if typ == 3:
            vals = list(
                struct.unpack_from(bo + f"{cnt}H", payload, voff)
            )
        elif typ == 4:
            vals = list(
                struct.unpack_from(bo + f"{cnt}I", payload, voff)
            )
        elif typ == 1:
            vals = list(payload[voff : voff + cnt])
        else:
            continue  # rationals/ascii not needed
        tags[tag] = (typ, vals)

    def tv(tag, default=None):
        t = tags.get(tag)
        return t[1] if t is not None else default

    if 322 in tags or 323 in tags:
        raise ValueError("TIFF: tiled layout unsupported")
    w = tv(256, [None])[0]
    h = tv(257, [None])[0]
    if not w or not h:
        raise ValueError("TIFF: missing dimensions")
    bits = tv(258, [8])
    comp = tv(259, [1])[0]
    photo = tv(262, [1])[0]
    offsets = tv(273)
    spp = tv(277, [1])[0]
    rows_per_strip = tv(278, [h])[0] or h
    counts = tv(279)
    planar = tv(284, [1])[0]
    predictor = tv(317, [1])[0]
    cmap = tv(320)
    if offsets is None or counts is None or len(offsets) != len(counts):
        raise ValueError("TIFF: missing strip layout")
    if any(b != 8 for b in bits):
        raise ValueError(f"TIFF: only 8-bit samples (got {bits})")
    if planar != 1:
        raise ValueError("TIFF: planar configuration 2 unsupported")
    if photo not in (0, 1, 2, 3):
        raise ValueError(f"TIFF: photometric {photo} unsupported")
    if photo == 2 and spp < 3:
        raise ValueError("TIFF: RGB needs 3+ samples per pixel")
    stride = w * spp
    raster = bytearray()
    for si, (so, sc) in enumerate(zip(offsets, counts)):
        if so + sc > len(payload):
            raise ValueError("TIFF: strip out of range")
        nrows = min(rows_per_strip, h - si * rows_per_strip)
        if nrows <= 0:
            break
        expected = nrows * stride
        chunk = payload[so : so + sc]
        if comp == 1:
            if len(chunk) < expected:
                raise ValueError("TIFF: strip short")
            raw = chunk[:expected]
        elif comp == 5:
            raw = _tiff_lzw_decode(chunk)
            if len(raw) < expected:
                raise ValueError("TIFF: LZW strip short")
            raw = raw[:expected]
        elif comp == 32773:
            raw = _packbits_decode(chunk, expected)
        else:
            raise ValueError(f"TIFF: compression {comp} unsupported")
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(nrows, w, spp)
        if predictor == 2:
            arr = np.cumsum(arr.astype(np.int64), axis=1).astype(
                np.uint8
            )  # undo horizontal differencing (mod-256)
        raster += arr.tobytes()
    px = np.frombuffer(bytes(raster), dtype=np.uint8).reshape(h, w, spp)
    if photo == 2:
        return np.ascontiguousarray(px[:, :, :3])
    if photo == 3:
        if cmap is None or len(cmap) < 3 * 256:
            raise ValueError("TIFF: palette image without full ColorMap")
        pal = (
            np.array(cmap[: 3 * 256], dtype=np.uint16)
            .reshape(3, 256)
            .T
            >> 8
        ).astype(np.uint8)
        return np.ascontiguousarray(pal[px[:, :, 0]])
    gray = px[:, :, 0]
    if photo == 0:  # WhiteIsZero
        gray = 255 - gray
    return np.repeat(gray[:, :, None], 3, axis=2)


_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _idct_matrix():
    """Orthonormal 8-point DCT-II basis ``M`` (``pixels = M.T @ F @ M``),
    the exact inverse of the forward transform in ITU-T T.81 A.3.3."""
    import numpy as np

    n = np.arange(8)
    mat = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16.0)
    mat[0, :] *= 1.0 / np.sqrt(2.0)
    return mat * 0.5


class _JpegBits:
    """MSB-first bit reader over one entropy-coded segment (byte
    stuffing already stripped)."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.buf):
            raise ValueError("JPEG entropy data truncated")
        b = (self.buf[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_huff(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            val = table.get((length, code))
            if val is not None:
                return val
        raise ValueError("invalid JPEG huffman code")

    def receive_extend(self, s: int) -> int:
        if s == 0:
            return 0
        v = self.read_bits(s)
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_huff_dict(bits, vals) -> dict:
    """Canonical huffman (T.81 Annex C): 16 length counts + values in
    code order -> ``{(length, code): value}``."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _decode_jpeg(payload: bytes):
    """JFIF -> (h, w, 3) uint8 RGB array in pure numpy + stdlib — no
    codec library (the PNG/stdlib-zlib precedent, extended to the DCT
    family).

    Supports the two common on-disk shapes: baseline/extended
    sequential (SOF0/SOF1) and progressive (SOF2, round 6 — spectral
    selection + successive approximation, per T.81 Annex G), 8-bit
    samples, 1 (grayscale) or 3 (YCbCr, any sampling factors incl.
    4:2:0/4:2:2) components, restart markers, byte stuffing.
    Lossless/hierarchical frames, arithmetic coding, and 12-bit frames
    raise ValueError — fall back to the fake decoder upstream.
    EVERY malformed-input failure mode is normalized to ValueError
    (truncated headers raise struct.error, truncated tables IndexError,
    non-interleaved scans KeyError from the raw parse), so callers have
    a single exception type for the corrupt/unsupported contract.
    """
    import struct

    try:
        if _jpeg_frame_marker(payload) == 0xC2:
            return _decode_jpeg_progressive_strict(payload)
        return _decode_jpeg_strict(payload)
    except (struct.error, IndexError, KeyError) as exc:
        raise ValueError(f"malformed or unsupported JPEG: {exc!r}") from exc


def _jpeg_frame_marker(payload: bytes) -> int:
    """Light marker walk up to the first SOFn: returns its marker byte
    so ``_decode_jpeg`` can dispatch sequential vs progressive.  SOF
    always precedes the first SOS, so this never touches entropy data."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            continue
        if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                      0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return marker
        if marker in (0xD9, 0xDA):  # hit SOS/EOI without a frame header
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        pos += seglen
    raise ValueError("JPEG missing SOF")


def _decode_jpeg_strict(payload: bytes):
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, object] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    scan = None
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        data = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT: one or more tables
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq:
                    tbl = np.frombuffer(
                        data[i : i + 128], dtype=">u2"
                    ).astype(np.float64)
                    i += 128
                else:
                    tbl = np.frombuffer(
                        data[i : i + 64], dtype=np.uint8
                    ).astype(np.float64)
                    i += 64
                qt[tq] = tbl
        elif marker == 0xC4:  # DHT: one or more tables
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                bits = data[i + 1 : i + 17]
                n = sum(bits)
                vals = data[i + 17 : i + 17 + n]
                huff[(tc, th)] = _jpeg_huff_dict(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1: baseline / ext-sequential
            prec, h, w, nc = struct.unpack_from(">BHHB", data, 0)
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if h == 0:
                raise ValueError("DNL-deferred JPEG height unsupported")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", data, 6 + 3 * c)
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG frame type SOF{marker & 15}"
            )
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:  # SOS: scan header, then entropy data
            ns = data[0]
            scan = []
            for c in range(ns):
                cs, tt = data[1 + 2 * c], data[2 + 2 * c]
                scan.append((cs, tt >> 4, tt & 15))
            pos += seglen
            break
        pos += seglen
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")

    segments, _ = _jpeg_split_entropy(payload, pos)

    h, w, comps = frame
    if len(comps) not in (1, 3):
        raise ValueError(f"unsupported JPEG component count {len(comps)}")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    idct = _idct_matrix()
    planes, order = {}, []
    for cid, hs, vs, tq in comps:
        planes[cid] = np.zeros((mcuy * vs * 8, mcux * hs * 8))
        order.append((cid, hs, vs, qt[tq]))
    tabsel = {cs: (dc, ac) for cs, dc, ac in scan}

    br = _JpegBits(segments[0])
    seg_idx = 0
    preds = {cid: 0 for cid, *_ in comps}
    zz = np.zeros(64)
    for m in range(mcux * mcuy):
        if restart and m and m % restart == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG restart segment missing")
            br = _JpegBits(segments[seg_idx])
            preds = {cid: 0 for cid, *_ in comps}
        my, mx = divmod(m, mcux)
        for cid, hs, vs, q in order:
            dc_t = huff.get((0, tabsel[cid][0]))
            ac_t = huff.get((1, tabsel[cid][1]))
            if dc_t is None or ac_t is None:
                raise ValueError("JPEG huffman table missing")
            for blk in range(hs * vs):
                by, bx = divmod(blk, hs)
                zz[:] = 0.0
                s = br.read_huff(dc_t)
                preds[cid] += br.receive_extend(s)
                zz[0] = preds[cid]
                k = 1
                while k < 64:
                    rs = br.read_huff(ac_t)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r != 15:
                            break  # EOB
                        k += 16
                        continue
                    k += r
                    if k > 63:
                        raise ValueError("JPEG AC index out of range")
                    zz[k] = br.receive_extend(s)
                    k += 1
                coef = np.zeros(64)
                coef[_ZIGZAG] = zz * q
                block = idct.T @ coef.reshape(8, 8) @ idct + 128.0
                y0 = (my * vs + by) * 8
                x0 = (mx * hs + bx) * 8
                planes[cid][y0 : y0 + 8, x0 : x0 + 8] = block

    return _jpeg_reconstruct(order, planes, h, w, hmax, vmax)


def _decode_jpeg_progressive_strict(payload: bytes):
    """Progressive JPEG (SOF2, T.81 Annex G): huffman-coded spectral
    selection + successive approximation.

    Coefficients accumulate across scans into per-component int32 block
    arrays (zigzag order); dequantization + IDCT run once at the end.
    Scan kinds, mirroring the libjpeg-compatible semantics:

    - DC first (Ss=0, Ah=0): huffman DC diffs, value ``diff << Al``;
      interleaved over MCUs when the scan has >1 component.
    - DC refinement (Ah>0): one appended bit per block (``|= 1 << Al``).
    - AC first (Ss>0, Ah=0): single-component, EOBRUN run-length coding
      over whole blocks, values ``v << Al``.
    - AC refinement (Ss>0, Ah>0): correction bit per already-nonzero
      coefficient, newly-significant coefficients ±``1 << Al``.

    Restart markers reset DC predictors and EOBRUN.  Tables may be
    redefined between scans, so scans decode inline during the marker
    walk.  The marker walk deliberately mirrors ``_decode_jpeg_strict``
    (shared helpers for entropy-splitting and reconstruction); the
    sequential path stays byte-identical to its round-5 tested form.
    """
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, object] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    pos = 2
    coefs: dict[int, object] = {}  # cid -> (rows, cols, 64) int32, zigzag
    grid = None  # (mcux, mcuy, hmax, vmax)

    def refine_nonzero(br, blk, k, se, p1, m1):
        """Append one correction bit to every already-nonzero coefficient
        in blk[k..se]; returns the index after se."""
        while k <= se:
            if blk[k] != 0:
                if br.read_bit():
                    if (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        return k

    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        data = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq:
                    tbl = np.frombuffer(
                        data[i : i + 128], dtype=">u2"
                    ).astype(np.float64)
                    i += 128
                else:
                    tbl = np.frombuffer(
                        data[i : i + 64], dtype=np.uint8
                    ).astype(np.float64)
                    i += 64
                qt[tq] = tbl
        elif marker == 0xC4:
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                bits = data[i + 1 : i + 17]
                n = sum(bits)
                vals = data[i + 17 : i + 17 + n]
                huff[(tc, th)] = _jpeg_huff_dict(bits, vals)
                i += 17 + n
        elif marker == 0xC2:
            prec, h, w, nc = struct.unpack_from(">BHHB", data, 0)
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if h == 0:
                raise ValueError("DNL-deferred JPEG height unsupported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", data, 6 + 3 * c)
                comps.append((cid, hv >> 4, hv & 15, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            frame = (h, w, comps)
            grid = (mcux, mcuy, hmax, vmax)
            for cid, hs, vs, _tq in comps:
                coefs[cid] = np.zeros(
                    (mcuy * vs, mcux * hs, 64), dtype=np.int64
                )
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unexpected JPEG frame type SOF{marker & 15}")
        elif marker == 0xDD:
            (restart,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            h, w, comps = frame
            mcux, mcuy, hmax, vmax = grid
            byc = {cid: (hs, vs) for cid, hs, vs, _ in comps}
            ns = data[0]
            scomps = []
            for c in range(ns):
                cs, tt = data[1 + 2 * c], data[2 + 2 * c]
                scomps.append((cs, tt >> 4, tt & 15))
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ah, al = data[3 + 2 * ns] >> 4, data[3 + 2 * ns] & 15
            if ss > se or se > 63:
                raise ValueError("bad JPEG spectral selection")
            if ss == 0 and se != 0:
                raise ValueError(
                    "bad JPEG progressive scan: DC scan requires Se=0"
                )
            if ss > 0 and ns != 1:
                raise ValueError("progressive AC scan must be 1-component")
            pos += seglen
            segments, pos = _jpeg_split_entropy(payload, pos)
            p1, m1 = 1 << al, -1 << al

            if ns > 1:
                # interleaved DC scan: MCU walk
                n_units = mcux * mcuy
            else:
                # non-interleaved: one block per data unit over the
                # component's own ceil(dim/8) grid (T.81 A.2.2)
                cs0, _, _ = scomps[0]
                hs, vs = byc[cs0]
                cw = -(-(w * hs) // hmax)
                ch = -(-(h * vs) // vmax)
                bw = -(-cw // 8)
                bh = -(-ch // 8)
                n_units = bw * bh

            br = _JpegBits(segments[0])
            seg_idx = 0
            preds = {cs: 0 for cs, _, _ in scomps}
            eobrun = 0
            for m in range(n_units):
                if restart and m and m % restart == 0:
                    seg_idx += 1
                    if seg_idx >= len(segments):
                        raise ValueError("JPEG restart segment missing")
                    br = _JpegBits(segments[seg_idx])
                    preds = {cs: 0 for cs, _, _ in scomps}
                    eobrun = 0
                if ss == 0 and ns > 1:
                    # interleaved DC: all scan components' blocks per MCU
                    my, mx = divmod(m, mcux)
                    for cs, dct, _act in scomps:
                        hs, vs = byc[cs]
                        arr = coefs[cs]
                        for blk_i in range(hs * vs):
                            by, bx = divmod(blk_i, hs)
                            blk = arr[my * vs + by, mx * hs + bx]
                            if ah == 0:
                                tbl = huff.get((0, dct))
                                if tbl is None:
                                    raise ValueError("JPEG DC table missing")
                                s = br.read_huff(tbl)
                                preds[cs] += br.receive_extend(s)
                                blk[0] = preds[cs] << al
                            else:
                                if br.read_bit():
                                    blk[0] |= p1
                    continue
                # non-interleaved scan (DC or AC) over one component
                cs, dct, act = scomps[0]
                arr = coefs[cs]
                rowlen = arr.shape[1]
                by, bx = divmod(m, bw)
                if bx >= rowlen or by >= arr.shape[0]:
                    raise ValueError("JPEG block index out of range")
                blk = arr[by, bx]
                if ss == 0:
                    if ah == 0:
                        tbl = huff.get((0, dct))
                        if tbl is None:
                            raise ValueError("JPEG DC table missing")
                        s = br.read_huff(tbl)
                        preds[cs] += br.receive_extend(s)
                        blk[0] = preds[cs] << al
                    else:
                        if br.read_bit():
                            blk[0] |= p1
                    continue
                ac_t = huff.get((1, act))
                if ac_t is None:
                    raise ValueError("JPEG AC table missing")
                if ah == 0:
                    # AC first pass
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = br.read_huff(ac_t)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r != 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += br.read_bits(r)
                                break
                            k += 16
                            continue
                        k += r
                        if k > se:
                            raise ValueError("JPEG AC index out of range")
                        blk[k] = br.receive_extend(s) << al
                        k += 1
                else:
                    # AC refinement pass
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = br.read_huff(ac_t)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r != 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += br.read_bits(r)
                                    break  # tail refinement below
                                newval = 0  # ZRL: 16 zero-history skips
                            elif s == 1:
                                newval = p1 if br.read_bit() else m1
                            else:
                                raise ValueError(
                                    "bad JPEG refinement magnitude"
                                )
                            while k <= se:
                                if blk[k] != 0:
                                    if br.read_bit():
                                        if (blk[k] & p1) == 0:
                                            blk[k] += (
                                                p1 if blk[k] >= 0 else m1
                                            )
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if s and k <= se:
                                blk[k] = newval
                            k += 1
                    if eobrun > 0:
                        refine_nonzero(br, blk, k, se, p1, m1)
                        eobrun -= 1
            continue  # pos already advanced past entropy data
        pos += seglen

    if frame is None or not coefs:
        raise ValueError("JPEG missing SOF/SOS")
    h, w, comps = frame
    mcux, mcuy, hmax, vmax = grid
    idct = _idct_matrix()
    planes, order = {}, []
    for cid, hs, vs, tq in comps:
        arr = coefs[cid]
        q = qt[tq]
        nby, nbx = arr.shape[0], arr.shape[1]
        deq = arr.reshape(-1, 64).astype(np.float64) * q[None, :]
        blocks = np.zeros((deq.shape[0], 64))
        blocks[:, _ZIGZAG] = deq
        blocks = blocks.reshape(-1, 8, 8)
        px = np.einsum("ij,njk,kl->nil", idct.T, blocks, idct) + 128.0
        plane = (
            px.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        planes[cid] = plane
        order.append((cid, hs, vs, q))
    return _jpeg_reconstruct(order, planes, h, w, hmax, vmax)


def _jpeg_split_entropy(payload: bytes, pos: int):
    """Split one scan's entropy-coded data starting at ``pos`` into
    restart-interval segments with byte stuffing stripped.  Returns
    ``(segments, next_pos)`` where ``next_pos`` is the offset of the
    0xFF of the first non-RST marker after the scan (or EOF)."""
    segments, cur = [], bytearray()
    i = pos
    while i < len(payload):
        b = payload[i]
        if b == 0xFF and i + 1 < len(payload):
            nxt = payload[i + 1]
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # EOI or next marker
        cur.append(b)
        i += 1
    segments.append(bytes(cur))
    return segments, i


def _jpeg_reconstruct(order, planes, h: int, w: int, hmax: int, vmax: int):
    """Shared sequential/progressive tail: upsample each component plane
    to full resolution, crop to (h, w), and convert to uint8 RGB."""
    import numpy as np

    full = []
    for cid, hs, vs, _ in order:
        p = planes[cid]
        if hs != hmax:
            p = np.repeat(p, hmax // hs, axis=1)
        if vs != vmax:
            p = np.repeat(p, vmax // vs, axis=0)
        full.append(p[:h, :w])
    if len(full) == 1:
        gray = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


_TGA_FOOTER = b"TRUEVISION-XFILE.\x00"


def _decode_tga(payload: bytes):
    """Truevision TGA (types 2 uncompressed / 10 RLE, 24/32-bit
    truecolor) -> (h, w, 3) uint8 RGB array.

    TGA has NO leading magic — dispatch keys on the TGA 2.0 footer
    signature (last 18 bytes), which every modern writer emits; the
    18-byte header is then validated (no colormap, truecolor type,
    24/32 bpp).  Descriptor bit 5 selects top-left origin; RLE packets
    are the 1-byte header + (repeated | literal) pixel runs of the
    classic spec."""
    import struct

    import numpy as np

    if len(payload) < 18 + len(_TGA_FOOTER):
        raise ValueError("TGA: truncated header")
    id_len, cmap_type, img_type = payload[0], payload[1], payload[2]
    if cmap_type != 0:
        raise ValueError("TGA: colormapped images unsupported")
    if img_type not in (2, 10):
        raise ValueError(f"TGA: unsupported image type {img_type}")
    w, h = struct.unpack_from("<HH", payload, 12)
    bpp, desc = payload[16], payload[17]
    if bpp not in (24, 32):
        raise ValueError(f"TGA: unsupported depth {bpp}")
    if w <= 0 or h <= 0:
        raise ValueError("TGA: degenerate dimensions")
    ch = bpp // 8
    off = 18 + id_len
    n = w * h
    if img_type == 2:
        need = off + n * ch
        if len(payload) < need:
            raise ValueError("TGA: truncated pixel data")
        raw = np.frombuffer(payload, dtype=np.uint8, count=n * ch, offset=off)
    else:
        out = bytearray()
        pos = off
        while len(out) < n * ch:
            if pos >= len(payload):
                raise ValueError("TGA: truncated RLE stream")
            hdr = payload[pos]
            pos += 1
            count = (hdr & 0x7F) + 1
            if hdr & 0x80:
                px = payload[pos : pos + ch]
                if len(px) < ch:
                    raise ValueError("TGA: truncated RLE pixel")
                out += px * count
                pos += ch
            else:
                lit = payload[pos : pos + count * ch]
                if len(lit) < count * ch:
                    raise ValueError("TGA: truncated literal run")
                out += lit
                pos += count * ch
        raw = np.frombuffer(bytes(out[: n * ch]), dtype=np.uint8)
    px = raw.reshape(h, w, ch)
    if not (desc & 0x20):  # bottom-up unless top-left bit set
        px = px[::-1]
    return np.ascontiguousarray(px[:, :, 2::-1][:, :, :3])


def _decode_aiff(payload: bytes):
    """AIFF (FORM/AIFF, uncompressed PCM) -> ((frames, ch) float64 in
    [-1, 1], rate).  Big-endian IFF chunks: COMM carries channels /
    sample size / an 80-bit IEEE-extended sample rate (parsed exactly:
    mantissa · 2^(exp−16383−63)); SSND carries offset/blocksize then
    big-endian PCM.  8/16/24/32-bit widths."""
    import struct

    import numpy as np

    if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        raise ValueError("AIFF: bad FORM/AIFF magic")
    comm = ssnd = None
    pos, end = 12, min(len(payload), 8 + struct.unpack_from(">I", payload, 4)[0])
    while pos + 8 <= end:
        fcc = payload[pos : pos + 4]
        (ln,) = struct.unpack_from(">I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + ln]
        if fcc == b"COMM":
            comm = body
        elif fcc == b"SSND":
            ssnd = body
        pos += 8 + ln + (ln & 1)  # chunks pad to even length
    if comm is None or ssnd is None or len(comm) < 18 or len(ssnd) < 8:
        raise ValueError("AIFF: missing COMM/SSND chunk")
    ch, n_frames, bps = struct.unpack_from(">hLh", comm, 0)
    if ch < 1:
        raise ValueError("AIFF: zero channels")
    ext = comm[8:18]
    exp = ((ext[0] & 0x7F) << 8 | ext[1]) - 16383
    mant = int.from_bytes(ext[2:10], "big")
    rate = int(round(mant * 2.0 ** (exp - 63))) if mant else 0
    if rate <= 0:
        raise ValueError("AIFF: bad sample rate")
    data_off, _block = struct.unpack_from(">LL", ssnd, 0)
    data = ssnd[8 + data_off :]
    if bps == 8:
        arr = (
            np.frombuffer(data, dtype=np.int8).astype(np.float64) / 128.0
        )
    elif bps == 16:
        arr = np.frombuffer(data, dtype=">i2").astype(np.float64) / 32768.0
    elif bps == 24:
        raw = np.frombuffer(data, dtype=np.uint8)
        raw = raw[: len(raw) - len(raw) % 3].reshape(-1, 3)
        v = (
            (raw[:, 0].astype(np.int64) << 16)
            | (raw[:, 1].astype(np.int64) << 8)
            | raw[:, 2].astype(np.int64)
        )
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        arr = v.astype(np.float64) / float(1 << 23)
    elif bps == 32:
        arr = np.frombuffer(data, dtype=">i4").astype(np.float64) / float(
            1 << 31
        )
    else:
        raise ValueError(f"AIFF: unsupported sample size {bps}")
    arr = arr[: len(arr) - len(arr) % ch]
    frames = arr.reshape(-1, ch)
    return frames[:n_frames], rate


def _decode_qoi(payload: bytes):
    """QOI (Quite OK Image — the public qoiformat.org spec) ->
    (h, w, 3) uint8 RGB.  All six op types (RGB/RGBA/INDEX/DIFF/LUMA/
    RUN) with the 64-entry running index (hash r·3+g·5+b·7+a·11 mod
    64), the (0,0,0,255) start pixel, and the 7×00+01 end marker
    verified; alpha decoded then dropped, matching the other decoders'
    RGB contract."""
    import struct

    import numpy as np

    if payload[:4] != b"qoif" or len(payload) < 22:
        raise ValueError("not a QOI payload")
    w, h = struct.unpack(">II", payload[4:12])
    channels, colorspace = payload[12], payload[13]
    if channels not in (3, 4) or colorspace not in (0, 1):
        raise ValueError("bad QOI header")
    if w == 0 or h == 0 or w * h > 64_000_000:
        raise ValueError("bad QOI dimensions")
    n_px = w * h
    out = np.zeros((n_px, 4), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    r, g, b, a = 0, 0, 0, 255
    pos, px = 14, 0
    data = payload
    end = len(payload) - 8  # chunk stream ends before the end marker
    while px < n_px and pos < end:
        b1 = data[pos]
        pos += 1
        if b1 == 0xFE:  # QOI_OP_RGB
            r, g, b = data[pos], data[pos + 1], data[pos + 2]
            pos += 3
        elif b1 == 0xFF:  # QOI_OP_RGBA
            r, g, b, a = (
                data[pos], data[pos + 1], data[pos + 2], data[pos + 3]
            )
            pos += 4
        else:
            tag = b1 >> 6
            if tag == 0:  # QOI_OP_INDEX
                r, g, b, a = index[b1 & 0x3F]
            elif tag == 1:  # QOI_OP_DIFF (2-bit channel deltas, bias 2)
                r = (r + ((b1 >> 4) & 3) - 2) & 0xFF
                g = (g + ((b1 >> 2) & 3) - 2) & 0xFF
                b = (b + (b1 & 3) - 2) & 0xFF
            elif tag == 2:  # QOI_OP_LUMA (green delta + relative r/b)
                b2 = data[pos]
                pos += 1
                dg = (b1 & 0x3F) - 32
                r = (r + dg + ((b2 >> 4) & 0xF) - 8) & 0xFF
                g = (g + dg) & 0xFF
                b = (b + dg + (b2 & 0xF) - 8) & 0xFF
            else:  # QOI_OP_RUN (length bias -1)
                run = (b1 & 0x3F) + 1
                if px + run > n_px:
                    raise ValueError("QOI run past image end")
                out[px : px + run] = (r, g, b, a)
                px += run
                continue
        index[(r * 3 + g * 5 + b * 7 + a * 11) % 64] = (r, g, b, a)
        out[px] = (r, g, b, a)
        px += 1
    if px != n_px:
        raise ValueError("truncated QOI stream")
    if data[end : end + 8] != b"\x00" * 7 + b"\x01":
        raise ValueError("missing QOI end marker")
    return out[:, :3].reshape(h, w, 3).copy()


def decode_image(payload: bytes):
    """payload -> (h, w, 3) uint8 RGB numpy array, or ``None`` when the
    format isn't one of the dependency-free decoders (BMP/PPM/PNG/
    sequential/progressive JPEG/GIF/TIFF/QOI/TGA-with-footer)."""
    if payload.startswith(b"BM"):
        return _decode_bmp(payload)
    if payload.startswith(b"P6"):
        return _decode_ppm(payload)
    if payload.startswith(_PNG_SIG):
        return _decode_png(payload)
    if payload.startswith(b"\xff\xd8"):
        return _decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        return _decode_tiff(payload)
    if payload.startswith(b"qoif"):
        return _decode_qoi(payload)
    if len(payload) > 44 and payload[-18:] == _TGA_FOOTER:
        return _decode_tga(payload)
    return None


def _pixel_features(px) -> list[float]:
    """(h, w, 3) uint8 -> FEATURE_DIM deterministic floats in [0, 1]:
    channel means, grayscale mean/std, horizontal-gradient energy,
    aspect/size summaries. Exact float64 ops, rounded to 6 decimals so
    results are layout- and platform-stable."""
    import numpy as np

    h, w = px.shape[:2]
    flt = px.astype(np.float64) / 255.0
    gray = flt @ np.array([0.299, 0.587, 0.114])
    grad = float(np.abs(np.diff(gray, axis=1)).mean()) if w > 1 else 0.0
    feats = [
        float(flt[:, :, 0].mean()),
        float(flt[:, :, 1].mean()),
        float(flt[:, :, 2].mean()),
        float(gray.mean()),
        float(gray.std()),
        grad,
        w / (w + h),
        min(1.0, (w * h) / 1.0e6),
    ]
    return [round(f, 6) for f in feats]


#: IMA/DVI ADPCM quantizer step sizes (89 entries) and index
#: adjustments — the tables from the IMA ADPCM reference algorithm.
_ADPCM_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
)
_ADPCM_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)


def _mulaw_expand(codes, np):
    """G.711 mu-law byte codes -> int32 linear samples (ulaw2linear)."""
    u = (~codes.astype(np.int64)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


def _alaw_expand(codes, np):
    """G.711 A-law byte codes -> int32 linear samples (alaw2linear)."""
    a = codes.astype(np.int64) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t)


def _adpcm_expand_nibbles(nibbles, predictor: int, index: int):
    """IMA ADPCM inner loop: 4-bit codes -> int16 samples, adapting the
    step-size index per sample (the reference decode recurrence)."""
    out = []
    for nib in nibbles:
        step = _ADPCM_STEPS[index]
        diff = step >> 3
        if nib & 4:
            diff += step
        if nib & 2:
            diff += step >> 1
        if nib & 1:
            diff += step >> 2
        predictor = predictor - diff if nib & 8 else predictor + diff
        predictor = max(-32768, min(32767, predictor))
        index = max(0, min(88, index + _ADPCM_INDEX[nib]))
        out.append(predictor)
    return out


def _decode_wav_adpcm(data: bytes, ch: int, block_align: int, np):
    """IMA/DVI ADPCM (WAV format tag 0x11) ``data`` chunk -> (n, ch)
    int16 array. Per block and channel: a 4-byte header (int16 first
    sample + step index), then channel-interleaved 4-byte nibble words
    (low nibble first)."""
    if block_align < 4 * ch + 4 * ch or block_align % (4 * ch):
        raise ValueError(f"WAV: bad ADPCM block align {block_align}")
    chans: list[list[int]] = [[] for _ in range(ch)]
    for off in range(0, len(data) - (4 * ch) + 1, block_align):
        block = data[off : off + block_align]
        preds, idxs = [], []
        for c in range(ch):
            preds.append(
                int.from_bytes(block[4 * c : 4 * c + 2], "little", signed=True)
            )
            idx = block[4 * c + 2]
            if idx > 88:
                raise ValueError(f"WAV: ADPCM step index {idx} > 88")
            idxs.append(idx)
            chans[c].append(preds[c])
        body = block[4 * ch :]
        nibs: list[list[int]] = [[] for _ in range(ch)]
        for word in range(0, len(body), 4 * ch):
            for c in range(ch):
                for b in body[word + 4 * c : word + 4 * c + 4]:
                    nibs[c].append(b & 0x0F)
                    nibs[c].append(b >> 4)
        for c in range(ch):
            chans[c].extend(
                _adpcm_expand_nibbles(nibs[c], preds[c], idxs[c])
            )
    n = min(len(x) for x in chans)
    return np.array([x[:n] for x in chans], dtype=np.int64).T


def _decode_wav(payload: bytes):
    """WAV -> ((n_frames, channels) float64 in [-1, 1], sample_rate).

    Hand-parsed RIFF (the stdlib ``wave`` module only accepts PCM and
    raises non-ValueError ``wave.Error`` for everything else, escaping
    the corrupt-file guards). Format tags: 1 PCM (8/16/24/32-bit),
    3 IEEE float (32/64-bit), 6 A-law, 7 mu-law, 0x11 IMA ADPCM, and
    WAVE_FORMAT_EXTENSIBLE wrapping any of those. Anything else raises
    ValueError -> the fake-decoder fallback upstream."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("WAV: bad RIFF/WAVE magic")
    fmt = data = None
    fact_samples = None
    for fcc, start, ln in _riff_chunks(payload, 12, len(payload)):
        if fcc == b"fmt ":
            fmt = payload[start : start + ln]
        elif fcc == b"data":
            data = payload[start : start + ln]
        elif fcc == b"fact" and ln >= 4:
            (fact_samples,) = struct.unpack_from("<I", payload, start)
    if fmt is None or data is None or len(fmt) < 16:
        raise ValueError("WAV: missing fmt/data chunk")
    tag, ch, rate, _byte_rate, block_align, bps = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if tag == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: subformat GUID head
        if len(fmt) < 26:
            raise ValueError("WAV: truncated extensible fmt")
        (tag,) = struct.unpack_from("<H", fmt, 24)
    if ch < 1:
        raise ValueError("WAV: zero channels")
    if tag == 1:  # integer PCM
        if bps == 8:
            arr = np.frombuffer(data, dtype=np.uint8)
            arr = (arr.astype(np.float64) - 128.0) / 128.0
        elif bps == 16:
            arr = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bps == 24:
            raw = np.frombuffer(data, dtype=np.uint8)
            raw = raw[: len(raw) - len(raw) % 3].reshape(-1, 3)
            v = (
                raw[:, 0].astype(np.int64)
                | (raw[:, 1].astype(np.int64) << 8)
                | (raw[:, 2].astype(np.int64) << 16)
            )
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            arr = v.astype(np.float64) / float(1 << 23)
        elif bps == 32:
            arr = np.frombuffer(data, dtype="<i4").astype(np.float64) / float(
                1 << 31
            )
        else:
            raise ValueError(f"WAV: unsupported PCM depth {bps}")
    elif tag == 3:  # IEEE float
        if bps == 32:
            arr = np.frombuffer(data, dtype="<f4").astype(np.float64)
        elif bps == 64:
            arr = np.frombuffer(data, dtype="<f8").astype(np.float64)
        else:
            raise ValueError(f"WAV: unsupported float depth {bps}")
    elif tag == 6:  # G.711 A-law
        arr = _alaw_expand(np.frombuffer(data, dtype=np.uint8), np)
        arr = arr.astype(np.float64) / 32768.0
    elif tag == 7:  # G.711 mu-law
        arr = _mulaw_expand(np.frombuffer(data, dtype=np.uint8), np)
        arr = arr.astype(np.float64) / 32768.0
    elif tag == 0x11:  # IMA ADPCM
        frames = _decode_wav_adpcm(data, ch, block_align, np)
        if fact_samples is not None:
            frames = frames[:fact_samples]
        return frames.astype(np.float64) / 32768.0, rate
    else:
        raise ValueError(f"WAV: unsupported format tag 0x{tag:x}")
    arr = arr[: len(arr) - len(arr) % ch]
    return arr.reshape(-1, ch), rate


def _flac_crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — the FLAC frame
    header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _flac_crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), init 0 — the FLAC
    whole-frame checksum."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                (crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1
            ) & 0xFFFF
    return crc


class _FlacBits:
    """MSB-first bit reader over the raw stream (no byte stuffing —
    unlike :class:`_JpegBits`), tracking the byte position so CRCs can
    be computed over exact byte ranges."""

    def __init__(self, buf: bytes, byte_pos: int = 0):
        self.buf = buf
        self.pos = byte_pos * 8

    @property
    def byte_pos(self) -> int:
        return self.pos // 8

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.buf):
                raise ValueError("FLAC: bitstream truncated")
            v = (v << 1) | ((self.buf[byte] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read_bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read_bits(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


_FLAC_BLOCK_SIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608}


def _flac_residual(br: _FlacBits, blocksize: int, order: int) -> list[int]:
    """Rice-coded residual: 2-bit method (4- or 5-bit params), 4-bit
    partition order, 2^p partitions with per-partition rice parameter
    or raw-escape."""
    method = br.read_bits(2)
    if method > 1:
        raise ValueError(f"FLAC: reserved residual method {method}")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    porder = br.read_bits(4)
    nparts = 1 << porder
    if blocksize % nparts or (blocksize >> porder) - order <= 0:
        raise ValueError("FLAC: invalid partition order")
    out: list[int] = []
    for p in range(nparts):
        n = (blocksize >> porder) - (order if p == 0 else 0)
        param = br.read_bits(pbits)
        if param == escape:
            raw = br.read_bits(5)
            out.extend(
                br.read_signed(raw) if raw else 0 for _ in range(n)
            )
        else:
            for _ in range(n):
                q = br.read_unary()
                v = (q << param) | br.read_bits(param)
                out.append((v >> 1) ^ -(v & 1))
    return out


_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _flac_subframe(br: _FlacBits, blocksize: int, bps: int) -> list[int]:
    """One subframe -> ``blocksize`` ints (wasted bits restored)."""
    if br.read_bits(1):
        raise ValueError("FLAC: subframe padding bit set")
    code = br.read_bits(6)
    wasted = 0
    if br.read_bits(1):
        wasted = br.read_unary() + 1
    bps -= wasted
    if code == 0:  # CONSTANT
        samples = [br.read_signed(bps)] * blocksize
    elif code == 1:  # VERBATIM
        samples = [br.read_signed(bps) for _ in range(blocksize)]
    elif 8 <= code <= 12:  # FIXED, order 0-4
        order = code - 8
        samples = [br.read_signed(bps) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        coefs = _FLAC_FIXED_COEFS[order]
        for r in res:
            pred = sum(
                c * samples[-1 - j] for j, c in enumerate(coefs)
            )
            samples.append(r + pred)
    elif code >= 32:  # LPC, order 1-32
        order = (code & 31) + 1
        samples = [br.read_signed(bps) for _ in range(order)]
        precision = br.read_bits(4) + 1
        if precision == 16:
            raise ValueError("FLAC: invalid LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        for r in res:
            pred = sum(
                c * samples[-1 - j] for j, c in enumerate(coefs)
            ) >> shift
            samples.append(r + pred)
    else:
        raise ValueError(f"FLAC: reserved subframe type {code}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def _decode_flac(payload: bytes):
    """Native FLAC -> ((n_frames, channels) float64 in [-1, 1], rate).

    Full subset decoder in pure Python/numpy: STREAMINFO metadata walk,
    frame-header parse with CRC-8 verification, CONSTANT / VERBATIM /
    FIXED(0-4) / LPC(1-32) subframes, 4- and 5-bit rice residuals with
    partition orders and raw escapes, wasted-bits restore, all four
    channel assignments (independent, left/side, right/side, mid/side),
    and whole-frame CRC-16 verification.  Spec: the public FLAC format
    documents (RFC 9639)."""
    import numpy as np

    if payload[:4] != b"fLaC":
        raise ValueError("FLAC: bad magic")
    i, info = 4, None
    while True:
        if i + 4 > len(payload):
            raise ValueError("FLAC: truncated metadata")
        hdr = payload[i]
        ln = int.from_bytes(payload[i + 1 : i + 4], "big")
        body = payload[i + 4 : i + 4 + ln]
        i += 4 + ln
        if hdr & 0x7F == 0:  # STREAMINFO
            if ln != 34:
                raise ValueError("FLAC: bad STREAMINFO length")
            info = body
        if hdr & 0x80:
            break
    if info is None:
        raise ValueError("FLAC: missing STREAMINFO")
    b = _FlacBits(info)
    b.read_bits(16), b.read_bits(16)  # min/max block size
    b.read_bits(24), b.read_bits(24)  # min/max frame size
    rate = b.read_bits(20)
    channels = b.read_bits(3) + 1
    bps = b.read_bits(5) + 1
    total = b.read_bits(36)
    chans: list[list[int]] = [[] for _ in range(channels)]
    decoded = 0
    while decoded < total and i < len(payload):
        frame_start = i
        br = _FlacBits(payload, i)
        if br.read_bits(14) != 0x3FFE:
            raise ValueError("FLAC: lost frame sync")
        br.read_bits(1)  # reserved
        br.read_bits(1)  # blocking strategy
        bs_code = br.read_bits(4)
        sr_code = br.read_bits(4)
        ch_code = br.read_bits(4)
        ss_code = br.read_bits(3)
        br.read_bits(1)  # reserved
        first = br.read_bits(8)  # UTF-8-style coded frame/sample number
        extra = 0
        if first >= 0xC0:
            n = first
            while n & 0x40:
                extra, n = extra + 1, n << 1
        for _ in range(extra):
            br.read_bits(8)
        if bs_code == 0:
            raise ValueError("FLAC: reserved block size code")
        elif bs_code == 6:
            blocksize = br.read_bits(8) + 1
        elif bs_code == 7:
            blocksize = br.read_bits(16) + 1
        elif bs_code in _FLAC_BLOCK_SIZES:
            blocksize = _FLAC_BLOCK_SIZES[bs_code]
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            br.read_bits(8)
        elif sr_code in (13, 14):
            br.read_bits(16)
        elif sr_code == 15:
            raise ValueError("FLAC: invalid sample rate code")
        if ss_code:
            bps_f = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}.get(ss_code)
            if bps_f is None:
                raise ValueError("FLAC: reserved sample size code")
        else:
            bps_f = bps
        crc8 = br.read_bits(8)
        if crc8 != _flac_crc8(payload[frame_start : br.byte_pos - 1]):
            raise ValueError("FLAC: frame header CRC-8 mismatch")
        if ch_code < 8:
            if ch_code + 1 != channels:
                raise ValueError("FLAC: channel count mismatch")
            sub = [
                _flac_subframe(br, blocksize, bps_f)
                for _ in range(channels)
            ]
        elif ch_code in (8, 9, 10):
            if channels != 2:
                raise ValueError("FLAC: stereo assignment in non-stereo")
            # the SIDE channel carries one extra bit
            side_slot = 1 if ch_code in (8, 10) else 0
            sub = [
                _flac_subframe(
                    br, blocksize, bps_f + (1 if k == side_slot else 0)
                )
                for k in range(2)
            ]
            if ch_code == 8:  # left/side
                sub = [sub[0], [l - s for l, s in zip(sub[0], sub[1])]]
            elif ch_code == 9:  # right/side (side is slot 0)
                sub = [[r + s for s, r in zip(sub[0], sub[1])], sub[1]]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(sub[0], sub[1]):
                    m = (m << 1) | (s & 1)
                    left.append((m + s) >> 1)
                    right.append((m - s) >> 1)
                sub = [left, right]
        else:
            raise ValueError(f"FLAC: reserved channel assignment {ch_code}")
        br.align()
        crc16 = br.read_bits(16)
        if crc16 != _flac_crc16(payload[frame_start : br.byte_pos - 2]):
            raise ValueError("FLAC: frame CRC-16 mismatch")
        for k in range(channels):
            chans[k].extend(sub[k])
        decoded += blocksize
        i = br.byte_pos
    arr = np.array(chans, dtype=np.float64).T[:total]
    return arr / float(1 << (bps - 1)), rate


def decode_audio(payload: bytes):
    """payload -> (samples, rate) for WAV (PCM / IEEE float / G.711
    mu-law + A-law / IMA ADPCM) and native FLAC, ``None`` for formats
    that need a codec library (mp3/aac/...)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav(payload)
    if payload[:4] == b"fLaC":
        return _decode_flac(payload)
    if payload[:4] == b"FORM" and payload[8:12] == b"AIFF":
        return _decode_aiff(payload)
    return None


def _audio_features(arr, rate: int) -> list[float]:
    """(frames, channels) float64 -> FEATURE_DIM deterministic floats:
    RMS energy, peak, zero-crossing rate, duration/rate/channel
    summaries. Rounded to 6 decimals (same stability contract as
    :func:`_pixel_features`)."""
    import numpy as np

    mono = arr.mean(axis=1) if arr.size else np.zeros(1)
    zc = float(np.mean(np.abs(np.diff(np.signbit(mono))))) if len(mono) > 1 else 0.0
    dur = len(arr) / float(rate) if rate else 0.0
    feats = [
        float(np.sqrt(np.mean(mono**2))),       # RMS energy
        float(np.max(np.abs(mono))) if mono.size else 0.0,  # peak
        zc,                                      # zero-crossing rate
        float(np.mean(np.abs(mono))),            # mean amplitude
        float(mono.std()),
        min(1.0, dur / 3600.0),                  # duration (hour-normalized)
        min(1.0, rate / 96000.0),
        min(1.0, arr.shape[1] / 8.0),            # channel count
    ]
    return [round(f, 6) for f in feats]


def _gif_lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-variant LZW: variable-width codes packed LSB-first, clear /
    end-of-information codes, dictionary capped at 4096 entries."""
    clear = 1 << min_code_size
    end = clear + 1
    out: list[int] = []
    table: list[list[int]] = []
    width = min_code_size + 1
    prev: list[int] | None = None

    def reset():
        nonlocal table, width, prev
        table = [[i] for i in range(clear)] + [[], []]
        width = min_code_size + 1
        prev = None

    reset()
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                reset()
                continue
            if code == end:
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError("GIF: bad first LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + [entry[0]])
            elif code == len(table):
                entry = prev + [prev[0]]
                table.append(entry)
            else:
                raise ValueError("GIF: LZW code out of range")
            out.extend(entry)
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return out


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _decode_gif_frames(payload: bytes):
    """GIF87a/89a -> (list of (h, w, 3) uint8 canvases, fps).

    Pure-Python LZW with palette lookup, interlace passes, and
    frame-rectangle composition onto the running canvas (all three
    real disposal methods: leave-in-place, restore-to-background
    fills the rect with the background color, restore-to-previous
    reverts the rect to the pre-frame canvas). Transparency composites
    by keeping the underlying canvas pixel. fps derives from the first Graphic
    Control Extension delay (GIF's centisecond clock; 10 fps when
    unset, the browser convention). EVERY malformed-input failure mode
    is normalized to ValueError (the JPEG-wrapper precedent: a payload
    truncated mid-block-walk raises IndexError from the raw parse), so
    one corrupt file degrades to the fake/skip path instead of killing
    the feature job."""
    try:
        return _decode_gif_frames_strict(payload)
    except IndexError as exc:
        raise ValueError(f"GIF: truncated payload: {exc!r}") from exc


def _decode_gif_frames_strict(payload: bytes):
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("GIF: bad magic")
    if len(payload) < 13:
        raise ValueError("GIF: truncated header")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    bg_idx = payload[11]
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if i + 3 * n > len(payload):
            raise ValueError("GIF: truncated color table")
        gct = np.frombuffer(
            payload[i : i + 3 * n], dtype=np.uint8
        ).reshape(n, 3)
        i += 3 * n
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg_idx < len(gct):
        canvas[:, :] = gct[bg_idx]
    frames: list = []
    delay_cs = 0
    transparent = None
    disposal = 0
    while i < len(payload):
        block = payload[i]
        i += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = payload[i]
            i += 1
            subs = []
            while payload[i]:
                ln = payload[i]
                subs.append(payload[i + 1 : i + 1 + ln])
                i += 1 + ln
            i += 1  # block terminator
            if label == 0xF9 and subs:  # Graphic Control Extension
                gce = subs[0]
                disposal = (gce[0] >> 2) & 7
                if not delay_cs:
                    delay_cs = int.from_bytes(gce[1:3], "little")
                transparent = gce[3] if gce[0] & 1 else None
            continue
        if block != 0x2C:
            raise ValueError(f"GIF: unexpected block 0x{block:02x}")
        if i + 9 > len(payload):
            raise ValueError("GIF: truncated image descriptor")
        fx = int.from_bytes(payload[i : i + 2], "little")
        fy = int.from_bytes(payload[i + 2 : i + 4], "little")
        fw = int.from_bytes(payload[i + 4 : i + 6], "little")
        fh = int.from_bytes(payload[i + 6 : i + 8], "little")
        fpacked = payload[i + 8]
        i += 9
        pal = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 7)
            if i + 3 * n > len(payload):
                raise ValueError("GIF: truncated color table")
            pal = np.frombuffer(
                payload[i : i + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            i += 3 * n
        if pal is None:
            raise ValueError("GIF: no color table")
        min_code = payload[i]
        i += 1
        data = bytearray()
        while payload[i]:
            ln = payload[i]
            data += payload[i + 1 : i + 1 + ln]
            i += 1 + ln
        i += 1
        idx = _gif_lzw_decode(bytes(data), min_code)
        if len(idx) < fw * fh:
            raise ValueError("GIF: not enough pixel data")
        arr = np.array(idx[: fw * fh], dtype=np.int32).reshape(fh, fw)
        if fpacked & 0x40:  # interlaced: rows arrive in the 4 passes
            out_rows = np.empty_like(arr)
            src = 0
            for first, step in _GIF_INTERLACE:
                for r in range(first, fh, step):
                    out_rows[r] = arr[src]
                    src += 1
            arr = out_rows
        if (arr >= len(pal)).any():
            raise ValueError("GIF: palette index out of range")
        rect = canvas[fy : fy + fh, fx : fx + fw]
        prev_rect = rect.copy() if disposal == 3 else None
        px = pal[arr]
        if transparent is not None:
            mask = arr == transparent
            px = np.where(mask[:, :, None], rect, px)
        canvas[fy : fy + fh, fx : fx + fw] = px
        frames.append(canvas.copy())
        if disposal == 2 and gct is not None and bg_idx < len(gct):
            canvas[fy : fy + fh, fx : fx + fw] = gct[bg_idx]
        elif disposal == 3:  # restore-to-previous: undo this frame
            canvas[fy : fy + fh, fx : fx + fw] = prev_rect
        # a GCE applies only to the single rendering block that follows
        # (GIF89a §23) — reset BOTH fields, or one disposal=2 frame
        # would keep wiping every later GCE-less frame's rect
        transparent = None
        disposal = 0
    if not frames:
        raise ValueError("GIF: no image frames")
    fps = 100.0 / delay_cs if delay_cs else 10.0
    return frames, fps


def _decode_gif(payload: bytes):
    """Static entry point: first (usually only) frame of a GIF."""
    return _decode_gif_frames(payload)[0][0]


def _riff_chunks(buf: bytes, start: int, end: int):
    """Yield (fourcc, data_start, data_len) over a RIFF chunk run —
    chunks are word-aligned (odd lengths carry one pad byte)."""
    i = start
    while i + 8 <= end:
        fcc = buf[i : i + 4]
        ln = int.from_bytes(buf[i + 4 : i + 8], "little")
        if i + 8 + ln > end:
            raise ValueError("RIFF: chunk overruns container")
        yield fcc, i + 8, ln
        i += 8 + ln + (ln & 1)


def _decode_avi_mjpeg(payload: bytes):
    """Motion-JPEG AVI -> (list of (h, w, 3) uint8 frames, fps).

    Walks the RIFF container (``hdrl``'s ``avih`` main header for the
    frame clock, the ``movi`` list for ``..dc``/``..db`` frame chunks)
    and feeds each frame chunk to the native JPEG decoder — the video
    tier reuses the image tier's machinery, which is exactly how MJPEG
    is defined."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("AVI: bad magic")
    fps = 0.0
    frame_chunks: list[bytes] = []

    def walk(start: int, end: int):
        nonlocal fps
        for fcc, ds, ln in _riff_chunks(payload, start, end):
            if fcc == b"LIST":
                walk(ds + 4, ds + ln)
            elif fcc == b"avih" and ln >= 4:
                usec = int.from_bytes(payload[ds : ds + 4], "little")
                fps = 1e6 / usec if usec else 0.0
            elif len(fcc) == 4 and fcc[2:4] in (b"dc", b"db") and ln > 0:
                frame_chunks.append(payload[ds : ds + ln])

    walk(12, len(payload))
    if not frame_chunks:
        raise ValueError("AVI: no video frame chunks")
    frames = [_decode_jpeg(c) for c in frame_chunks]
    return frames, fps


def decode_video(payload: bytes):
    """payload -> (frames, fps) for MJPEG AVI and animated GIF,
    ``None`` for containers/codecs that need a codec library
    (mp4/h264/...)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return _decode_avi_mjpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif_frames(payload)
    return None


def _video_features(frames, fps: float) -> list[float]:
    """Decoded frames -> FEATURE_DIM deterministic floats: temporal
    luminance statistics + motion energy (mean absolute per-pixel
    difference between successive frames) + clock/shape summaries.
    Rounded to 6 decimals (same stability contract as
    :func:`_pixel_features`)."""
    import numpy as np

    grays = [
        (f.astype(np.float64) / 255.0) @ np.array([0.299, 0.587, 0.114])
        for f in frames
    ]
    means = np.array([g.mean() for g in grays])
    motion = (
        float(
            np.mean(
                [np.abs(b - a).mean() for a, b in zip(grays, grays[1:])]
            )
        )
        if len(grays) > 1
        else 0.0
    )
    grad = float(
        np.mean(
            [
                np.abs(np.diff(g, axis=1)).mean() if g.shape[1] > 1 else 0.0
                for g in grays
            ]
        )
    )
    h, w = frames[0].shape[:2]
    feats = [
        float(means.mean()),
        float(means.std()),
        motion,
        grad,
        min(1.0, len(frames) / 1.0e4),
        min(1.0, fps / 120.0),
        w / (w + h),
        min(1.0, (w * h) / 1.0e6),
    ]
    return [round(f, 6) for f in feats]


def real_decode(payload: bytes, media_type: str) -> list[float]:
    """Real decode path: BMP/PPM/PNG/GIF/TIFF/JPEG (sequential +
    progressive) images decode to pixels (numpy + stdlib zlib/huffman),
    WAV (PCM / IEEE float / G.711 / IMA ADPCM) plus native FLAC
    (pure-Python rice/LPC bitstream decoder, CRC-verified) audio
    decodes to samples, and MJPEG-AVI / animated-GIF video decodes to
    frames, featurizing from actual content; every other format still
    raises the documented codec-absent branch (malformed payloads of a
    supported magic raise ValueError from the decoder itself)."""
    if media_type == "image":
        px = decode_image(payload)
        if px is not None:
            return _pixel_features(px)
    if media_type == "audio":
        au = decode_audio(payload)
        if au is not None:
            return _audio_features(*au)
    if media_type == "video":
        vi = decode_video(payload)
        if vi is not None:
            return _video_features(*vi)
    raise NotImplementedError(
        "no codec libraries in this environment for "
        f"media_type={media_type!r} with magic {payload[:2]!r}; only "
        "BMP/PPM/PNG/GIF/TIFF/JPEG (sequential+progressive) images, WAV "
        "(PCM/float/G.711/ADPCM) + FLAC audio and MJPEG-AVI / "
        "animated-GIF video decode natively — other payloads use the "
        "deterministic fake decoder"
    )


def extract_features(assets: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Binary payload -> feature vector, Arrow batch at a time.

    The per-batch body is where a real pipeline calls cv2/PIL/ffmpeg;
    everything around it (Arrow transfer, schema contract, executor-side
    parallelism) is the production shape. At 100 TB: payloads stay
    distributed, the only driver traffic is the plan.
    """
    import pandas as pd

    def decode(payload: bytes, media_type: str) -> list[float]:
        # real content features whenever the payload is natively
        # decodable (real_decode owns the single image/audio/video
        # dispatch — no second copy to drift); corrupt payloads
        # (ValueError) and codec-absent formats (NotImplementedError)
        # degrade to the deterministic fake vector: at fleet scale one
        # truncated file must never kill the whole feature job.
        try:
            return real_decode(payload, media_type)
        except (ValueError, NotImplementedError):
            return _fake_decode(payload)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode(bytes(p), t) if p is not None else None
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "content_sha256": [
                        hashlib.sha256(bytes(p)).hexdigest() if p is not None else None
                        for p in pdf["payload"]
                    ],
                    "feature": feats,
                }
            )

    return assets.select("asset_id", "media_type", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def sample_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing for video payloads: one output row per
    sampled frame offset, metadata-driven (no decode needed to *plan*
    the sampling — duration_ms comes from the asset row).

    Pure built-ins: ``sequence`` + ``explode`` generate the frame grid
    JVM-side; the downstream decode of each frame is the Pandas-UDF stage
    above.
    """
    return (
        assets.filter(F.col("media_type") == "video")
        .withColumn(
            "frame_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("asset_id", "frame_ms", "payload")
    )
