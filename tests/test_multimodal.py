"""Multimodal binary-column plumbing (stubbed decode, real Spark shape)."""

from __future__ import annotations

import hashlib

import pytest

from wistia_video_analytics_project_spark import schemas
from wistia_video_analytics_project_spark.operators import multimodal


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, "image", b"img-bytes-a", 640, 480, None, "png"),
        (2, "image", b"img-bytes-a", 640, 480, None, "png"),  # dup content
        (3, "audio", b"pcm-bytes", None, None, 2500, "opus"),
        (4, "video", b"h264-bytes", 1920, 1080, 3500, "h264"),
        (5, "video", None, None, None, 1000, "h264"),  # missing payload
    ]
    return spark.createDataFrame(rows, schemas.MEDIA_ASSETS)


def test_extract_features_shape_and_determinism(spark, assets):
    out = multimodal.extract_features(assets)
    rows = {r.asset_id: r for r in out.collect()}
    assert len(rows) == 5
    assert len(rows[1].feature) == multimodal.FEATURE_DIM
    assert rows[1].feature == rows[2].feature  # same bytes -> same features
    assert rows[1].content_sha256 == hashlib.sha256(b"img-bytes-a").hexdigest()
    assert rows[5].feature is None and rows[5].n_bytes == 0
    # deterministic across repartitioning
    again = {r.asset_id: r.feature
             for r in multimodal.extract_features(assets.repartition(3)).collect()}
    assert again == {k: r.feature for k, r in rows.items()}


def test_sample_frames_grid(spark, assets):
    out = multimodal.sample_frames(assets, every_ms=1000)
    by_asset = {}
    for r in out.collect():
        by_asset.setdefault(r.asset_id, []).append(r.frame_ms)
    # only video assets; 3500ms -> frames at 0,1000,2000,3000
    assert sorted(by_asset) == [4, 5]
    assert sorted(by_asset[4]) == [0, 1000, 2000, 3000]
    assert sorted(by_asset[5]) == [0]


def test_codecs_absent_stub_raises():
    if not multimodal.HAVE_CODECS:
        with pytest.raises(NotImplementedError, match="codec"):
            multimodal.real_decode(b"x", "image")


# Golden payload pinning the decode contract. A real-codec drop-in must
# reproduce everything here EXCEPT the feature values (which would come
# from the real model); schema, hashing, null policy, and the decoder
# call signature must not drift.
GOLDEN = b"\x89PNG-golden-payload\x00\x01\x02"
GOLDEN_SHA = hashlib.sha256(GOLDEN).hexdigest()


def test_decode_contract_golden_payload(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(1, "image", GOLDEN, 8, 8, None, "png"),
         (2, "image", None, None, None, None, "png")],
        schemas.MEDIA_ASSETS,
    )
    out = multimodal.extract_features(df)
    # schema contract: exact field names, types, and order
    assert out.schema == T.StructType([
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ])
    rows = {r.asset_id: r for r in out.collect()}
    g = rows[1]
    assert g.n_bytes == len(GOLDEN)
    assert g.content_sha256 == GOLDEN_SHA
    assert len(g.feature) == multimodal.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in g.feature)
    if not multimodal.HAVE_CODECS:
        # fake decoder is pinned bit-exact: sha256(payload) bytes / 255
        want = [b / 255.0 for b in hashlib.sha256(GOLDEN).digest()[:8]]
        assert g.feature == want
    # null policy: payload-less rows keep their identity columns, feature
    # and hash are NULL (never a zero vector), n_bytes is 0
    n = rows[2]
    assert n.feature is None and n.content_sha256 is None and n.n_bytes == 0


def test_decoder_callable_contract():
    """The splice point has a fixed signature: (payload: bytes,
    media_type: str) -> length-FEATURE_DIM float vector. With codecs it
    must honor that; without, it must raise NotImplementedError (never
    silently fall back)."""
    import inspect

    params = list(inspect.signature(multimodal.real_decode).parameters)
    assert params[:2] == ["payload", "media_type"]
    if multimodal.HAVE_CODECS:
        feat = multimodal.real_decode(GOLDEN, "image")
        assert len(feat) == multimodal.FEATURE_DIM
        assert all(isinstance(v, float) for v in feat)
    else:
        with pytest.raises(NotImplementedError):
            multimodal.real_decode(GOLDEN, "image")


# ---------------------------------------------------------------------------
# Real decode: BMP / PPM (pure numpy, no codec libraries)
# ---------------------------------------------------------------------------


def _encode_ppm(px) -> bytes:
    """(h, w, 3) uint8 RGB -> binary PPM (P6) bytes."""
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + px.astype("uint8").tobytes()


# 3x2 RGB test image, row-major top-down
PIXELS = [
    [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
    [(255, 255, 255), (0, 0, 0), (128, 64, 32)],
]


def _bmp_bytes(top_down: bool = False) -> bytes:
    """Hand-built 24bpp BI_RGB BMP of PIXELS (4-byte row padding)."""
    import struct

    w, h = 3, 2
    row_bytes = (w * 3 + 3) & ~3  # 12
    pix = b""
    rows = PIXELS if top_down else list(reversed(PIXELS))
    for row in rows:
        for r, g, b in row:
            pix += bytes([b, g, r])
        pix += b"\x00" * (row_bytes - w * 3)
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(pix), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        len(pix), 0, 0, 0, 0,
    )
    return header + dib + pix


def _ppm_bytes() -> bytes:
    body = b"".join(bytes(px) for row in PIXELS for px in row)
    return b"P6\n# test comment\n3 2\n255\n" + body


def test_decode_bmp_and_ppm_agree_on_pixels():
    import numpy as np

    bmp = multimodal.decode_image(_bmp_bytes())
    bmp_td = multimodal.decode_image(_bmp_bytes(top_down=True))
    ppm = multimodal.decode_image(_ppm_bytes())
    want = np.array(PIXELS, dtype=np.uint8)
    assert np.array_equal(bmp, want)
    assert np.array_equal(bmp_td, want)
    assert np.array_equal(ppm, want)
    # features are computed from CONTENT, so they agree across formats
    assert multimodal.real_decode(_bmp_bytes(), "image") == \
        multimodal.real_decode(_ppm_bytes(), "image")
    # and mean-channel features reflect the actual pixels
    f = multimodal.real_decode(_bmp_bytes(), "image")
    assert f[0] == round((255 + 0 + 0 + 255 + 0 + 128) / 6 / 255.0, 6)
    assert multimodal.decode_image(b"not an image") is None


def test_real_decode_still_raises_for_compressed_formats():
    # mp3/video remain the documented codec-absent stubs (PNG decodes
    # natively via stdlib zlib since round 4, baseline JPEG since
    # round 5 — a truncated JPEG now raises the decoder's ValueError)
    with pytest.raises(ValueError, match="JPEG"):
        multimodal.real_decode(b"\xff\xd8\xff\xe0jpeg-frame", "image")
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.real_decode(_bmp_bytes(), "audio")


def test_extract_features_uses_real_pixels_for_decodable_payloads(spark):
    rows = [
        (10, "image", _bmp_bytes(), 3, 2, None, "bmp"),
        (11, "image", _ppm_bytes(), 3, 2, None, "ppm"),
        (12, "image", b"not-an-image", 3, 2, None, "png"),
    ]
    df = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = {r.asset_id: list(r.feature)
           for r in multimodal.extract_features(df).collect()}
    want = multimodal.real_decode(_bmp_bytes(), "image")
    assert out[10] == want
    assert out[11] == want  # same content, different container
    assert out[12] == multimodal._fake_decode(b"not-an-image")  # fallback


def _wav_bytes(freq=440.0, rate=8000, seconds=0.25, channels=1, width=2):
    """Sine-wave PCM WAV fixture built with the stdlib writer."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    n = int(rate * seconds)
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        frames = bytearray()
        for i in range(n):
            v = math.sin(2 * math.pi * freq * i / rate)
            if width == 2:
                frames += struct.pack("<h", int(v * 32000)) * channels
            else:
                frames += bytes([int(v * 120) + 128]) * channels
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_real_decode_wav_features():
    """PCM WAV decodes to real samples: a full-scale sine has RMS near
    1/sqrt(2) of peak, ~2f/rate zero-crossing rate, and silence decodes
    to zero energy — content-derived, not hash noise."""
    feat = multimodal.real_decode(_wav_bytes(), "audio")
    rms, peak, zcr = feat[0], feat[1], feat[2]
    assert 0.6 < rms < 0.75 and 0.9 < peak <= 1.0
    assert abs(zcr - 2 * 440.0 / 8000) < 0.02
    # deterministic
    assert feat == multimodal.real_decode(_wav_bytes(), "audio")

    silent = _wav_bytes(freq=0.0)
    sfeat = multimodal.real_decode(silent, "audio")
    assert sfeat[0] == 0.0 and sfeat[1] == 0.0

    # stereo 8-bit path + channel feature
    st = multimodal.real_decode(
        _wav_bytes(channels=2, width=1), "audio"
    )
    assert st[7] == 0.25  # 2 channels / 8

    # non-WAV audio still raises the codec-absent branch
    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.real_decode(b"\xff\xfbmp3 frame", "audio")


def test_extract_features_uses_real_wav_path(spark):
    """Through the distributed mapInPandas path, a WAV payload's feature
    vector equals the direct real_decode result (not the sha256 fake)."""
    wav = _wav_bytes()
    df = spark.createDataFrame(
        [(1, "audio", bytearray(wav), None, None, 250, "pcm")],
        "asset_id long, media_type string, payload binary, width int, "
        "height int, duration_ms long, codec string",
    )
    [row] = multimodal.extract_features(df).collect()
    assert list(row.feature) == multimodal.real_decode(wav, "audio")


# ---------------------------------------------------------------------------
# Real decode: PNG (stdlib zlib inflate + per-scanline unfilter)
# ---------------------------------------------------------------------------


def _png_bytes(px, color_type, filters):
    """Minimal PNG encoder for fixtures: 8-bit depth, non-interlaced,
    one explicit filter type per scanline (forward-filtered here so the
    decoder's unfilter path is genuinely exercised)."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = px.shape
    bpp = ch

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raster = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        cur = px[y].reshape(-1).astype(np.int64)
        ft = filters[y % len(filters)]
        enc = np.empty_like(cur)
        for i in range(len(cur)):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[i] = (cur[i] - pred) & 0xFF
        raster.append(ft)
        raster.extend(enc.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raster)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_rgb_all_filters():
    """Every PNG filter type (None/Sub/Up/Average/Paeth) round-trips to
    the exact source pixels."""
    import numpy as np

    rng = np.random.default_rng(7)
    want = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    got = multimodal.decode_image(_png_bytes(want, 2, [0, 1, 2, 3, 4]))
    assert np.array_equal(got, want)


def test_decode_png_gray_palette_rgba():
    import numpy as np

    rng = np.random.default_rng(11)
    # grayscale broadcast to 3 channels
    gray = rng.integers(0, 256, size=(4, 6, 1), dtype=np.uint8)
    got = multimodal.decode_image(_png_bytes(gray, 0, [0, 1, 2, 3, 4]))
    assert np.array_equal(got, np.repeat(gray, 3, axis=2))
    # RGBA: alpha dropped
    rgba = rng.integers(0, 256, size=(5, 3, 4), dtype=np.uint8)
    got = multimodal.decode_image(_png_bytes(rgba, 6, [4, 3, 2, 1, 0]))
    assert np.array_equal(got, rgba[:, :, :3])
    # palette: indices resolve through PLTE
    import struct
    import zlib

    plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(4, 4, 1), dtype=np.uint8)
    png = _png_bytes(idx, 3, [0, 2])
    plte_data = plte.tobytes()
    plte_chunk = (
        struct.pack(">I", len(plte_data)) + b"PLTE" + plte_data
        + struct.pack(">I", zlib.crc32(b"PLTE" + plte_data) & 0xFFFFFFFF)
    )
    # splice PLTE between IHDR and IDAT
    ihdr_end = 8 + 12 + 13
    png = png[:ihdr_end] + plte_chunk + png[ihdr_end:]
    got = multimodal.decode_image(png)
    assert np.array_equal(got, plte[idx[:, :, 0]])


def test_png_features_match_equivalent_bmp():
    """A PNG and a BMP of the same pixels featurize identically — the
    features come from content, not container."""
    import numpy as np

    want = multimodal.decode_image(_bmp_bytes())
    png = _png_bytes(want, 2, [0, 1, 2, 3, 4])
    assert np.array_equal(multimodal.decode_image(png), want)
    assert multimodal.real_decode(png, "image") == multimodal.real_decode(
        _bmp_bytes(), "image"
    )


def test_png_unsupported_shapes_raise():
    import numpy as np

    import pytest as _pytest

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    png = bytearray(_png_bytes(px, 2, [0]))
    png[8 + 8 + 8] = 3  # IHDR bit depth byte -> 3 (not a legal depth)
    with _pytest.raises(ValueError, match="unsupported PNG depth"):
        multimodal._decode_png(bytes(png))
    png = bytearray(_png_bytes(px, 2, [0]))
    png[8 + 8 + 8] = 4  # depth 4 is gray/palette-only, not RGB
    with _pytest.raises(ValueError, match="unsupported PNG depth"):
        multimodal._decode_png(bytes(png))
    png = bytearray(_png_bytes(px, 2, [0]))
    png[8 + 8 + 12] = 2  # interlace method 2 does not exist
    with _pytest.raises(ValueError, match="unsupported PNG shape"):
        multimodal._decode_png(bytes(png))


# ---------------------------------------------------------------------------
# Baseline JPEG: independent test-side encoder -> engine decoder roundtrip
# ---------------------------------------------------------------------------


class _JpegWriter:
    """MSB-first bit writer with JPEG byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def bits(self, value, n):
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc, self.nbits = 0, 0

    def pad(self):
        while self.nbits:
            self.bits(1, 1)


def _jpeg_tables():
    """All-length-4 DC codes (12 cats) + all-length-8 AC codes (162
    symbols) — a valid canonical huffman pair that is deliberately NOT
    the Annex K tables, so the decoder's DHT parse is exercised on
    custom tables."""
    dc_vals = list(range(12))
    dc_bits = [0] * 16
    dc_bits[3] = 12
    ac_vals = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)
    return (dc_bits, dc_vals), (ac_bits, ac_vals)


def _canonical_codes(bits, vals):
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


def _fdct_block(block):
    import numpy as np

    n = np.arange(8)
    m = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16.0)
    m[0, :] *= 1.0 / np.sqrt(2.0)
    m *= 0.5
    return m @ (block - 128.0) @ m.T


def _encode_block(w, block, pred, dc_codes, ac_codes, zigzag):
    import numpy as np

    coef = np.round(_fdct_block(block)).astype(int)
    zz = coef.flatten()[zigzag]

    def category(v):
        return int(v).bit_length() if v else 0

    def emit(sym, codes):
        length, code = codes[sym]
        w.bits(code, length)

    def emit_val(v, s):
        if v < 0:
            v += (1 << s) - 1
        w.bits(v, s)

    diff = int(zz[0]) - pred
    s = category(abs(diff)) if diff else 0
    emit(s, dc_codes)
    if s:
        emit_val(diff, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            emit(0xF0, ac_codes)
            run -= 16
        s = category(abs(v))
        emit((run << 4) | s, ac_codes)
        emit_val(v, s)
        run = 0
    if run:
        emit(0x00, ac_codes)
    return int(zz[0])


def _jpeg_prepare(px, subsample):
    """Shared encoder front-end: color transform, subsample, pad to the
    MCU grid.  Returns (h, w, samp, hmax, vmax, mcux, mcuy, prepared)."""
    import numpy as np

    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        planes = [px.astype(np.float64)]
        samp = [(1, 1)]
    else:
        flt = px.astype(np.float64)
        r, g, b = flt[:, :, 0], flt[:, :, 1], flt[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
        samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    prepared = []
    for p, (hs, vs) in zip(planes, samp):
        if (hs, vs) != (hmax, vmax):
            # box-average downsample (pad odd dims by edge replication)
            fy, fx = vmax // vs, hmax // hs
            ph = -(-p.shape[0] // fy) * fy
            pw = -(-p.shape[1] // fx) * fx
            p = np.pad(
                p,
                ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                mode="edge",
            )
            p = p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        th, tw = mcuy * vs * 8, mcux * hs * 8
        p = np.pad(
            p,
            ((0, th - p.shape[0]), (0, tw - p.shape[1])),
            mode="edge",
        )
        prepared.append(p)
    return h, w, samp, hmax, vmax, mcux, mcuy, prepared


def _jpeg_bytes(px, subsample=False, restart=0):
    """Encode (h, w, 3) uint8 RGB (or (h, w) grayscale) as a baseline
    JFIF byte string with q=1 quant tables (near-lossless), custom
    huffman tables, optional 4:2:0 subsampling and restart markers."""
    import struct

    import numpy as np

    from wistia_video_analytics_project_spark.operators.multimodal import (
        _ZIGZAG,
    )

    h, w, samp, hmax, vmax, mcux, mcuy, prepared = _jpeg_prepare(
        px, subsample
    )
    planes = prepared

    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_tables()
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    out = bytearray(b"\xff\xd8")
    q = bytes([0]) + bytes([1] * 64)  # table 0, 8-bit precision, all 1s
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(q)) + q
    nc = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i, (hs, vs) in enumerate(samp):
        sof += struct.pack(">BBB", i + 1, (hs << 4) | vs, 0)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    dht = bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
    dht += bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    sos = bytes([nc])
    for i in range(nc):
        sos += bytes([i + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    wtr = _JpegWriter()
    preds = [0] * nc
    rst = 0
    for m in range(mcux * mcuy):
        if restart and m and m % restart == 0:
            wtr.pad()
            out += wtr.out
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            wtr = _JpegWriter()
            preds = [0] * nc
        my, mx = divmod(m, mcux)
        for ci, (p, (hs, vs)) in enumerate(zip(prepared, samp)):
            for blk in range(hs * vs):
                by, bx = divmod(blk, hs)
                y0 = (my * vs + by) * 8
                x0 = (mx * hs + bx) * 8
                preds[ci] = _encode_block(
                    wtr,
                    p[y0 : y0 + 8, x0 : x0 + 8],
                    preds[ci],
                    dc_codes,
                    ac_codes,
                    _ZIGZAG,
                )
    wtr.pad()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_progressive_bytes(px, subsample=False, al=0, restart=0):
    """Encode as a PROGRESSIVE (SOF2) JFIF byte string: interleaved DC
    scan, then per-component AC scans in two spectral bands (1-5 and
    6-63 — the high band is mostly zero on smooth images, exercising
    EOBRUN accumulation across blocks).  With ``al=1``, every first
    pass drops the low bit (successive approximation) and refinement
    scans (DC: one bit per block; AC: correction bits + newly
    significant ±1, libjpeg-compatible) restore full precision, so the
    decoded result must be IDENTICAL to the baseline encoding's.
    ``restart`` emits RST markers every that-many data units in EVERY
    scan (with DC-predictor/EOBRUN resets), exercising the decoder's
    progressive restart segmentation."""
    import struct

    import numpy as np

    from wistia_video_analytics_project_spark.operators.multimodal import (
        _ZIGZAG,
    )

    h, w, samp, hmax, vmax, mcux, mcuy, prepared = _jpeg_prepare(
        px, subsample
    )
    nc = len(prepared)

    def _jpeg_tables_prog():
        """Like ``_jpeg_tables`` but the AC table also carries the EOBn
        symbols (r<<4, r=1..14) progressive EOBRUN coding needs."""
        dc_vals = list(range(12))
        dc_bits = [0] * 16
        dc_bits[3] = 12
        ac_vals = [r << 4 for r in range(15)] + [0xF0] + [
            (r << 4) | s for r in range(16) for s in range(1, 11)
        ]
        ac_bits = [0] * 16
        ac_bits[7] = len(ac_vals)
        return (dc_bits, dc_vals), (ac_bits, ac_vals)

    # full-precision quantized (q=1) coefficient tensors, zigzag order
    coef = []
    for p, (hs, vs) in zip(prepared, samp):
        nby, nbx = mcuy * vs, mcux * hs
        arr = np.zeros((nby, nbx, 64), dtype=np.int64)
        for by in range(nby):
            for bx in range(nbx):
                c = np.round(
                    _fdct_block(p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8])
                ).astype(np.int64)
                arr[by, bx] = c.flatten()[_ZIGZAG]
        coef.append(arr)

    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_tables_prog()
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    def category(v):
        return int(v).bit_length() if v else 0

    def emit(wtr, sym, codes):
        length, code = codes[sym]
        wtr.bits(code, length)

    def emit_val(wtr, v, s):
        if v < 0:
            v += (1 << s) - 1
        wtr.bits(v, s)

    out = bytearray(b"\xff\xd8")
    q = bytes([0]) + bytes([1] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(q)) + q
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i, (hs, vs) in enumerate(samp):
        sof += struct.pack(">BBB", i + 1, (hs << 4) | vs, 0)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    dht = bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
    dht += bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)

    def sos_header(comps_tt, ss, se, ah, al_):
        sos = bytes([len(comps_tt)])
        for cid, tt in comps_tt:
            sos += bytes([cid, tt])
        sos += bytes([ss, se, (ah << 4) | al_])
        return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    def comp_block_grid(ci):
        hs, vs = samp[ci]
        cw = -(-(w * hs) // hmax)
        ch = -(-(h * vs) // vmax)
        return -(-ch // 8), -(-cw // 8)  # (bh, bw)

    # --- scan 1: interleaved DC first pass (Al=al) ---
    out += sos_header([(i + 1, 0x00) for i in range(nc)], 0, 0, 0, al)
    wtr = _JpegWriter()
    preds = [0] * nc
    rst = 0
    for m in range(mcux * mcuy):
        if restart and m and m % restart == 0:
            wtr.pad()
            out += wtr.out
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            wtr = _JpegWriter()
            preds = [0] * nc
        my, mx = divmod(m, mcux)
        for ci in range(nc):
            hs, vs = samp[ci]
            for blk_i in range(hs * vs):
                by, bx = divmod(blk_i, hs)
                v = int(coef[ci][my * vs + by, mx * hs + bx, 0]) >> al
                diff = v - preds[ci]
                preds[ci] = v
                s = category(abs(diff)) if diff else 0
                emit(wtr, s, dc_codes)
                if s:
                    emit_val(wtr, diff, s)
    wtr.pad()
    out += wtr.out

    # --- AC first passes: two bands per component (Al=al) ---
    for ci in range(nc):
        for ss, se in ((1, 5), (6, 63)):
            out += sos_header([(ci + 1, 0x00)], ss, se, 0, al)
            wtr = _JpegWriter()
            eobrun = 0

            def flush_eob():
                nonlocal eobrun
                while eobrun > 0:
                    r = min(eobrun.bit_length() - 1, 14)
                    emit(wtr, r << 4, ac_codes)
                    if r:
                        wtr.bits(eobrun - (1 << r), r)
                    eobrun = 0

            bh, bw = comp_block_grid(ci)
            rst = 0
            for m in range(bh * bw):
                if restart and m and m % restart == 0:
                    flush_eob()
                    wtr.pad()
                    out += wtr.out
                    out += bytes([0xFF, 0xD0 + (rst % 8)])
                    rst += 1
                    wtr = _JpegWriter()
                    eobrun = 0
                by, bx = divmod(m, bw)
                band = [
                    int(v) >> al if v >= 0 else -((-int(v)) >> al)
                    for v in coef[ci][by, bx, ss : se + 1]
                ]
                if not any(band):
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                for v in band:
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        emit(wtr, 0xF0, ac_codes)
                        run -= 16
                    s = category(abs(v))
                    emit(wtr, (run << 4) | s, ac_codes)
                    emit_val(wtr, v, s)
                    run = 0
                if run:
                    eobrun = 1
            flush_eob()
            wtr.pad()
            out += wtr.out

    if al:
        # --- DC refinement: one appended bit per block, interleaved ---
        for bit in range(al - 1, -1, -1):
            out += sos_header(
                [(i + 1, 0x00) for i in range(nc)], 0, 0, bit + 1, bit
            )
            wtr = _JpegWriter()
            rst = 0
            for m in range(mcux * mcuy):
                if restart and m and m % restart == 0:
                    wtr.pad()
                    out += wtr.out
                    out += bytes([0xFF, 0xD0 + (rst % 8)])
                    rst += 1
                    wtr = _JpegWriter()
                my, mx = divmod(m, mcux)
                for ci in range(nc):
                    hs, vs = samp[ci]
                    for blk_i in range(hs * vs):
                        by, bx = divmod(blk_i, hs)
                        v = int(coef[ci][my * vs + by, mx * hs + bx, 0])
                        wtr.bits((v >> bit) & 1, 1)
            wtr.pad()
            out += wtr.out

        # --- AC refinement per component, single 1-63 band ---
        for bit in range(al - 1, -1, -1):
            p1 = 1 << bit
            for ci in range(nc):
                out += sos_header([(ci + 1, 0x00)], 1, 63, bit + 1, bit)
                wtr = _JpegWriter()
                eobrun = 0
                pending_br: list[int] = []

                def flush_eob_refine():
                    nonlocal eobrun
                    if eobrun > 0:
                        r = min(eobrun.bit_length() - 1, 14)
                        emit(wtr, r << 4, ac_codes)
                        if r:
                            wtr.bits(eobrun - (1 << r), r)
                        eobrun = 0
                    for b in pending_br:
                        wtr.bits(b, 1)
                    pending_br.clear()

                bh, bw = comp_block_grid(ci)
                rst = 0
                for m in range(bh * bw):
                    if restart and m and m % restart == 0:
                        flush_eob_refine()
                        wtr.pad()
                        out += wtr.out
                        out += bytes([0xFF, 0xD0 + (rst % 8)])
                        rst += 1
                        wtr = _JpegWriter()
                        eobrun = 0
                    by, bx = divmod(m, bw)
                    vals = [int(v) for v in coef[ci][by, bx, 1:64]]
                    absv = [abs(v) >> bit for v in vals]
                    eob_k = -1
                    for k, t in enumerate(absv):
                        if t == 1:
                            eob_k = k
                    r = 0
                    br_bits: list[int] = []
                    for k, t in enumerate(absv):
                        if t == 0:
                            r += 1
                            continue
                        while r > 15 and k <= eob_k:
                            flush_eob_refine()
                            emit(wtr, 0xF0, ac_codes)
                            r -= 16
                            for b in br_bits:
                                wtr.bits(b, 1)
                            br_bits = []
                        if t > 1:
                            br_bits.append(t & 1)
                            continue
                        flush_eob_refine()
                        emit(wtr, (r << 4) | 1, ac_codes)
                        wtr.bits(1 if vals[k] > 0 else 0, 1)
                        for b in br_bits:
                            wtr.bits(b, 1)
                        br_bits = []
                        r = 0
                    if r > 0 or br_bits:
                        eobrun += 1
                        pending_br.extend(br_bits)
                        if eobrun == 0x7FFF:
                            flush_eob_refine()
                flush_eob_refine()
                wtr.pad()
                out += wtr.out

    out += b"\xff\xd9"
    return bytes(out)


def _gradient_rgb(h, w):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
    g = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
    b = ((xx + yy) * 255 // max(h + w - 2, 1)).astype(np.uint8)
    return np.stack([r, g, b], axis=2)


def test_jpeg_roundtrip_rgb_444():
    import numpy as np

    src = _gradient_rgb(13, 16)  # non-multiple-of-8 height: crop path
    px = multimodal.decode_image(_jpeg_bytes(src))
    assert px.shape == src.shape
    err = np.abs(px.astype(float) - src.astype(float))
    assert err.max() <= 6 and err.mean() <= 2, (err.max(), err.mean())


def test_jpeg_roundtrip_grayscale():
    import numpy as np

    src = np.tile(np.arange(16, dtype=np.uint8) * 16, (8, 1))
    px = multimodal.decode_image(_jpeg_bytes(src))
    assert px.shape == (8, 16, 3)
    err = np.abs(px[:, :, 0].astype(float) - src.astype(float))
    assert err.max() <= 3
    # gray broadcast to 3 identical channels
    assert (px[:, :, 0] == px[:, :, 1]).all()


def test_jpeg_roundtrip_420_subsampled():
    import numpy as np

    # smooth luma gradient with constant chroma: 4:2:0 loses almost
    # nothing, so the roundtrip bound stays tight while exercising the
    # multi-block MCU + upsample path
    gray = _gradient_rgb(24, 24)[:, :, :1].repeat(3, axis=2)
    px = multimodal.decode_image(_jpeg_bytes(gray, subsample=True))
    assert px.shape == gray.shape
    err = np.abs(px.astype(float) - gray.astype(float))
    assert err.max() <= 8 and err.mean() <= 2, (err.max(), err.mean())


def test_jpeg_restart_markers_match_plain():
    import numpy as np

    src = _gradient_rgb(16, 32)
    plain = multimodal.decode_image(_jpeg_bytes(src))
    rst = multimodal.decode_image(_jpeg_bytes(src, restart=2))
    assert np.array_equal(plain, rst)


def test_jpeg_unsupported_shapes_raise():
    import struct

    src = _gradient_rgb(8, 8)
    buf = bytearray(_jpeg_bytes(src))
    sof = buf.index(b"\xff\xc0")
    buf[sof + 1] = 0xC9  # arithmetic-coded sequential
    with pytest.raises(ValueError, match="SOF"):
        multimodal.decode_image(bytes(buf))
    # a baseline stream relabeled SOF2 is malformed progressive (a DC
    # scan may not carry Se=63) — must still be a clean ValueError
    buf[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="JPEG"):
        multimodal.decode_image(bytes(buf))
    with pytest.raises(ValueError, match="JPEG"):
        multimodal.decode_image(b"\xff\xd8\xff\xe0" + struct.pack(">H", 4) + b"xx")


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): spectral selection + successive approximation
# ---------------------------------------------------------------------------


def test_jpeg_progressive_spectral_equals_baseline():
    """Spectral-selection-only progressive (Al=0) carries the SAME
    quantized coefficients as the baseline encoding, so the decodes
    must be bit-identical — this pins the scan split / EOBRUN / band
    bookkeeping with zero tolerance."""
    import numpy as np

    src = _gradient_rgb(13, 16)  # non-multiple-of-8: crop path
    prog = multimodal.decode_image(_jpeg_progressive_bytes(src))
    base = multimodal.decode_image(_jpeg_bytes(src))
    assert np.array_equal(prog, base)
    # and the roundtrip bound vs the source guards against a bug
    # symmetric between the test encoder and the engine decoder
    err = np.abs(prog.astype(float) - src.astype(float))
    assert err.max() <= 6 and err.mean() <= 2, (err.max(), err.mean())


@pytest.mark.parametrize("al", [1, 2])
def test_jpeg_progressive_successive_approx_equals_baseline(al):
    """First passes at Al>0 drop low bits; DC/AC refinement scans must
    restore full precision exactly, so the final decode is identical to
    the baseline decode of the same image."""
    import numpy as np

    src = _gradient_rgb(16, 13)
    prog = multimodal.decode_image(_jpeg_progressive_bytes(src, al=al))
    base = multimodal.decode_image(_jpeg_bytes(src))
    assert np.array_equal(prog, base)


def test_jpeg_progressive_grayscale():
    """Single-component frame: every scan is non-interleaved (block
    walk), including DC."""
    import numpy as np

    src = np.tile(np.arange(16, dtype=np.uint8) * 16, (8, 1))
    prog = multimodal.decode_image(_jpeg_progressive_bytes(src, al=1))
    base = multimodal.decode_image(_jpeg_bytes(src))
    assert np.array_equal(prog, base)
    assert prog.shape == (8, 16, 3)


def test_jpeg_progressive_420_subsampled():
    """4:2:0: interleaved DC over multi-block MCUs, per-component AC
    scans over DIFFERENT block grids (chroma grid smaller than the
    MCU-padded array — T.81 A.2.2 non-interleaved dimensions)."""
    import numpy as np

    gray = _gradient_rgb(24, 24)[:, :, :1].repeat(3, axis=2)
    prog = multimodal.decode_image(
        _jpeg_progressive_bytes(gray, subsample=True, al=1)
    )
    base = multimodal.decode_image(_jpeg_bytes(gray, subsample=True))
    assert np.array_equal(prog, base)


def test_jpeg_progressive_restart_markers_match_plain():
    """RST markers every 2 data units in EVERY scan (DC predictor and
    EOBRUN reset per segment) must decode identically to the
    unsegmented progressive stream."""
    import numpy as np

    src = _gradient_rgb(16, 32)
    plain = multimodal.decode_image(_jpeg_progressive_bytes(src, al=1))
    rst = multimodal.decode_image(
        _jpeg_progressive_bytes(src, al=1, restart=2)
    )
    assert np.array_equal(plain, rst)
    base = multimodal.decode_image(_jpeg_bytes(src))
    assert np.array_equal(rst, base)


def test_jpeg_progressive_high_band_eobrun():
    """A smooth image's 6-63 band is mostly zero, so the band scan is
    dominated by EOBRUN runs spanning many blocks; a constant image
    makes EVERY high-band block zero (one EOBRUN for the whole scan)."""
    import numpy as np

    src = np.full((32, 32, 3), 127, dtype=np.uint8)
    prog = multimodal.decode_image(_jpeg_progressive_bytes(src, al=1))
    base = multimodal.decode_image(_jpeg_bytes(src))
    assert np.array_equal(prog, base)


def test_jpeg_features_match_equivalent_bmp(spark):
    """A JPEG payload must featurize from its REAL pixels: the q=1
    roundtrip of a BMP's pixel content lands within rounding of the
    BMP's own feature vector, far from the sha256 fake."""
    import numpy as np

    src = _gradient_rgb(16, 16)
    jf = multimodal.real_decode(_jpeg_bytes(src), "image")
    direct = multimodal._pixel_features(src)
    assert np.abs(np.array(jf) - np.array(direct)).max() < 0.02
    fake = multimodal._fake_decode(_jpeg_bytes(src))
    assert np.abs(np.array(jf) - np.array(fake)).max() > 0.05


def test_extract_features_degrades_on_corrupt_payload(spark):
    """A truncated JPEG in a batch must degrade to the deterministic
    fake vector, never kill the job (fleet-scale robustness contract)."""
    corrupt = b"\xff\xd8\xff\xe0truncated"
    rows = [(90, "image", _jpeg_bytes(_gradient_rgb(8, 8)), 1, 1, None, "jpg"),
            (91, "image", corrupt, 1, 1, None, "jpg")]
    df = spark.createDataFrame(
        rows,
        "asset_id long, media_type string, payload binary, width int, "
        "height int, duration_ms int, codec string",
    )
    out = {
        r.asset_id: r.feature
        for r in multimodal.extract_features(df).collect()
    }
    assert out[91] == multimodal._fake_decode(corrupt)
    assert out[90] != multimodal._fake_decode(rows[0][2])


def test_jpeg_malformed_inputs_all_raise_valueerror(spark):
    """Every malformed-JPEG failure mode must surface as ValueError (and
    therefore degrade to the fake vector in extract_features) — not
    struct.error/IndexError/KeyError killing the feature job."""
    import struct

    cases = {
        # truncated SOF header: struct.error in the raw parse
        "trunc_sof": b"\xff\xd8\xff\xc0" + struct.pack(">H", 4) + b"\x08\x08",
        # truncated DHT table: IndexError in the raw parse
        "trunc_dht": b"\xff\xd8\xff\xc4" + struct.pack(">H", 5) + b"\x00\x01\x02",
        # garbage after SOI
        "garbage": b"\xff\xd8\xff\xe0truncated",
    }
    # non-interleaved scan (SOS component not in tabsel): KeyError path
    src = _gradient_rgb(8, 8)
    buf = bytearray(_jpeg_bytes(src))
    sos = buf.index(b"\xff\xda")
    buf[sos + 5] = 9  # scan references component id 9 (absent)
    cases["bad_scan_comp"] = bytes(buf)
    for name, payload in cases.items():
        with pytest.raises(ValueError, match="JPEG"):
            multimodal.decode_image(payload)
        # and the pipeline contract: degrade, don't die
        assert multimodal.extract_features(
            spark.createDataFrame(
                [(1, "image", payload, 1, 1, None, "jpg")],
                "asset_id long, media_type string, payload binary, "
                "width int, height int, duration_ms int, codec string",
            )
        ).collect()[0].feature == multimodal._fake_decode(payload), name


# --- FLAC: test-side subset encoder + native-decoder roundtrips -------------
#
# The encoder below writes spec-conformant FLAC (STREAMINFO + fixed-
# blocking frames, CRC-8/CRC-16, rice residuals) covering every subframe
# type and channel assignment the decoder supports. FLAC is lossless, so
# every roundtrip asserts EXACT sample equality.


class _FlacWriter:
    """MSB-first bit writer (no byte stuffing)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def bits(self, value: int, n: int):
        value &= (1 << n) - 1
        self.acc = (self.acc << n) | value
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def pad(self):
        if self.nbits:
            self.bits(0, 8 - self.nbits)

    def data(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


def _flac_streaminfo(rate, channels, bps, total, blocksize) -> bytes:
    w = _FlacWriter()
    w.bits(blocksize, 16)
    w.bits(blocksize, 16)
    w.bits(0, 24)
    w.bits(0, 24)
    w.bits(rate, 20)
    w.bits(channels - 1, 3)
    w.bits(bps - 1, 5)
    w.bits(total, 36)
    for _ in range(16):
        w.bits(0, 8)  # md5 unset (zeros = unverified, allowed)
    return b"\x80\x00\x00\x22" + w.data()  # last-block flag, type 0, len 34


def _rice_params(res, pbits):
    u = [(r << 1) if r >= 0 else ((-r) << 1) - 1 for r in res]
    param = max((v.bit_length() for v in u), default=1)
    return min(max(param - 1, 0), (1 << pbits) - 2), u


def _flac_residual_bits(w, res, porder, order, blocksize):
    w.bits(0, 2)  # rice method 0 (4-bit params)
    w.bits(porder, 4)
    nparts = 1 << porder
    start = 0
    for p in range(nparts):
        n = (blocksize >> porder) - (order if p == 0 else 0)
        part = res[start : start + n]
        start += n
        param, u = _rice_params(part, 4)
        w.bits(param, 4)
        for v in u:
            q = v >> param
            w.bits(0, q) if q else None
            w.bits(1, 1)
            w.bits(v & ((1 << param) - 1), param)


def _flac_subframe_bits(
    w, samples, bps, kind="fixed2", porder=0, wasted=0, blocksize=None
):
    blocksize = blocksize or len(samples)
    w.bits(0, 1)
    if wasted:
        assert all(s % (1 << wasted) == 0 for s in samples)
        samples = [s >> wasted for s in samples]
        bps -= wasted
    if kind == "constant":
        w.bits(0, 6)
        w.bits(1 if wasted else 0, 1)
        if wasted:
            w.bits(1, wasted)  # unary wasted-1 zeros then a 1
        w.bits(samples[0], bps)
        assert all(s == samples[0] for s in samples)
        return
    if kind == "verbatim":
        w.bits(1, 6)
        w.bits(1 if wasted else 0, 1)
        if wasted:
            w.bits(1, wasted)
        for s in samples:
            w.bits(s, bps)
        return
    if kind.startswith("fixed"):
        order = int(kind[5:])
        w.bits(8 + order, 6)
        w.bits(1 if wasted else 0, 1)
        if wasted:
            w.bits(1, wasted)
        coefs = multimodal._FLAC_FIXED_COEFS[order]
        for s in samples[:order]:
            w.bits(s, bps)
        res = [
            samples[i]
            - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, len(samples))
        ]
        _flac_residual_bits(w, res, porder, order, blocksize)
        return
    if kind == "lpc2":
        order, precision, shift = 2, 12, 5
        coefs = [1843, -819]  # arbitrary: lossless for ANY coefs
        w.bits(32 + order - 1, 6)
        w.bits(1 if wasted else 0, 1)
        if wasted:
            w.bits(1, wasted)
        for s in samples[:order]:
            w.bits(s, bps)
        w.bits(precision - 1, 4)
        w.bits(shift, 5)
        for c in coefs:
            w.bits(c, precision)
        res = [
            samples[i]
            - (
                sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
                >> shift
            )
            for i in range(order, len(samples))
        ]
        _flac_residual_bits(w, res, porder, order, blocksize)
        return
    raise AssertionError(kind)


def _flac_bytes(
    arr,
    rate=8000,
    mode="independent",
    kind="fixed2",
    blocksize=64,
    porder=0,
    wasted=0,
):
    """int-sample array (n, ch) -> FLAC stream. mode: independent /
    left_side / right_side / mid_side."""
    import numpy as np

    arr = np.asarray(arr)
    total, channels = arr.shape
    bps = 16
    out = bytearray(b"fLaC")
    out += _flac_streaminfo(rate, channels, bps, total, blocksize)
    ch_code = {
        "independent": channels - 1,
        "left_side": 8,
        "right_side": 9,
        "mid_side": 10,
    }[mode]
    for idx in range(0, (total + blocksize - 1) // blocksize):
        chunk = arr[idx * blocksize : (idx + 1) * blocksize]
        bs = len(chunk)
        w = _FlacWriter()
        w.bits(0x3FFE, 14)
        w.bits(0, 1)
        w.bits(0, 1)  # fixed blocking
        w.bits(6, 4)  # 8-bit blocksize-1 follows
        w.bits(0, 4)  # sample rate from STREAMINFO
        w.bits(ch_code, 4)
        w.bits(4, 3)  # 16 bps
        w.bits(0, 1)
        assert idx < 128
        w.bits(idx, 8)  # coded frame number (single byte)
        w.bits(bs - 1, 8)
        hdr = w.data()
        hdr += bytes([multimodal._flac_crc8(hdr)])
        w = _FlacWriter()
        if mode == "independent":
            slots = [(chunk[:, k].tolist(), bps) for k in range(channels)]
        else:
            left = chunk[:, 0].astype(int).tolist()
            right = chunk[:, 1].astype(int).tolist()
            side = [l - r for l, r in zip(left, right)]
            if mode == "left_side":
                slots = [(left, bps), (side, bps + 1)]
            elif mode == "right_side":
                slots = [(side, bps + 1), (right, bps)]
            else:
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                slots = [(mid, bps), (side, bps + 1)]
        for samples, sbps in slots:
            _flac_subframe_bits(
                w,
                [int(s) for s in samples],
                sbps,
                kind=kind,
                porder=porder,
                wasted=wasted,
                blocksize=bs,
            )
        w.pad()
        frame = hdr + w.data()
        crc16 = multimodal._flac_crc16(frame)
        out += frame + bytes([crc16 >> 8, crc16 & 0xFF])
    return bytes(out)


def _flac_signal(n, channels=1, seed=7, scale=8000):
    import numpy as np

    rng = np.random.RandomState(seed)
    t = np.arange(n)
    base = np.stack(
        [
            (np.sin(2 * np.pi * t * (0.013 + 0.002 * k)) * scale).astype(int)
            + rng.randint(-40, 41, size=n)
            for k in range(channels)
        ],
        axis=1,
    )
    return base.astype(np.int64)


def _flac_roundtrip(arr, **kw):
    import numpy as np

    samples, rate = multimodal._decode_flac(_flac_bytes(arr, **kw))
    got = np.round(samples * 32768.0).astype(np.int64)
    assert got.shape == arr.shape
    assert (got == arr).all()
    return rate


@pytest.mark.parametrize(
    "kind", ["constant", "verbatim", "fixed0", "fixed1", "fixed2",
             "fixed3", "fixed4", "lpc2"]
)
def test_flac_roundtrip_subframe_types(kind):
    import numpy as np

    if kind == "constant":
        arr = np.full((162, 1), -1234, dtype=np.int64)
    else:
        # 3 frames at blocksize 64; the last is short (34 samples) but
        # still longer than any predictor order, as the spec requires
        arr = _flac_signal(162)
    assert _flac_roundtrip(arr, kind=kind) == 8000


@pytest.mark.parametrize(
    "mode", ["independent", "left_side", "right_side", "mid_side"]
)
def test_flac_roundtrip_stereo_modes(mode):
    arr = _flac_signal(200, channels=2, seed=11)
    _flac_roundtrip(arr, mode=mode)


def test_flac_rice_partitions_and_wasted_bits():
    arr = _flac_signal(256, seed=3)
    _flac_roundtrip(arr, porder=2)
    _flac_roundtrip(arr * 4, wasted=2)


def test_flac_crc_corruption_raises():
    payload = bytearray(_flac_bytes(_flac_signal(64)))
    payload[-20] ^= 0x40  # flip a bit inside the last frame's residual
    with pytest.raises(ValueError, match="FLAC"):
        multimodal._decode_flac(bytes(payload))


def test_flac_decode_audio_dispatch_and_features():
    """decode_audio routes on the fLaC magic and the features come from
    REAL samples: a FLAC and a WAV of the same signal must featurize
    identically (both decode to the same int16 PCM)."""
    import numpy as np

    arr = _flac_signal(400, seed=5)
    flac = _flac_bytes(arr, rate=8000)
    samples, rate = multimodal.decode_audio(flac)
    assert rate == 8000 and samples.shape == (400, 1)
    pcm = arr.astype("<i2").tobytes()
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(pcm)
    f_flac = multimodal.real_decode(flac, "audio")
    f_wav = multimodal.real_decode(buf.getvalue(), "audio")
    assert f_flac == f_wav


# --- MJPEG AVI: test-side muxer + native video decode -----------------------


def _avi_bytes(jpeg_frames, fps=25):
    """Wrap pre-encoded JPEG frames in a minimal spec-shaped AVI
    container (RIFF / hdrl+avih / movi with 00dc chunks)."""
    import struct

    def chunk(fcc, data):
        pad = b"\x00" if len(data) & 1 else b""
        return fcc + struct.pack("<I", len(data)) + data + pad

    def lst(ltype, data):
        return chunk(b"LIST", ltype + data)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        int(1e6 / fps),  # dwMicroSecPerFrame
        0, 0, 0,
        len(jpeg_frames),  # dwTotalFrames
        0, 1, 0, 0, 0,
        0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_frames(n=3, h=16, w=16):
    import numpy as np

    frames = []
    for k in range(n):
        px = _gradient_rgb(h, w).astype(np.int64)
        px = np.clip(px + 40 * k, 0, 255).astype(np.uint8)  # motion
        frames.append(px)
    return frames


def test_avi_mjpeg_decode_matches_per_frame_jpeg():
    import numpy as np

    frames = _avi_frames()
    jpegs = [_jpeg_bytes(f) for f in frames]
    decoded, fps = multimodal.decode_video(_avi_bytes(jpegs, fps=25))
    assert fps == pytest.approx(25.0, rel=1e-4)
    assert len(decoded) == 3
    for d, j in zip(decoded, jpegs):
        assert (d == multimodal.decode_image(j)).all()
        assert isinstance(d, np.ndarray) and d.shape == (16, 16, 3)


def test_video_features_motion_and_static():
    frames = _avi_frames()
    moving = multimodal.real_decode(
        _avi_bytes([_jpeg_bytes(f) for f in frames]), "video"
    )
    static = multimodal.real_decode(
        _avi_bytes([_jpeg_bytes(frames[0])] * 3), "video"
    )
    assert len(moving) == multimodal.FEATURE_DIM
    assert moving[2] > 0.0  # motion energy
    assert static[2] == 0.0
    assert static[1] == 0.0  # temporal luminance std
    # frame-count and fps clocks
    assert static[4] == pytest.approx(3 / 1e4)
    assert static[5] == round(25 / 120, 6)  # features round to 6 dp


def test_video_codec_stub_and_malformed_avi():
    # non-AVI video containers keep the documented codec-absent branch
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.real_decode(b"\x00\x00\x00\x18ftypmp42", "video")
    # truncated chunk inside the container surfaces as ValueError
    avi = bytearray(_avi_bytes([_jpeg_bytes(_avi_frames(1)[0])]))
    import struct

    avi[4:8] = struct.pack("<I", len(avi) + 64)  # lie about RIFF size
    truncated = bytes(avi) + b"\x00" * 0
    with pytest.raises(ValueError, match="RIFF"):
        multimodal._decode_avi_mjpeg(truncated[: len(truncated) - 6])


# --- GIF: test-side LZW encoder + native decode -----------------------------


def _gif_lzw_encode(indices, min_code_size):
    """GIF-variant LZW compressor (LSB-first variable-width codes),
    width growth mirroring the decoder's table-size clock."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1

    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    n = clear + 2  # decoder-side table length
    width = min_code_size + 1
    emit(clear, width)
    first = True

    def after_emit():
        nonlocal n, width, first
        if first:
            first = False  # decoder doesn't append on the first code
            return
        n += 1
        if n == (1 << width) and width < 12:
            width += 1

    prev = ()
    for k in indices:
        cur = prev + (int(k),)
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        after_emit()
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
        prev = (int(k),)
    if prev:
        emit(table[prev], width)
        after_emit()
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_PALETTE = [
    (0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255),
    (255, 255, 0), (255, 0, 255), (0, 255, 255), (255, 255, 255),
]


def _gif_bytes(
    frames,
    palette=None,
    interlace=False,
    delays_cs=None,
    transparent=None,
    rects=None,
    local_palettes=None,
    disposals=None,
):
    """index-arrays -> GIF89a. frames: list of (h, w) numpy int arrays
    of palette indices; rects: per-frame (left, top) placement."""
    import struct

    import numpy as np

    palette = palette or _GIF_PALETTE
    npal = len(palette)
    assert npal & (npal - 1) == 0 and npal >= 2
    pbits = npal.bit_length() - 1
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (pbits - 1), 0, 0])  # GCT flag+size, bg 0
    for r, g, b in palette:
        out += bytes([r, g, b])
    for fi, fr in enumerate(frames):
        disp = (disposals or {}).get(fi)
        if delays_cs or transparent is not None or disp is not None:
            flags = (disp or 0) << 2
            tidx = 0
            if transparent is not None and fi > 0:
                flags |= 1
                tidx = transparent
            delay = (delays_cs or [0] * len(frames))[fi]
            out += bytes([0x21, 0xF9, 4, flags]) + struct.pack(
                "<H", delay
            ) + bytes([tidx, 0])
        fx, fy = (rects or [(0, 0)] * len(frames))[fi]
        fh, fw = fr.shape
        lp = (local_palettes or {}).get(fi)
        fpacked = (0x40 if interlace else 0)
        if lp is not None:
            lbits = len(lp).bit_length() - 1
            fpacked |= 0x80 | (lbits - 1)
        out += bytes([0x2C]) + struct.pack("<HHHH", fx, fy, fw, fh)
        out += bytes([fpacked])
        if lp is not None:
            for r, g, b in lp:
                out += bytes([r, g, b])
        rows = fr
        if interlace:
            order = []
            for first, step in multimodal._GIF_INTERLACE:
                order.extend(range(first, fh, step))
            rows = fr[np.array(order)]
        min_code = max(pbits if lp is None else len(lp).bit_length() - 1, 2)
        data = _gif_lzw_encode(rows.flatten().tolist(), min_code)
        out += bytes([min_code])
        for off in range(0, len(data), 255):
            part = data[off : off + 255]
            out += bytes([len(part)]) + part
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


def _gif_index_frame(h, w, seed=0):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    return ((xx + 2 * yy + seed) % len(_GIF_PALETTE)).astype(np.int32)


def test_gif_static_roundtrip_exact():
    import numpy as np

    idx = _gif_index_frame(13, 17)
    px = multimodal.decode_image(_gif_bytes([idx]))
    want = np.array(_GIF_PALETTE, dtype=np.uint8)[idx]
    assert (px == want).all()


def test_gif_interlaced_roundtrip_exact():
    import numpy as np

    idx = _gif_index_frame(16, 9, seed=3)
    px = multimodal.decode_image(_gif_bytes([idx], interlace=True))
    want = np.array(_GIF_PALETTE, dtype=np.uint8)[idx]
    assert (px == want).all()


def test_gif_animated_composition_and_video_dispatch():
    import numpy as np

    base = _gif_index_frame(10, 10)
    patch = np.full((4, 4), 7, dtype=np.int32)
    patch[1:3, 1:3] = 5  # 5 will be declared transparent on frame 2
    gif = _gif_bytes(
        [base, patch],
        delays_cs=[5, 5],
        transparent=5,
        rects=[(0, 0), (3, 3)],
    )
    frames, fps = multimodal.decode_video(gif)
    assert fps == pytest.approx(20.0)  # 5 cs -> 20 fps
    assert len(frames) == 2
    pal = np.array(_GIF_PALETTE, dtype=np.uint8)
    assert (frames[0] == pal[base]).all()
    # frame 2: patch composited at (3,3); transparent cells keep frame 1
    want = pal[base].copy()
    want[3:7, 3:7] = pal[patch]
    want[4:6, 4:6] = pal[base][4:6, 4:6]
    assert (frames[1] == want).all()
    # and an animated GIF featurizes through the video tier
    feats = multimodal.real_decode(gif, "video")
    assert len(feats) == multimodal.FEATURE_DIM and feats[2] > 0.0


def test_gif_local_palette_frame():
    import numpy as np

    base = _gif_index_frame(6, 6)
    lp = [(10, 20, 30), (200, 100, 50)]
    patch = np.array([[0, 1], [1, 0]], dtype=np.int32)
    gif = _gif_bytes(
        [base, patch], rects=[(0, 0), (2, 2)], local_palettes={1: lp}
    )
    frames, _ = multimodal.decode_video(gif)
    want = np.array(_GIF_PALETTE, dtype=np.uint8)[base].copy()
    want[2:4, 2:4] = np.array(lp, dtype=np.uint8)[patch]
    assert (frames[1] == want).all()


def test_gif_features_match_equivalent_ppm():
    import numpy as np

    idx = _gif_index_frame(8, 8, seed=1)
    px = np.array(_GIF_PALETTE, dtype=np.uint8)[idx]
    gif_feats = multimodal.real_decode(_gif_bytes([idx]), "image")
    ppm_feats = multimodal.real_decode(_encode_ppm(px), "image")
    assert gif_feats == ppm_feats


def test_gif_malformed_raises():
    good = _gif_bytes([_gif_index_frame(8, 8)])
    with pytest.raises(ValueError, match="GIF"):
        multimodal._decode_gif(good[:20])  # truncated mid-structure
    bad = bytearray(good)
    bad[-10] ^= 0xFF  # scramble LZW tail
    with pytest.raises(ValueError):  # IndexError normalized per contract
        multimodal._decode_gif(bytes(bad))
    # truncation right after an extension introducer / inside the
    # block walk must also surface as ValueError, never IndexError
    for cut in (good[:37] + b"\x21", good[: len(good) - 3]):
        with pytest.raises(ValueError):
            multimodal._decode_gif(bytes(cut))


def test_extract_features_uses_real_video_path(spark):
    """extract_features delegates to real_decode — a decodable video
    payload gets content features, not the sha256 fake vector."""
    gif = _gif_bytes(
        [_gif_index_frame(8, 8), _gif_index_frame(8, 8, seed=3)],
        delays_cs=[5, 5],
    )
    df = spark.createDataFrame(
        [(1, "video", gif, 8, 8, 100, "gif")],
        "asset_id long, media_type string, payload binary, width int, "
        "height int, duration_ms int, codec string",
    )
    [row] = multimodal.extract_features(df).collect()
    assert list(row.feature) == multimodal.real_decode(gif, "video")
    assert list(row.feature) != multimodal._fake_decode(gif)


def test_gif_disposal_applies_to_one_frame_only():
    """A GCE's disposal method covers only the image that follows
    (GIF89a): disposal=2 on frame 1 must not keep wiping the rects of
    later GCE-less frames."""
    import numpy as np

    pal = np.array(_GIF_PALETTE, dtype=np.uint8)
    base = _gif_index_frame(10, 10)
    p1 = np.full((3, 3), 1, dtype=np.int32)
    p2 = np.full((3, 3), 2, dtype=np.int32)
    p3 = np.full((2, 2), 3, dtype=np.int32)
    gif = _gif_bytes(
        [base, p1, p2, p3],
        rects=[(0, 0), (0, 0), (4, 4), (8, 8)],
        disposals={1: 2},  # only frame 1 restores-to-background
    )
    frames, _ = multimodal.decode_video(gif)
    assert len(frames) == 4
    # frame 1's rect was restored to background (index 0) before frame 2
    assert (frames[2][0:3, 0:3] == pal[0]).all()
    assert (frames[2][4:7, 4:7] == pal[p2]).all()
    # frame 2 had NO GCE: its rect must still be visible in frame 3
    assert (frames[3][4:7, 4:7] == pal[p2]).all()
    assert (frames[3][8:10, 8:10] == pal[p3]).all()


# --- WAV beyond PCM: G.711 mu-law/A-law, IMA ADPCM, float, 24-bit ----------


def _wav_raw_bytes(tag, ch, rate, bps, block_align, data, fact=None,
                   extensible=False):
    """Hand-assembled RIFF/WAVE container around a raw data chunk."""
    import struct

    if extensible:
        # WAVE_FORMAT_EXTENSIBLE: real tag moves into the SubFormat GUID
        fmt = struct.pack(
            "<HHIIHHHHI", 0xFFFE, ch, rate, rate * block_align,
            block_align, bps, 22, bps, 0,
        ) + struct.pack("<H", tag) + b"\x00" * 14
    else:
        fmt = struct.pack(
            "<HHIIHH", tag, ch, rate, rate * block_align, block_align, bps
        )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if len(fmt) & 1:
        chunks += b"\x00"
    if fact is not None:
        chunks += b"fact" + struct.pack("<II", 4, fact)
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _mulaw_compress(x):
    """G.711 linear2ulaw (CCITT reference: 14-bit domain, bias 33)."""
    x >>= 2
    if x < 0:
        x, mask = -x, 0x7F
    else:
        mask = 0xFF
    x = min(x, 8159) + 33
    ends = (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF)
    for seg in range(8):
        if x <= ends[seg]:
            break
    return ((seg << 4) | ((x >> (seg + 1)) & 0x0F)) ^ mask


def _alaw_compress(x):
    """G.711 linear2alaw (CCITT reference: 13-bit domain)."""
    x >>= 3
    if x >= 0:
        mask = 0xD5
    else:
        mask, x = 0x55, -x - 1
    ends = (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF)
    for seg in range(8):
        if x <= ends[seg]:
            break
    else:
        return 0x7F ^ mask
    aval = (seg << 4) | ((x >> 1 if seg < 2 else x >> seg) & 0x0F)
    return aval ^ mask


def test_g711_expand_reference_points():
    """Canonical G.711 pins: both all-1s codes decode to 0, the
    extreme codes hit the documented full-scale magnitudes."""
    import numpy as np

    mu = multimodal._mulaw_expand(np.arange(256, dtype=np.uint8), np)
    assert mu[0xFF] == 0 and mu[0x7F] == 0
    assert mu[0x80] == 32124 and mu[0x00] == -32124
    al = multimodal._alaw_expand(np.arange(256, dtype=np.uint8), np)
    assert al[0xD5] == 8 and al[0x55] == -8
    assert al[0xAA] == 32256 and al[0x2A] == -32256
    # audioop (when present) is an independent oracle for all 256 codes
    try:
        import audioop
    except ImportError:
        return
    for c in range(256):
        assert mu[c] == int.from_bytes(
            audioop.ulaw2lin(bytes([c]), 2), "little", signed=True
        )
        assert al[c] == int.from_bytes(
            audioop.alaw2lin(bytes([c]), 2), "little", signed=True
        )


def test_wav_g711_decode_roundtrip():
    """mu-law/A-law WAV payloads decode through decode_audio; the
    compand->expand error is bounded by the G.711 step size."""
    import math

    import numpy as np

    pcm = [
        int(20000 * math.sin(2 * math.pi * 440 * t / 8000))
        for t in range(400)
    ]
    for tag, compress in ((7, _mulaw_compress), (6, _alaw_compress)):
        data = bytes(compress(x) for x in pcm)
        wav = _wav_raw_bytes(tag, 1, 8000, 8, 1, data)
        arr, rate = multimodal.decode_audio(wav)
        assert rate == 8000 and arr.shape == (400, 1)
        err = np.abs(arr[:, 0] * 32768.0 - np.array(pcm, dtype=np.float64))
        # worst-case segment step at |x|~20000 is 1024 (mu) / 1024 (A)
        assert float(err.max()) < 1100.0
    # extensible wrapper resolves to the inner tag
    data = bytes(_mulaw_compress(x) for x in pcm)
    plain, _ = multimodal.decode_audio(_wav_raw_bytes(7, 1, 8000, 8, 1, data))
    ext, _ = multimodal.decode_audio(
        _wav_raw_bytes(7, 1, 8000, 8, 1, data, extensible=True)
    )
    assert (plain == ext).all()


def _adpcm_encode_block(samples, predictor, index):
    """Reference IMA ADPCM encoder for one channel's nibble run —
    returns (nibbles, reconstructed_samples, final_index)."""
    nibbles, recon = [], []
    for s in samples:
        step = multimodal._ADPCM_STEPS[index]
        diff = s - predictor
        nib = 8 if diff < 0 else 0
        if diff < 0:
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        [predictor] = multimodal._adpcm_expand_nibbles([nib], predictor, index)
        index = max(0, min(88, index + multimodal._ADPCM_INDEX[nib]))
        nibbles.append(nib)
        recon.append(predictor)
    return nibbles, recon, index


def test_wav_ima_adpcm_mono_bit_exact_and_close():
    import math
    import struct

    import numpy as np

    pcm = [
        int(4000 * math.sin(2 * math.pi * 100 * t / 8000))
        for t in range(1 + 8 + 8)  # header sample + 2 nibble words
    ]
    # start index 35 (step 190): per-sample slope of this sine is ~314,
    # inside the encodable range, so no slope-overload transient
    nibbles, recon, _ = _adpcm_encode_block(pcm[1:], pcm[0], 35)
    block = struct.pack("<hBB", pcm[0], 35, 0)
    for k in range(0, len(nibbles), 2):
        block += bytes([nibbles[k] | (nibbles[k + 1] << 4)])
    wav = _wav_raw_bytes(0x11, 1, 8000, 4, len(block), block)
    arr, rate = multimodal.decode_audio(wav)
    want = [pcm[0]] + recon  # decoder must reproduce the encoder's
    got = np.round(arr[:, 0] * 32768.0).astype(int)  # reconstruction
    assert got.tolist() == want
    err = np.abs(np.array(want) - np.array(pcm))
    assert float(err.max()) < 800.0  # lossy, step-bounded


def test_wav_ima_adpcm_stereo_and_fact_truncation():
    import struct

    import numpy as np

    left = [100 * k for k in range(9)]
    right = [-80 * k for k in range(9)]
    nl, rl, _ = _adpcm_encode_block(left[1:], left[0], 0)
    nr, rr, _ = _adpcm_encode_block(right[1:], right[0], 0)
    block = struct.pack("<hBB", left[0], 0, 0)
    block += struct.pack("<hBB", right[0], 0, 0)
    for words in (nl, nr):  # one 4-byte word per channel, interleaved
        for k in range(0, 8, 2):
            block += bytes([words[k] | (words[k + 1] << 4)])
    wav = _wav_raw_bytes(0x11, 2, 8000, 4, len(block), block, fact=7)
    arr, _ = multimodal.decode_audio(wav)
    assert arr.shape == (7, 2)  # fact chunk truncates the padded block
    got = np.round(arr * 32768.0).astype(int)
    assert got[:, 0].tolist() == ([left[0]] + rl)[:7]
    assert got[:, 1].tolist() == ([right[0]] + rr)[:7]


def test_wav_float_and_24bit_exact():
    import struct

    import numpy as np

    vals = [0.0, 0.25, -0.5, 0.875]
    wav = _wav_raw_bytes(3, 1, 44100, 32, 4, struct.pack("<4f", *vals))
    arr, rate = multimodal.decode_audio(wav)
    assert rate == 44100 and arr[:, 0].tolist() == vals
    ints = [0, 1 << 22, -(1 << 23), (1 << 23) - 1]
    data = b"".join(
        (v & 0xFFFFFF).to_bytes(3, "little") for v in ints
    )
    arr, _ = multimodal.decode_audio(_wav_raw_bytes(1, 1, 8000, 24, 3, data))
    assert (np.round(arr[:, 0] * (1 << 23)).astype(int) == ints).all()


def test_wav_unsupported_and_malformed_raise_valueerror(spark):
    import struct

    # MS ADPCM (tag 2) is NOT implemented: ValueError, never wave.Error
    wav = _wav_raw_bytes(2, 1, 8000, 4, 256, b"\x00" * 256)
    with pytest.raises(ValueError, match="WAV"):
        multimodal.decode_audio(wav)
    # truncated fmt chunk
    bad = b"RIFF" + struct.pack("<I", 12) + b"WAVE" + b"fmt " + struct.pack(
        "<I", 4
    ) + b"\x00" * 4
    with pytest.raises(ValueError, match="WAV"):
        multimodal.decode_audio(bad)
    # and through the distributed path both degrade to the fake vector
    df = spark.createDataFrame(
        [(1, "audio", wav, None, None, 100, "ms-adpcm")],
        "asset_id long, media_type string, payload binary, width int, "
        "height int, duration_ms int, codec string",
    )
    [row] = multimodal.extract_features(df).collect()
    assert list(row.feature) == multimodal._fake_decode(wav)


# --- TIFF: test-side writer (LZW early-change + PackBits) + native decode ---


def _tiff_lzw_encode(data):
    """TIFF-variant LZW compressor: MSB-first, 9-bit start, Clear/EOI,
    EARLY width change mirroring the decoder's clock."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(CLEAR, width)
    n = 258  # decoder-side table length
    first = True

    def after_emit():
        nonlocal n, width, first
        if first:
            first = False
            return
        n += 1
        if n == (1 << width) - 1 and width < 12:  # early change
            width += 1

    prev = b""
    for byte in data:
        cur = prev + bytes([byte])
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        after_emit()
        if next_code < 4094:
            table[cur] = next_code
            next_code += 1
        prev = bytes([byte])
    if prev:
        emit(table[prev], width)
        after_emit()
    emit(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data):
    """Simple PackBits: runs of >=3 identical bytes as repeats, the
    rest as literal groups of <=128."""
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while i + run < len(data) and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit_start = i
        while (
            i < len(data)
            and i - lit_start < 128
            and not (
                i + 2 < len(data) and data[i] == data[i + 1] == data[i + 2]
            )
        ):
            i += 1
        out += bytes([i - lit_start - 1]) + data[lit_start:i]
    return bytes(out)


def _tiff_bytes(px, comp=1, big_endian=False, predictor=1, photometric=None,
                colormap=None, rows_per_strip=None):
    """(h, w[, spp]) uint8 array -> single-IFD TIFF."""
    import struct

    import numpy as np

    bo = ">" if big_endian else "<"
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, spp = px.shape
    if photometric is None:
        photometric = 2 if spp == 3 else 1
    rps = rows_per_strip or h
    arr = px
    if predictor == 2:
        d = arr.astype(np.int16)
        d[:, 1:, :] = d[:, 1:, :] - d[:, :-1, :]
        arr = (d % 256).astype(np.uint8)
    strips = []
    for r0 in range(0, h, rps):
        raw = arr[r0 : r0 + rps].tobytes()
        if comp == 5:
            strips.append(_tiff_lzw_encode(raw))
        elif comp == 32773:
            strips.append(_packbits_encode(raw))
        else:
            strips.append(raw)
    entries = []  # (tag, type, count, value-or-bytes)

    def entry(tag, typ, vals):
        entries.append((tag, typ, vals))

    entry(256, 3, [w])
    entry(257, 3, [h])
    entry(258, 3, [8] * spp)
    entry(259, 3, [comp])
    entry(262, 3, [photometric])
    entry(277, 3, [spp])
    entry(278, 3, [rps])
    if predictor != 1:
        entry(317, 3, [predictor])
    if colormap is not None:
        entry(320, 3, list(colormap))
    # layout: header(8) + IFD + extra values + strip data
    n_ent = len(entries) + 2  # + StripOffsets/StripByteCounts
    ifd_off = 8
    sz = {3: 2, 4: 4}
    extra = bytearray()
    extra_base = ifd_off + 2 + 12 * n_ent + 4

    def pack_entry(tag, typ, vals):
        cnt = len(vals)
        total = sz[typ] * cnt
        fmt = {3: "H", 4: "I"}[typ]
        if total <= 4:
            buf = struct.pack(bo + fmt * cnt, *vals)
            buf += b"\x00" * (4 - total)
            return struct.pack(bo + "HHI", tag, typ, cnt) + buf
        off = extra_base + len(extra)
        extra.extend(struct.pack(bo + fmt * cnt, *vals))
        if len(extra) & 1:
            extra.append(0)
        return struct.pack(bo + "HHI", tag, typ, cnt) + struct.pack(
            bo + "I", off
        )

    # strip offsets come after we know the extra-values length; reserve
    # by building entries twice: first pass with dummy offsets
    dummy = [0] * len(strips)
    all_entries = entries + [(273, 4, dummy), (279, 4, [len(s) for s in strips])]
    all_entries.sort(key=lambda t: t[0])
    packed_once = b"".join(pack_entry(*e) for e in all_entries)
    data_base = extra_base + len(extra)
    offs = []
    pos = data_base
    for s in strips:
        offs.append(pos)
        pos += len(s) + (len(s) & 1)
    # second pass with real offsets (extra regenerated identically)
    extra2 = bytearray()
    extra_base2 = extra_base

    def pack_entry2(tag, typ, vals):
        cnt = len(vals)
        total = sz[typ] * cnt
        fmt = {3: "H", 4: "I"}[typ]
        if total <= 4:
            buf = struct.pack(bo + fmt * cnt, *vals)
            buf += b"\x00" * (4 - total)
            return struct.pack(bo + "HHI", tag, typ, cnt) + buf
        off = extra_base2 + len(extra2)
        extra2.extend(struct.pack(bo + fmt * cnt, *vals))
        if len(extra2) & 1:
            extra2.append(0)
        return struct.pack(bo + "HHI", tag, typ, cnt) + struct.pack(
            bo + "I", off
        )

    all_entries = entries + [(273, 4, offs), (279, 4, [len(s) for s in strips])]
    all_entries.sort(key=lambda t: t[0])
    ifd = struct.pack(bo + "H", n_ent)
    ifd += b"".join(pack_entry2(*e) for e in all_entries)
    ifd += struct.pack(bo + "I", 0)  # no next IFD
    out = bytearray()
    out += (b"MM\x00\x2a" if big_endian else b"II\x2a\x00")
    out += struct.pack(bo + "I", ifd_off)
    out += ifd
    out += extra2
    for s in strips:
        out += s
        if len(s) & 1:
            out += b"\x00"
    return bytes(out)


def _tiff_test_image(h=13, w=17, spp=3, seed=0):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    base = (7 * xx + 13 * yy + seed).astype(np.uint8)
    if spp == 1:
        return base
    return np.stack([base, base[::-1, :], (base * 3 + 1)], axis=2).astype(
        np.uint8
    )


def test_tiff_uncompressed_rgb_both_endians():
    import numpy as np

    px = _tiff_test_image()
    for be in (False, True):
        got = multimodal.decode_image(_tiff_bytes(px, big_endian=be))
        assert (got == px).all()
    # multi-strip layout
    got = multimodal.decode_image(_tiff_bytes(px, rows_per_strip=4))
    assert (got == px).all()


def test_tiff_lzw_and_predictor_roundtrip():
    import numpy as np

    px = _tiff_test_image(16, 21)
    assert (multimodal.decode_image(_tiff_bytes(px, comp=5)) == px).all()
    assert (
        multimodal.decode_image(_tiff_bytes(px, comp=5, predictor=2)) == px
    ).all()
    # LZW exercise with low-entropy data that grows the code width
    flat = np.tile(np.arange(256, dtype=np.uint8), 40).reshape(40, 256)
    assert (
        multimodal.decode_image(_tiff_bytes(flat, comp=5))[:, :, 0]
        == flat
    ).all()


def test_tiff_packbits_gray_and_palette():
    import numpy as np

    gray = _tiff_test_image(9, 11, spp=1)
    got = multimodal.decode_image(_tiff_bytes(gray, comp=32773))
    assert (got[:, :, 0] == gray).all() and (got[:, :, 1] == gray).all()
    # WhiteIsZero inverts
    got0 = multimodal.decode_image(
        _tiff_bytes(gray, comp=32773, photometric=0)
    )
    assert (got0[:, :, 0] == 255 - gray).all()
    # palette: 16-bit colormap, decoder scales >>8
    idx = (gray % 8).astype(np.uint8)
    cmap = [0] * 768
    for i in range(8):
        cmap[i] = i * 0x1100          # red plane
        cmap[256 + i] = i * 0x0700    # green
        cmap[512 + i] = i * 0x1F00    # blue
    got = multimodal.decode_image(
        _tiff_bytes(idx, photometric=3, colormap=cmap)
    )
    import numpy as np
    pal = np.array(
        [[(i * 0x1100) >> 8, (i * 0x0700) >> 8, (i * 0x1F00) >> 8]
         for i in range(8)],
        dtype=np.uint8,
    )
    assert (got == pal[idx]).all()


def test_tiff_unsupported_and_malformed():
    px = _tiff_test_image()
    good = _tiff_bytes(px)
    with pytest.raises(ValueError, match="TIFF"):
        multimodal._decode_tiff(good[:6])
    with pytest.raises(ValueError, match="TIFF"):
        multimodal._decode_tiff(good[:40])  # truncated IFD
    bad_comp = _tiff_bytes(px, comp=7)  # JPEG-in-TIFF: unsupported
    with pytest.raises(ValueError, match="compression"):
        multimodal._decode_tiff(bad_comp)
    feats = multimodal.real_decode(good, "image")
    assert feats == multimodal._pixel_features(px)


# --- PNG: Adam7 interlace, sub-byte and 16-bit depths -----------------------


def _png_bytes2(samples, color_type, depth, interlace=0):
    """Extended fixture encoder: ``samples`` is (h, w, ch) int array of
    RAW sample values (palette indices / gray levels / 16-bit words).
    Filter type 0 everywhere; optional Adam7 interlacing."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = samples.shape

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def pack_rows(sub):
        hs, ws, _ = sub.shape
        out = bytearray()
        for y in range(hs):
            out.append(0)  # filter type None
            if depth == 16:
                for v in sub[y].reshape(-1):
                    out += struct.pack(">H", int(v))
            elif depth == 8:
                out += bytes(int(v) & 0xFF for v in sub[y].reshape(-1))
            else:
                acc = nb = 0
                for v in sub[y].reshape(-1):
                    acc = (acc << depth) | (int(v) & ((1 << depth) - 1))
                    nb += depth
                    if nb == 8:
                        out.append(acc)
                        acc = nb = 0
                if nb:
                    out.append(acc << (8 - nb))
        return bytes(out)

    if interlace == 0:
        raster = pack_rows(samples)
    else:
        raster = b""
        for x0, y0, dx, dy in multimodal._ADAM7:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raster += pack_rows(sub)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, interlace
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


def test_png_adam7_rgb_roundtrip():
    import numpy as np

    rng = np.random.default_rng(3)
    want = rng.integers(0, 256, size=(11, 9, 3), dtype=np.uint8)
    got = multimodal.decode_image(
        _png_bytes2(want.astype(np.int64), 2, 8, interlace=1)
    )
    assert np.array_equal(got, want)
    # 1x1 and degenerate sizes exercise the empty-pass skips
    one = np.array([[[1, 2, 3]]], dtype=np.int64)
    assert np.array_equal(
        multimodal.decode_image(_png_bytes2(one, 2, 8, interlace=1)),
        np.array([[[1, 2, 3]]], dtype=np.uint8),
    )


def test_png_16bit_keeps_high_byte():
    import numpy as np

    rng = np.random.default_rng(5)
    hi = rng.integers(0, 256, size=(6, 4, 3), dtype=np.int64)
    lo = rng.integers(0, 256, size=(6, 4, 3), dtype=np.int64)
    got = multimodal.decode_image(_png_bytes2((hi << 8) | lo, 2, 16))
    assert np.array_equal(got, hi.astype(np.uint8))
    # 16-bit gray, interlaced
    g = rng.integers(0, 65536, size=(7, 5, 1), dtype=np.int64)
    got = multimodal.decode_image(_png_bytes2(g, 0, 16, interlace=1))
    assert np.array_equal(got[:, :, 0], (g[:, :, 0] >> 8).astype(np.uint8))


def test_png_subbyte_gray_and_palette():
    import struct
    import zlib

    import numpy as np

    # 4-bit gray scales by 17, 1-bit by 255
    g4 = np.arange(16, dtype=np.int64).reshape(4, 4)[:, :, None] % 16
    got = multimodal.decode_image(_png_bytes2(g4, 0, 4))
    assert np.array_equal(got[:, :, 0], (g4[:, :, 0] * 17).astype(np.uint8))
    g1 = (np.indices((5, 9)).sum(axis=0) % 2)[:, :, None].astype(np.int64)
    got = multimodal.decode_image(_png_bytes2(g1, 0, 1))
    assert np.array_equal(got[:, :, 0], (g1[:, :, 0] * 255).astype(np.uint8))
    # 2-bit palette (+ Adam7): indices resolve through PLTE unscaled
    rng = np.random.default_rng(9)
    plte = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(9, 7, 1), dtype=np.int64)
    png = _png_bytes2(idx, 3, 2, interlace=1)
    plte_data = plte.tobytes()
    plte_chunk = (
        struct.pack(">I", len(plte_data)) + b"PLTE" + plte_data
        + struct.pack(">I", zlib.crc32(b"PLTE" + plte_data) & 0xFFFFFFFF)
    )
    ihdr_end = 8 + 12 + 13
    png = png[:ihdr_end] + plte_chunk + png[ihdr_end:]
    got = multimodal.decode_image(png)
    assert np.array_equal(got, plte[idx[:, :, 0]])


def test_gif_disposal_restore_to_previous():
    """disposal=3: the frame's rect reverts to the PRE-frame canvas
    before the next frame composites (the sprite-overlay pattern)."""
    import numpy as np

    pal = np.array(_GIF_PALETTE, dtype=np.uint8)
    base = _gif_index_frame(8, 8)
    sprite = np.full((3, 3), 7, dtype=np.int32)
    dot = np.full((2, 2), 2, dtype=np.int32)
    gif = _gif_bytes(
        [base, sprite, dot],
        rects=[(0, 0), (2, 2), (6, 6)],
        disposals={1: 3},
    )
    frames, _ = multimodal.decode_video(gif)
    assert (frames[1][2:5, 2:5] == pal[sprite]).all()  # sprite visible
    # frame 2: sprite rect restored to the ORIGINAL base pixels
    assert (frames[2][2:5, 2:5] == pal[base][2:5, 2:5]).all()
    assert (frames[2][6:8, 6:8] == pal[dot]).all()


# ---------------------------------------------------------------------------
# TGA (types 2 + 10) and AIFF PCM — round-7 codec additions
# ---------------------------------------------------------------------------


def _encode_tga(px, rle=False, top_left=True, alpha=False):
    """Spec-conformant TGA 2.0 writer for the tests: 24/32-bit
    truecolor, optional RLE (type 10), footer signature included."""
    import struct

    import numpy as np

    h, w = px.shape[:2]
    ch = 4 if alpha else 3
    desc = 0x20 if top_left else 0x00
    if alpha:
        desc |= 0x08
    hdr = struct.pack(
        "<BBBHHBHHHHBB",
        0, 0, 10 if rle else 2, 0, 0, 0, 0, 0, w, h, ch * 8, desc
    )
    rows = px if top_left else px[::-1]
    bgr = rows[:, :, ::-1]
    if alpha:
        a = np.full((h, w, 1), 255, dtype=np.uint8)
        bgr = np.concatenate([bgr, a], axis=2)
    flat = bgr.reshape(-1, ch)
    if not rle:
        body = flat.tobytes()
    else:
        out = bytearray()
        i = 0
        n = len(flat)
        while i < n:
            # repeated run
            j = i
            while (
                j + 1 < n
                and (flat[j + 1] == flat[i]).all()
                and j + 1 - i < 127
            ):
                j += 1
            if j > i:
                out.append(0x80 | (j - i))
                out += flat[i].tobytes()
                i = j + 1
            else:
                # literal run until next repeat
                k = i
                while (
                    k + 1 < n
                    and not (flat[k + 1] == flat[k]).all()
                    and k - i < 127
                ):
                    k += 1
                out.append(k - i)
                out += flat[i : k + 1].tobytes()
                i = k + 1
        body = bytes(out)
    footer = b"\x00" * 8 + b"TRUEVISION-XFILE.\x00"
    return hdr + body + footer


def _tga_pixels():
    import numpy as np

    rng = np.arange(7 * 5 * 3, dtype=np.uint8).reshape(7, 5, 3) * 3 % 251
    return rng.astype(np.uint8)


def test_tga_uncompressed_and_rle_roundtrip():
    import numpy as np

    from wistia_video_analytics_project_spark.operators import multimodal

    px = _tga_pixels()
    for rle in (False, True):
        for top in (True, False):
            got = multimodal.decode_image(
                _encode_tga(px, rle=rle, top_left=top)
            )
            assert got is not None and got.shape == px.shape, (rle, top)
            assert np.array_equal(got, px), (rle, top)


def test_tga_32bit_alpha_dropped():
    import numpy as np

    from wistia_video_analytics_project_spark.operators import multimodal

    px = _tga_pixels()
    got = multimodal.decode_image(_encode_tga(px, rle=True, alpha=True))
    assert np.array_equal(got, px)


def test_tga_without_footer_is_not_dispatched():
    from wistia_video_analytics_project_spark.operators import multimodal

    payload = _encode_tga(_tga_pixels())[: -26]  # strip the footer
    assert multimodal.decode_image(payload) is None


def test_tga_truncated_raises():
    import pytest

    from wistia_video_analytics_project_spark.operators import multimodal

    good = _encode_tga(_tga_pixels())
    bad = good[:20] + good[-26:]  # keep footer, drop pixels
    with pytest.raises(ValueError):
        multimodal._decode_tga(bad)


def _encode_aiff(samples, rate, bps=16):
    """Minimal AIFF writer: COMM with 80-bit extended rate + SSND."""
    import struct

    import numpy as np

    arr = np.asarray(samples)
    n_frames, ch = arr.shape
    # 80-bit IEEE extended: exponent 16383+30, mantissa rate<<(63-30)
    e = 16383 + 30
    mant = rate << (63 - 30)
    ext = struct.pack(">H", e) + mant.to_bytes(8, "big")
    comm = b"COMM" + struct.pack(">I", 18) + struct.pack(
        ">hLh", ch, n_frames, bps
    ) + ext
    if bps == 16:
        data = arr.astype(">i2").tobytes()
    elif bps == 8:
        data = arr.astype(np.int8).tobytes()
    else:
        raise ValueError(bps)
    ssnd = b"SSND" + struct.pack(">I", 8 + len(data)) + struct.pack(
        ">LL", 0, 0
    ) + data
    if len(ssnd) % 2:
        ssnd += b"\x00"
    form = b"AIFF" + comm + ssnd
    return b"FORM" + struct.pack(">I", len(form)) + form


def test_aiff_pcm16_roundtrip_bit_exact():
    import numpy as np

    from wistia_video_analytics_project_spark.operators import multimodal

    want = np.array(
        [[0, 100], [-32768, 32767], [1234, -4321], [7, -7]], dtype=np.int64
    )
    arr, rate = multimodal.decode_audio(_encode_aiff(want, 8000))
    assert rate == 8000
    assert arr.shape == (4, 2)
    assert np.array_equal((arr * 32768.0).astype(np.int64), want)


def test_aiff_pcm8_and_odd_chunk_padding():
    import numpy as np

    from wistia_video_analytics_project_spark.operators import multimodal

    want = np.array([[5], [-5], [127]], dtype=np.int64)  # odd data length
    arr, rate = multimodal.decode_audio(
        _encode_aiff(want, 44100, bps=8)
    )
    assert rate == 44100
    assert np.array_equal((arr * 128.0).astype(np.int64), want)


def test_aiff_malformed_raises_valueerror():
    import pytest

    from wistia_video_analytics_project_spark.operators import multimodal

    good = _encode_aiff([[1, 2]], 8000)
    for bad in (
        good[:11] + b"X" + good[12:],          # wrong form type
        good[:20],                             # truncated chunks
    ):
        with pytest.raises(ValueError):
            multimodal._decode_aiff(bad)


# ---------------------------------------------------------------------------
# QOI — round-9 codec addition (public qoiformat.org spec)
# ---------------------------------------------------------------------------


def _qoi_hash(r, g, b, a):
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def _encode_qoi(px, channels=3):
    """Spec-conformant QOI writer for the tests: greedy op selection in
    the spec's priority order (RUN, INDEX, DIFF, LUMA, RGB/RGBA) — the
    same choices the reference qoi.h encoder makes, so every op type
    is exercised by a suitably varied image."""
    import struct

    h, w = px.shape[:2]
    out = bytearray(b"qoif")
    out += struct.pack(">II", w, h)
    out += bytes([channels, 0])
    index = [(0, 0, 0, 0)] * 64
    pr, pg, pb, pa = 0, 0, 0, 255
    run = 0
    flat = px.reshape(-1, px.shape[2])
    for i, p in enumerate(flat):
        if channels == 4:
            r, g, b, a = int(p[0]), int(p[1]), int(p[2]), int(p[3])
        else:
            r, g, b, a = int(p[0]), int(p[1]), int(p[2]), pa
        if (r, g, b, a) == (pr, pg, pb, pa):
            run += 1
            if run == 62 or i == len(flat) - 1:
                out.append(0xC0 | (run - 1))
                run = 0
        else:
            if run:
                out.append(0xC0 | (run - 1))
                run = 0
            hsh = _qoi_hash(r, g, b, a)
            if index[hsh] == (r, g, b, a):
                out.append(hsh)
            else:
                index[hsh] = (r, g, b, a)
                if a == pa:
                    dr, dg, db = r - pr, g - pg, b - pb
                    dr = (dr + 128) % 256 - 128
                    dg = (dg + 128) % 256 - 128
                    db = (db + 128) % 256 - 128
                    if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                        out.append(
                            0x40 | ((dr + 2) << 4) | ((dg + 2) << 2)
                            | (db + 2)
                        )
                    elif (
                        -32 <= dg <= 31
                        and -8 <= dr - dg <= 7
                        and -8 <= db - dg <= 7
                    ):
                        out.append(0x80 | (dg + 32))
                        out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                    else:
                        out.append(0xFE)
                        out += bytes([r, g, b])
                else:
                    out.append(0xFF)
                    out += bytes([r, g, b, a])
        pr, pg, pb, pa = r, g, b, a
    out += b"\x00" * 7 + b"\x01"
    return bytes(out)


def _qoi_test_image():
    """Deterministic 16x16 RGB exercising every op: flat runs, exact
    repeats far apart (INDEX), small deltas (DIFF), medium deltas
    (LUMA), and jumps (RGB)."""
    import numpy as np

    rng_vals = [(i * 37 + j * 101) % 256 for i in range(16) for j in range(16)]
    px = np.zeros((16, 16, 3), dtype=np.uint8)
    for i in range(16):
        for j in range(16):
            if i < 4:
                px[i, j] = (10, 20, 30)            # runs
            elif i < 6:
                px[i, j] = (10 + j % 2, 20 + j % 2, 30 + j % 2)  # DIFF
            elif i < 8:
                base = 40 + 3 * j
                px[i, j] = (base + 2, base, base + 4)            # LUMA
            elif i < 10:
                px[i, j] = (10, 20, 30) if j % 2 else (200, 5, 90)  # INDEX
            else:
                v = rng_vals[i * 16 + j]
                px[i, j] = (v, (v * 7) % 256, (v * 13) % 256)    # RGB
    return px


def test_qoi_roundtrip_all_ops():
    import numpy as np

    from wistia_video_analytics_project_spark.operators import multimodal

    px = _qoi_test_image()
    payload = _encode_qoi(px)
    # the encoded stream must actually contain every op family
    body = payload[14:-8]
    tags = {b >> 6 for b in body}
    assert 0xFE in body or 0xFF in body or tags >= {0, 1, 2, 3}
    got = multimodal.decode_image(payload)
    assert got is not None and got.shape == (16, 16, 3)
    np.testing.assert_array_equal(got, px)


def test_qoi_rgba_roundtrip_drops_alpha():
    import numpy as np

    from wistia_video_analytics_project_spark.operators import multimodal

    px4 = np.zeros((4, 4, 4), dtype=np.uint8)
    for i in range(4):
        for j in range(4):
            px4[i, j] = (i * 40, j * 50, 128, 255 - i * 60)
    payload = _encode_qoi(px4, channels=4)
    got = multimodal.decode_image(payload)
    np.testing.assert_array_equal(got, px4[:, :, :3])


def test_qoi_rejects_corrupt_payloads():
    import pytest as _pytest

    from wistia_video_analytics_project_spark.operators import multimodal

    px = _qoi_test_image()
    payload = _encode_qoi(px)
    with _pytest.raises(ValueError):
        multimodal._decode_qoi(payload[:-9] + b"\x00" * 9)  # broken marker
    with _pytest.raises(ValueError):
        multimodal._decode_qoi(payload[:30] + payload[-8:])  # truncated
    assert multimodal.decode_image(b"nope" + payload[4:]) is None
