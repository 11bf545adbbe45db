"""Multimodal binary-column plumbing: native audio decode, sha256 fake
fallback for every other payload, real Spark shape."""

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
    # no image codec: every image payload takes the codec-absent branch
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
    # fake decoder is pinned bit-exact: sha256(payload) bytes / 255
    want = [b / 255.0 for b in hashlib.sha256(GOLDEN).digest()[:8]]
    assert g.feature == want
    # null policy: payload-less rows keep their identity columns, feature
    # and hash are NULL (never a zero vector), n_bytes is 0
    n = rows[2]
    assert n.feature is None and n.content_sha256 is None and n.n_bytes == 0


def test_decoder_callable_contract():
    """The splice point has a fixed signature: (payload: bytes,
    media_type: str) -> length-FEATURE_DIM float vector for a format it
    decodes; for any other it must raise NotImplementedError (never
    silently fall back)."""
    import inspect

    params = list(inspect.signature(multimodal.real_decode).parameters)
    assert params[:2] == ["payload", "media_type"]
    feat = multimodal.real_decode(_wav_bytes(), "audio")
    assert len(feat) == multimodal.FEATURE_DIM
    assert all(isinstance(v, float) for v in feat)
    with pytest.raises(NotImplementedError):
        multimodal.real_decode(GOLDEN, "image")


def test_real_decode_still_raises_for_compressed_formats():
    # mp3/images/video remain the documented codec-absent stubs; a
    # truncated payload of a decodable magic raises the decoder's
    # ValueError instead
    with pytest.raises(ValueError, match="WAV"):
        multimodal.real_decode(_wav_bytes()[:12], "audio")
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.real_decode(b"\xff\xd8\xff\xe0jpeg-frame", "image")
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.real_decode(_wav_bytes(), "video")


# ---------------------------------------------------------------------------
# Real decode: WAV (hand-parsed RIFF)
# ---------------------------------------------------------------------------


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


def test_extract_features_degrades_on_corrupt_payload(spark):
    """A truncated WAV in a batch must degrade to the deterministic
    fake vector, never kill the job (fleet-scale robustness contract)."""
    good = _wav_bytes()
    corrupt = good[:30]
    rows = [(90, "audio", good, None, None, 250, "pcm"),
            (91, "audio", corrupt, None, None, 250, "pcm")]
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
    assert out[90] == multimodal.real_decode(good, "audio")
    assert out[90] != multimodal._fake_decode(good)


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


# --- AIFF: test-side writer + native decode --------------------------------


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
