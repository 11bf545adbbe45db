"""Multimodal column operators: opaque binary payloads + typed metadata.

BASELINE.json extension tier. Images/audio/video travel through Spark as
``binary`` columns beside typed metadata (schemas.MEDIA_ASSETS) — never
as driver-side objects. Feature extraction runs as an Arrow-batched
``mapInPandas`` operator (:func:`extract_features`); the frame grid is
Spark built-ins (:func:`sample_frames`).

Audio decodes natively: WAV through a hand-parsed RIFF reader (integer
PCM, IEEE float, G.711 mu-law/A-law, IMA ADPCM), AIFF (uncompressed
PCM), and FLAC through a pure-Python subset decoder
(:func:`_decode_flac`: rice residuals, FIXED + LPC predictors, all four
stereo assignments, CRC-8/16 verified — lossless, so tests assert exact
sample equality). Every other payload — all images and video, and
audio that needs a codec library (mp3/aac/vorbis) — raises
:func:`real_decode`'s codec-absent branch and featurizes through the
deterministic sha256 fake decoder.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: output schema of :func:`extract_features`
FEATURE_SCHEMA = (
    "asset_id long, media_type string, n_bytes int, content_sha256 string, "
    "feature array<double>"
)

FEATURE_DIM = 8


def _fake_decode(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a codec+model: sha256 bytes -> [0,1)
    floats. Used for payloads in formats this module can't decode."""
    h = hashlib.sha256(payload).digest()
    return [h[i] / 255.0 for i in range(dim)]


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
    summaries. Rounded to 6 decimals so the vector is stable across
    numpy builds."""
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


def real_decode(payload: bytes, media_type: str) -> list[float]:
    """Real decode path: WAV (PCM / IEEE float / G.711 / IMA ADPCM),
    AIFF and native FLAC (pure-Python rice/LPC bitstream decoder,
    CRC-verified) audio decodes to samples and featurizes from actual
    content; every other payload raises the documented codec-absent
    branch (malformed payloads of a supported magic raise ValueError
    from the decoder itself)."""
    if media_type == "audio":
        au = decode_audio(payload)
        if au is not None:
            return _audio_features(*au)
    raise NotImplementedError(
        "no codec libraries in this environment for "
        f"media_type={media_type!r} with magic {payload[:2]!r}; only WAV "
        "(PCM/float/G.711/ADPCM), AIFF and FLAC audio decode natively — "
        "other payloads use the deterministic fake decoder"
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Binary payload -> feature vector, Arrow batch at a time.

    The per-batch body is where a real pipeline calls cv2/PIL/ffmpeg;
    everything around it (Arrow transfer, schema contract, executor-side
    parallelism) is the production shape. At 100 TB: payloads stay
    distributed, the only driver traffic is the plan.
    """
    import pandas as pd

    def decode(payload: bytes, media_type: str) -> list[float]:
        # real content features whenever the payload is natively
        # decodable (real_decode owns the single dispatch — no second
        # copy to drift); corrupt payloads
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
    JVM-side; the frames themselves are not decoded (no video codec).
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
