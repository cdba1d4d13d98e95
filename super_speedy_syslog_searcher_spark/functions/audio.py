"""Pure-Python/numpy WAV (RIFF/WAVE) sample codec + audio kernels.

Closes the audio half of the multimodal stub story the same way
``imaging.py``/``jpeg.py``/``gif.py`` closed images: the container
format is decodable without any C audio library, so the sample DECODE,
the linear resampler, and the spectral feature kernel are REAL — only
compressed codecs (MP3/AAC/opus) remain out of pure-Python scope and
keep the documented byte-bigram fallback in
``operators/multimodal.py``.

Coverage (the public RIFF/WAVE layout; ``parse_wav_duration_ms`` in
operators/multimodal.py stays the header-only metadata fast path):

* integer PCM (format tag 1): 8-bit unsigned, 16/24/32-bit signed
  little-endian — returned as exact int32 (24-bit sign-extended)
* IEEE float (format tag 3): float32/float64 — returned as float64
* WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE): resolved through the SubFormat
  GUID's leading 16 bits (1 → PCM, 3 → float)
* any channel count; chunk walk skips unknown chunks (LIST, fact, …)
  with RIFF word alignment

Everything here is deterministic: integer decode is exact; the
resampler and spectral kernel are fixed float64 numpy expressions, so
the same payload always yields the same vector on every
executor/architecture in practice (IEEE-754 double, no
order-of-reduction ambiguity beyond numpy's own deterministic sums).

All decoders raise :class:`AudioFormatError` on malformed input — the
per-row containment type (the Spark operators catch it and mark the
row failed; see the image-decoder containment contract,
tests/test_container_fuzz.py).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "AudioFormatError",
    "decode_wav",
    "decode_wav_pcm16",
    "encode_wav",
    "resample_linear",
    "band_energies",
    "audio_feature_vector",
]


class AudioFormatError(ValueError):
    """Malformed or unsupported WAV payload (containment type)."""


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise AudioFormatError(msg)


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE → ``(samples, sample_rate)``.

    ``samples`` has shape ``(n_frames, n_channels)``; integer PCM comes
    back as exact ``int32`` (8-bit unsigned is recentred to signed:
    ``s - 128`` scaled into the 24-high bits convention is NOT applied —
    values stay at their native magnitude so ``encode_wav`` round-trips
    bit-exactly), IEEE float as ``float64``.
    """
    return _decode_wav(payload)[:2]


def decode_wav_pcm16(payload: bytes) -> tuple[np.ndarray, int]:
    """``decode_wav`` rescaled to the 16-bit range ``encode_wav`` writes:
    float ×32767, 8-bit <<8, 24-bit >>8, 32-bit >>16, 16-bit exact."""
    x, sr, bits = _decode_wav(payload)
    return (x * 32767 if x.dtype.kind == "f" else x << 8 if bits == 8 else x >> (bits - 16)), sr


def _decode_wav(payload: bytes) -> tuple[np.ndarray, int, int]:
    """``decode_wav`` plus the source bits per sample."""
    p = bytes(payload)
    _require(len(p) >= 12 and p[:4] == b"RIFF" and p[8:12] == b"WAVE", "not a RIFF/WAVE payload")
    i = 12
    fmt_tag = None
    n_ch = sr = bits = None
    data: bytes | None = None
    while i + 8 <= len(p):
        cid = p[i : i + 4]
        size = int.from_bytes(p[i + 4 : i + 8], "little")
        body = p[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            _require(len(body) >= 16, "fmt chunk truncated")
            fmt_tag = int.from_bytes(body[0:2], "little")
            n_ch = int.from_bytes(body[2:4], "little")
            sr = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if fmt_tag == 0xFFFE:
                _require(len(body) >= 26, "extensible fmt truncated")
                fmt_tag = int.from_bytes(body[24:26], "little")
        elif cid == b"data":
            _require(len(body) == size, "data chunk truncated")
            data = body
        i += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    _require(fmt_tag is not None, "missing fmt chunk")
    _require(data is not None, "missing data chunk")
    _require(n_ch is not None and n_ch >= 1, "bad channel count")
    _require(sr is not None and sr >= 1, "bad sample rate")
    if fmt_tag == 1:
        if bits == 8:
            x = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
        elif bits == 16:
            x = np.frombuffer(data[: len(data) - len(data) % 2], dtype="<i2").astype(np.int32)
        elif bits == 24:
            b = np.frombuffer(data[: len(data) - len(data) % 3], dtype=np.uint8)
            b = b.reshape(-1, 3).astype(np.int32)
            x = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            x = np.where(x >= 1 << 23, x - (1 << 24), x)
        elif bits == 32:
            x = np.frombuffer(data[: len(data) - len(data) % 4], dtype="<i4").astype(np.int32)
        else:
            raise AudioFormatError(f"unsupported PCM bit depth {bits}")
    elif fmt_tag == 3:
        if bits == 32:
            x = np.frombuffer(data[: len(data) - len(data) % 4], dtype="<f4").astype(np.float64)
        elif bits == 64:
            x = np.frombuffer(data[: len(data) - len(data) % 8], dtype="<f8").astype(np.float64)
        else:
            raise AudioFormatError(f"unsupported float bit depth {bits}")
    else:
        raise AudioFormatError(f"unsupported format tag {fmt_tag}")
    n_frames = x.size // n_ch  # trailing partial frame dropped
    return x[: n_frames * n_ch].reshape(n_frames, n_ch), int(sr), bits


def encode_wav(samples: np.ndarray, sample_rate: int, bits: int = 16) -> bytes:
    """Interleave + wrap samples as canonical PCM RIFF/WAVE (16-bit by
    default). Integer input is clipped to the target range and written
    exactly — ``decode_wav(encode_wav(x, sr)) == (x, sr)`` bit-for-bit
    for in-range int16 input (pinned in tests)."""
    x = np.asarray(samples)
    if x.ndim == 1:
        x = x[:, None]
    n_ch = x.shape[1]
    if bits != 16:
        raise AudioFormatError("encode_wav writes 16-bit PCM")
    lo, hi = -(1 << 15), (1 << 15) - 1
    data = np.clip(np.rint(x).astype(np.int64), lo, hi).astype("<i2").tobytes()
    byte_rate = sample_rate * n_ch * 2
    fmt = (
        b"fmt \x10\x00\x00\x00"
        + (1).to_bytes(2, "little")
        + n_ch.to_bytes(2, "little")
        + int(sample_rate).to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (n_ch * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (len(body)).to_bytes(4, "little") + body


def resample_linear(x: np.ndarray, sr_from: int, sr_to: int) -> np.ndarray:
    """Linear-interpolation resample per channel (the deterministic
    baseline resampler; production would swap a polyphase kernel).
    Output is always a float64 ``(frames, channels)`` array (1-D input is
    one channel) of length round(n * sr_to / sr_from); identical rates
    return the input samples as that array. Output times sample the input
    at ``t_out * sr_from / sr_to`` — endpoint-clamped ``np.interp``."""
    x = np.asarray(x, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    if sr_from == sr_to:
        return x
    n = x.shape[0]
    m = int(round(n * sr_to / sr_from))
    if n == 0 or m == 0:
        return np.zeros((0, x.shape[1]))
    src_t = np.arange(m, dtype=np.float64) * (sr_from / sr_to)
    idx = np.arange(n, dtype=np.float64)
    return np.stack([np.interp(src_t, idx, x[:, c]) for c in range(x.shape[1])], axis=1)


def band_energies(mono: np.ndarray, n_bands: int = 8) -> np.ndarray:
    """Mean squared rFFT magnitude in ``n_bands`` equal-width frequency
    bands (DC excluded) — the deterministic spectral signature. A pure
    tone lands its energy in the band containing its frequency (pinned
    in tests); white noise spreads evenly."""
    x = np.asarray(mono, dtype=np.float64)
    if x.size < 2:
        return np.zeros(n_bands)
    mag2 = np.abs(np.fft.rfft(x)[1:]) ** 2  # drop DC
    if mag2.size == 0:
        return np.zeros(n_bands)
    edges = np.linspace(0, mag2.size, n_bands + 1).astype(np.int64)
    out = np.zeros(n_bands)
    for b in range(n_bands):
        seg = mag2[edges[b] : edges[b + 1]]
        out[b] = seg.mean() if seg.size else 0.0
    return out


CANONICAL_SR = 8000


def audio_feature_vector(samples: np.ndarray, sr: int = CANONICAL_SR, dim: int = 64) -> np.ndarray:
    """Real-sample audio embedding (the audio analogue of the image
    aHash kernel in ``operators/multimodal.embed_features_stub``):
    L2-normalized concat of [rms, peak, zero-crossing rate, crest
    factor] with ``dim - 4`` spectral band energies over the channel
    mean. The waveform is first resampled to the canonical
    ``CANONICAL_SR`` so the features describe CONTENT, not container
    rate — zero-crossing rate and band positions are per-sample
    quantities and would otherwise shift with the encoding's sample
    rate. Same content at different encodings/rates therefore lands
    close in cosine; unrelated content doesn't. Composes with the
    similarity operators exactly like a learned embedding."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)
    if x.size == 0:
        return np.zeros(dim)
    if sr != CANONICAL_SR:
        x = resample_linear(x, sr, CANONICAL_SR)[:, 0]
    if x.size == 0:
        return np.zeros(dim)
    scale = float(np.max(np.abs(x))) or 1.0
    xn = x / scale
    rms = float(np.sqrt((xn * xn).mean()))
    peak = float(np.max(np.abs(xn)))
    zcr = float((np.signbit(xn[1:]) != np.signbit(xn[:-1])).mean()) if x.size > 1 else 0.0
    crest = peak / rms if rms > 0 else 0.0
    bands = band_energies(xn, max(dim - 4, 1))
    bs = bands.sum()
    if bs > 0:
        bands = bands / bs
    vec = np.concatenate([[rms, peak, zcr, crest], bands])[:dim]
    n = float(np.sqrt((vec * vec).sum()))
    return vec / n if n > 0 else vec
