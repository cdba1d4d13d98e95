"""Pure-numpy WAV sample codec + audio kernels (functions/audio.py) and
their Spark operator faces (multimodal.resample_audio, the 'samples'
kernel of embed_features): bit-exact PCM roundtrips across depths,
extensible-format and chunk-walk coverage, spectral kernel physics
(tone → right band), resample length/identity laws, containment fuzz,
and the operator contracts."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from super_speedy_syslog_searcher_spark.functions.audio import (
    AudioFormatError,
    audio_feature_vector,
    band_energies,
    decode_wav,
    encode_wav,
    resample_linear,
)


def _sine(freq: float, sr: int, secs: float, amp: float = 0.5) -> np.ndarray:
    t = np.arange(int(sr * secs)) / sr
    return amp * np.sin(2 * math.pi * freq * t)


def _sine16(freq: float, sr: int, secs: float) -> np.ndarray:
    return np.rint(_sine(freq, sr, secs) * 32767).astype(np.int32)


def _wav(fmt_tag: int, bits: int, data: bytes, n_ch: int = 1, sr: int = 8000) -> bytes:
    """A minimal hand-built RIFF/WAVE container of any depth."""
    block = n_ch * bits // 8
    fmt = (
        b"fmt \x10\x00\x00\x00"
        + fmt_tag.to_bytes(2, "little") + n_ch.to_bytes(2, "little")
        + sr.to_bytes(4, "little") + (sr * block).to_bytes(4, "little")
        + block.to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _int24(x: np.ndarray) -> bytes:
    return b"".join(int(v).to_bytes(3, "little", signed=True) for v in x)


class TestWavCodec:
    def test_int16_roundtrip_bit_exact(self):
        rng = np.random.default_rng(7)
        x = rng.integers(-(1 << 15), 1 << 15, size=(500, 2), dtype=np.int64).astype(np.int32)
        got, sr = decode_wav(encode_wav(x, 8000))
        assert sr == 8000
        np.testing.assert_array_equal(got, x)

    def test_mono_1d_input_encodes_as_one_channel(self):
        x = np.array([0, 100, -100, 32767, -32768], dtype=np.int32)
        got, sr = decode_wav(encode_wav(x, 44100))
        assert got.shape == (5, 1)
        np.testing.assert_array_equal(got[:, 0], x)

    def test_8_24_32_bit_and_float_depths(self):
        g8, _ = decode_wav(_wav(1, 8, bytes([0, 128, 255])))
        np.testing.assert_array_equal(g8[:, 0], [-128, 0, 127])
        g24, _ = decode_wav(_wav(1, 24, (1 << 23).to_bytes(3, "little") + (100).to_bytes(3, "little")))
        np.testing.assert_array_equal(g24[:, 0], [-(1 << 23), 100])
        g32, _ = decode_wav(_wav(1, 32, np.array([-5, 7], dtype="<i4").tobytes()))
        np.testing.assert_array_equal(g32[:, 0], [-5, 7])
        gf, _ = decode_wav(_wav(3, 32, np.array([0.25, -0.5], dtype="<f4").tobytes()))
        np.testing.assert_allclose(gf[:, 0], [0.25, -0.5])
        gd, _ = decode_wav(_wav(3, 64, np.array([0.1], dtype="<f8").tobytes()))
        np.testing.assert_allclose(gd[:, 0], [0.1])

    def test_extensible_format_resolves_subformat(self):
        ext = (
            (0xFFFE).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
            + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
            + (22).to_bytes(2, "little") + (16).to_bytes(2, "little")
            + (0).to_bytes(4, "little") + (1).to_bytes(2, "little") + b"\x00" * 14
        )
        data = np.array([42, -42], dtype="<i2").tobytes()
        body = (
            b"WAVE" + b"fmt " + len(ext).to_bytes(4, "little") + ext
            + b"data" + len(data).to_bytes(4, "little") + data
        )
        got, sr = decode_wav(b"RIFF" + len(body).to_bytes(4, "little") + body)
        np.testing.assert_array_equal(got[:, 0], [42, -42])

    def test_unknown_chunks_skipped_with_word_alignment(self):
        base = encode_wav(np.array([1, 2, 3], dtype=np.int32), 8000)
        # splice an odd-sized LIST chunk between WAVE and fmt
        odd = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # pad byte
        spliced = base[:12] + odd + base[12:]
        spliced = b"RIFF" + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
        got, _ = decode_wav(spliced)
        np.testing.assert_array_equal(got[:, 0], [1, 2, 3])

    def test_malformed_payloads_raise_containment_type(self):
        for p in (b"", b"RIFF", b"RIFF\x00\x00\x00\x00WAVE",
                  b"OggS" + b"\x00" * 40, encode_wav(np.zeros(4, dtype=np.int32), 8000)[:20]):
            with pytest.raises((AudioFormatError, Exception)):
                decode_wav(p)

    def test_decode_fuzz_contained(self):
        """300 mutations of a valid container: decode either succeeds or
        raises AudioFormatError — never a foreign escape."""
        rng = random.Random(99)
        base = bytearray(encode_wav(_sine16(440, 800, 0.05), 800))
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                decode_wav(bytes(b))
            except AudioFormatError:
                pass
            # any other exception type fails the test by escaping


class TestResample:
    def test_identity_rate_returns_input(self):
        x = _sine(100, 8000, 0.1)
        out = resample_linear(x, 8000, 8000)
        np.testing.assert_array_equal(out[:, 0], x)

    def test_identity_rate_has_resampled_shape(self):
        """Equal rates give the same 2-D float64 (n, channels) array the
        resampling path gives, for 1-D and integer input alike."""
        x = np.arange(800, dtype=np.int16)
        same, up = resample_linear(x, 8000, 8000), resample_linear(x, 8000, 16000)
        assert same.shape == (800, 1) and up.shape == (1600, 1)
        assert same.dtype == up.dtype == np.float64
        np.testing.assert_array_equal(same[:, 0], x)
        stereo = np.stack([x, -x], axis=1)
        assert resample_linear(stereo, 8000, 8000).shape == (800, 2)

    def test_output_length_scales(self):
        x = np.zeros(1000)
        assert resample_linear(x, 8000, 16000).shape[0] == 2000
        assert resample_linear(x, 8000, 4000).shape[0] == 500
        assert resample_linear(x, 44100, 22050).shape[0] == 500

    def test_downsample_preserves_tone_frequency(self):
        """440 Hz at 8 kHz resampled to 4 kHz still peaks in the 440 Hz
        band — frequency content survives the rate change."""
        x = _sine(440, 8000, 0.5)
        y = resample_linear(x, 8000, 4000)[:, 0]
        e = band_energies(y, 8)  # bands of 250 Hz at sr=4000
        assert int(np.argmax(e)) == 1, e  # 440 Hz → band [250, 500)

    def test_channels_resampled_independently(self):
        x = np.stack([_sine(100, 8000, 0.1), _sine(200, 8000, 0.1)], axis=1)
        y = resample_linear(x, 8000, 16000)
        assert y.shape == (1600, 2)
        y0 = resample_linear(x[:, 0], 8000, 16000)[:, 0]
        np.testing.assert_array_equal(y[:, 0], y0)


class TestFeatureKernel:
    def test_tone_band_physics(self):
        """A pure 1.1 kHz tone at sr=8000 (Nyquist 4000) concentrates
        in the band containing it; white noise never does."""
        e = band_energies(_sine(1100, 8000, 0.5), 8)  # 500 Hz bands
        assert int(np.argmax(e)) == 2  # 1100 Hz -> [1000, 1500)
        rng = np.random.default_rng(3)
        en = band_energies(rng.standard_normal(4000), 8)
        assert en.max() / en.min() < 3.0  # spread, not concentrated

    def test_vector_is_unit_norm_and_deterministic(self):
        x = _sine16(440, 8000, 0.25)
        v1 = audio_feature_vector(x, 8000, dim=64)
        v2 = audio_feature_vector(x, 8000, dim=64)
        np.testing.assert_array_equal(v1, v2)
        assert abs(float((v1 * v1).sum()) - 1.0) < 1e-9

    def test_same_content_different_encoding_lands_close(self):
        """The embedding contract: a resampled re-encode of the same
        recording is near in cosine; an unrelated recording is not."""
        a = _sine16(440, 8000, 0.25)
        a_resampled = np.rint(resample_linear(a.astype(np.float64), 8000, 16000)).astype(np.int32)
        b = _sine16(1700, 8000, 0.25)
        va = audio_feature_vector(a, 8000)
        var = audio_feature_vector(a_resampled, 16000)
        vb = audio_feature_vector(b, 8000)
        assert float(va @ var) > 0.98
        assert float(va @ vb) < 0.90


class TestOperators:
    def _media(self, spark, rows):
        return spark.createDataFrame(rows, "media_id string, payload binary")

    def test_resample_audio_real_kernel_and_containment(self, spark):
        from super_speedy_syslog_searcher_spark.operators.multimodal import resample_audio

        wav = encode_wav(_sine16(440, 8000, 0.1), 8000)
        rows = [("a", bytearray(wav)), ("junk", bytearray(b"not audio at all"))]
        got = {r["media_id"]: r for r in resample_audio(self._media(spark, rows), 16000).collect()}
        a = got["a"]
        assert a["ok"] and a["kernel"] == "linear"
        assert (a["src_sr"], a["sample_rate"]) == (8000, 16000)
        assert a["n_frames"] == 2 * a["src_frames"]
        # the payload is a real decodable WAV at the new rate
        samples, sr = decode_wav(bytes(a["payload"]))
        assert sr == 16000 and samples.shape[0] == a["n_frames"]
        assert not got["junk"]["ok"] and got["junk"]["payload"] is None

    @pytest.mark.parametrize(
        "fmt_tag, bits, encode",
        [
            (3, 32, lambda x: x.astype("<f4").tobytes()),
            (1, 24, lambda x: _int24(np.rint(x * ((1 << 23) - 1)))),
            (1, 32, lambda x: np.rint(x * ((1 << 31) - 1)).astype("<i4").tobytes()),
            (1, 8, lambda x: (np.rint(x * 127) + 128).astype(np.uint8).tobytes()),
        ],
        ids=["float32", "pcm24", "pcm32", "pcm8"],
    )
    def test_resample_audio_rescales_other_depths(self, spark, fmt_tag, bits, encode):
        """A 0.5-amplitude sine in any source depth comes back as the same
        16-bit waveform the 16-bit source gives: not zeros, not clipped."""
        from super_speedy_syslog_searcher_spark.operators.multimodal import resample_audio

        sine = _sine(440, 8000, 0.1)
        rows = [("pcm16", bytearray(encode_wav(_sine16(440, 8000, 0.1), 8000))),
                ("other", bytearray(_wav(fmt_tag, bits, encode(sine))))]
        got = {r["media_id"]: r for r in resample_audio(self._media(spark, rows), 16000).collect()}
        assert got["other"]["ok"]
        want, _ = decode_wav(bytes(got["pcm16"]["payload"]))
        out, sr = decode_wav(bytes(got["other"]["payload"]))
        assert sr == 16000 and out.shape == want.shape
        assert 16000 < np.abs(out).max() < 16500
        # 8-bit keeps 8 bits of the sine: one source step is 256 at 16 bits
        assert np.abs(out - want).max() <= (257 if bits == 8 else 2)

    def test_embed_features_samples_kernel(self, spark):
        from super_speedy_syslog_searcher_spark.operators.multimodal import embed_features

        wav = encode_wav(_sine16(440, 8000, 0.1), 8000)
        rows = [("w", bytearray(wav)), ("x", bytearray(b"\x00\x01\x02\x03" * 8))]
        got = {r["media_id"]: r for r in embed_features(self._media(spark, rows)).collect()}
        assert got["w"]["kernel"] == "samples"
        assert got["x"]["kernel"] == "byte-bigram"
        v = np.array(got["w"]["vec"], dtype=np.float64)
        # matches the local kernel (float32 cast tolerance)
        ref = audio_feature_vector(*decode_wav(wav), dim=64)
        np.testing.assert_allclose(v, ref, atol=1e-6)


class TestAudioWindowStats:
    def test_matches_per_window_reference(self, spark):
        from super_speedy_syslog_searcher_spark.operators.multimodal import audio_window_stats

        sr, secs = 800, 0.53  # non-multiple of the window → ragged tail
        x = _sine16(40, sr, secs)[:, None] if _sine16(40, sr, secs).ndim == 1 else _sine16(40, sr, secs)
        x = _sine16(40, sr, secs)
        wav = encode_wav(x, sr)
        df = spark.createDataFrame([("a", bytearray(wav))], "media_id string, payload binary")
        got = {r["win_no"]: r for r in audio_window_stats(df, window_ms=100).collect()}
        win = sr // 10
        n_win = (len(x) + win - 1) // win
        assert set(got) == set(range(n_win))
        xf = x.astype(np.float64)
        for w in range(n_win):
            seg = xf[w * win : (w + 1) * win]
            r = got[w]
            assert r["ok"] and r["n_frames"] == len(seg)
            assert r["rms"] == pytest.approx(float(np.sqrt((seg**2).mean())), rel=1e-12)
            assert r["peak"] == pytest.approx(float(np.abs(seg).max()), rel=1e-12)
            # reference zero crossings: sign changes between i, i+1 with i in window
            sb = np.signbit(xf)
            zc = sum(
                1
                for i in range(w * win, min((w + 1) * win, len(xf)) )
                if i + 1 < len(xf) and sb[i] != sb[i + 1] and i // win == w
            )
            assert r["zero_crossings"] == zc, w

    def test_containment_and_empty(self, spark):
        from super_speedy_syslog_searcher_spark.operators.multimodal import audio_window_stats

        rows = [("junk", bytearray(b"mp3 data here")), ("n", None)]
        df = spark.createDataFrame(rows, "media_id string, payload binary")
        got = {r["media_id"]: r for r in audio_window_stats(df).collect()}
        assert not got["junk"]["ok"] and got["junk"]["rms"] is None
        assert not got["n"]["ok"]

    def test_silence_vs_tone_discriminates(self, spark):
        from super_speedy_syslog_searcher_spark.operators.multimodal import audio_window_stats

        sr = 800
        tone = _sine16(100, sr, 0.2)
        silence = np.zeros(len(tone), dtype=np.int32)
        wav = encode_wav(np.concatenate([silence, tone]), sr)
        df = spark.createDataFrame([("a", bytearray(wav))], "media_id string, payload binary")
        rows = sorted(audio_window_stats(df, window_ms=100).collect(), key=lambda r: r["win_no"])
        rmss = [r["rms"] for r in rows]
        assert max(rmss[:2]) < 1.0 and min(rmss[2:]) > 1000.0
