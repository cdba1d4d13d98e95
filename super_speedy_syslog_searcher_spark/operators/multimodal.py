"""Multimodal (image/audio/video) column handling.

Media rides as an opaque ``binary`` column plus typed metadata; the
Spark-side plumbing — schema, Arrow batching, ``mapInPandas`` signature —
is real and tested. Each extractor dispatches to a
decoder registry: the REAL path parses genuine container headers in
pure Python (PNG/GIF/BMP/JPEG dimensions, WAV and MP4 durations — no
imaging/av library needed for metadata). Pixel decode is REAL for all
four image formats (``functions/imaging.py``, ``jpeg.py``, ``gif.py``)
and sample decode is REAL for RIFF/WAVE audio (``functions/audio.py``:
PCM/float decode, linear resample, spectral features); only compressed
A/V codecs (MP3/AAC/H.264 — genuinely C-library territory) keep the
documented deterministic fallbacks. A fake decoder remains for plumbing
tests.

Scale note: metadata extraction never shuffles — it is a narrow
mapInPandas over the storage partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = (
    "media_id string, kind string, n_bytes long, header_byte int, "
    "width int, height int, duration_ms long, ok boolean, error string"
)


def parse_image_header(payload: bytes) -> tuple[int, int, str] | None:
    """(width, height, format) from raw bytes — pure-Python header
    parsing, no imaging library. PNG / GIF87a/89a / BMP / JPEG (SOF scan).
    Returns None when no known magic matches."""
    p = payload
    if len(p) >= 24 and p[:8] == b"\x89PNG\r\n\x1a\n" and p[12:16] == b"IHDR":
        return int.from_bytes(p[16:20], "big"), int.from_bytes(p[20:24], "big"), "png"
    if len(p) >= 10 and p[:6] in (b"GIF87a", b"GIF89a"):
        return int.from_bytes(p[6:8], "little"), int.from_bytes(p[8:10], "little"), "gif"
    if len(p) >= 26 and p[:2] == b"BM":
        w = int.from_bytes(p[18:22], "little", signed=True)
        h = int.from_bytes(p[22:26], "little", signed=True)
        return abs(w), abs(h), "bmp"
    if len(p) >= 4 and p[:2] == b"\xff\xd8":
        # walk JPEG segments to the first SOF0/1/2 frame header
        i = 2
        while i + 9 < len(p):
            if p[i] != 0xFF:
                break
            marker = p[i + 1]
            if marker in (0xC0, 0xC1, 0xC2):
                h = int.from_bytes(p[i + 5 : i + 7], "big")
                w = int.from_bytes(p[i + 7 : i + 9], "big")
                return w, h, "jpeg"
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = int.from_bytes(p[i + 2 : i + 4], "big")
            i += 2 + seg_len
        return None
    return None


def parse_wav_duration_ms(payload: bytes) -> int | None:
    """RIFF/WAVE duration from fmt byte-rate + data chunk size."""
    p = payload
    if len(p) < 44 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    i, byte_rate, data_size = 12, None, None
    while i + 8 <= len(p):
        cid = p[i : i + 4]
        size = int.from_bytes(p[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 16 + 8 <= len(p):
            byte_rate = int.from_bytes(p[i + 16 : i + 20], "little")
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)
    if byte_rate and data_size is not None:
        return data_size * 1000 // byte_rate
    return None


def parse_mp4_duration_ms(payload: bytes) -> int | None:
    """ISO-BMFF: walk top-level boxes to moov/mvhd, duration/timescale."""
    def walk(buf: bytes, target: bytes) -> bytes | None:
        i = 0
        while i + 8 <= len(buf):
            size = int.from_bytes(buf[i : i + 4], "big")
            box = buf[i + 4 : i + 8]
            if size < 8:
                return None
            if box == target:
                return buf[i + 8 : i + size]
            i += size
        return None

    moov = walk(payload, b"moov")
    if moov is None:
        return None
    mvhd = walk(moov, b"mvhd")
    if mvhd is None or len(mvhd) < 20:
        return None
    if mvhd[0] == 0:  # version 0: 32-bit times at 12/16
        timescale = int.from_bytes(mvhd[12:16], "big")
        duration = int.from_bytes(mvhd[16:20], "big")
    else:  # version 1: 64-bit times
        if len(mvhd) < 32:
            return None
        timescale = int.from_bytes(mvhd[20:24], "big")
        duration = int.from_bytes(mvhd[24:32], "big")
    if not timescale:
        return None
    return duration * 1000 // timescale


def real_decode(kind: str, payload: bytes) -> dict:
    """Pure-Python header codecs: image dimensions (PNG/GIF/BMP/JPEG),
    audio duration (WAV), video duration (MP4 mvhd). Pixel/sample DECODE
    (which needs PIL/libav) stays out of scope — metadata extraction is
    the pipeline-relevant step and is fully real."""
    if not payload:
        return {"ok": False, "error": "empty payload"}
    if kind == "image":
        got = parse_image_header(payload)
        if got is None:
            return {"ok": False, "error": "unknown image format"}
        w, h, _fmt = got
        return {"ok": True, "error": None, "header_byte": payload[0], "width": w, "height": h}
    if kind == "audio":
        ms = parse_wav_duration_ms(payload)
        if ms is None:
            return {"ok": False, "error": "unknown audio format"}
        return {"ok": True, "error": None, "header_byte": payload[0], "duration_ms": ms}
    if kind == "video":
        ms = parse_mp4_duration_ms(payload)
        if ms is None:
            return {"ok": False, "error": "unknown video format"}
        return {"ok": True, "error": None, "header_byte": payload[0], "duration_ms": ms}
    return {"ok": False, "error": f"unknown kind {kind!r}"}


# deterministic tiny-payload builders (corpus/test construction only)
def build_png(width: int, height: int) -> bytes:
    ihdr = width.to_bytes(4, "big") + height.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
    return b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR" + ihdr + b"\x00" * 4


def build_gif(width: int, height: int) -> bytes:
    return b"GIF89a" + width.to_bytes(2, "little") + height.to_bytes(2, "little") + b"\x00" * 6


def build_bmp(width: int, height: int) -> bytes:
    return (b"BM" + b"\x00" * 16 + width.to_bytes(4, "little") + height.to_bytes(4, "little") + b"\x00" * 4)


def build_jpeg(width: int, height: int) -> bytes:
    sof0 = b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08" + height.to_bytes(2, "big") + width.to_bytes(2, "big") + b"\x01\x11\x00"
    return b"\xff\xd8" + sof0 + b"\xff\xd9"


def build_wav(duration_ms: int, byte_rate: int = 8000) -> bytes:
    data_size = duration_ms * byte_rate // 1000
    fmt = b"fmt " + (16).to_bytes(4, "little") + b"\x01\x00\x01\x00" + (8000).to_bytes(4, "little") + byte_rate.to_bytes(4, "little") + b"\x01\x00\x08\x00"
    return b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE" + fmt + b"data" + data_size.to_bytes(4, "little")


def build_mp4(duration_ms: int, timescale: int = 1000) -> bytes:
    mvhd_body = b"\x00\x00\x00\x00" + b"\x00" * 8 + timescale.to_bytes(4, "big") + (duration_ms * timescale // 1000).to_bytes(4, "big") + b"\x00" * 80
    mvhd = (8 + len(mvhd_body)).to_bytes(4, "big") + b"mvhd" + mvhd_body
    moov = (8 + len(mvhd)).to_bytes(4, "big") + b"moov" + mvhd
    ftyp = (16).to_bytes(4, "big") + b"ftypisom" + b"\x00" * 4
    return ftyp + moov


def fake_decode(kind: str, payload: bytes) -> dict:
    """Deterministic stand-in: metadata derived from the payload header.

    width  = header_byte * 4 + 32       (image-ish)
    height = second_byte * 2 + 16
    duration_ms = n_bytes * 10          (audio/video-ish)
    """
    if not payload:
        return {"ok": False, "error": "empty payload"}
    h0 = payload[0]
    h1 = payload[1] if len(payload) > 1 else 0
    return {
        "ok": True,
        "error": None,
        "header_byte": int(h0),
        "width": int(h0) * 4 + 32 if kind == "image" else None,
        "height": int(h1) * 2 + 16 if kind == "image" else None,
        "duration_ms": len(payload) * 10 if kind in ("audio", "video") else None,
    }


DECODERS = {"real": real_decode, "fake": fake_decode}


def extract_media_meta(
    media: DataFrame,
    id_col: str = "media_id",
    kind_col: str = "kind",
    payload_col: str = "payload",
    decoder: str = "fake",
) -> DataFrame:
    """(id, kind, payload binary) → typed metadata rows (META_SCHEMA).

    Narrow mapInPandas; per-row failures become (ok=false, error) rows —
    the pipeline's rejects-channel doctrine (SURVEY §2.7), never a thrown
    task."""
    decode = DECODERS[decoder]

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf[id_col], pdf[kind_col], pdf[payload_col]):
                base = {
                    "media_id": mid, "kind": kind,
                    "n_bytes": len(payload) if payload is not None else 0,
                    "header_byte": None, "width": None, "height": None,
                    "duration_ms": None, "ok": False, "error": None,
                }
                try:
                    base.update(decode(kind, bytes(payload) if payload is not None else b""))
                except Exception as e:  # rejects-channel doctrine: a bad
                    # payload becomes an (ok=false, error) ROW, never a
                    # thrown task that kills the whole partition
                    base["error"] = f"{type(e).__name__}: {e}"
                rows.append(base)
            out = pd.DataFrame(rows)
            for c, dt in (("n_bytes", "int64"), ("header_byte", "Int32"), ("width", "Int32"),
                          ("height", "Int32"), ("duration_ms", "Int64")):
                out[c] = out[c].astype(dt)
            yield out

    return media.select(
        F.col(id_col), F.col(kind_col), F.col(payload_col)
    ).mapInPandas(_gen, schema=META_SCHEMA)


def audio_window_stats(
    media: DataFrame,
    window_ms: int = 100,
    payload_col: str = "payload",
) -> DataFrame:
    """Audio → windowed sample statistics (the audio analogue of video
    frame sampling, on REAL samples): each RIFF/WAVE payload explodes
    into fixed ``window_ms`` windows with per-window rms / peak /
    zero-crossing count over the channel mean — the telemetry a speech
    curation pipeline thresholds on (silence trimming, clipping
    detection, voice-activity heuristics). Non-WAV / undecodable
    payloads are contained: one ``ok=false`` row, NULL stats.

    Map-only ``mapInPandas``; per-window stats come from one reshaped
    numpy pass per payload (no per-sample Python). Fan-out is bounded
    by duration/window_ms. Returns ``(media_id, ok, win_no, win_ts_ms,
    n_frames, rms, peak, zero_crossings)``.
    """

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.audio import decode_wav

        for pdf in batches:
            rows = {k: [] for k in (
                "media_id", "ok", "win_no", "win_ts_ms", "n_frames",
                "rms", "peak", "zero_crossings",
            )}

            def _contained(mid):
                rows["media_id"].append(mid)
                rows["ok"].append(False)
                for k in ("win_no", "win_ts_ms", "n_frames", "rms", "peak", "zero_crossings"):
                    rows[k].append(None)

            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                p = bytes(payload) if payload is not None else b""
                try:
                    samples, sr = decode_wav(p)
                except Exception:
                    _contained(mid)
                    continue
                x = samples.astype(np.float64).mean(axis=1)
                if x.size == 0:
                    _contained(mid)
                    continue
                win = max(int(sr * window_ms / 1000), 1)
                n_win = (x.size + win - 1) // win
                pad = np.zeros(n_win * win)
                pad[: x.size] = x
                W = pad.reshape(n_win, win)
                counts = np.minimum(
                    x.size - np.arange(n_win, dtype=np.int64) * win, win
                )
                rms = np.sqrt((W * W).sum(axis=1) / counts)
                peak = np.abs(W).max(axis=1)
                sb = np.signbit(pad)
                zc_flat = np.flatnonzero(sb[1:] != sb[:-1])
                zc_flat = zc_flat[zc_flat + 1 < x.size]
                zcs = np.bincount(zc_flat // win, minlength=n_win)
                for w in range(n_win):
                    rows["media_id"].append(mid)
                    rows["ok"].append(True)
                    rows["win_no"].append(w)
                    rows["win_ts_ms"].append(w * window_ms)
                    rows["n_frames"].append(int(counts[w]))
                    rows["rms"].append(float(rms[w]))
                    rows["peak"].append(float(peak[w]))
                    rows["zero_crossings"].append(int(zcs[w]))
            yield pd.DataFrame(
                {
                    "media_id": rows["media_id"],
                    "ok": rows["ok"],
                    "win_no": pd.array(rows["win_no"], dtype="Int32"),
                    "win_ts_ms": pd.array(rows["win_ts_ms"], dtype="Int64"),
                    "n_frames": pd.array(rows["n_frames"], dtype="Int64"),
                    "rms": pd.array(rows["rms"], dtype="Float64"),
                    "peak": pd.array(rows["peak"], dtype="Float64"),
                    "zero_crossings": pd.array(rows["zero_crossings"], dtype="Int64"),
                }
            )

    schema = (
        "media_id string, ok boolean, win_no int, win_ts_ms long, "
        "n_frames long, rms double, peak double, zero_crossings long"
    )
    return media.select("media_id", payload_col).mapInPandas(_gen, schema=schema)


_BUILDERS = {"png": build_png, "gif": build_gif, "bmp": build_bmp, "jpeg": build_jpeg}


def resize_images(
    media: DataFrame,
    target_w: int,
    target_h: int,
    payload_col: str = "payload",
) -> DataFrame:
    """Image resize stage. ALL four recognized image formats get a REAL
    pixel kernel (pure-Python decode → numpy half-pixel-center bilinear
    → re-encode in the same format): PNG/BMP via
    ``functions/imaging.py``, JPEG via the fixed-point baseline codec
    in ``functions/jpeg.py`` (r5 closed the last declared stub), GIF
    via the LZW codec in ``functions/gif.py`` (re-encode quantizes to
    the fixed 6x6x6 cube — documented deterministic quantizer). Only
    payloads no pure-Python codec can decode (progressive JPEG,
    palette/interlaced PNG, header-only fixtures) fall back to the
    clearly-marked deterministic header rebuild. The ``kernel`` column
    says which ran per row ('bilinear' | 'header-stub'), so stub output
    can never masquerade as pixels downstream. Spark-side shape is
    unchanged: narrow ``mapInPandas`` over the byte-bounded layout,
    contained per-row failures.

    Returns ``(media_id, ok, kind, kernel, src_width, src_height,
    width, height, scale_x, scale_y, payload)`` — unparseable rows keep
    ``ok=false`` and a NULL payload (the containment contract of
    ``extract_media_meta``).
    """

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.imaging import (
            bilinear_resize,
            decode_bmp,
            decode_png,
            encode_bmp,
            encode_png,
        )

        from ..functions.gif import decode_gif, encode_gif
        from ..functions.jpeg import decode_jpeg, encode_jpeg

        codecs = {
            "png": (decode_png, encode_png),
            "bmp": (decode_bmp, encode_bmp),
            "jpeg": (decode_jpeg, encode_jpeg),
            "gif": (decode_gif, encode_gif),
        }
        for pdf in batches:
            rows = {k: [] for k in (
                "media_id", "ok", "kind", "kernel", "src_width", "src_height",
                "width", "height", "scale_x", "scale_y", "payload",
            )}
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                p = bytes(payload) if payload is not None else b""
                meta = parse_image_header(p)
                rows["media_id"].append(mid)
                if meta is None:
                    rows["ok"].append(False)
                    for k in ("kind", "kernel", "src_width", "src_height",
                              "width", "height", "scale_x", "scale_y", "payload"):
                        rows[k].append(None)
                    continue
                w, h, kind = meta
                out_payload, kernel = None, "header-stub"
                if kind in codecs:
                    dec, enc = codecs[kind]
                    try:
                        out_payload = enc(bilinear_resize(dec(p), target_w, target_h))
                        kernel = "bilinear"
                    except Exception:
                        out_payload = None  # header-only / unsupported variant
                if out_payload is None:
                    out_payload = _BUILDERS[kind](target_w, target_h)
                rows["ok"].append(True)
                rows["kind"].append(kind)
                rows["kernel"].append(kernel)
                rows["src_width"].append(w)
                rows["src_height"].append(h)
                rows["width"].append(target_w)
                rows["height"].append(target_h)
                rows["scale_x"].append(round(target_w / w, 6) if w else None)
                rows["scale_y"].append(round(target_h / h, 6) if h else None)
                rows["payload"].append(out_payload)
            yield pd.DataFrame(
                {
                    "media_id": rows["media_id"],
                    "ok": rows["ok"],
                    "kind": rows["kind"],
                    "kernel": rows["kernel"],
                    "src_width": pd.array(rows["src_width"], dtype="Int32"),
                    "src_height": pd.array(rows["src_height"], dtype="Int32"),
                    "width": pd.array(rows["width"], dtype="Int32"),
                    "height": pd.array(rows["height"], dtype="Int32"),
                    "scale_x": pd.array(rows["scale_x"], dtype="Float64"),
                    "scale_y": pd.array(rows["scale_y"], dtype="Float64"),
                    "payload": rows["payload"],
                }
            )

    schema = (
        "media_id string, ok boolean, kind string, kernel string, "
        "src_width int, src_height int, "
        "width int, height int, scale_x double, scale_y double, payload binary"
    )
    return media.select("media_id", payload_col).mapInPandas(_gen, schema=schema)


# back-compat name from the rounds where every format was the stub
resize_stub = resize_images


def resample_audio(
    media: DataFrame,
    target_sr: int,
    payload_col: str = "payload",
) -> DataFrame:
    """Audio resample stage — the waveform sibling of ``resize_images``
    (r5 session 3). RIFF/WAVE payloads get a REAL sample kernel
    (``functions/audio.py``): pure-numpy PCM/float decode, rescaled to
    the 16-bit range (float ×32767, 8/24/32-bit shifted) → per-channel
    linear-interpolation resample to ``target_sr`` → canonical 16-bit
    PCM re-encode. Payloads that aren't WAV, or WAV variants the
    pure-Python codec can't decode, are contained: ``ok=false``, NULL
    payload — stub output never masquerades as samples (the image
    stage's containment contract; there is no deterministic "rebuild"
    fallback for audio because a silent waveform would be
    indistinguishable from a real quiet one downstream).

    Returns ``(media_id, ok, kernel, src_sr, sample_rate, src_frames,
    n_frames, n_channels, payload)``. Map-only ``mapInPandas`` over the
    byte-bounded layout, per-row failures contained — same 100-TB shape
    as every media stage.
    """

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.audio import decode_wav_pcm16, encode_wav, resample_linear

        for pdf in batches:
            rows = {k: [] for k in (
                "media_id", "ok", "kernel", "src_sr", "sample_rate",
                "src_frames", "n_frames", "n_channels", "payload",
            )}
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                p = bytes(payload) if payload is not None else b""
                rows["media_id"].append(mid)
                try:
                    samples, sr = decode_wav_pcm16(p)
                except Exception:
                    rows["ok"].append(False)
                    for k in ("kernel", "src_sr", "sample_rate", "src_frames",
                              "n_frames", "n_channels", "payload"):
                        rows[k].append(None)
                    continue
                out = resample_linear(samples, sr, target_sr)
                rows["ok"].append(True)
                rows["kernel"].append("linear")
                rows["src_sr"].append(sr)
                rows["sample_rate"].append(target_sr)
                rows["src_frames"].append(samples.shape[0])
                rows["n_frames"].append(out.shape[0])
                rows["n_channels"].append(samples.shape[1])
                rows["payload"].append(encode_wav(out, target_sr))
            yield pd.DataFrame(
                {
                    "media_id": rows["media_id"],
                    "ok": rows["ok"],
                    "kernel": rows["kernel"],
                    "src_sr": pd.array(rows["src_sr"], dtype="Int32"),
                    "sample_rate": pd.array(rows["sample_rate"], dtype="Int32"),
                    "src_frames": pd.array(rows["src_frames"], dtype="Int64"),
                    "n_frames": pd.array(rows["n_frames"], dtype="Int64"),
                    "n_channels": pd.array(rows["n_channels"], dtype="Int32"),
                    "payload": rows["payload"],
                }
            )

    schema = (
        "media_id string, ok boolean, kernel string, src_sr int, "
        "sample_rate int, src_frames long, n_frames long, n_channels int, "
        "payload binary"
    )
    return media.select("media_id", payload_col).mapInPandas(_gen, schema=schema)


def embed_features_stub(
    media: DataFrame,
    dim: int = 64,
    payload_col: str = "payload",
) -> DataFrame:
    """Media → feature-vector stage (the CLIP/audio-embedding slot of a
    multimodal pipeline). For ALL four image formats with pixel data —
    PNG/BMP (``functions/imaging.py``), baseline JPEG
    (``functions/jpeg.py``) and GIF (``functions/gif.py``) — the
    feature is computed from REAL PIXELS: the image is decoded,
    bilinear-downsampled to an 8×8 luma thumbnail, and the embedding is
    the L2-normalized concatenation of that thumbnail (64 values,
    resampled to fill ``dim``'s first 48 slots) with a 16-bucket luma
    histogram — a real perceptual signature (aHash-family): re-encodes
    and resizes of the same picture land close in cosine, unrelated
    pictures don't. RIFF/WAVE audio (r5 session 3: ``functions/audio.py``
    decodes PCM/float samples in pure numpy) gets a REAL-SAMPLE kernel:
    rms / peak / zero-crossing / crest + spectral band energies over the
    decoded waveform (``audio_feature_vector``) — re-encodes and
    resamples of the same recording land close in cosine. For
    MP4/compressed-codec audio and undecodable payloads (progressive
    JPEG, header-only fixtures) the documented fallback is the payload's
    L2-normalized byte-bigram histogram — still deterministic and
    composition-correct. A ``kernel`` column says which ran
    ('pixels' | 'samples' | 'byte-bigram'). Either
    way the output COMPOSES with the real similarity operators
    (``similarity.cosine_dup_pairs`` / ``cosine_topk`` /
    ``kmeans_assign``) exactly like a learned embedding; swap for a
    model forward pass on a real cluster.

    Map-only (one Arrow stage, numpy per batch); returns
    ``(media_id, vec_id, kernel, vec array<float>)`` with ``vec_id`` a
    dense md5-derived long so the ANN operators' id contracts hold.
    """

    def _pixel_vec(p: bytes) -> "np.ndarray | None":
        from ..functions.gif import decode_gif
        from ..functions.imaging import bilinear_resize, decode_bmp, decode_png
        from ..functions.jpeg import decode_jpeg

        try:
            if p[:8] == b"\x89PNG\r\n\x1a\n":
                img = decode_png(p)
            elif p[:2] == b"BM":
                img = decode_bmp(p)
            elif p[:2] == b"\xff\xd8":
                img = decode_jpeg(p)
            elif p[:6] in (b"GIF87a", b"GIF89a"):
                img = decode_gif(p)
            else:
                return None
        except Exception:
            return None
        # luma per ITU-R 601 coefficients; gray/GA images use channel 0
        f = img.astype(np.float64)
        if img.shape[2] >= 3:
            luma = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
        else:
            luma = f[:, :, 0]
        thumb = bilinear_resize(
            luma.astype(np.uint8)[:, :, None], 8, 8
        ).reshape(-1).astype(np.float64)
        hist = np.bincount((thumb // 16).astype(np.int64), minlength=16)[:16].astype(np.float64)
        # thumbnail resampled into the first dim-16 slots, histogram after
        body = np.interp(
            np.linspace(0, 63, num=max(dim - 16, 1)), np.arange(64), thumb
        )
        vec = np.concatenate([body, hist])[:dim]
        n = float(np.sqrt((vec * vec).sum()))
        return vec / n if n > 0 else vec

    def _sample_vec(p: bytes) -> "np.ndarray | None":
        from ..functions.audio import AudioFormatError, audio_feature_vector, decode_wav

        if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
            return None
        try:
            samples, sr = decode_wav(p)
        except AudioFormatError:
            return None
        return audio_feature_vector(samples, sr, dim=dim)

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, vids, kernels, vecs = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                p = bytes(payload) if payload is not None else b""
                vec = _pixel_vec(p)
                if vec is not None:
                    kernel = "pixels"
                elif (vec := _sample_vec(p)) is not None:
                    kernel = "samples"
                else:
                    kernel = "byte-bigram"
                    a = np.frombuffer(p, dtype=np.uint8)
                    if a.size >= 2:
                        bigrams = a[:-1].astype(np.int64) * 256 + a[1:]
                        vec = np.bincount(bigrams % dim, minlength=dim).astype(np.float64)
                    else:
                        vec = np.zeros(dim, dtype=np.float64)
                        if a.size == 1:
                            vec[int(a[0]) % dim] = 1.0
                    n = float(np.sqrt((vec * vec).sum()))
                    if n > 0:
                        vec /= n
                ids.append(mid)
                kernels.append(kernel)
                vids.append(
                    int.from_bytes(hashlib.md5(str(mid).encode()).digest()[:8], "big")
                    >> 1
                )
                vecs.append(vec.astype(np.float32))
            yield pd.DataFrame(
                {"media_id": ids, "vec_id": vids, "kernel": kernels, "vec": vecs}
            )

    return media.select("media_id", payload_col).mapInPandas(
        _gen, schema="media_id string, vec_id long, kernel string, vec array<float>"
    )


# the honest r5 name: the kernel is real pixels for png/bmp
embed_features = embed_features_stub
