"""Multimodal (image/audio/video) metadata extraction.

Media rides as an opaque ``binary`` column plus typed metadata; the
Spark-side plumbing — schema, Arrow batching, ``mapInPandas`` signature —
is real and tested. ``extract_media_meta`` dispatches to a decoder
registry (``DECODERS``): the real decoder parses genuine container
headers in pure Python (PNG/GIF/BMP/JPEG dimensions, WAV and MP4
durations — no imaging/av library needed), and a fake decoder remains
for plumbing tests. Pixels and samples are never decoded.

Scale note: metadata extraction never shuffles — it is a narrow
mapInPandas over the storage partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

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
