"""Pure-Python PNG/BMP pixel codecs + numpy bilinear resize.

PNG (zlib is stdlib) and uncompressed BMP are decodable without an
imaging library. This is the last module of the media codec stack: the
JPEG/GIF/WAV codecs and the resize/feature/audio stages built on them
are gone, no root reaches this one either, and it is deleted in a
change of its own (``tools/reachability.py`` keeps it as "(d)
deferred"). Header and duration metadata lives in
``operators/multimodal.py`` and does not use it.

Formats per the public specs:

* PNG (RFC 2083 / W3C PNG spec): 8-bit depth, color types 0 (gray),
  2 (RGB), 4 (gray+alpha), 6 (RGBA), non-interlaced; all five scanline
  filters (None/Sub/Up/Average/Paeth) on decode, selectable filter on
  encode (the encoder doubles as the filter-twin for decoder tests).
  Palette (type 3) and Adam7 raise — contained upstream as ok=false.
* BMP (BITMAPINFOHEADER): 24/32-bit BI_RGB, bottom-up or top-down,
  4-byte row padding, BGR(A) channel order.

The bilinear kernel uses the standard half-pixel-center convention
(``src = (dst + 0.5) * scale - 0.5``, edges clamped — what
``align_corners=False`` means in the common tensor libraries), computed
in float64 and rounded half-to-even to uint8. It is pinned against an
independent scalar double-loop reference in tests/test_imaging.py.

Speed note: the per-scanline unfilter recursions (Sub/Average/Paeth are
sequential in x by construction) run in Python — fine for the
fixture-scale images these tests and the sandbox corpus carry; a real
cluster swaps the whole kernel for libvips/PIL behind the same operator
signature.
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class ImageFormatError(ValueError):
    pass


def contained_decoder(fn):
    """Decoder containment contract (same as the binary container
    readers): a malformed payload raises ImageFormatError, NEVER a
    foreign exception type — corruption fuzz found struct.error /
    KeyError / zlib.error escaping through rarely-taken parse paths,
    and at scale an uncontained type is a task-killing surprise."""

    @functools.wraps(fn)
    def wrap(payload, *a, **k):
        try:
            return fn(payload, *a, **k)
        except ImageFormatError:
            raise
        except (
            struct.error,
            zlib.error,
            IndexError,
            KeyError,
            ValueError,
            OverflowError,
        ) as e:
            raise ImageFormatError(
                f"{fn.__name__}: malformed payload ({type(e).__name__}: {e})"
            ) from e

    return wrap


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


@contained_decoder
def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → HxWxC uint8 array (C per color type)."""
    if payload[:8] != _PNG_SIG:
        raise ImageFormatError("not a PNG")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ImageFormatError("truncated chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ImageFormatError("missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in _CHANNELS or comp != 0 or filt != 0 or interlace != 0:
        raise ImageFormatError(
            f"unsupported PNG variant (depth={depth} color={color} interlace={interlace})"
        )
    ch = _CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ImageFormatError("bad scanline payload size")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1).copy()
        if f == 0:
            cur = line
        elif f == 2:  # Up — fully vectorizable
            cur = line + prev
        elif f in (1, 3, 4):  # Sub/Average/Paeth — sequential in x
            cur = line
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                if f == 1:
                    cur[x] = (int(cur[x]) + a) & 0xFF
                elif f == 3:
                    cur[x] = (int(cur[x]) + ((a + int(prev[x])) >> 1)) & 0xFF
                else:
                    c = int(prev[x - ch]) if x >= ch else 0
                    cur[x] = (int(cur[x]) + _paeth(a, int(prev[x]), c)) & 0xFF
        else:
            raise ImageFormatError(f"bad filter type {f}")
        out[y] = cur
        prev = out[y]
    return out.reshape(h, w, ch)


def _filter_line(f: int, cur: np.ndarray, prev: np.ndarray, ch: int) -> bytes:
    """Forward scanline filter (the encoder side of the spec) — also the
    independent twin the decoder roundtrip tests pin against."""
    if f == 0:
        return cur.tobytes()
    if f == 2:
        return (cur - prev).tobytes()
    out = bytearray(len(cur))
    for x in range(len(cur)):
        a = int(cur[x - ch]) if x >= ch else 0
        if f == 1:
            out[x] = (int(cur[x]) - a) & 0xFF
        elif f == 3:
            out[x] = (int(cur[x]) - ((a + int(prev[x])) >> 1)) & 0xFF
        else:
            c = int(prev[x - ch]) if x >= ch else 0
            out[x] = (int(cur[x]) - _paeth(a, int(prev[x]), c)) & 0xFF
    return bytes(out)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """HxWxC uint8 → spec-valid PNG (8-bit, chosen scanline filter)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if color is None:
        raise ImageFormatError(f"unsupported channel count {ch}")
    img = np.ascontiguousarray(img, dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.uint8)
    lines = []
    for y in range(h):
        cur = img[y].reshape(-1)
        lines.append(bytes([filter_type]) + _filter_line(filter_type, cur, prev, ch))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _chunk(b"IEND", b"")
    )


@contained_decoder
def decode_bmp(payload: bytes) -> np.ndarray:
    """24/32-bit BI_RGB BMP bytes → HxWx3/4 uint8 (RGB[A] order)."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ImageFormatError("not a BMP")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise ImageFormatError("pre-BITMAPINFOHEADER BMP unsupported")
    w, h = struct.unpack("<ii", payload[18:26])
    bpp, compression = struct.unpack("<HI", payload[28:34])
    if compression != 0 or bpp not in (24, 32):
        raise ImageFormatError(f"unsupported BMP (bpp={bpp} compression={compression})")
    top_down = h < 0
    h = abs(h)
    ch = bpp // 8
    row_bytes = (w * ch + 3) & ~3
    need = data_off + row_bytes * h
    if len(payload) < need:
        raise ImageFormatError("truncated BMP pixel data")
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * h, offset=data_off)
    rows = rows.reshape(h, row_bytes)[:, : w * ch].reshape(h, w, ch)
    if not top_down:
        rows = rows[::-1]
    # BGR(A) → RGB(A)
    if ch == 3:
        return np.ascontiguousarray(rows[:, :, ::-1])
    return np.ascontiguousarray(rows[:, :, [2, 1, 0, 3]])


def encode_bmp(img: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB → 24-bit bottom-up BI_RGB BMP."""
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    if img.shape[2] == 4:
        img = img[:, :, :3]
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    pad = row_bytes - w * 3
    body = bytearray()
    bgr = np.ascontiguousarray(img[::-1, :, ::-1], dtype=np.uint8)
    for y in range(h):
        body += bgr[y].tobytes() + b"\x00" * pad
    size = 54 + len(body)
    header = (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    )
    return bytes(header) + bytes(body)


def bilinear_resize(img: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """HxWxC uint8 → target_h x target_w x C, half-pixel-center bilinear
    (align_corners=False), edges clamped, float64 math, rint to uint8."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    src = img.astype(np.float64)
    ys = (np.arange(target_h) + 0.5) * h / target_h - 0.5
    xs = (np.arange(target_w) + 0.5) * w / target_w - 0.5
    y0f, x0f = np.floor(ys), np.floor(xs)
    fy, fx = ys - y0f, xs - x0f
    y0 = np.clip(y0f.astype(np.int64), 0, h - 1)
    y1 = np.clip(y0f.astype(np.int64) + 1, 0, h - 1)
    x0 = np.clip(x0f.astype(np.int64), 0, w - 1)
    x1 = np.clip(x0f.astype(np.int64) + 1, 0, w - 1)
    fy = fy[:, None, None]
    fx = fx[None, :, None]
    # 4-term weighted sum with (value * y-weight) * x-weight association —
    # the exact IEEE expression of the scalar double-loop reference, so
    # the test pin is bit-exact (a two-stage lerp differs by float eps at
    # .5 rounding boundaries)
    out = (
        src[y0][:, x0] * (1 - fy) * (1 - fx)
        + src[y0][:, x1] * (1 - fy) * fx
        + src[y1][:, x0] * fy * (1 - fx)
        + src[y1][:, x1] * fy * fx
    )
    return np.rint(out).astype(np.uint8)
