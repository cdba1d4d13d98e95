"""Pure-Python PNG/BMP codecs and bilinear kernel (functions/imaging.py)."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from super_speedy_syslog_searcher_spark.functions.imaging import (
    ImageFormatError,
    bilinear_resize,
    decode_bmp,
    decode_png,
    encode_bmp,
    encode_png,
)


def _rand(h, w, c, seed):
    return np.random.RandomState(seed).randint(0, 256, (h, w, c), dtype=np.uint8)


class TestPngRoundtrip:
    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_all_filters_all_colortypes(self, channels, filter_type):
        img = _rand(13, 9, channels, seed=channels * 10 + filter_type)
        blob = encode_png(img, filter_type=filter_type)
        got = decode_png(blob)
        assert got.shape == img.shape
        assert np.array_equal(got, img)

    def test_header_matches_parser(self):
        from super_speedy_syslog_searcher_spark.operators.multimodal import (
            parse_image_header,
        )

        blob = encode_png(_rand(5, 7, 3, seed=1))
        assert parse_image_header(blob) == (7, 5, "png")

    def test_header_only_stub_png_raises(self):
        from super_speedy_syslog_searcher_spark.operators.multimodal import build_png

        with pytest.raises(ImageFormatError):
            decode_png(build_png(32, 16))  # no IDAT

    def test_palette_rejected(self):
        img = _rand(4, 4, 3, seed=2)
        blob = bytearray(encode_png(img))
        blob[25] = 3  # color type byte inside IHDR → palette
        with pytest.raises(ImageFormatError):
            decode_png(bytes(blob))


class TestBmpRoundtrip:
    @pytest.mark.parametrize("w", [3, 4, 5, 6])  # exercise all paddings
    def test_24bit(self, w):
        img = _rand(7, w, 3, seed=w)
        got = decode_bmp(encode_bmp(img))
        assert np.array_equal(got, img)

    def test_32bit_and_topdown(self):
        img = _rand(3, 2, 4, seed=9)
        # hand-build a 32-bit top-down BMP (height negative, BGRA order)
        import struct

        h, w, _ = img.shape
        body = img[:, :, [2, 1, 0, 3]].tobytes()
        hdr = (
            b"BM"
            + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 32, 0, len(body), 0, 0, 0, 0)
        )
        got = decode_bmp(hdr + body)
        assert np.array_equal(got, img)

    def test_header_only_stub_bmp_raises(self):
        from super_speedy_syslog_searcher_spark.operators.multimodal import build_bmp

        with pytest.raises(ImageFormatError):
            decode_bmp(build_bmp(1920, 1080))


def _scalar_bilinear(img, tw, th):
    """Independent scalar double-loop reference of the same convention
    (half-pixel centers, clamped edges)."""
    h, w, c = img.shape
    out = np.zeros((th, tw, c), dtype=np.uint8)
    for y in range(th):
        sy = (y + 0.5) * h / th - 0.5
        fy = sy - np.floor(sy)
        y0 = min(max(int(np.floor(sy)), 0), h - 1)
        y1 = min(max(int(np.floor(sy)) + 1, 0), h - 1)
        for x in range(tw):
            sx = (x + 0.5) * w / tw - 0.5
            fx = sx - np.floor(sx)
            x0 = min(max(int(np.floor(sx)), 0), w - 1)
            x1 = min(max(int(np.floor(sx)) + 1, 0), w - 1)
            for k in range(c):
                v = (
                    img[y0, x0, k] * (1 - fy) * (1 - fx)
                    + img[y0, x1, k] * (1 - fy) * fx
                    + img[y1, x0, k] * fy * (1 - fx)
                    + img[y1, x1, k] * fy * fx
                )
                out[y, x, k] = np.uint8(np.rint(v))
    return out


class TestBilinear:
    @pytest.mark.parametrize("shape", [(8, 6, 3), (5, 5, 1), (3, 7, 4)])
    @pytest.mark.parametrize("target", [(4, 3), (12, 10), (1, 1), (7, 7)])
    def test_matches_scalar_reference(self, shape, target):
        img = _rand(*shape, seed=sum(shape) + sum(target))
        tw, th = target
        assert np.array_equal(bilinear_resize(img, tw, th), _scalar_bilinear(img, tw, th))

    def test_hand_computed_fixture(self):
        # 1x2 [0, 255] → 1x4: centers at src x = -0.25, 0.25, 0.75, 1.25
        img = np.array([[[0], [255]]], dtype=np.uint8)
        got = bilinear_resize(img, 4, 1).reshape(-1)
        assert got.tolist() == [0, 64, 191, 255]

    def test_identity(self):
        img = _rand(6, 5, 3, seed=3)
        assert np.array_equal(bilinear_resize(img, 5, 6), img)
