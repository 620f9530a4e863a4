"""Pure-Python PNG codec."""

import struct
import zlib

import numpy as np
import pytest

from pycorrector_spark.operators.multimodal import (
    PNG_SIGNATURE,
    decode_png,
    encode_png,
)


def _checker(h, w, c):
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, size=(h, w, c) if c > 1 else (h, w), dtype=np.uint8).astype(np.uint8)


@pytest.mark.parametrize("shape", [(5, 9, 1), (8, 8, 3), (3, 17, 4)])
def test_encode_decode_roundtrip(shape):
    h, w, c = shape
    px = _checker(h, w, c)
    data = encode_png(px)
    assert data.startswith(PNG_SIGNATURE)
    out = decode_png(data)
    assert out.shape == (h, w, c)
    want = px if px.ndim == 3 else px[:, :, None]
    assert np.array_equal(out, want)


def test_all_filter_types_unfilter():
    """Hand-build an image whose scanlines use every filter type (0-4) and
    check the unfilter reconstructs the known pixels."""
    w, c = 4, 3
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(5, w, c), dtype=np.uint8).astype(np.int32)
    stride = w * c
    lines = []
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = px[y].reshape(-1)
        prev = px[y - 1].reshape(-1) if y else np.zeros(stride, np.int32)
        enc = np.empty(stride, np.int32)
        for i in range(stride):
            a = cur[i - c] if i >= c else 0
            b = prev[i]
            cc = prev[i - c] if i >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            enc[i] = (cur[i] - pred) & 0xFF
        lines.append(bytes([f]) + enc.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, 5, 8, 2, 0, 0, 0)

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b) & 0xFFFFFFFF
        )

    data = (
        PNG_SIGNATURE + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    out = decode_png(data)
    assert np.array_equal(out, px.astype(np.uint8))


def test_crc_corruption_detected():
    data = bytearray(encode_png(_checker(4, 4, 3)))
    data[-6] ^= 0xFF  # flip a byte inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))


def test_unsupported_rejected():
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)  # 16-bit depth

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b) & 0xFFFFFFFF
        )

    data = PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(data)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF not a png")

