"""Dependency-free PNG (8-bit gray/RGB/RGBA) and WAV (PCM and float)
codecs: what is left of the media stack. Nothing on the quality-filter
path calls them."""

from __future__ import annotations

import struct
import zlib

import numpy as np


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal RFC-2083 PNG encoder (8-bit, filter 0, non-interlaced) for
    gray (h,w), RGB (h,w,3) or RGBA (h,w,4) uint8 arrays; output
    round-trips bit-exactly through decode_png (test-enforced)."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, c = pixels.shape
    color_type = {1: 0, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Pure-Python PNG decode -> uint8 array (h, w, channels).

    Supports 8-bit depth, color types 0/2/4/6, all five scanline filters
    (None/Sub/Up/Average/Paeth per RFC 2083 §6), non-interlaced, with
    per-chunk CRC verification. Palette/16-bit/interlaced images raise —
    they are outside the fixture contract and a production codec's job."""
    data = bytes(data)
    if not data.startswith(PNG_SIGNATURE):
        raise ValueError("not a PNG (bad signature)")
    pos = len(PNG_SIGNATURE)
    idat = []
    w = h = color_type = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos: pos + 4])
        ctype = data[pos + 4: pos + 8]
        body = data[pos + 8: pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length: pos + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color_type not in _PNG_CHANNELS or interlace:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color_type}, "
                    f"interlace={interlace}); fixture contract is 8-bit "
                    "gray/RGB/RGBA non-interlaced"
                )
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    c = _PNG_CHANNELS[color_type]
    stride = w * c
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG decompressed size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        else:
            cur = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - c] if i >= c else 0          # left
                b = prev[i]                              # up
                if f == 1:  # Sub
                    cur[i] = (line[i] + a) & 0xFF
                elif f == 3:  # Average
                    cur[i] = (line[i] + ((a + b) >> 1)) & 0xFF
                elif f == 4:  # Paeth
                    cc = prev[i - c] if i >= c else 0    # upper-left
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    cur[i] = (line[i] + pred) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter {f}")
        out[y] = cur.astype(np.uint8)
    return out.reshape(h, w, c)


# ---------------------------------------------------------------------------
# WAV codec (RIFF/WAVE PCM): PCM 8/16/32-bit int and 32/64-bit float, any
# channel count, chunk-walking parser (tolerates LIST/fact/cue chunks).
# ---------------------------------------------------------------------------

_WAV_PCM_DTYPES = {8: np.uint8, 16: np.dtype("<i2"), 32: np.dtype("<i4")}
_WAV_FLOAT_DTYPES = {32: np.dtype("<f4"), 64: np.dtype("<f8")}


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Minimal RIFF/WAVE PCM16 writer for (n,) or (n, channels) float
    samples in [-1, 1]; round-trips through decode_wav to int16
    quantization (test-enforced)."""
    s = np.asarray(samples, dtype=np.float64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    pcm = np.clip(np.round(s * 32767.0), -32768, 32767).astype("<i2")
    body = pcm.reshape(-1).tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    out = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )
    return out


def decode_wav(data: bytes):
    """RIFF/WAVE decode -> (samples float64 (n, channels) in [-1, 1],
    sample_rate). PCM int 8/16/32 and IEEE float 32/64; walks chunks so
    files with LIST/fact metadata parse. Compressed codecs raise."""
    data = bytes(data)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    body = None
    while pos + 8 <= len(data):
        cid = data[pos: pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4: pos + 8])
        chunk = data[pos + 8: pos + 8 + clen]
        if cid == b"fmt ":
            if len(chunk) < 16:
                raise ValueError("WAV fmt chunk truncated")
            tag, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", chunk[:16])
            if ch == 0:
                raise ValueError("WAV fmt declares 0 channels")
            if tag == 0xFFFE and len(chunk) >= 40:  # WAVE_FORMAT_EXTENSIBLE
                (tag,) = struct.unpack("<H", chunk[24:26])
            fmt = (tag, ch, rate, bits)
        elif cid == b"data":
            body = chunk
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or body is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, ch, rate, bits = fmt
    if tag == 1 and bits in _WAV_PCM_DTYPES:
        raw = np.frombuffer(body, dtype=_WAV_PCM_DTYPES[bits])
        if bits == 8:  # unsigned with 128 bias
            s = (raw.astype(np.float64) - 128.0) / 128.0
        else:
            s = raw.astype(np.float64) / float(2 ** (bits - 1))
    elif tag == 3 and bits in _WAV_FLOAT_DTYPES:
        s = np.frombuffer(body, dtype=_WAV_FLOAT_DTYPES[bits]).astype(np.float64)
    else:
        raise NotImplementedError(
            f"WAV format tag {tag}/{bits}-bit is not raw PCM; compressed "
            "audio needs a real codec such as ffmpeg"
        )
    n = (len(s) // ch) * ch
    return s[:n].reshape(-1, ch), rate
