"""Dependency-free WAV (PCM and float) codec: what is left of the media
stack. Nothing on the quality-filter path calls it."""

from __future__ import annotations

import struct

import numpy as np


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
