"""WAV codec: RIFF/WAVE PCM decode. Round trip vs the in-repo PCM16
writer plus format-tag and chunk-walking coverage."""

import struct

import numpy as np
import pytest

from pycorrector_spark.operators.multimodal import decode_wav, encode_wav


def test_pcm16_roundtrip_mono_and_stereo():
    rng = np.random.default_rng(2)
    for ch in (1, 2):
        s = np.clip(rng.normal(0, 0.3, (500, ch)), -1, 1)
        data = encode_wav(s, rate=16000)
        out, rate = decode_wav(data)
        assert rate == 16000 and out.shape == (500, ch)
        # int16 quantization error only (writer scales by 32767, reader
        # normalizes by 32768 -> bounded by ~1.5 LSB)
        assert np.abs(out - s).max() <= 2.0 / 32768


def test_chunk_walking_tolerates_metadata():
    s = np.sin(np.linspace(0, 20, 300))
    data = bytearray(encode_wav(s, rate=8000))
    # splice a LIST chunk between fmt and data
    fmt_end = data.find(b"data")
    meta = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd len padded
    spliced = bytes(data[:fmt_end]) + meta + bytes(data[fmt_end:])
    out, rate = decode_wav(spliced)
    assert rate == 8000 and out.shape[0] == 300


def test_float32_payload_decodes():
    s = (np.sin(np.linspace(0, 10, 200)) * 0.5).astype("<f4")
    fmt = struct.pack("<HHIIHH", 3, 1, 16000, 16000 * 4, 4, 32)
    body = s.tobytes()
    data = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)
    out, rate = decode_wav(data)
    assert rate == 16000
    assert np.allclose(out[:, 0], s.astype(np.float64))


def test_compressed_tag_raises():
    fmt = struct.pack("<HHIIHH", 85, 1, 16000, 2000, 1, 0)  # mp3 tag
    data = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(NotImplementedError):
        decode_wav(data)
    with pytest.raises(ValueError):
        decode_wav(b"nonsense bytes here maybe")


def test_malformed_fmt_raises_valueerror():
    """0-channel or truncated fmt chunks are data corruption, not codec
    gaps — the ValueError contract the other codecs enforce."""
    fmt0 = struct.pack("<HHIIHH", 1, 0, 16000, 2000, 1, 16)  # channels=0
    data = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt0)) + fmt0
            + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(ValueError):
        decode_wav(data)
    short = struct.pack("<HH", 1, 1)  # fmt chunk cut off mid-struct
    data2 = (b"RIFF" + struct.pack("<I", 60) + b"WAVE"
             + b"fmt " + struct.pack("<I", len(short)) + short
             + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(ValueError):
        decode_wav(data2)

