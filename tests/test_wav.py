"""WAV/PCM codec correctness: roundtrip, chunk parsing and rejects."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from otlp_cardinality_checker_spark.functions.wav import (
    WavError,
    decode_wav,
    encode_wav,
    is_wav,
)


def test_roundtrip_mono_and_stereo():
    rng = np.random.default_rng(5)
    mono = rng.integers(-32768, 32768, size=777, dtype=np.int16)
    out, rate = decode_wav(encode_wav(mono, 16000))
    assert rate == 16000
    assert out.shape == (777, 1)
    assert (out[:, 0] == mono).all()

    stereo = rng.integers(-32768, 32768, size=(300, 2), dtype=np.int16)
    out, rate = decode_wav(encode_wav(stereo, 44100))
    assert rate == 44100 and out.shape == (300, 2)
    assert (out == stereo).all()


def test_decoder_skips_extra_chunks_and_word_alignment():
    """A LIST chunk with an ODD size sits between fmt and data; the parser
    must skip it word-aligned and still find the samples."""
    samples = np.array([1, -2, 3], dtype=np.int16)
    base = encode_wav(samples, 8000)
    fmt_chunk = base[12:36]  # 'fmt ' + size + 16 bytes
    data_chunk = base[36:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    riff_body = b"WAVE" + fmt_chunk + extra + data_chunk
    crafted = b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
    out, rate = decode_wav(crafted)
    assert rate == 8000 and (out[:, 0] == samples).all()


def test_decoder_rejects_garbage_and_unsupported():
    with pytest.raises(WavError):
        decode_wav(b"not audio" * 10)
    assert not is_wav(b"RIFFxxxx????" + b"\x00" * 60)
    # 8-bit PCM unsupported
    samples = np.zeros(10, dtype=np.int16)
    data = bytearray(encode_wav(samples, 8000))
    data[34] = 8  # bits-per-sample field
    with pytest.raises(WavError):
        decode_wav(bytes(data))

