"""Pure-stdlib WAV/PCM codec (struct + numpy).

RIFF/WAVE PCM needs no audio library: a fixed header (RIFF chunk, fmt
sub-chunk, data sub-chunk) followed by raw little-endian PCM samples.
This module implements

* :func:`decode_wav` — RIFF/fmt/data parse returning
  ``(samples int16[n, channels], sample_rate)``; PCM (format 1), 16-bit
  only — the format ML audio corpora normalize to before featurization.
* :func:`encode_wav` — the matching writer, used by fixtures.

A standalone library module: no query in the registry decodes media.
"""

from __future__ import annotations

import struct


class WavError(ValueError):
    pass


def is_wav(data: bytes) -> bool:
    return (
        len(data) > 44
        and bytes(data[:4]) == b"RIFF"
        and bytes(data[8:12]) == b"WAVE"
    )


def decode_wav(data: bytes):
    """WAV bytes -> (int16 numpy array of shape (n, channels), rate)."""
    import numpy as np

    if not is_wav(data):
        raise WavError("not a RIFF/WAVE stream")
    data = bytes(data)
    off = 12
    fmt = None
    pcm = None
    while off + 8 <= len(data):
        cid = data[off : off + 4]
        (size,) = struct.unpack("<I", data[off + 4 : off + 8])
        body = data[off + 8 : off + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            pcm = body
        off += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise WavError("missing fmt/data chunk")
    audio_format, channels, rate, _byte_rate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise WavError(f"unsupported WAV (format={audio_format}, bits={bits})")
    samples = np.frombuffer(pcm, dtype="<i2")
    if channels > 1:
        samples = samples[: len(samples) // channels * channels]
        samples = samples.reshape(-1, channels)
    else:
        samples = samples.reshape(-1, 1)
    return samples, rate


def encode_wav(samples, rate: int = 16000) -> bytes:
    """int16 array (n,) or (n, channels) -> WAV bytes (PCM16 LE)."""
    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n, channels = arr.shape
    pcm = arr.tobytes()
    byte_rate = rate * channels * 2
    header = (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate,
                      channels * 2, 16)
        + b"data"
        + struct.pack("<I", len(pcm))
    )
    return header + pcm
