"""RIFF container codec — the REAL decode path for the audio column
(SURVEY task brief: audio as opaque binary + typed metadata).

The engine carries no compressed-codec library (mp3/aac stay behind
clear NotImplementedErrors in raster/ops.py), but WAV PCM needs none: it
is a plain header + raw samples, fully decodable with stdlib struct +
numpy.
It is a published format (Microsoft/IBM RIFF, 1991); both a reader and
a writer live here so tests round-trip real files end to end.

All multi-byte fields are little-endian (RIFF convention).
"""

from __future__ import annotations

import struct

import numpy as np


def _riff_chunks(buf: memoryview, pos: int, end: int):
    """Yield (fourcc, payload_memoryview) walking a RIFF chunk sequence;
    chunks are word-aligned (odd sizes padded by one byte)."""
    while pos + 8 <= end:
        fourcc = bytes(buf[pos : pos + 4])
        (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        payload = buf[pos + 8 : pos + 8 + size]
        yield fourcc, payload
        pos += 8 + size + (size & 1)


# ---------------------------------------------------------------------------
# WAV (RIFF/WAVE, PCM)
# ---------------------------------------------------------------------------


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (mono float64 samples in [-1, 1], sample rate).
    Supports PCM (format 1) at 8/16 bits, any channel count (averaged to
    mono). Compressed WAV formats raise NotImplementedError by format
    code — same contract as the codec stubs."""
    buf = memoryview(data)
    if bytes(buf[:4]) != b"RIFF" or bytes(buf[8:12]) != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    fmt = None
    pcm_raw = None
    for fourcc, payload in _riff_chunks(buf, 12, len(buf)):
        if fourcc == b"fmt ":
            fmt = struct.unpack("<HHIIHH", payload[:16])
        elif fourcc == b"data":
            pcm_raw = payload
    if fmt is None or pcm_raw is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, rate, _byte_rate, _block_align, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"WAV format code {audio_format} needs a codec library not in "
            "this container; only PCM (format 1) decodes"
        )
    if bits == 16:
        x = np.frombuffer(pcm_raw, dtype="<i2").astype(np.float64) / 32767.0
    elif bits == 8:  # 8-bit WAV is unsigned, midpoint 128
        x = (np.frombuffer(pcm_raw, dtype=np.uint8).astype(np.float64) - 128.0) / 127.0
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported (8/16 only)")
    if n_channels > 1:
        x = x[: len(x) - len(x) % n_channels].reshape(-1, n_channels).mean(axis=1)
    return x, rate


def encode_wav(pcm: np.ndarray, rate: int) -> bytes:
    """int16 mono samples → canonical 44-byte-header PCM WAV."""
    pcm = np.ascontiguousarray(pcm, dtype="<i2")
    data = pcm.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data
