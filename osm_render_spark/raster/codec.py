"""Image codecs for the binary `bytes` column (SURVEY.md S8/S9/R11).

PNG: self-contained encoder/decoder (zlib + numpy — PIL is not in this
container). Encoder emits filter-0 scanlines (deterministic, byte-stable
for the round-trip requirement in FIXTURES.md §1); decoder handles all
five standard filters.

JPEG: REAL baseline codec in raster/jpeg.py (pure numpy Huffman + DCT —
see that module's docstring for the supported profile). fmt='jpeg' rows
encode/decode through it; a blob without the SOI marker raises.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels -> PNG color type


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png(img: np.ndarray) -> bytes:
    """(h, w) or (h, w, c) uint8 -> PNG bytes (filter 0, fixed zlib level)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c not in _COLOR_TYPE:
        raise ValueError(f"unsupported channel count {c}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[c], 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), img.reshape(h, w * c)], axis=1
    ).tobytes()
    idat = zlib.compress(raw, 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    rows = raw.reshape(h, stride + 1)
    ftypes = rows[:, 0]
    data = rows[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    for y in range(h):
        f = ftypes[y]
        line = data[y].copy()
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        if f == 0:
            out[y] = line
        elif f == 1:
            for x in range(stride):
                left = out[y, x - bpp] if x >= bpp else 0
                out[y, x] = (line[x] + left) & 0xFF
        elif f == 2:
            out[y] = (line + prev) & 0xFF
        elif f == 3:
            for x in range(stride):
                left = out[y, x - bpp] if x >= bpp else 0
                out[y, x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:
            for x in range(stride):
                a = out[y, x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                out[y, x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
    return out.astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, c) uint8 (8-bit gray/RGB/RGBA, no interlace)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    idat = b""
    w = h = bit_depth = color_type = None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if bit_depth != 8 or interlace != 0:
                raise ValueError("only 8-bit non-interlaced PNG supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    c = {0: 1, 2: 3, 6: 4}.get(color_type)
    if c is None:
        raise ValueError(f"unsupported color type {color_type}")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    stride = w * c
    img = _unfilter(raw, h, stride, c)
    return img.reshape(h, w, c)


def encode_image(img: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png(img)
    if fmt == "jpeg":
        from .jpeg import encode_jpeg

        # 4:4:4 at q90: dimension-true and PSNR-stable on the synthetic
        # hard-edge fixture content (sharp polygon chroma edges are the
        # adversarial case for subsampling)
        return encode_jpeg(img, quality=90, subsampling="444")
    if fmt == "gif":
        from .gif import encode_gif

        return encode_gif(img)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return decode_png(data)
    if fmt == "jpeg":
        from .jpeg import decode_jpeg

        return decode_jpeg(bytes(data))
    if fmt == "gif":
        from .gif import decode_gif

        frame = decode_gif(bytes(data))[0][0]  # first frame, composited
        if (frame[:, :, 3] == 255).all():
            return np.ascontiguousarray(frame[:, :, :3])
        return frame
    raise ValueError(f"unknown fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (uint8 images)."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash (aHash): 8×8 block means thresholded by the
    global mean. Deterministic, pure numpy."""
    if img.ndim == 3:
        gray = img.astype(np.float64).mean(axis=2)
    else:
        gray = img.astype(np.float64)
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blocks[i, j] = gray[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean()
    bits = (blocks > blocks.mean()).ravel()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    # interpret as signed int64 (phash column is int64 per input_hint)
    return v - (1 << 64) if v >= (1 << 63) else v
