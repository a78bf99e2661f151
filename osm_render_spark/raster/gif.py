"""GIF codec from scratch (GIF87a/89a, the published CompuServe spec):
interlacing, local/global color tables, transparency, multi-frame
animations with disposal compositing, and an exact-palette encoder.
Image data is LZW-coded by the core shared with TIFF (raster/lzw.py),
with GIF's constants: per-image min code size, LSB-first codes, code
width growing when the table fills it.

Same discipline as the JPEG/FLAC/LZ4/zstd codecs in this repo: pure
python/numpy against the public format, validated by hand-assembled
bitstreams decoded against spec-worked examples (the LZW tables are
built algorithmically at decode time — GIF has no normative constant
tables to transcribe, which is what makes a from-scratch codec
verifiable here).  Reference precedent: S8/R11 image decode
(OsmRender.m:101-135 delegates to the system imaging library).

Scope notes (honest constraints, raised loudly):
- the encoder requires ≤ 256 distinct colors (it builds an exact
  palette; quantization is a lossy design choice left to callers);
- aspect-ratio hints and plain-text extensions are preserved-skipped.
"""

from __future__ import annotations

import struct

import numpy as np

from . import lzw

# GIF's constants for the shared LZW core
_LZW = dict(msb_first=False, early_change=False)

# --- container ----------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    return np.concatenate(
        [np.arange(start, h, step) for start, step in _INTERLACE_PASSES]
    )


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i: i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _read_sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("unterminated sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += data[pos: pos + n]
        pos += n


def decode_gif(data: bytes) -> list[tuple[np.ndarray, int]]:
    """GIF bytes → [(RGBA frame (h, w, 4) uint8, delay_centiseconds)].
    Frames are COMPOSITED onto the logical screen per the 89a disposal
    semantics (1 keep, 2 restore-background, 3 restore-previous), with
    transparency honored — i.e. what a viewer shows, not raw sub-frame
    rects."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    w, h, packed, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(data[pos: pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n

    screen = np.zeros((h, w, 4), np.uint8)  # transparent background
    frames: list[tuple[np.ndarray, int]] = []
    transparent = -1
    disposal = 0
    delay = 0

    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            body, pos = _read_sub_blocks(data, pos)
            if label == 0xF9:  # graphic control
                flags, delay = struct.unpack_from("<BH", body, 0)
                disposal = (flags >> 2) & 7
                transparent = body[3] if flags & 1 else -1
            # 0xFF application / 0xFE comment / 0x01 plain text: skipped
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x} at {pos - 1}")
        left, top, fw, fh, fpacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        ct = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 7)
            ct = np.frombuffer(data[pos: pos + 3 * n], np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("image block without any color table")
        if top + fh > h or left + fw > w:
            raise ValueError("image block exceeds the logical screen")
        min_code = data[pos]
        pos += 1
        packed, pos = _read_sub_blocks(data, pos)
        idx = np.frombuffer(
            lzw.decode(packed, fw * fh, min_code, **_LZW), np.uint8
        ).reshape(fh, fw)
        if fpacked & 0x40:  # interlaced: rows arrive in pass order
            rows = np.empty((fh, fw), np.uint8)
            rows[_interlace_order(fh)] = idx
            idx = rows
        if idx.max() >= len(ct):
            raise ValueError("pixel index outside the color table")

        before = screen.copy()
        rgba = np.dstack([ct[idx], np.full((fh, fw), 255, np.uint8)])
        if transparent >= 0:
            rgba[idx == transparent, 3] = 0
        region = screen[top: top + fh, left: left + fw]
        opaque = rgba[:, :, 3] == 255
        region[opaque] = rgba[opaque]
        frames.append((screen.copy(), delay))
        if disposal == 2:
            screen[top: top + fh, left: left + fw] = 0
        elif disposal == 3:
            # restore-to-previous = the canvas as it was BEFORE this
            # frame rendered (GIF89a 23.c.iv). The old code restored
            # the canvas from before the PREVIOUS frame.
            screen = before
        transparent, disposal, delay = -1, 0, 0
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames


def encode_gif(
    frames: "np.ndarray | list",
    delays: "int | list[int]" = 10,
    interlace: bool = False,
    transparent_color: tuple[int, int, int] | None = None,
    loop: bool = True,
) -> bytes:
    """One (h, w, 3) frame or a list of equally-sized frames → GIF89a
    bytes.  An exact global palette is built over ALL frames; each
    frame is a full-screen image block (no delta optimization — byte
    determinism over minimal size).  ``transparent_color`` maps that
    exact RGB to a transparent index.  Round-trip contract: with no
    transparency, decode_gif(encode_gif(x))[i][0][..., :3] == x[i]."""
    if isinstance(frames, np.ndarray) and frames.ndim == 3:
        frames = [frames]
    frames = [np.ascontiguousarray(f) for f in frames]
    h, w = frames[0].shape[:2]
    for f in frames:
        if f.shape != (h, w, 3):
            raise ValueError("all frames must be (h, w, 3) and equal size")
    if isinstance(delays, int):
        delays = [delays] * len(frames)

    stack = np.concatenate([f.reshape(-1, 3) for f in frames])
    palette, inverse = np.unique(stack, axis=0, return_inverse=True)
    n_extra = 1 if transparent_color is not None else 0
    if len(palette) + n_extra > 256:
        raise ValueError(
            f"GIF encoding needs <= 256 distinct colors, got {len(palette)}"
            " — quantize first (a lossy choice this codec won't make"
            " silently)"
        )
    trans_idx = -1
    if transparent_color is not None:
        match = np.nonzero((palette == transparent_color).all(axis=1))[0]
        if len(match):
            trans_idx = int(match[0])
        else:
            trans_idx = len(palette)
            palette = np.vstack([palette, np.array(transparent_color)])
    # color table sizes are powers of two >= 2; the header stores bits-1
    bits = max(1, int(len(palette) - 1).bit_length())
    table = np.zeros((1 << bits, 3), np.uint8)
    table[: len(palette)] = palette

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 7), 0, 0)
    out += table.tobytes()
    if loop and len(frames) > 1:
        out += b"\x21\xff\x0bNETSCAPE2.0" + _sub_blocks(b"\x01\x00\x00")
    off = 0
    min_code = max(2, bits)
    for f, delay in zip(frames, delays):
        n_px = h * w
        idx = inverse[off: off + n_px].astype(np.uint8).reshape(h, w)
        off += n_px
        if trans_idx >= 0 or delay or len(frames) > 1:
            flags = 0x01 if trans_idx >= 0 else 0x00
            flags |= 0x04  # disposal 1 (keep) — frames are full screens
            out += b"\x21\xf9" + _sub_blocks(
                struct.pack("<BHB", flags, delay, max(trans_idx, 0))
            )
        out += struct.pack(
            "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0
        )
        rows = idx[_interlace_order(h)] if interlace else idx
        out.append(min_code)
        out += _sub_blocks(
            lzw.encode(rows.tobytes(), min_code, **_LZW)
        )
    out.append(0x3B)
    return bytes(out)
