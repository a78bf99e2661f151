"""GIF codec from scratch (GIF87a/89a, the published CompuServe spec):
LZW with variable-width codes, interlacing, local/global color tables,
transparency, multi-frame animations with disposal compositing, and an
exact-palette encoder.

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

MAX_CODE = 4096  # 12-bit LZW ceiling fixed by the spec


# --- LZW ----------------------------------------------------------------


def lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF-flavor LZW: LSB-first bit packing, CLEAR/EOI codes, code
    width grows AFTER the table fills the current width, table capped
    at 4096.  Returns exactly n_pixels indices (spec-conforming streams
    may omit a final EOI; extra pixels beyond n_pixels are ignored, as
    every tolerant decoder does)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    # table as (prefix_code, tail_byte) pairs; roots are (-1, i)
    prefix = np.full(MAX_CODE, -1, np.int32)
    tail = np.zeros(MAX_CODE, np.uint8)
    tail[:clear] = np.arange(clear)

    out = np.empty(n_pixels, np.uint8)
    n_out = 0
    width = min_code_size + 1
    next_code = eoi + 1
    acc = bits = 0
    prev = -1
    buf = np.empty(MAX_CODE, np.uint8)  # expansion scratch (max chain)

    def expand(code: int) -> int:
        n = 0
        c = code
        while c >= 0:
            buf[n] = tail[c]
            c = prefix[c] if c >= clear else -1
            n += 1
        return n

    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            bits -= width
            if code == clear:
                next_code = eoi + 1
                width = min_code_size + 1
                prev = -1
                continue
            if code == eoi:
                if n_out < n_pixels:
                    raise ValueError(
                        f"LZW EOI after {n_out}/{n_pixels} pixels"
                    )
                return out
            if code >= next_code or (code > eoi and code >= MAX_CODE):
                # the only legal "not yet defined" code is next_code
                # itself with the KwKwK rule
                if code != next_code or prev < 0:
                    raise ValueError(f"LZW code {code} out of range")
                n = expand(prev)
                first = buf[n - 1]
                seq = np.empty(n + 1, np.uint8)
                seq[:n] = buf[:n][::-1]
                seq[n] = first
            else:
                n = expand(code)
                seq = buf[:n][::-1]
            take = min(len(seq), n_pixels - n_out)
            out[n_out: n_out + take] = seq[:take]
            n_out += take
            if n_out >= n_pixels:
                return out
            if prev >= 0 and next_code < MAX_CODE:
                prefix[next_code] = prev
                tail[next_code] = seq[0]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = code
    if n_out < n_pixels:
        raise ValueError(f"LZW stream exhausted at {n_out}/{n_pixels} pixels")
    return out


def lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """Greedy longest-match LZW, emitting CLEAR up front and on table
    overflow (the standard strategy every spec-conforming decoder
    accepts), EOI at the end."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = bits = 0
    width = min_code_size + 1

    def emit(code: int):
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    emit(clear)
    prev = -1
    for px in indices.astype(np.int64):
        px = int(px)
        if prev < 0:
            prev = px
            continue
        key = (prev, px)
        if key in table:
            prev = table[key]
            continue
        emit(prev)
        if next_code < MAX_CODE:
            table[key] = next_code
            # width-growth is checked on the PRE-increment count: the
            # decoder lags the encoder by exactly one assignment (it
            # cannot assign on the first post-clear code), so its count
            # hits 1<<width one emission after ours does post-increment
            # — growing here keeps every emitted code inside the width
            # the decoder is reading with
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear)
            table.clear()
            next_code = eoi + 1
            width = min_code_size + 1
        prev = px
    if prev >= 0:
        emit(prev)
    emit(eoi)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


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
        lzw, pos = _read_sub_blocks(data, pos)
        idx = lzw_decode(lzw, min_code, fw * fh).reshape(fh, fw)
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
        out += _sub_blocks(lzw_encode(rows.ravel(), min_code))
    out.append(0x3B)
    return bytes(out)
