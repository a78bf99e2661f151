"""LZW core shared by the GIF and TIFF codecs.

Both formats use the same variable-width LZW: a table of ``2**m`` root
strings, a CLEAR code ``2**m`` and an END (EOI) code ``2**m + 1``, one
new entry per code after the first, codes growing from ``m + 1`` bits
to 12 bits, and a 4096-entry table.  They differ only in fixed
constants, which each format passes in:

- ``min_code_size`` ``m``: GIF stores it per image (2..8), TIFF uses 8;
- ``msb_first``: bit packing order, GIF LSB-first, TIFF MSB-first;
- ``early_change``: TIFF (libtiff) widens codes two entries before the
  table fills the current width and resets its table at 4093 entries;
  GIF widens when the table fills the width and resets at 4096.

End-of-stream rule, the same for both formats: ``decode`` returns
exactly ``n_out`` bytes and ignores codes after them; a stream that
ends early, or sends END before ``n_out`` bytes, raises ``ValueError``.
"""

from __future__ import annotations

import numpy as np

MAX_CODE = 4096  # 12-bit code ceiling fixed by both specs
MAX_WIDTH = 12


def decode(
    data: bytes, n_out: int, min_code_size: int, *, msb_first: bool,
    early_change: bool,
) -> bytes:
    """LZW stream → exactly ``n_out`` bytes (root values < 2**m)."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"LZW min code size {min_code_size} outside 2..8")
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    grow = 2 if early_change else 0
    table = list(base)
    width = min_code_size + 1
    # the decoder adds each entry one code after the encoder does, so it
    # widens one entry earlier than the encoder's rule reads
    widen_at = (1 << width) - grow
    out = bytearray()
    buf = nbits = pos = 0
    prev = None
    while len(out) < n_out:
        if nbits < width:  # refill up to 8 bytes at a time
            chunk = data[pos : pos + 8]
            pos += 8
            if msb_first:
                buf = (buf << 8 * len(chunk)) | int.from_bytes(chunk, "big")
            else:
                buf |= int.from_bytes(chunk, "little") << nbits
            nbits += 8 * len(chunk)
            if nbits < width:
                raise ValueError(f"LZW stream exhausted at {len(out)}/{n_out} bytes")
        nbits -= width
        if msb_first:
            code = buf >> nbits
            buf &= (1 << nbits) - 1  # keep the residue small (bigint trap)
        else:
            code = buf & ((1 << width) - 1)
            buf >>= width
        if code < clear:
            entry = table[code]
        elif code == clear:
            table = list(base)
            width = min_code_size + 1
            widen_at = (1 << width) - grow
            prev = None
            continue
        elif code == eoi:
            raise ValueError(f"LZW END code after {len(out)}/{n_out} bytes")
        elif code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:  # KwKwK
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} out of range")
        if prev is not None and len(table) < MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) >= widen_at and width < MAX_WIDTH:
                width += 1
                widen_at = (1 << width) - grow
        out += entry
        prev = entry
    return bytes(out[:n_out])


def encode(
    data: bytes, min_code_size: int, *, msb_first: bool, early_change: bool,
) -> bytes:
    """Greedy longest-match LZW of ``data`` (values < 2**m): CLEAR up
    front and when the table is full, END at the end."""
    clear = 1 << min_code_size
    eoi = clear + 1
    grow = 2 if early_change else 0
    # table size at which the next miss emits CLEAR instead of adding an
    # entry; libtiff resets right after adding entry 4093, which it never
    # emits, so resetting one miss earlier writes the same codes
    full = MAX_CODE - 3 if early_change else MAX_CODE
    width = min_code_size + 1
    codes = [(clear, width)]
    table: dict[int, int] = {}  # (prefix code << 8 | byte) -> code
    next_code = eoi + 1
    prev = -1
    for b in data:
        if prev < 0:
            prev = b
            continue
        code = table.get(prev << 8 | b)
        if code is not None:
            prev = code
            continue
        codes.append((prev, width))
        if next_code == full:
            codes.append((clear, width))
            table.clear()
            next_code = eoi + 1
            width = min_code_size + 1
        else:
            table[prev << 8 | b] = next_code
            if next_code + grow >= 1 << width and width < MAX_WIDTH:
                width += 1
            next_code += 1
        prev = b
    if prev >= 0:
        codes.append((prev, width))
    codes.append((eoi, width))
    return _pack(codes, msb_first)


def _pack(codes: list[tuple[int, int]], msb_first: bool) -> bytes:
    """Concatenate (code, width) pairs into bytes, zero-padding the last
    byte."""
    c, w = np.asarray(codes, np.int64).T[:, :, None]
    j = np.arange(MAX_WIDTH)
    shift = np.maximum(w - 1 - j, 0) if msb_first else j
    bits = ((c >> shift) & 1)[j < w].astype(np.uint8)
    return np.packbits(bits, bitorder="big" if msb_first else "little").tobytes()
