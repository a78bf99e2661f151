"""Baseline JPEG (ITU-T T.81) codec — pure numpy + stdlib, same
from-scratch discipline as codec.py's PNG (reference precedent: the
PNG handling in OsmRender.m:101-135; the reference links a system image
library, this engine carries its own codec because the container has
none).

Decoder: baseline sequential Huffman DCT (SOF0, and SOF1 which decodes
identically at 8-bit precision) — single interleaved scan AND
MULTI-SCAN sequential (several SOS per frame, one component each;
subset-interleaved partial scans raise by name), both through one
sequential scan decoder — AND progressive (SOF2: spectral selection,
successive approximation, EOB runs, interleaved DC + non-interleaved AC
scans, restarts inside any scan — a large share of real web JPEGs are
progressive, so a multimodal corpus reader can't skip it). Grayscale or
3-component YCbCr with any sampling factors
1..2 (4:4:4, 4:2:2, 4:2:0, 4:4:0), 8- and 16-bit quantization tables,
restart markers, and the MJPEG convention of OMITTED Huffman tables
(the Annex K standard tables are installed when a baseline scan starts
with none defined — real Motion-JPEG frames need this). Lossless,
hierarchical, arithmetic-coded and 12-bit frames raise
NotImplementedError naming the feature. Both entry
paths share one reconstruction tail (_reconstruct: dequant → IDCT →
upsample → color), so a fully-refined progressive stream decodes
BIT-EXACTLY equal to the baseline encoding of the same coefficients —
pinned by tests. Every scan, decoded or encoded, takes its block order
from one helper (_scan_walk, T.81 A.2): a scan naming one component is
non-interleaved whatever the frame's sampling factors.

Encoder: quality-scaled Annex K quantization tables (the public libjpeg
scaling formula), the Annex K standard Huffman tables, optional 4:2:0
subsampling and restart intervals; encode_progressive_jpeg emits a
libjpeg-style scan script (DC first/refine, spectral AC bands,
successive approximation) with per-scan frequency-optimized canonical
Huffman tables (progressive needs EOBn symbols the Annex K tables lack).
Both encoders share one front-end (_encode_front: color conversion,
subsampling, FDCT, quantization) and one header writer (_jfif_header).
Exists so tests and fixtures are self-contained (no image library in
the container) and to give the decoder a spec-honest adversary: every
decoder feature above is pinned by decoding encoder output plus
hand-spliced variations (tests).

Scale note: entropy decode is a per-symbol python loop over a 16-bit
table lookup (Huffman is inherently sequential *within* one image); the
engine's parallel unit is the IMAGE — Arrow batches of independent blobs
inside mapInPandas (raster/ops.py) — so a cluster decodes N images on N
cores regardless of per-image cost. Everything after entropy decode
(dequant, IDCT, upsample, color) is vectorized numpy across all blocks
of the image.
"""

from __future__ import annotations

import itertools
import re
import struct

import numpy as np

# --- public constants from ITU-T T.81 ------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1 / K.2 example quantization tables (natural order)
QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 standard Huffman tables: (BITS[1..16], HUFFVAL)
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_HUFF_DC = (HUFF_DC_LUMA, HUFF_DC_CHROMA)  # by table class: luma, chroma
_HUFF_AC = (HUFF_AC_LUMA, HUFF_AC_CHROMA)

# orthonormal 8-point DCT-II basis: D[u, x] = c(u)/2 * cos((2x+1)uπ/16)
_D = np.empty((8, 8))
for _u in range(8):
    _c = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _D[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
del _u, _c, _x

_SOF_UNSUPPORTED = {
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic-coded sequential (SOF9)",
    0xCA: "arithmetic-coded progressive (SOF10)",
    0xCB: "arithmetic-coded lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


# --- Huffman table machinery ----------------------------------------------

def _canonical_codes(bits: list[int], vals: list[int]) -> list[tuple[int, int, int]]:
    """(BITS, HUFFVAL) → [(symbol, code, length)] in canonical order."""
    out = []
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out.append((vals[k], code, length))
            code += 1
            k += 1
        code <<= 1
    return out


# BOUNDED LRU (was an unbounded dict): streams with per-image OPTIMIZED
# Huffman tables (our progressive encoder emits them) make every image
# insert ~4 fresh 65536-entry list pairs — a long-lived executor python
# worker grew to multi-GB RSS and each subsequent build ran ~20x slower
# under the resulting memory pressure (measured: 2nd decode pass over
# the 3k-image pipeline corpus 1.6 s → 9 s; guide §5 executor memory).
# 32 entries ≈ 32 MB/process: enough for the 4 standard baseline tables
# plus every table of any one image's scans, so intra-image reuse (the
# only reuse that exists for optimized tables) always hits.
_LUT_CACHE: dict[tuple, tuple[list[int], list[int]]] = {}
_LUT_CACHE_MAX = 32


def _decode_lut(bits: list[int], vals: list[int]) -> tuple[list[int], list[int]]:
    """16-bit-peek lookup tables: lut_sym[peek16] / lut_len[peek16].
    Python lists — int indexing beats numpy scalar dispatch in the
    per-symbol loop (CLAUDE.md tiny-array trap). LRU-cached by table
    content: real streams reuse the 4 standard tables (and a
    progressive stream reuses its own optimized tables across scans),
    and rebuilding 65536 entries per scan would dominate small-image
    decode (~4 ms/table)."""
    key = (tuple(bits), tuple(vals))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        # refresh recency (dicts iterate in insertion order) so the 4
        # standard baseline tables survive interleaved optimized streams
        del _LUT_CACHE[key]
        _LUT_CACHE[key] = hit
        return hit
    sym = [0] * 65536
    length = [0] * 65536
    for s, code, ln in _canonical_codes(bits, vals):
        lo = code << (16 - ln)
        hi = (code + 1) << (16 - ln)
        sym[lo:hi] = [s] * (hi - lo)
        length[lo:hi] = [ln] * (hi - lo)
    if len(_LUT_CACHE) >= _LUT_CACHE_MAX:
        _LUT_CACHE.pop(next(iter(_LUT_CACHE)))
    _LUT_CACHE[key] = (sym, length)
    return sym, length


# encode maps are ~256-entry dicts (a few KB) — still bounded, same
# per-image-optimized-tables growth concern at corpus scale
_ENC_CACHE: dict[tuple, dict[int, tuple[int, int]]] = {}
_ENC_CACHE_MAX = 512


def _encode_map(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    key = (tuple(bits), tuple(vals))
    hit = _ENC_CACHE.get(key)
    if hit is None:
        hit = {s: (code, ln) for s, code, ln in _canonical_codes(bits, vals)}
        if len(_ENC_CACHE) >= _ENC_CACHE_MAX:
            _ENC_CACHE.pop(next(iter(_ENC_CACHE)))
        _ENC_CACHE[key] = hit
    return hit


def _segment(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload


def _dht_segment(tc: int, th: int, table: tuple[list[int], list[int]]) -> bytes:
    bits, vals = table
    return _segment(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))


# --- bit I/O ---------------------------------------------------------------

class _BitWriter:
    __slots__ = ("buf", "acc", "n")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s

    def drain(self, out: bytearray) -> None:
        """End an entropy segment: pad, move the bytes to ``out``."""
        self.flush()
        out += self.buf
        self.buf = bytearray()


# --- decoder ----------------------------------------------------------------

_SCAN_END = re.compile(rb"\xff(?![\x00\xd0-\xd7])")
_RST_SPLIT = re.compile(rb"\xff[\xd0-\xd7]")


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline or progressive JPEG bytes → (h, w, 3) RGB uint8 (or
    (h, w, 1) for a single-component grayscale frame)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, tuple[list[int], list[int]]] = {}
    huff_ac: dict[int, tuple[list[int], list[int]]] = {}
    restart_interval = 0
    frame = None  # (h, w, [(comp_id, hi, vi, tq)])
    progressive = False
    grids = None  # coef stores of every scan, per frame comp: (bv, bh, 64)

    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        # T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — real-world MJPG frames contain them
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(data):
            # stream ends in fill bytes with the marker cut off — keep
            # the codec's malformed-input contract (ValueError, never
            # IndexError)
            raise ValueError(f"truncated JPEG: fill bytes at byte {pos} "
                             "with no marker following")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # no payload
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seg_len]
        pos += seg_len
        if marker in _SOF_UNSUPPORTED:
            raise NotImplementedError(
                f"JPEG {_SOF_UNSUPPORTED[marker]} decoding is not "
                "implemented — baseline sequential (SOF0/SOF1) and "
                "progressive (SOF2) only"
            )
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0 / SOF1 / SOF2
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG precision (8 only)")
            comps = []
            for ci in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * ci)
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker == 0xC4:  # DHT (possibly several tables)
            o = 0
            while o < len(body):
                tcth = body[o]
                bits = list(body[o + 1 : o + 17])
                nv = sum(bits)
                vals = list(body[o + 17 : o + 17 + nv])
                tbl = (bits, vals)
                (huff_dc if tcth >> 4 == 0 else huff_ac)[tcth & 15] = tbl
                o += 17 + nv
        elif marker == 0xDB:  # DQT (possibly several tables)
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 15
                if pq == 0:
                    qt[tq] = np.frombuffer(
                        body[o + 1 : o + 65], dtype=np.uint8
                    ).astype(np.int64)
                    o += 65
                else:  # 16-bit table
                    qt[tq] = np.frombuffer(
                        body[o + 1 : o + 129], dtype=">u2"
                    ).astype(np.int64)
                    o += 129
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            ids = [cid for cid, _hi, _vi, _tq in frame[2]]
            scan_comps = []  # (frame comp index, DC table, AC table)
            for si in range(ns):
                cs, tdta = body[1 + 2 * si], body[2 + 2 * si]
                if cs not in ids:
                    raise ValueError(
                        f"scan names component {cs}, which the frame "
                        "does not define"
                    )
                scan_comps.append((ids.index(cs), tdta >> 4, tdta & 15))
            full = ns == len(ids)
            if not progressive:
                if not huff_dc and not huff_ac:
                    # MJPEG convention: frames carry no DHT; the standard
                    # Annex K tables are implied
                    huff_dc = dict(enumerate(_HUFF_DC))
                    huff_ac = dict(enumerate(_HUFF_AC))
                if full and grids is not None:
                    raise ValueError(
                        "interleaved all-component scan after partial "
                        "scans in a sequential stream"
                    )
                if not full and ns != 1:
                    raise NotImplementedError(
                        "multi-component PARTIAL scan in a sequential "
                        "JPEG (subset-interleaved); one-component scans "
                        "and full-component scans are supported"
                    )
            # every scan of the frame lands in these grids: a multi-scan
            # sequential stream (several SOS per SOF0 frame, one
            # component each) and a progressive one reconstruct at EOI
            if grids is None:
                _hm, _vm, mcu_cols, mcu_rows = _mcu_geometry(frame)
                grids = [
                    np.zeros((mcu_rows * vi, mcu_cols * hi, 64), np.int32)
                    for _cid, hi, vi, _tq in frame[2]
                ]
            if not progressive:
                pos = _decode_sequential_scan(
                    data, pos, frame, scan_comps, grids,
                    huff_dc, huff_ac, restart_interval,
                )
                if full:  # the one scan of a single-scan stream
                    return _reconstruct(frame, grids, qt)
                continue
            # progressive: accumulate this scan's band into the shared
            # coefficient grids, keep parsing — reconstruction at EOI
            band = (
                body[1 + 2 * ns],
                body[2 + 2 * ns],
                body[3 + 2 * ns] >> 4,
                body[3 + 2 * ns] & 15,
            )  # Ss, Se, Ah, Al
            pos = _decode_progressive_scan(
                data, pos, frame, scan_comps, band, grids,
                huff_dc, huff_ac, restart_interval,
            )
        # APPn / COM / anything else with a length: skipped
    if grids is not None:
        # progressive, or multi-scan sequential: a stream truncated after
        # any completed scan still reconstructs; missing bands /
        # refinements / component scans are just zero
        return _reconstruct(frame, grids, qt)
    raise ValueError("no SOS scan found")


def _mcu_geometry(frame):
    _h, _w, comps = frame
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    mcu_cols = -(-frame[1] // (8 * hmax))
    mcu_rows = -(-frame[0] // (8 * vmax))
    return hmax, vmax, mcu_cols, mcu_rows


def _scan_walk(frame, comp_idx):
    """T.81 A.2 traversal of one scan over the frame components
    ``comp_idx`` — the one place that knows it, shared by every decoder
    and encoder. A scan naming more than one component is interleaved
    and walks MCUs, each hi×vi blocks per component in raster order; a
    one-component scan is non-interleaved (whatever the frame's
    component count or sampling factors) and walks the component's own
    block grid (ceil of its scaled dims), not the MCU-padded grid.
    Returns (unit count, blocks per unit, iterator over the blocks in
    coding order as (scan slot, by, bx) in component block-grid
    coordinates); a unit is an MCU, or one block, and restart intervals
    count units. The iterator is lazy (one MCU row at a time), so a
    frame header claiming huge dimensions costs no block list before
    its scan data runs out."""
    img_h, img_w, comps = frame
    hmax, vmax, mcu_cols, mcu_rows = _mcu_geometry(frame)
    if len(comp_idx) == 1:
        _cid, hi, vi, _tq = comps[comp_idx[0]]
        rows, cols = (
            -(-(-(-n * f // fmax)) // 8)
            for n, f, fmax in ((img_h, vi, vmax), (img_w, hi, hmax))
        )
        return rows * cols, 1, itertools.product((0,), range(rows), range(cols))
    offs = [  # (slot, v, u, vi, hi) of each block of an MCU
        (si, v, u, vi, hi)
        for si, (_cid, hi, vi, _tq) in enumerate(comps[ci] for ci in comp_idx)
        for v in range(vi)
        for u in range(hi)
    ]

    def walk():
        for r in range(mcu_rows):
            yield from [
                (si, r * vi + v, c * hi + u)
                for c in range(mcu_cols)
                for si, v, u, vi, hi in offs
            ]

    return mcu_rows * mcu_cols, len(offs), walk()


def _scan_segments(data, pos, walk, dri):
    """Isolate one scan's entropy bytes (ends at the first marker that
    is neither byte-stuffing nor RSTn), split on restarts, unstuff.
    ``walk`` is what _scan_walk returns. Returns ([(segment, its
    blocks)], end_pos); a restart interval counts the scan's units."""
    m = _SCAN_END.search(data, pos)
    end = m.start() if m else len(data)
    scan_bytes = data[pos:end]
    segments = [
        s.replace(b"\xff\x00", b"\xff") for s in _RST_SPLIT.split(scan_bytes)
    ]
    n_units, per_unit, blocks = walk
    expected = -(-n_units // dri) if dri else 1
    if len(segments) != expected:
        raise ValueError(
            f"restart structure mismatch: {len(segments)} entropy "
            f"segments for {n_units} units at restart interval {dri}"
        )
    # the segments are decoded in order, each taking the next dri units
    seg_blocks = dri * per_unit
    return [
        (seg, itertools.islice(blocks, seg_blocks) if dri else blocks)
        for seg in segments
    ], end


def _decode_sequential_scan(
    data, pos, frame, scan_comps, grids, huff_dc, huff_ac, dri
):
    """One sequential (SOF0/SOF1) scan, interleaved or not, the full
    0..63 band per block, into the shared per-component grids. Returns
    the stream position of the marker ending the scan."""
    slots = []
    for ci, td, ta in scan_comps:
        if td not in huff_dc:
            raise ValueError(f"missing DC Huffman table {td}")
        if ta not in huff_ac:
            raise ValueError(f"missing AC Huffman table {ta}")
        slots.append(
            (*_decode_lut(*huff_dc[td]), *_decode_lut(*huff_ac[ta]), grids[ci])
        )
    walk = _scan_walk(frame, [ci for ci, _td, _ta in scan_comps])
    segments, end = _scan_segments(data, pos, walk, dri)
    for buf, seg_blocks in segments:
        # bit-reader state inlined as locals: the per-symbol
        # peek16/skip/read method calls were ~70% of baseline decode
        # wall (guide §4.2 — per-row python overhead; measured 4.7 ms →
        # 2.1 ms per 64px image after inlining, bit-identical output)
        bend = len(buf)
        i = 0
        acc = 0
        n = 0
        preds = [0] * len(slots)  # restarts reset the DC predictors
        for si, by, bx in seg_blocks:
            dc_sym, dc_len, ac_sym, ac_len, g = slots[si]
            row = g[by, bx]
            # DC
            while n < 16:
                acc = (acc << 8) | (buf[i] if i < bend else 0xFF)
                i += 1
                n += 8
            p = (acc >> (n - 16)) & 0xFFFF
            ln = dc_len[p]
            if ln == 0:
                raise ValueError("invalid DC Huffman code")
            n -= ln
            acc &= (1 << n) - 1
            s = dc_sym[p]
            if s:
                while n < s:
                    acc = (acc << 8) | (buf[i] if i < bend else 0xFF)
                    i += 1
                    n += 8
                n -= s
                v = acc >> n
                acc &= (1 << n) - 1
                preds[si] += v - (1 << s) + 1 if v < (1 << (s - 1)) else v
            row[0] = preds[si]
            # AC
            k = 1
            while k < 64:
                while n < 16:
                    acc = (acc << 8) | (buf[i] if i < bend else 0xFF)
                    i += 1
                    n += 8
                p = (acc >> (n - 16)) & 0xFFFF
                ln = ac_len[p]
                if ln == 0:
                    raise ValueError("invalid AC Huffman code")
                n -= ln
                acc &= (1 << n) - 1
                rs = ac_sym[p]
                s = rs & 15
                if s == 0:
                    if rs == 0xF0:  # ZRL: 16 zeros
                        k += 16
                        continue
                    break  # EOB
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC run past block end")
                while n < s:
                    acc = (acc << 8) | (buf[i] if i < bend else 0xFF)
                    i += 1
                    n += 8
                n -= s
                v = acc >> n
                acc &= (1 << n) - 1
                row[k] = v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                k += 1
    return end


def _reconstruct(frame, grids, qt):
    """Shared decode tail: per-frame-component (bv, bh, 64) int32
    zigzag-order quantized coefficient grids → RGB/gray image. Both the
    baseline and progressive entropy decoders land here, which is what
    makes a fully-refined progressive stream bit-exactly equal to its
    baseline twin."""
    img_h, img_w, comps = frame
    hmax, vmax, _mc, _mr = _mcu_geometry(frame)
    planes = []
    for ci, (_cid, hi, vi, tq) in enumerate(comps):
        if tq not in qt:
            raise ValueError(f"missing quantization table {tq}")
        g = grids[ci]
        # the DQT payload is stored in ZIGZAG order per T.81 (and by our
        # own encoder), and coefs are in zigzag-stream order too — the
        # dequant is element-wise. Indexing the table with ZIGZAG again
        # double-permuted it (review catch: q50 round-trip measured
        # 32.6 dB with the bug vs 37.6 dB fixed)
        dq = g.reshape(-1, 64).astype(np.float64) * qt[tq]  # still zigzag
        nat = np.empty_like(dq)
        nat[:, ZIGZAG] = dq  # dezigzag
        F = nat.reshape(-1, 8, 8)
        # batched matmul == einsum("ux,nuv,vy->nxy") up to FP summation
        # order; ~6x faster (BLAS). Bit-equality of every decoded pixel
        # over the full fixture corpus + all goldens is asserted by the
        # test suite and the driver-side oracle VALUES (any flip would
        # change the committed oracle SQL text, which is hash-pinned)
        blocks = np.matmul(np.matmul(_D.T, F), _D) + 128.0
        blocks = np.clip(np.floor(blocks + 0.5), 0, 255).astype(np.uint8)
        bv, bh = g.shape[:2]
        plane = (
            blocks.reshape(bv, bh, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bv * 8, bh * 8)
        )
        comp_h = -(-img_h * vi // vmax)
        comp_w = -(-img_w * hi // hmax)
        plane = plane[:comp_h, :comp_w]
        if vi != vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        if hi != hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        planes.append(plane[:img_h, :img_w])

    if len(planes) == 1:
        return planes[0][:, :, None].copy()
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


# --- progressive (SOF2) entropy decode -------------------------------------

def _decode_progressive_scan(
    data, pos, frame, scan_comps, band, grids, huff_dc, huff_ac, dri
):
    """Decode one progressive scan (T.81 G.2) into the shared grids;
    returns the stream position of the marker ending the scan. Handles
    interleaved/non-interleaved DC scans (first + refinement) and
    single-component AC scans (spectral bands, successive approximation,
    EOB runs), with restarts resetting predictors and the EOB run."""
    ss, se, ah, al = band
    if ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC (Ss=0, Se>0)")
    if ss > 0 and len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    walk = _scan_walk(frame, [ci for ci, _td, _ta in scan_comps])
    segments, end = _scan_segments(data, pos, walk, dri)

    if ss == 0:  # DC scan (first or refinement), any component count
        luts = []
        for _ci, td, _ta in scan_comps:
            if ah == 0:
                if td not in huff_dc:
                    raise ValueError(f"missing DC Huffman table {td}")
                luts.append(_decode_lut(*huff_dc[td]))
            else:
                luts.append(None)  # refinement reads raw bits only
        gs = [grids[ci] for ci, _td, _ta in scan_comps]
        for buf, seg_blocks in segments:
            # bit-reader state inlined as locals, same idiom (and same
            # past-the-end 0xFF padding) as _decode_sequential_scan —
            # the per-symbol peek16/skip/read method calls dominated
            # progressive decode wall (guide §4.2)
            bend = len(buf)
            i = 0
            acc = 0
            n = 0
            preds = [0] * len(scan_comps)
            for si, by, bx in seg_blocks:
                g = gs[si]
                if ah == 0:
                    dc_sym, dc_len = luts[si]
                    while n < 16:
                        acc = (acc << 8) | (buf[i] if i < bend else 0xFF)
                        i += 1
                        n += 8
                    p = (acc >> (n - 16)) & 0xFFFF
                    ln = dc_len[p]
                    if ln == 0:
                        raise ValueError("invalid DC Huffman code")
                    n -= ln
                    acc &= (1 << n) - 1
                    s = dc_sym[p]
                    if s:
                        while n < s:
                            acc = (acc << 8) | (
                                buf[i] if i < bend else 0xFF
                            )
                            i += 1
                            n += 8
                        n -= s
                        v = acc >> n
                        acc &= (1 << n) - 1
                        preds[si] += (
                            v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                        )
                    g[by, bx, 0] = preds[si] << al
                else:
                    if n < 1:
                        acc = (acc << 8) | (buf[i] if i < bend else 0xFF)
                        i += 1
                        n += 8
                    n -= 1
                    bit = acc >> n
                    acc &= (1 << n) - 1
                    if bit:
                        g[by, bx, 0] |= 1 << al
        return end

    # AC scan: single component
    ci, _td, ta = scan_comps[0]
    if ta not in huff_ac:
        raise ValueError(f"missing AC Huffman table {ta}")
    ac_sym, ac_len = _decode_lut(*huff_ac[ta])
    g = grids[ci]
    p1, n1 = 1 << al, -(1 << al)
    for buf, seg_blocks in segments:
        # same inlined bit-reader idiom as the DC loop above
        bend = len(buf)
        i = 0
        acc = 0
        n = 0
        eobrun = 0
        for _si, by, bx in seg_blocks:
            row = g[by, bx]
            if ah == 0:
                # --- first scan for this band (G.1.2.2) ---
                if eobrun > 0:
                    eobrun -= 1
                else:
                    k = ss
                    while k <= se:
                        while n < 16:
                            acc = (acc << 8) | (buf[i] if i < bend else 0xFF)
                            i += 1
                            n += 8
                        p = (acc >> (n - 16)) & 0xFFFF
                        ln = ac_len[p]
                        if ln == 0:
                            raise ValueError("invalid AC Huffman code")
                        n -= ln
                        acc &= (1 << n) - 1
                        rs = ac_sym[p]
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r < 15:  # EOBn: run of (1<<r)+ext blocks
                                eobrun = (1 << r) - 1
                                if r:
                                    while n < r:
                                        acc = (acc << 8) | (
                                            buf[i] if i < bend else 0xFF
                                        )
                                        i += 1
                                        n += 8
                                    n -= r
                                    eobrun += acc >> n
                                    acc &= (1 << n) - 1
                                break
                            k += 16  # ZRL
                        else:
                            k += r
                            if k > se:
                                raise ValueError("AC run past band end")
                            while n < s:
                                acc = (acc << 8) | (
                                    buf[i] if i < bend else 0xFF
                                )
                                i += 1
                                n += 8
                            n -= s
                            v = acc >> n
                            acc &= (1 << n) - 1
                            row[k] = (
                                v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                            ) * p1
                            k += 1
            else:
                # --- refinement scan (G.1.2.3): correction bits on
                # nonzero-history coefficients, ±1<<Al on newly
                # significant ones ---
                k = ss
                if eobrun == 0:
                    while k <= se:
                        while n < 16:
                            acc = (acc << 8) | (buf[i] if i < bend else 0xFF)
                            i += 1
                            n += 8
                        p = (acc >> (n - 16)) & 0xFFFF
                        ln = ac_len[p]
                        if ln == 0:
                            raise ValueError("invalid AC Huffman code")
                        n -= ln
                        acc &= (1 << n) - 1
                        rs = ac_sym[p]
                        r, s = rs >> 4, rs & 15
                        val = 0
                        if s == 0:
                            if r < 15:
                                eobrun = 1 << r
                                if r:
                                    while n < r:
                                        acc = (acc << 8) | (
                                            buf[i] if i < bend else 0xFF
                                        )
                                        i += 1
                                        n += 8
                                    n -= r
                                    eobrun += acc >> n
                                    acc &= (1 << n) - 1
                                break
                            # r == 15 → ZRL: pass 16 zero-history coeffs
                        elif s == 1:
                            if n < 1:
                                acc = (acc << 8) | (
                                    buf[i] if i < bend else 0xFF
                                )
                                i += 1
                                n += 8
                            n -= 1
                            val = p1 if acc >> n else n1
                            acc &= (1 << n) - 1
                        else:
                            raise ValueError(
                                "invalid refinement magnitude category"
                            )
                        while k <= se:
                            rv = int(row[k])
                            if rv != 0:
                                if n < 1:
                                    acc = (acc << 8) | (
                                        buf[i] if i < bend else 0xFF
                                    )
                                    i += 1
                                    n += 8
                                n -= 1
                                bit = acc >> n
                                acc &= (1 << n) - 1
                                if bit and (rv & p1) == 0:
                                    row[k] = rv + (p1 if rv >= 0 else n1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            row[k] = val
                        k += 1
                if eobrun > 0:
                    # EOB-run tail: correction bits only, rest of band
                    while k <= se:
                        rv = int(row[k])
                        if rv != 0:
                            if n < 1:
                                acc = (acc << 8) | (
                                    buf[i] if i < bend else 0xFF
                                )
                                i += 1
                                n += 8
                            n -= 1
                            bit = acc >> n
                            acc &= (1 << n) - 1
                            if bit and (rv & p1) == 0:
                                row[k] = rv + (p1 if rv >= 0 else n1)
                        k += 1
                    eobrun -= 1
    return end


# --- encoder ----------------------------------------------------------------

def _scaled_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality→scale mapping over the Annex K tables."""
    quality = max(1, min(100, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _to_ycbcr(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = img[:, :, 0].astype(np.float64)
    g = img[:, :, 1].astype(np.float64)
    b = img[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def _subsample(plane: np.ndarray, fy: int, fx: int) -> np.ndarray:
    """Box-mean downsample by (fy, fx) with edge replication to even
    multiples first."""
    if fy == 1 and fx == 1:
        return plane
    h, w = plane.shape
    ph = -(-h // fy) * fy
    pw = -(-w // fx) * fx
    if ph != h or pw != w:
        plane = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return plane.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))


def _encode_front(img: np.ndarray, quality: int, subsampling: str):
    """Front-end shared by both encoders: validation, YCbCr conversion
    and 4:2:0 subsampling, then FDCT + quantize. Returns (frame, qtabs,
    grids): the frame as decode_jpeg parses it, (h, w, [(comp_id, hi,
    vi, tq)]), where tq also selects the component's Huffman tables;
    the quality-scaled tables (luma[, chroma]); and per-component
    [by][bx][64] zigzag coefficient grids (nested lists of ints) over
    the MCU-padded block grid (edge-replicated padding)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c not in (1, 3, 4):
        raise ValueError(f"unsupported channel count {c}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be 444 or 420, got {subsampling!r}")
    qtabs = [_scaled_qtable(QT_LUMA, quality)]
    if c == 1:
        planes = [img[:, :, 0].astype(np.float64)]
        factors = [(1, 1)]  # (hi, vi)
    else:
        qtabs.append(_scaled_qtable(QT_CHROMA, quality))
        y, cb, cr = _to_ycbcr(img)
        if subsampling == "420":
            factors = [(2, 2), (1, 1), (1, 1)]
            planes = [y, _subsample(cb, 2, 2), _subsample(cr, 2, 2)]
        else:
            factors = [(1, 1)] * 3
            planes = [y, cb, cr]
    # component ids 1.., table class 0 for luma and 1 for chroma
    comps = [(i + 1, hi, vi, min(i, 1)) for i, (hi, vi) in enumerate(factors)]
    frame = (h, w, comps)
    _hm, _vm, mcu_cols, mcu_rows = _mcu_geometry(frame)
    grids = []
    for plane, (_cid, hi, vi, tq) in zip(planes, comps):
        bv, bh = mcu_rows * vi, mcu_cols * hi
        ph, pw = plane.shape
        if (ph, pw) != (8 * bv, 8 * bh):
            plane = np.pad(plane, ((0, 8 * bv - ph), (0, 8 * bh - pw)), "edge")
        blocks = (
            plane.reshape(bv, 8, bh, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
            - 128.0
        )
        F = np.matmul(np.matmul(_D, blocks), _D.T)
        qn = F.reshape(-1, 64)[:, ZIGZAG] / qtabs[tq][ZIGZAG]
        q = np.where(qn >= 0, np.floor(qn + 0.5), -np.floor(-qn + 0.5))
        grids.append(q.astype(np.int64).reshape(bv, bh, 64).tolist())
    return frame, qtabs, grids


def _jfif_header(frame, qtabs, sof: int, restart_interval: int) -> bytearray:
    """SOI, JFIF APP0, DQT, SOFn, the Annex K Huffman tables and DRI —
    the header both encoders write. A progressive frame (SOF2) gets the
    DC tables only: each of its AC scans carries its own table."""
    h, w, comps = frame
    out = bytearray(b"\xff\xd8")
    out += _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, qtab in enumerate(qtabs):
        zz = qtab[ZIGZAG].astype(np.uint8).tobytes()
        out += _segment(0xDB, bytes([tq]) + zz)
    sof_body = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hi, vi, tq in comps:
        sof_body += bytes([cid, hi << 4 | vi, tq])
    out += _segment(sof, sof_body)
    for th in range(len(qtabs)):
        out += _dht_segment(0, th, _HUFF_DC[th])
        if sof == 0xC0:
            out += _dht_segment(1, th, _HUFF_AC[th])
    if restart_interval:
        out += _segment(0xDD, struct.pack(">H", restart_interval))
    return out


def _emit_block(bw, row, pred: int, dc_map, ac_map) -> int:
    """Entropy-code one zigzag block (DC diff + AC RLE); returns the new
    DC predictor."""
    diff = row[0] - pred
    pred = row[0]
    s = abs(diff).bit_length()
    mag = diff + (1 << s) - 1 if diff < 0 else diff
    code, ln = dc_map[s]
    bw.write(code, ln)
    if s:
        bw.write(mag, s)
    run = 0
    for v in row[1:]:
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_map[0xF0]
            bw.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        mag = v + (1 << s) - 1 if v < 0 else v
        code, ln = ac_map[run << 4 | s]
        bw.write(code, ln)
        bw.write(mag, s)
        run = 0
    if run:
        code, ln = ac_map[0x00]
        bw.write(code, ln)
    return pred


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
    multi_scan: bool = False,
) -> bytes:
    """(h, w[, c]) uint8 → baseline JFIF bytes. c ∈ {1 gray, 3 RGB,
    4 RGBA (alpha dropped — JPEG has no alpha)}. ``subsampling``:
    "444" (no chroma subsampling) or "420" (2×2 box mean).
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs (exercises the decoder's restart path and is what a robust
    encoder does for error resilience on large images).
    ``multi_scan`` emits one NON-interleaved SOS per component (T.81
    multi-scan sequential — the same quantized coefficients, so the
    decode is bit-exactly equal to the single-scan encoding)."""
    frame, qtabs, grids = _encode_front(img, quality, subsampling)
    comps = frame[2]
    out = _jfif_header(frame, qtabs, 0xC0, restart_interval)
    dc_maps = [_encode_map(*t) for t in _HUFF_DC]
    ac_maps = [_encode_map(*t) for t in _HUFF_AC]
    every = list(range(len(comps)))
    # one interleaved scan, or one non-interleaved scan per component
    # (its raster skips the MCU padding blocks, and its restart
    # interval counts blocks: T.81's MCU of a one-component scan)
    for comp_idx in [[ci] for ci in every] if multi_scan else [every]:
        sos = bytes([len(comp_idx)])
        slots = []
        for ci in comp_idx:
            tq = comps[ci][3]
            sos += bytes([ci + 1, tq << 4 | tq])
            slots.append((grids[ci], dc_maps[tq], ac_maps[tq]))
        out += _segment(0xDA, sos + b"\x00\x3f\x00")
        _n, per_unit, blocks = _scan_walk(frame, comp_idx)
        rst_blocks = restart_interval * per_unit
        bw = _BitWriter()
        preds = [0] * len(slots)
        rst = 0
        for b, (si, by, bx) in enumerate(blocks):
            if rst_blocks and b and b % rst_blocks == 0:
                bw.drain(out)
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                preds = [0] * len(slots)
            g, dc_map, ac_map = slots[si]
            preds[si] = _emit_block(bw, g[by][bx], preds[si], dc_map, ac_map)
        bw.drain(out)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- progressive encoder ----------------------------------------------------
#
# Scan scripts are (comp_indices, Ss, Se, Ah, Al) tuples, libjpeg-style
# defaults: an interleaved DC first scan at Al=1, spectral AC bands with
# successive approximation, then the refinement passes that complete
# every coefficient to full precision (so the default script decodes
# bit-exactly equal to the baseline encoding of the same coefficients).

_PROG_SCRIPT_COLOR = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((1,), 1, 63, 0, 1),
    ((2,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]
_PROG_SCRIPT_GRAY = [
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
]


_HUFF_DUMMY = 256  # outside the 8-bit JPEG symbol space


def _build_huffman(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """Frequency-optimized canonical (BITS, HUFFVAL). Progressive scans
    need EOBn symbols (0x10..0xE0) that the Annex K baseline tables lack,
    so each AC scan ships its own table — standard practice (libjpeg
    always optimizes progressive tables). Plain Huffman over the counts;
    if a pathological distribution exceeds JPEG's 16-bit code limit,
    fall back to a flat fixed-length code (valid, just less tight).

    Mirrors libjpeg's jpeg_gen_optimal_table trick: a dummy 257th symbol
    at frequency 1 joins the build and is dropped after length
    assignment. It is popped FIRST (tie index -1), so it sits in the
    first merged pair — which lands at maximum depth of the final tree —
    and, being the largest symbol value, it takes the numerically-last
    canonical code there: the all-ones codeword. Dropping it guarantees
    no real symbol owns the all-ones code, so the 1-bit padding at
    entropy-segment ends can never decode as a valid symbol (T.81
    Annex K practice)."""
    import heapq

    syms = sorted(freqs)
    if not syms:
        raise ValueError("empty symbol alphabet")
    work = dict(freqs)
    work[_HUFF_DUMMY] = 1
    heap = [(1, -1, (_HUFF_DUMMY,))] + [
        (f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))
    ]
    heapq.heapify(heap)
    depth = dict.fromkeys(work, 0)
    tie = len(heap)
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, tie, g1 + g2))
        tie += 1
    if max(depth.values()) > 16:
        flat = max(1, (len(work) - 1).bit_length())
        depth = dict.fromkeys(work, flat)
    # canonical order: the dummy is last (max depth, largest symbol), so
    # removing it drops only the final — all-ones — codeword
    order = sorted(work, key=lambda s: (depth[s], s))
    assert order[-1] == _HUFF_DUMMY
    bits = [0] * 16
    for s in syms:
        bits[depth[s] - 1] += 1
    return bits, order[:-1]


class _EobState:
    """Pending EOB run + the buffered correction bits that belong to it
    (refinement scans interleave correction bits INTO the run: the
    decoder reads them back as it walks the run's blocks)."""

    __slots__ = ("run", "bits")

    def __init__(self):
        self.run = 0
        self.bits: list[int] = []

    def flush(self, out: list) -> None:
        if self.run == 0:
            return
        r = self.run.bit_length() - 1
        out.append(("sym", r << 4))
        if r:
            out.append(("bits", self.run - (1 << r), r))
        for b in self.bits:
            out.append(("bits", b, 1))
        self.run = 0
        self.bits = []


def _tokens_ac_first(row, ss, se, al, out, eob):
    """One block of an AC first scan (T.81 G.1.2.2) → tokens. The point
    transform for AC is magnitude shift (truncate toward zero)."""
    vals = []
    for v in row[ss : se + 1]:
        t = abs(v) >> al
        vals.append(-t if v < 0 else t)
    if not any(vals):
        eob.run += 1
        if eob.run == 32767:
            eob.flush(out)
        return
    eob.flush(out)
    run = 0
    for v in vals:
        if v == 0:
            run += 1
            continue
        while run > 15:
            out.append(("sym", 0xF0))
            run -= 16
        s = abs(v).bit_length()
        mag = v + (1 << s) - 1 if v < 0 else v
        out.append(("sym", run << 4 | s))
        out.append(("bits", mag, s))
        run = 0
    if run:  # trailing zeros end the block in an EOB
        eob.run += 1
        if eob.run == 32767:
            eob.flush(out)


def _tokens_ac_refine(row, ss, se, al, out, eob):
    """One block of an AC refinement scan (G.1.2.3) → tokens, emitted
    by mirroring the decoder's walk exactly: ZRLs pass 16 zero-history
    positions, correction bits for nonzero-history positions follow the
    symbol that passes them, sign bit precedes them."""
    a = [abs(v) >> al for v in row[ss : se + 1]]
    sig = [i for i, t in enumerate(a) if t == 1]  # newly significant
    if not sig:
        eob.run += 1
        eob.bits.extend(t & 1 for t in a if t > 1)
        if eob.run == 32767:
            eob.flush(out)
        return
    eob.flush(out)
    i = 0  # walk position (band-relative)
    for sp in sig:
        r = sum(1 for j in range(i, sp) if a[j] == 0)
        while r > 15:
            out.append(("sym", 0xF0))
            passed = 0
            while passed < 16:
                if a[i] > 1:
                    out.append(("bits", a[i] & 1, 1))
                else:  # zero-history (a[i]==0: no 1s before sp)
                    passed += 1
                i += 1
            r -= 16
        out.append(("sym", r << 4 | 1))
        out.append(("bits", 1 if row[ss + sp] > 0 else 0, 1))
        while i < sp:
            if a[i] > 1:
                out.append(("bits", a[i] & 1, 1))
            i += 1
        i = sp + 1
    if i < len(a):  # tail after the last newly-significant coefficient
        eob.run += 1
        eob.bits.extend(t & 1 for t in a[i:] if t > 1)
        if eob.run == 32767:
            eob.flush(out)



def encode_progressive_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    scans: list[tuple] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """(h, w[, c]) uint8 → progressive (SOF2) JFIF bytes. The default
    scan script fully refines every coefficient, so the output decodes
    BIT-EXACTLY equal to `decode_jpeg(encode_jpeg(img, quality,
    subsampling))` — pinned by tests. Pass a custom ``scans`` list of
    (comp_indices, Ss, Se, Ah, Al) to emit a prefix (preview) stream.
    DC scans use the Annex K DC tables; each AC scan carries its own
    frequency-optimized table (progressive EOBn symbols aren't in the
    Annex K AC tables)."""
    frame, qtabs, grids = _encode_front(img, quality, subsampling)
    comps = frame[2]
    if scans is None:
        scans = _PROG_SCRIPT_GRAY if len(comps) == 1 else _PROG_SCRIPT_COLOR
    out = _jfif_header(frame, qtabs, 0xC2, restart_interval)
    dc_maps = [_encode_map(*t) for t in _HUFF_DC]

    for comp_idx, ss, se, ah, al in scans:
        if ss == 0 and se != 0:
            raise ValueError("scan mixes DC and AC")
        if ss > 0 and len(comp_idx) != 1:
            raise ValueError("AC scan must be single-component")
        _n, per_unit, blocks = _scan_walk(frame, comp_idx)
        rst_blocks = restart_interval * per_unit

        # token pass: ("sym", symbol) / ("sym2", class, symbol) for DC /
        # ("bits", value, n) / ("rst",)
        toks: list = []
        if ss == 0:
            preds = [0] * len(comp_idx)
            for b, (si, by, bx) in enumerate(blocks):
                if rst_blocks and b and b % rst_blocks == 0:
                    toks.append(("rst",))
                    preds = [0] * len(comp_idx)
                ci = comp_idx[si]
                v = grids[ci][by][bx][0]
                if ah == 0:
                    t = v >> al  # DC point transform: arithmetic
                    diff = t - preds[si]
                    preds[si] = t
                    s = abs(diff).bit_length()
                    mag = diff + (1 << s) - 1 if diff < 0 else diff
                    toks.append(("sym2", comps[ci][3], s))
                    if s:
                        toks.append(("bits", mag, s))
                else:
                    toks.append(("bits", (v >> al) & 1, 1))
        else:
            g = grids[comp_idx[0]]
            eob = _EobState()
            block_fn = _tokens_ac_first if ah == 0 else _tokens_ac_refine
            for b, (_si, by, bx) in enumerate(blocks):
                if rst_blocks and b and b % rst_blocks == 0:
                    eob.flush(toks)
                    toks.append(("rst",))
                block_fn(g[by][bx], ss, se, al, toks, eob)
            eob.flush(toks)

        # table pass (AC scans carry a scan-local optimized table)
        if ss > 0:
            freqs: dict[int, int] = {}
            for t in toks:
                if t[0] == "sym":
                    freqs[t[1]] = freqs.get(t[1], 0) + 1
            tbl = _build_huffman(freqs) if freqs else ([1] + [0] * 15, [0])
            out += _dht_segment(1, 0, tbl)
            ac_map = _encode_map(*tbl)
        else:
            ac_map = None

        sos = bytes([len(comp_idx)])
        for ci in comp_idx:
            td = comps[ci][3] if ss == 0 and ah == 0 else 0
            sos += bytes([ci + 1, td << 4])  # AC table 0: the scan's own
        out += _segment(0xDA, sos + bytes([ss, se, ah << 4 | al]))

        bw = _BitWriter()
        rst = 0
        for t in toks:
            if t[0] == "rst":
                bw.drain(out)
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
            elif t[0] == "sym":
                code, ln = ac_map[t[1]]
                bw.write(code, ln)
            elif t[0] == "sym2":
                code, ln = dc_maps[t[1]][t[2]]
                bw.write(code, ln)
            else:
                bw.write(t[1], t[2])
        bw.drain(out)

    out += b"\xff\xd9"
    return bytes(out)
