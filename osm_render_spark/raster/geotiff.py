"""GeoTIFF codec — from-scratch classic-TIFF 6.0 reader/writer with the
GeoTIFF georeferencing tags, no image library.

Role in the engine: the geospatial raster SOURCE the reference's slippy
pipeline implies but delegates to system decoders (S8 delegate decode,
OsmRender.m:101-135 loads pre-rendered rasters through a library; the
survey scopes raster IO as engine-owned here).  A GeoTIFF is the
interchange format for elevation/land-cover grids; this module turns one
into the engine's tile rows so terrain derivatives (raster/terrain.py)
and the existing tile-pyramid/PNG sinks can run distributed over it.

Implemented from the public specs only (Adobe TIFF 6.0, 1992; OGC
GeoTIFF 1.1):

- classic TIFF (both byte orders), single IFD, chunky planar config
- strip AND tile organization, padded edge segments per spec
- compression: 1 none, 5 LZW (the core shared with GIF, raster/lzw.py,
  with TIFF's MSB-first bits and early code-width change), 8 Deflate
  (zlib), 32773 PackBits
- predictor 2 (horizontal differencing) on integer samples
- samples: gray u8/u16/i16/u32/i32/f32/f64 and RGB u8
- geo tags: ModelPixelScale (33550), ModelTiepoint (33922),
  GeoKeyDirectory (34735) — geographic CRS key only

The header/IFD walk (also behind raster/exif.py) and the segment
decoder (also behind sources/geotiff_source.py) read through
``read(offset, n)``.  Malformed headers and cut, corrupt or overlong
segments raise ``ValueError``, never decode to zero-padded pixels.

The writer emits everything the reader accepts, so tests round-trip
real files (and hand-crafted adversarial streams decode against
in-test textbook references, the JPEG/FLAC/LZ4/zstd discipline).

Scale note: decode is whole-array numpy per segment inside Arrow
batches; the parallel unit is the file/segment row, never the pixel.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from . import lzw

# TIFF tag ids (public spec numbering)
T_WIDTH = 256
T_LENGTH = 257
T_BITS = 258
T_COMPRESSION = 259
T_PHOTOMETRIC = 262
T_STRIP_OFFSETS = 273
T_SAMPLES = 277
T_ROWS_PER_STRIP = 278
T_STRIP_COUNTS = 279
T_PLANAR = 284
T_PREDICTOR = 317
T_TILE_W = 322
T_TILE_H = 323
T_TILE_OFFSETS = 324
T_TILE_COUNTS = 325
T_SAMPLE_FMT = 339
T_PIXEL_SCALE = 33550
T_TIEPOINT = 33922
T_GEO_KEYS = 34735

# TIFF's constants for the shared LZW core: MSB-first codes, early
# code-width change (TIFF 6.0 p.61)
_LZW = dict(msb_first=True, early_change=True)

# field type -> (struct char, byte size); rationals handled specially
_TYPES = {
    1: ("B", 1),   # BYTE
    2: ("c", 1),   # ASCII
    3: ("H", 2),   # SHORT
    4: ("I", 4),   # LONG
    5: (None, 8),  # RATIONAL
    6: ("b", 1),   # SBYTE
    8: ("h", 2),   # SSHORT
    9: ("i", 4),   # SLONG
    10: (None, 8),  # SRATIONAL
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
}


@dataclass(frozen=True)
class GeoRef:
    """Affine georeference from ModelTiepoint + ModelPixelScale:
    lon(px) = origin_lon + px*scale_x ; lat(py) = origin_lat - py*scale_y
    (tiepoint normalized to pixel (0,0) at parse time)."""

    origin_lon: float
    origin_lat: float
    scale_x: float
    scale_y: float
    crs: str = "EPSG:4326"

    def to_lonlat(self, px: float, py: float) -> tuple[float, float]:
        return (self.origin_lon + px * self.scale_x,
                self.origin_lat - py * self.scale_y)

    def bbox(self, w: int, h: int) -> tuple[float, float, float, float]:
        """(min_lon, min_lat, max_lon, max_lat) of the pixel grid."""
        lon1, lat0 = self.to_lonlat(w, h)
        lon0, lat1 = self.to_lonlat(0, 0)
        return (lon0, lat0, lon1, lat1)


# ----------------------------------------------------------- PackBits

def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n and len(out) < expected:
        h = data[pos]
        pos += 1
        if h < 128:
            out += data[pos : pos + h + 1]
            pos += h + 1
        elif h > 128:
            out += bytes([data[pos]]) * (257 - h)
            pos += 1
        # 128 = no-op per spec
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 2:
            out += bytes([257 - (j - i), data[i]])
            i = j
        else:
            # literal run until next >=3 repeat or 128 cap
            j = i + 1
            while j < n and j - i < 128:
                if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                    break
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    return bytes(out)


# ------------------------------------------------------------- reader
# ``read(offset, n) -> bytes`` returns short at the end of the data.


def tiff_header(read: Callable[[int, int], bytes]) -> tuple[str, int]:
    """Classic TIFF header → (struct byte order ``'<'``/``'>'``, offset
    of the first IFD)."""
    head = read(0, 8)
    bo = {b"II": "<", b"MM": ">"}.get(head[:2])
    if bo is None:
        raise ValueError("not a TIFF: bad byte-order mark")
    if len(head) < 8:
        raise ValueError("truncated TIFF header")
    magic, ifd_off = struct.unpack_from(bo + "HI", head, 2)
    if magic == 43:
        raise NotImplementedError("BigTIFF (magic 43) not supported")
    if magic != 42:
        raise ValueError(f"not a TIFF: magic {magic}")
    return bo, ifd_off


def tiff_ifd(
    read: Callable[[int, int], bytes], bo: str, off: int
) -> tuple[list[tuple[int, int, int, bytes]], int]:
    """One IFD → ([(tag, type, count, value bytes)], next IFD offset),
    bounds-checked (``ValueError``).  Unknown types count 1 byte per
    value, so their bytes still round-trip."""
    head = read(off, 2)
    if len(head) < 2:
        raise ValueError("IFD offset out of bounds")
    (n,) = struct.unpack(bo + "H", head)
    table = read(off + 2, 12 * n + 4)
    if len(table) < 12 * n + 4:
        raise ValueError("IFD entry table out of bounds")
    entries = []
    for e in range(0, 12 * n, 12):
        tag, ftype, count = struct.unpack_from(bo + "HHI", table, e)
        size = _TYPES.get(ftype, (None, 1))[1] * count
        if size <= 4:
            raw = table[e + 8 : e + 8 + size]
        else:
            (voff,) = struct.unpack_from(bo + "I", table, e + 8)
            raw = read(voff, size)
            if len(raw) < size:
                raise ValueError(f"tag {tag}: value offset out of bounds")
        entries.append((tag, ftype, count, raw))
    (nxt,) = struct.unpack_from(bo + "I", table, 12 * n)
    return entries, nxt


def _tag_values(bo: str, ftype: int, count: int, raw: bytes) -> list:
    if ftype in (5, 10):  # (S)RATIONAL
        ich = "i" if ftype == 10 else "I"
        pairs = struct.unpack(bo + str(2 * count) + ich, raw)
        return [num / den if den else 0.0
                for num, den in zip(pairs[::2], pairs[1::2])]
    if ftype == 2:
        return [raw.split(b"\0")[0].decode("ascii", "replace")]
    return list(struct.unpack(bo + str(count) + _TYPES[ftype][0], raw))


@dataclass(frozen=True)
class TiffLayout:
    """Pixel layout of a TIFF image: everything :func:`decode_segment`
    needs, as plain values (the GeoTIFF source ships them as columns)."""

    w: int
    h: int
    seg_w: int
    seg_h: int
    tiled: bool
    comp: int
    pred: int
    bits: int
    fmt: int
    bo: str  # '<' | '>'
    spp: int


def read_tiff(
    read: Callable[[int, int], bytes],
) -> tuple[TiffLayout, list[tuple[int, int]], dict[int, list]]:
    """Header and first IFD → (layout, [(offset, length)] per segment,
    {tag: values}).  Reads no pixel byte."""
    bo, ifd_off = tiff_header(read)
    entries, _next = tiff_ifd(read, bo, ifd_off)
    tags = {tag: _tag_values(bo, ftype, count, raw)
            for tag, ftype, count, raw in entries if ftype in _TYPES}

    def first(tag: int, default: int | None = None) -> int:
        if tag not in tags and default is None:
            raise ValueError(f"TIFF tag {tag} missing")
        return int(tags.get(tag, [default])[0])

    tiled = T_TILE_OFFSETS in tags
    w, h = first(T_WIDTH), first(T_LENGTH)
    if tiled:
        seg_w, seg_h = first(T_TILE_W), first(T_TILE_H)
        offsets, counts = tags[T_TILE_OFFSETS], tags.get(T_TILE_COUNTS, [])
    else:
        seg_w, seg_h = w, first(T_ROWS_PER_STRIP, h)
        offsets = tags.get(T_STRIP_OFFSETS, [])
        counts = tags.get(T_STRIP_COUNTS, [])
    if len(set(tags.get(T_BITS, [8]))) != 1:
        raise NotImplementedError("heterogeneous BitsPerSample")
    if first(T_PLANAR, 1) != 1:
        raise NotImplementedError("planar (non-chunky) TIFF")
    lay = TiffLayout(w, h, seg_w, seg_h, tiled, first(T_COMPRESSION, 1),
                     first(T_PREDICTOR, 1), first(T_BITS, 8),
                     first(T_SAMPLE_FMT, 1), bo, first(T_SAMPLES, 1))
    if lay.spp not in (1, 3):
        raise NotImplementedError(f"SamplesPerPixel {lay.spp}")
    _dtype_for(lay.bits, lay.fmt, bo)  # unsupported sample types fail here
    n_seg = -(-h // max(seg_h, 1)) * (-(-w // max(seg_w, 1)) if tiled else 1)
    if min(w, h, seg_w, seg_h) <= 0 or not len(offsets) == len(counts) == n_seg:
        raise ValueError(
            f"TIFF {w}x{h} in {seg_w}x{seg_h} segments lists "
            f"{len(offsets)} offsets and {len(counts)} byte counts"
        )
    return lay, [(int(o), int(c)) for o, c in zip(offsets, counts)], tags


def _dtype_for(bits: int, fmt: int, bo: str) -> np.dtype:
    e = "<" if bo == "<" else ">"
    if fmt == 3:
        if bits == 32:
            return np.dtype(e + "f4")
        if bits == 64:
            return np.dtype(e + "f8")
        raise ValueError(f"float samples must be 32/64-bit, got {bits}")
    kind = "i" if fmt == 2 else "u"
    if bits not in (8, 16, 32):
        raise ValueError(f"unsupported BitsPerSample {bits}")
    return np.dtype(e + kind + str(bits // 8))


def decode_segment(
    read: Callable[[int, int], bytes], lay: TiffLayout, idx: int,
    off: int, length: int,
) -> tuple[np.ndarray, int, int]:
    """Decode strip/tile ``idx`` stored at ``[off, off + length)`` →
    (pixels [rows, cols, spp] clipped to the image, x0, y0).  A byte
    range past the end of the data, a corrupt stream, or a segment that
    decodes to fewer bytes than its layout needs raises ``ValueError``."""
    if lay.tiled:  # tiles are stored padded to full size
        across = -(-lay.w // lay.seg_w)
        x0, y0 = (idx % across) * lay.seg_w, (idx // across) * lay.seg_h
        seg_h = lay.seg_h
    else:  # the last strip holds only the remaining rows
        x0, y0 = 0, idx * lay.seg_h
        seg_h = min(lay.seg_h, lay.h - y0)
    raw = read(off, length)
    if len(raw) < length:
        raise ValueError(f"segment {idx}: bytes [{off}, {off + length}) "
                         "run past the end of the data")
    dt = _dtype_for(lay.bits, lay.fmt, lay.bo)
    expected = lay.seg_w * seg_h * lay.spp * dt.itemsize
    try:
        if lay.comp == 1:
            plain = raw
        elif lay.comp == 5:
            plain = lzw.decode(raw, expected, 8, **_LZW)
        elif lay.comp in (8, 32946):
            plain = zlib.decompress(raw)
        elif lay.comp == 32773:
            plain = packbits_decode(raw, expected)
        else:
            raise NotImplementedError(f"TIFF compression {lay.comp}")
        if len(plain) < expected:
            raise ValueError(f"decoded {len(plain)} of {expected} bytes")
    except (ValueError, zlib.error) as e:
        raise ValueError(f"segment {idx}: {e}") from e
    seg = np.frombuffer(plain[:expected], dt).reshape(seg_h, lay.seg_w, lay.spp)
    if lay.pred == 2:
        seg = np.cumsum(seg.astype(np.int64), axis=1, dtype=np.int64)
        seg = seg.astype(dt)  # wraparound per spec
    return seg[: lay.h - y0, : lay.w - x0], x0, y0


def decode_geotiff(data: bytes) -> tuple[np.ndarray, GeoRef | None]:
    """Parse a classic TIFF; returns (array[h,w] or [h,w,3], georef).
    Georef is None when the geo tags are absent (plain TIFF)."""

    def read(off: int, n: int) -> bytes:
        return data[off : off + n]

    lay, segments, tags = read_tiff(read)
    img = np.zeros(
        (lay.h, lay.w, lay.spp),
        dtype=_dtype_for(lay.bits, lay.fmt, lay.bo).newbyteorder("="),
    )
    for idx, (off, length) in enumerate(segments):
        seg, x0, y0 = decode_segment(read, lay, idx, off, length)
        img[y0 : y0 + seg.shape[0], x0 : x0 + seg.shape[1]] = seg
    georef = None
    if T_TIEPOINT in tags and T_PIXEL_SCALE in tags:
        tp = tags[T_TIEPOINT]
        sx, sy = float(tags[T_PIXEL_SCALE][0]), float(tags[T_PIXEL_SCALE][1])
        ix, iy, lon, lat = float(tp[0]), float(tp[1]), float(tp[3]), float(tp[4])
        crs = "EPSG:4326"
        gk = tags.get(T_GEO_KEYS)
        if gk:
            # GeoKeyDirectory: header of 4 shorts then 4-short key entries;
            # key 3072 ProjectedCSType / 2048 GeographicType carry the EPSG
            for k in range(4, len(gk) - 3, 4):
                if gk[k] in (2048, 3072) and gk[k + 1] == 0:
                    crs = f"EPSG:{int(gk[k + 3])}"
        georef = GeoRef(lon - ix * sx, lat + iy * sy, sx, sy, crs)
    return (img[:, :, 0] if lay.spp == 1 else img), georef


# ------------------------------------------------------------- writer

def encode_geotiff(
    img: np.ndarray,
    *,
    georef: GeoRef | None = None,
    compression: str = "deflate",
    tile: tuple[int, int] | None = None,
    rows_per_strip: int = 64,
    predictor: int = 1,
) -> bytes:
    """Write a classic little-endian (Geo)TIFF the reader round-trips.
    compression: none | deflate | lzw | packbits.  tile=(tw,th) emits a
    tiled layout (multiples of 16 per spec), else strips."""
    if img.ndim == 2:
        arr = img[:, :, None]
    elif img.ndim == 3 and img.shape[2] == 3:
        arr = img
    else:
        raise ValueError("image must be [h,w] or [h,w,3]")
    h, w, spp = arr.shape
    dt = arr.dtype
    if dt.kind == "f":
        fmt, bits = 3, dt.itemsize * 8
    elif dt.kind == "i":
        fmt, bits = 2, dt.itemsize * 8
    elif dt.kind == "u":
        fmt, bits = 1, dt.itemsize * 8
    else:
        raise ValueError(f"unsupported dtype {dt}")
    if predictor == 2 and fmt == 3:
        raise ValueError("predictor 2 is integer-only")
    arr = np.ascontiguousarray(arr, dtype=dt.newbyteorder("<"))

    comp_id = {"none": 1, "deflate": 8, "lzw": 5, "packbits": 32773}[compression]

    # split into segments (padded at right/bottom edges for tiles)
    segs: list[np.ndarray] = []
    if tile is not None:
        tw, th = tile
        if tw % 16 or th % 16:
            raise ValueError("tile dims must be multiples of 16")
        for y0 in range(0, h, th):
            for x0 in range(0, w, tw):
                seg = np.zeros((th, tw, spp), dtype=arr.dtype)
                blk = arr[y0 : y0 + th, x0 : x0 + tw]
                seg[: blk.shape[0], : blk.shape[1]] = blk
                segs.append(seg)
    else:
        for y0 in range(0, h, rows_per_strip):
            segs.append(arr[y0 : y0 + rows_per_strip])

    payloads: list[bytes] = []
    for seg in segs:
        if predictor == 2:
            s64 = seg.astype(np.int64)
            s64[:, 1:] -= s64[:, :-1].copy()
            seg = s64.astype(arr.dtype)
        raw = seg.tobytes()
        if comp_id == 1:
            payloads.append(raw)
        elif comp_id == 8:
            payloads.append(zlib.compress(raw, 6))
        elif comp_id == 5:
            payloads.append(lzw.encode(raw, 8, **_LZW))
        else:
            payloads.append(packbits_encode(raw))

    # data section first (offset 8), IFD after
    data = bytearray()
    seg_offsets: list[int] = []
    for p in payloads:
        seg_offsets.append(8 + len(data))
        data += p
        if len(data) & 1:
            data += b"\0"

    entries: list[tuple[int, int, int, bytes | int]] = []  # tag,type,count,val
    extra = bytearray()  # out-of-line values, placed after the IFD

    def add(tag: int, ftype: int, values: list) -> None:
        ch, size = _TYPES[ftype]
        n = len(values)
        if ftype == 12:
            packed = struct.pack("<" + "d" * n, *values)
        else:
            packed = struct.pack("<" + str(n) + ch, *values)
        if len(packed) <= 4:
            entries.append((tag, ftype, n, packed.ljust(4, b"\0")))
        else:
            entries.append((tag, ftype, n, len(extra)))  # patched later
            extra.extend(packed)
            if len(extra) & 1:
                extra.append(0)

    add(T_WIDTH, 4, [w])
    add(T_LENGTH, 4, [h])
    add(T_BITS, 3, [bits] * spp)
    add(T_COMPRESSION, 3, [comp_id])
    add(T_PHOTOMETRIC, 3, [2 if spp == 3 else 1])
    if tile is not None:
        add(T_TILE_W, 3, [tile[0]])
        add(T_TILE_H, 3, [tile[1]])
        add(T_TILE_OFFSETS, 4, seg_offsets)
        add(T_TILE_COUNTS, 4, [len(p) for p in payloads])
    else:
        add(T_STRIP_OFFSETS, 4, seg_offsets)
        add(T_ROWS_PER_STRIP, 3, [rows_per_strip])
        add(T_STRIP_COUNTS, 4, [len(p) for p in payloads])
    add(T_SAMPLES, 3, [spp])
    if predictor != 1:
        add(T_PREDICTOR, 3, [predictor])
    add(T_SAMPLE_FMT, 3, [fmt] * spp)
    if georef is not None:
        add(T_PIXEL_SCALE, 12, [georef.scale_x, georef.scale_y, 0.0])
        add(T_TIEPOINT, 12,
            [0.0, 0.0, 0.0, georef.origin_lon, georef.origin_lat, 0.0])
        epsg = int(georef.crs.split(":")[1]) if ":" in georef.crs else 4326
        # minimal GeoKeyDirectory: version 1.1.0, 2 keys:
        # GTModelType=2 (geographic), GeographicType=epsg
        add(T_GEO_KEYS, 3,
            [1, 1, 0, 2, 1024, 0, 1, 2, 2048, 0, 1, epsg])

    entries.sort(key=lambda e: e[0])
    ifd_off = 8 + len(data)
    ifd_size = 2 + 12 * len(entries) + 4
    extra_base = ifd_off + ifd_size

    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, ifd_off)
    out += data
    out += struct.pack("<H", len(entries))
    for tag, ftype, n, val in entries:
        out += struct.pack("<HHI", tag, ftype, n)
        if isinstance(val, int):  # offset into extra
            out += struct.pack("<I", extra_base + val)
        else:
            out += val
    out += struct.pack("<I", 0)  # no next IFD
    out += extra
    return bytes(out)
