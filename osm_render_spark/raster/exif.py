"""EXIF metadata: parse, build, and scrub — from scratch.

An Exif block is a TIFF 6.0 byte stream carried in a JPEG APP1 segment
tagged ``Exif\\0\\0``: a 2-byte byte-order mark (``II`` little-endian /
``MM`` big-endian), magic 42, then a chain of IFDs (image file
directories) of 12-byte entries ``(tag u16, type u16, count u32,
value-or-offset u32)``.  Values whose encoded size is ≤ 4 bytes live
inline (left-justified); larger values live at an absolute offset into
the TIFF stream.  The 0th IFD points at the private Exif IFD (tag
0x8769) and GPS IFD (tag 0x8825); its next-IFD pointer chains to the
1st (thumbnail) IFD.

Everything here is implemented against that published structure — no
image library.  The training-data angle: GPS coordinates embedded in
crawled photos are PII; ``scrub_gps`` rewrites ONLY the APP1 segment
(every other byte of the JPEG, including the entropy-coded image data,
is spliced through untouched), so scrubbing is verifiable byte-wise
and never re-encodes pixels.

Reference precedent: the reference delegates image metadata to its
system imaging library (SURVEY §2 S8/R11 — NSImage does EXIF
internally); here metadata is a first-class DataFrame column and GPS
removal is a pipeline PII stage alongside the text scrubber
(operators/text.py).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from .geotiff import _TYPES, tiff_header, tiff_ifd

# TIFF field types → byte size of one element (unknown types: 1, as in
# the IFD walk).
_TYPE_SIZE = {typ: size for typ, (_ch, size) in _TYPES.items()}
_INT_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i"}

ASCII, SHORT, LONG, RATIONAL, UNDEFINED, SRATIONAL = 2, 3, 4, 5, 7, 10

TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
TAG_INTEROP_IFD = 0xA005
TAG_ORIENTATION = 0x0112
TAG_MAKE = 0x010F
TAG_DATETIME = 0x0132
TAG_THUMB_OFFSET = 0x0201   # JPEGInterchangeFormat (1st IFD)
TAG_THUMB_LENGTH = 0x0202   # JPEGInterchangeFormatLength

GPS_LAT_REF, GPS_LAT, GPS_LON_REF, GPS_LON = 0x0001, 0x0002, 0x0003, 0x0004

_IFD_ORDER = ("0th", "exif", "interop", "gps", "1st")
_POINTERS = (  # (parent ifd, pointer tag, child ifd)
    ("0th", TAG_EXIF_IFD, "exif"),
    ("exif", TAG_INTEROP_IFD, "interop"),
    ("0th", TAG_GPS_IFD, "gps"),
)


class Exif:
    """Parsed TIFF/Exif stream: ``ifds`` maps ``'0th' 'exif' 'interop'
    'gps' '1st'`` → ``{tag: (type, value)}``; ``thumbnail`` carries the
    1st-IFD embedded JPEG bytes, if any.  Value encoding per type:
    integer types → list[int]; RATIONAL/SRATIONAL → list[(num, den)];
    ASCII → str (terminating NUL added on write); BYTE/SBYTE/UNDEFINED
    and FLOAT/DOUBLE round-trip as raw ``bytes``."""

    def __init__(self, endian: str = "<"):
        self.endian = endian
        self.ifds: dict[str, dict[int, tuple[int, object]]] = {}
        self.thumbnail: bytes | None = None


def _decode_value(endian: str, typ: int, count: int, raw: bytes):
    if typ == ASCII:
        return raw[:count].split(b"\x00", 1)[0].decode("ascii", "replace")
    if typ in (RATIONAL, SRATIONAL):
        fmt = "i" if typ == SRATIONAL else "I"
        vals = struct.unpack(endian + fmt * (2 * count), raw[: 8 * count])
        return [(vals[2 * i], vals[2 * i + 1]) for i in range(count)]
    if typ in _INT_FMT:
        n = _TYPE_SIZE[typ]
        return list(struct.unpack(endian + _INT_FMT[typ] * count, raw[: n * count]))
    # UNDEFINED / FLOAT / DOUBLE / unknown: keep the raw bytes so a
    # rewrite preserves fields this module doesn't interpret.
    return raw[: _TYPE_SIZE.get(typ, 1) * count]


def _encode_value(endian: str, typ: int, value) -> tuple[int, bytes]:
    """→ (count, payload bytes)."""
    if typ == ASCII:
        data = value.encode("ascii") + b"\x00"
        return len(data), data
    if typ in (RATIONAL, SRATIONAL):
        fmt = "i" if typ == SRATIONAL else "I"
        flat = [x for pair in value for x in pair]
        return len(value), struct.pack(endian + fmt * len(flat), *flat)
    if typ in _INT_FMT:
        return len(value), struct.pack(endian + _INT_FMT[typ] * len(value), *value)
    size = _TYPE_SIZE.get(typ, 1)
    if len(value) % size:
        raise ValueError(f"type-{typ} payload not a multiple of {size} bytes")
    return len(value) // size, bytes(value)


def _parse_ifd(read, endian: str, off: int) -> tuple[dict, int]:
    """→ ({tag: (type, value)}, next-IFD offset)."""
    entries, nxt = tiff_ifd(read, endian, off)
    return {
        tag: (typ, _decode_value(endian, typ, count, raw))
        for tag, typ, count, raw in entries
    }, nxt


def parse_tiff(data: bytes) -> Exif:
    """Parse a TIFF/Exif byte stream (the APP1 payload after
    ``Exif\\0\\0``).  The header and IFD walk are the GeoTIFF reader's
    (bounds-checked); Exif is always classic TIFF, so BigTIFF is a
    ``ValueError`` here."""

    def read(off: int, n: int) -> bytes:
        return data[off: off + n]

    try:
        endian, off = tiff_header(read)
    except NotImplementedError as e:
        raise ValueError(f"not an Exif TIFF stream: {e}") from e
    ex = Exif(endian)
    seen = set()  # guard against offset cycles in corrupt streams
    for name in ("0th", "1st"):
        if not off:
            break
        if off in seen:
            raise ValueError("IFD offset cycle")
        seen.add(off)
        ex.ifds[name], off = _parse_ifd(read, endian, off)
    for parent, tag, child in _POINTERS:
        entry = ex.ifds.get(parent, {}).get(tag)
        if entry is None:
            continue
        (coff,) = entry[1][:1]
        if coff in seen:
            raise ValueError("IFD offset cycle")
        seen.add(coff)
        ex.ifds[child], _ = _parse_ifd(read, endian, coff)
    first = ex.ifds.get("1st", {})
    if TAG_THUMB_OFFSET in first and TAG_THUMB_LENGTH in first:
        toff, tlen = first[TAG_THUMB_OFFSET][1][0], first[TAG_THUMB_LENGTH][1][0]
        if toff + tlen > len(data):
            raise ValueError("thumbnail span out of bounds")
        ex.thumbnail = data[toff: toff + tlen]
    return ex


def serialize_tiff(ex: Exif) -> bytes:
    """Deterministic writer: header, then each present IFD in the fixed
    order 0th, exif, interop, gps, 1st — entry table (tags ascending,
    as TIFF requires) immediately followed by its out-of-line values —
    then the thumbnail bytes.  Pointer tags (0x8769/0x8825/0xA005) and
    the thumbnail offset/length are synthesized from structure; stale
    copies in the input dicts are ignored."""
    endian = ex.endian
    present = [n for n in _IFD_ORDER if n in ex.ifds and (
        ex.ifds[n] or n not in ("exif", "interop", "gps"))]
    ptr_tags = {tag for _p, tag, c in _POINTERS}

    def entries_of(name: str) -> dict[int, tuple[int, object]]:
        ifd = {t: v for t, v in ex.ifds[name].items() if t not in ptr_tags}
        for parent, tag, child in _POINTERS:
            if parent == name and child in present:
                ifd[tag] = (LONG, [0])  # offset patched below
        if name == "1st" and ex.thumbnail is not None:
            ifd[TAG_THUMB_OFFSET] = (LONG, [0])
            ifd[TAG_THUMB_LENGTH] = (LONG, [len(ex.thumbnail)])
        return dict(sorted(ifd.items()))

    # Pass 1: sizes → absolute offsets for every IFD.
    layout: dict[str, tuple[int, dict]] = {}
    pos = 8
    for name in present:
        ifd = entries_of(name)
        ext = sum(
            s for s in (
                _encoded_size(typ, val) for typ, val in ifd.values()
            ) if s > 4
        )
        layout[name] = (pos, ifd)
        pos += 2 + 12 * len(ifd) + 4 + ext
    thumb_off = pos

    # Pass 2: emit with offsets resolved.
    out = bytearray()
    out += (b"II" if endian == "<" else b"MM") + struct.pack(endian + "HI", 42, 8)
    for name in present:
        off, ifd = layout[name]
        assert off == len(out)
        for parent, tag, child in _POINTERS:
            if parent == name and child in present:
                ifd[tag] = (LONG, [layout[child][0]])
        if name == "1st" and ex.thumbnail is not None:
            ifd[TAG_THUMB_OFFSET] = (LONG, [thumb_off])
        ext_off = off + 2 + 12 * len(ifd) + 4
        table, ext = bytearray(struct.pack(endian + "H", len(ifd))), bytearray()
        for tag, (typ, val) in ifd.items():
            count, payload = _encode_value(endian, typ, val)
            if len(payload) <= 4:
                field = payload.ljust(4, b"\x00")
            else:
                field = struct.pack(endian + "I", ext_off + len(ext))
                ext += payload
            table += struct.pack(endian + "HHI", tag, typ, count) + field
        nxt = layout["1st"][0] if name == "0th" and "1st" in present else 0
        table += struct.pack(endian + "I", nxt)
        out += table + ext
    if ex.thumbnail is not None and "1st" in present:
        out += ex.thumbnail
    return bytes(out)


def _encoded_size(typ: int, val) -> int:
    if typ == ASCII:
        return len(val) + 1
    if isinstance(val, (bytes, bytearray)):
        return len(val)
    return _TYPE_SIZE.get(typ, 1) * len(val)


# --- JPEG splicing ------------------------------------------------------


def find_exif_app1(jpeg: bytes):
    """→ (segment start, segment end, tiff payload) of the first
    ``Exif\\0\\0`` APP1 segment, or None.  Walks the marker stream up to
    SOS the same way decode_jpeg does (raster/jpeg.py:319)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    while pos + 4 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        run_start = pos  # first 0xFF of this marker's fill-byte run
        while pos < len(jpeg) and jpeg[pos] == 0xFF:
            pos += 1  # fill bytes (T.81 B.1.1.2)
        marker = jpeg[pos]
        pos += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: no metadata past here
            return None
        (ln,) = struct.unpack_from(">H", jpeg, pos)
        seg_start, seg_end = run_start, pos + ln
        if marker == 0xE1 and jpeg[pos + 2: pos + 8] == b"Exif\x00\x00":
            return seg_start, seg_end, jpeg[pos + 8: seg_end]
        pos = seg_end
    return None


def insert_exif(jpeg: bytes, tiff: bytes) -> bytes:
    """Insert ``tiff`` as an ``Exif\\0\\0`` APP1 right after SOI (where
    the Exif spec mandates it).  Any existing Exif APP1 is replaced."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    payload = b"Exif\x00\x00" + tiff
    if len(payload) + 2 > 0xFFFF:
        raise ValueError("EXIF payload exceeds the 64 KiB APP1 limit")
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    found = find_exif_app1(jpeg)
    if found is not None:
        s, e, _ = found
        return jpeg[:s] + seg + jpeg[e:]
    return jpeg[:2] + seg + jpeg[2:]


def strip_gps(jpeg: bytes) -> tuple[bytes, bool]:
    """Remove the GPS IFD (and its 0th-IFD pointer) from a JPEG's Exif
    block.  ONLY the APP1 segment is rewritten; every byte outside it is
    spliced through.  → (bytes, removed) — removed=False returns the
    input object unchanged (no Exif, or Exif without GPS)."""
    found = find_exif_app1(jpeg)
    if found is None:
        return jpeg, False
    s, e, tiff = found
    ex = parse_tiff(tiff)
    if "gps" not in ex.ifds and TAG_GPS_IFD not in ex.ifds.get("0th", {}):
        return jpeg, False
    ex.ifds.pop("gps", None)
    ex.ifds.get("0th", {}).pop(TAG_GPS_IFD, None)
    return insert_exif(jpeg[:s] + jpeg[e:], serialize_tiff(ex)), True


def strip_exif(jpeg: bytes) -> tuple[bytes, bool]:
    """Drop the whole Exif APP1 segment.  → (bytes, removed)."""
    found = find_exif_app1(jpeg)
    if found is None:
        return jpeg, False
    s, e, _ = found
    return jpeg[:s] + jpeg[e:], True


# --- interpretation helpers --------------------------------------------


def _dms_to_degrees(dms, ref: str) -> float:
    (d_n, d_d), (m_n, m_d), (s_n, s_d) = dms
    deg = d_n / d_d + m_n / m_d / 60.0 + s_n / s_d / 3600.0
    return -deg if ref in ("S", "W") else deg


def gps_degrees(gps_ifd: dict) -> tuple[float, float] | None:
    """GPS IFD → (lat, lon) in signed degrees, or None if incomplete."""
    need = (GPS_LAT_REF, GPS_LAT, GPS_LON_REF, GPS_LON)
    if any(t not in gps_ifd for t in need):
        return None
    lat = _dms_to_degrees(gps_ifd[GPS_LAT][1], gps_ifd[GPS_LAT_REF][1])
    lon = _dms_to_degrees(gps_ifd[GPS_LON][1], gps_ifd[GPS_LON_REF][1])
    return lat, lon


def make_gps_ifd(lat: tuple, lat_ref: str, lon: tuple, lon_ref: str) -> dict:
    """Convenience: ((d,1),(m,1),(s_num,s_den)) triples + refs → GPS IFD."""
    return {
        GPS_LAT_REF: (ASCII, lat_ref),
        GPS_LAT: (RATIONAL, list(lat)),
        GPS_LON_REF: (ASCII, lon_ref),
        GPS_LON: (RATIONAL, list(lon)),
    }


def jpeg_dimensions(jpeg: bytes) -> tuple[int, int, int]:
    """Cheap header probe → (width, height, n_components) from the SOF
    marker, without entropy decode (a metadata scan over a 100 TB image
    corpus must not run the IDCT)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    while pos + 4 <= len(jpeg):
        while pos < len(jpeg) and jpeg[pos] == 0xFF:
            pos += 1
        marker = jpeg[pos]
        pos += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker in (0xD9, 0xDA):
            break
        (ln,) = struct.unpack_from(">H", jpeg, pos)
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
            h, w = struct.unpack_from(">HH", jpeg, pos + 3)
            return w, h, jpeg[pos + 7]
        pos += ln
    raise ValueError("no SOF marker found")


def apply_orientation(img, orientation: int):
    """Apply a TIFF/Exif orientation tag (1-8) so the pixels are
    upright: the 8 published transforms (identity, mirrors, rot90s,
    transposes).  Views where possible; caller copies if needed."""
    import numpy as np

    if orientation in (0, 1):
        return img
    if orientation == 2:
        return img[:, ::-1]
    if orientation == 3:
        return img[::-1, ::-1]
    if orientation == 4:
        return img[::-1]
    axes = (1, 0, 2) if img.ndim == 3 else (1, 0)
    if orientation == 5:
        return img.transpose(axes)
    if orientation == 6:
        return np.rot90(img, 3)
    if orientation == 7:
        return img.transpose(axes)[::-1, ::-1]
    if orientation == 8:
        return np.rot90(img, 1)
    raise ValueError(f"orientation must be 1-8, got {orientation}")


# --- DataFrame operators ------------------------------------------------


def _e7(x: float) -> int:
    import math

    return int(math.floor(x * 1e7 + 0.5))  # floor(x+0.5) per F6


def image_metadata(images: DataFrame) -> DataFrame:
    """Header-probe + EXIF parse over an opaque JPEG binary column —
    (image_id, w, h, orientation, make, has_gps, lat_e7, lon_e7,
    exif_ok).  Arrow-batched; no entropy decode, so throughput is
    bytes-scan-bound.  Unparseable/absent Exif → exif_ok=0 with null
    metadata (one corrupt crawl blob must not kill the scan task)."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                data = bytes(row.bytes)
                w = h = orient = lat = lon = make = None
                has_gps, ok = 0, 1
                try:
                    w, h, _nc = jpeg_dimensions(data)
                    found = find_exif_app1(data)
                    if found is not None:
                        ex = parse_tiff(found[2])
                        zeroth = ex.ifds.get("0th", {})
                        if TAG_ORIENTATION in zeroth:
                            orient = int(zeroth[TAG_ORIENTATION][1][0])
                        if TAG_MAKE in zeroth:
                            make = zeroth[TAG_MAKE][1]
                        deg = gps_degrees(ex.ifds.get("gps", {}))
                        if deg is not None:
                            has_gps, lat, lon = 1, _e7(deg[0]), _e7(deg[1])
                except (ValueError, struct.error, IndexError):
                    ok = 0
                rows.append(
                    (row.image_id, w, h, orient, make, has_gps, lat, lon, ok)
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "w", "h", "orientation", "make",
                         "has_gps", "lat_e7", "lon_e7", "exif_ok"],
            )

    return images.mapInPandas(
        kernel,
        schema=("image_id string, w int, h int, orientation int, "
                "make string, has_gps int, lat_e7 long, lon_e7 long, "
                "exif_ok int"),
    )


def scrub_image_gps(images: DataFrame) -> DataFrame:
    """PII stage: rewrite each JPEG with the GPS IFD removed —
    (image_id, bytes, removed).  Pixel/entropy data is spliced through
    byte-identically (only the APP1 segment changes); blobs whose Exif
    fails to parse are passed through unmodified with removed=0 rather
    than risking a corrupting rewrite."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                data = bytes(row.bytes)
                try:
                    out, removed = strip_gps(data)
                except (ValueError, struct.error, IndexError):
                    out, removed = data, False
                rows.append((row.image_id, out, int(removed)))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "removed"])

    return images.mapInPandas(
        kernel, schema="image_id string, bytes binary, removed int"
    )
