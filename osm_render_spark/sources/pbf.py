"""OpenStreetMap PBF source (SURVEY.md S1) — a real ``.osm.pbf``
reader/writer built from the PUBLIC format definition (the OSM PBF wire
format: fileformat.proto / osmformat.proto), matching the reference's
ingest semantics:

* framed-blob scan: 4-byte big-endian BlobHeader length, BlobHeader,
  Blob (reference framing loop MapData.m:361-482; BE length decode
  MapData.m:303,404 — operator F10)
* zlib inflate of Blob.zlib_data (MapData.m:335 — F9/S3)
* DenseNodes / way-ref delta decode as a numpy cumsum (MapData.m:96-100
  — the W1 prefix-sum operator), zigzag sint decoding
* string-table tag resolution (MapData.m:198-211 — J4)
* nanodegree → degree scaling lat = 1e-9 · (offset + granularity·v)
  (MapData.m:178 — P7)

No protobuf library exists in this container, so the wire format is
decoded directly: field headers with a tiny python scanner (messages have
a handful of fields), and the BULK payloads — packed varint arrays, the
actual data volume — with a vectorized numpy varint decoder
(``decode_varints``), keeping the hot path out of per-byte Python.

Spark plumbing (``read_pbf``): a header-only framing scan builds a
(path, blob_idx, offset, length) POINTER index, the index rows are
shuffled across the cluster, and each task range-reads and decodes its
own blobs (open/seek/read, one ~1 MB compressed blob in memory at a
time). The unit of parallelism is the compressed blob, exactly the
reference's own bounded-memory work unit (MapData.m:361-482); an ~80 GB
planet file is just ~80k index rows, and no whole-file bytes ever enter
a Spark row or shuffle. The index scan itself is parallel even within
ONE file: byte-range splits resynchronize to the next true blob
boundary (signature + parse + chain validation), with a lazy full-file
tiling check that turns any resync mistake into a loud error.
``use_index=False`` keeps the legacy whole-file ``binaryFile`` path as
the differential-testing twin.
"""

from __future__ import annotations

import struct
import uuid
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------


_SMALL_VARINT_BUF = 128


def decode_varints(buf) -> np.ndarray:
    """Decode a packed varint byte buffer (bytes or uint8 array) →
    uint64 array. Vectorized for real payloads (DenseNodes arrays are
    tens of KB); buffers under _SMALL_VARINT_BUF bytes take a plain
    python loop instead — per-way ref lists are ~6 varints, and 60k
    tiny numpy dispatches cost 45 µs each (profiled: 2.8 s of a 4.3 s
    block decode) vs ~2 µs in the loop."""
    if len(buf) == 0:
        return np.zeros(0, dtype=np.uint64)
    if len(buf) < _SMALL_VARINT_BUF:
        out = []
        v = 0
        shift = 0
        for b in bytes(buf):
            v |= (b & 0x7F) << shift
            if b & 0x80:
                shift += 7
            else:
                out.append(v & 0xFFFFFFFFFFFFFFFF)
                v = 0
                shift = 0
        return np.array(out, dtype=np.uint64)
    if not isinstance(buf, np.ndarray):
        buf = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero((buf & 0x80) == 0)
    starts = np.concatenate([[0], ends[:-1] + 1])
    lengths = ends - starts + 1
    pos = np.arange(len(buf)) - np.repeat(starts, lengths)
    vals = (buf.astype(np.uint64) & 0x7F) << (7 * pos.astype(np.uint64))
    return np.add.reduceat(vals, starts)


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    """sint64 zigzag: (u >> 1) ^ -(u & 1), on the uint64 bit pattern."""
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (~(u & np.uint64(1)) + np.uint64(1))).astype(
        np.int64
    )


def zz_cumsum(buf) -> np.ndarray:
    """Packed sint64 varints → delta-decoded int64 (the W1 prefix sum).
    Small buffers take one fused python loop (decode+zigzag+cumsum);
    large ones the vectorized path."""
    if len(buf) < _SMALL_VARINT_BUF:
        out = []
        v = 0
        shift = 0
        acc = 0  # mod-2^64 accumulator: must match int64 cumsum WRAP
        for b in bytes(buf):
            v |= (b & 0x7F) << shift
            if b & 0x80:
                shift += 7
            else:
                u = v & 0xFFFFFFFFFFFFFFFF
                acc = (acc + ((u >> 1) ^ -(u & 1))) & 0xFFFFFFFFFFFFFFFF
                out.append(acc - (1 << 64) if acc >= (1 << 63) else acc)
                v = 0
                shift = 0
        return np.array(out, dtype=np.int64)
    if not isinstance(buf, np.ndarray):
        buf = np.frombuffer(buf, dtype=np.uint8)
    return np.cumsum(zigzag_decode(decode_varints(buf)))


def _batch_split(bufs: list[bytes]):
    """Shared segmentation for the batched small-buffer decoders: ONE
    vectorized decode over the concatenation of many tiny packed-varint
    buffers, plus per-buffer varint counts. A planet way block carries
    ~8000 ways × 3 packed fields of ~6 varints each — 24k per-buffer
    python decodes cost ~100 ms/block; one flat pass is ~10×."""
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return None, None, lens
    flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    vals = decode_varints(flat)
    ends = np.concatenate([[0], np.cumsum(((flat & 0x80) == 0).astype(np.int64))])
    byte_starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    counts = ends[byte_starts + lens] - ends[byte_starts]
    return vals, counts, lens


def _batch_decode_flat(bufs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint64 values, per-buffer varint counts) — callers slice by
    cumulative counts (np.split's per-segment view overhead is ~20×)."""
    vals, counts, lens = _batch_split(bufs)
    if vals is None:
        return np.zeros(0, dtype=np.uint64), np.zeros(len(lens), dtype=np.int64)
    return vals, counts


def _batch_zz_cumsum_flat(bufs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Segmented zz_cumsum, flat form: per-buffer zigzag delta-decode
    with the prefix sum RESET at each buffer boundary, one vectorized
    pass. Matches zz_cumsum per buffer bitwise, including the mod-2^64
    int64 wrap (uint64 running sum minus each segment's base wraps the
    same)."""
    vals, counts, lens = _batch_split(bufs)
    if vals is None:
        return np.zeros(0, dtype=np.int64), np.zeros(len(lens), dtype=np.int64)
    d = zigzag_decode(vals).astype(np.uint64)
    c = np.cumsum(d)
    vstarts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    base = np.zeros(len(counts), dtype=np.uint64)
    nz = counts > 0
    base[nz] = c[vstarts[nz]] - d[vstarts[nz]]
    out = (c - np.repeat(base, counts)).astype(np.int64)
    return out, counts


def batch_decode_varints(bufs: list[bytes]) -> list[np.ndarray]:
    """Decode many small packed-varint buffers in one vectorized pass →
    per-buffer uint64 arrays (same values as decode_varints per buffer)."""
    flat, counts = _batch_decode_flat(bufs)
    return np.split(flat, np.cumsum(counts)[:-1])


def batch_zz_cumsum(bufs: list[bytes]) -> list[np.ndarray]:
    """List-of-arrays view of _batch_zz_cumsum_flat (tests/parity)."""
    flat, counts = _batch_zz_cumsum_flat(bufs)
    return np.split(flat, np.cumsum(counts)[:-1])


def _encode_varint(v: int) -> bytes:
    out = bytearray()
    v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_encode(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _field(num: int, wire: int) -> bytes:
    return _encode_varint((num << 3) | wire)


def _len_field(num: int, payload: bytes) -> bytes:
    return _field(num, 2) + _encode_varint(len(payload)) + payload


def _varint_field(num: int, v: int) -> bytes:
    return _field(num, 0) + _encode_varint(v)


def encode_varints(vals: np.ndarray) -> bytes:
    """Vectorized packed-varint ENCODER (inverse of decode_varints):
    uint64 array → bytes, all-numpy. The writer's hot path — encoding a
    12M-node block's delta arrays per-int in python costs ~45 s/file;
    this is ~100× faster, which is what makes generating the ≥100 MB
    load-bound bench fixture practical."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    # 10 fixed passes with SCALAR shifts (a uint64 varint is ≤10 bytes);
    # per-element variable shifts are ~20× slower in numpy than this
    groups = np.empty((n, 10), dtype=np.uint8)
    x = v.copy()
    seven = np.uint64(7)
    mask = np.uint64(0x7F)
    for i in range(10):
        groups[:, i] = (x & mask).astype(np.uint8)
        x >>= seven
    # bytes needed per value = index of its highest non-zero group (≥1)
    nb = np.maximum((groups != 0).astype(np.int8)[:, ::-1].argmax(axis=1), 0)
    nb = (10 - nb).astype(np.int64)
    nb[v == 0] = 1
    groups |= 0x80  # provisional continuation bit everywhere...
    groups[np.arange(n), nb - 1] &= 0x7F  # ...cleared on each last byte
    keep = np.arange(10, dtype=np.int64)[None, :] < nb[:, None]
    return groups[keep].tobytes()  # C-order gather: per-value prefixes, in order


def zigzag_encode_arr(vals: np.ndarray) -> np.ndarray:
    """int64 array → zigzag uint64 array (inverse of zigzag_decode)."""
    s = np.ascontiguousarray(vals, dtype=np.int64)
    return ((s.astype(np.uint64) << np.uint64(1)) ^ (s >> np.int64(63)).astype(
        np.uint64
    ))


_VEC_ENCODE_MIN = 64  # below this, python per-int encode wins (dispatch cost)


def _packed(nums) -> bytes:
    if hasattr(nums, "__len__") and len(nums) >= _VEC_ENCODE_MIN:
        return encode_varints(np.asarray(nums, dtype=np.uint64))
    return b"".join(_encode_varint(int(v)) for v in nums)


def _packed_zz(nums) -> bytes:
    if hasattr(nums, "__len__") and len(nums) >= _VEC_ENCODE_MIN:
        return encode_varints(zigzag_encode_arr(np.asarray(nums, dtype=np.int64)))
    return b"".join(_encode_varint(_zigzag_encode(int(v))) for v in nums)


def scan_fields(buf: bytes):
    """Yield (field_number, wire_type, value) for one protobuf message.
    value is an int for varint fields, a memoryview for length-delimited
    fields. Fixed32/64 returned as raw ints. Message field COUNTS are
    small by construction — the heavy payloads are inside
    length-delimited packed arrays handled by decode_varints."""
    view = memoryview(buf)
    i, n = 0, len(view)
    while i < n:
        tag = 0
        shift = 0
        while True:
            b = view[i]
            i += 1
            tag |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        num, wire = tag >> 3, tag & 7
        if wire == 0:
            v = 0
            shift = 0
            while True:
                b = view[i]
                i += 1
                v |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
            yield num, wire, v
        elif wire == 2:
            ln = 0
            shift = 0
            while True:
                b = view[i]
                i += 1
                ln |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
            yield num, wire, view[i : i + ln]
            i += ln
        elif wire == 5:
            yield num, wire, int.from_bytes(view[i : i + 4], "little")
            i += 4
        elif wire == 1:
            yield num, wire, int.from_bytes(view[i : i + 8], "little")
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


# ---------------------------------------------------------------------------
# blob framing (fileformat.proto)
# ---------------------------------------------------------------------------


def _inflate_blob(payload: bytes) -> bytes:
    """Blob message → raw (decompressed) payload bytes. Codecs: raw,
    zlib (the OSM default), lzma and bzip2 via the python stdlib
    (VERDICT r2 #9; bzip2 is marked obsolete by the format — read
    support only, plus a writer flag for round-trip tests), lz4
    (fileformat.proto field 6, LZ4 *block* format — from-scratch codec
    in sources/lz4.py since the container has no lz4 library), and
    zstd (field 7 — from-scratch RFC 8878 decoder in sources/zstd.py,
    validated against libzstd; python below 3.14 has no stdlib zstd)."""
    raw, raw_size = None, None
    comp, comp_codec = None, None
    for num, _w, v in scan_fields(payload):
        if num == 1:
            raw = bytes(v)
        elif num == 2:
            raw_size = v
        elif num in (3, 4, 5, 6, 7):  # zlib / lzma / bzip2 / lz4 / zstd
            comp = bytes(v)
            comp_codec = {3: "zlib", 4: "lzma", 5: "bzip2", 6: "lz4",
                          7: "zstd"}[num]
    if raw is None:
        if comp is None:
            raise NotImplementedError(
                "blob uses an unknown compression field; this reader "
                "supports raw, zlib (the OSM default), lzma, bzip2, lz4 "
                "and zstd blobs — recompress the extract with zlib"
            )
        if comp_codec == "zlib":
            raw = zlib.decompress(comp)
        elif comp_codec == "lzma":
            import lzma

            raw = lzma.decompress(comp)
        elif comp_codec == "lz4":
            from .lz4 import lz4_decompress_block

            # the block format carries no size; raw_size is the
            # Blob-level contract (checked inside on mismatch)
            raw = lz4_decompress_block(comp, raw_size)
        elif comp_codec == "zstd":
            from .zstd import zstd_decompress

            # frame carries its own checksum/FCS; raw_size is the
            # Blob-level contract (checked inside on mismatch)
            raw = zstd_decompress(comp, raw_size)
        else:  # bzip2
            import bz2

            raw = bz2.decompress(comp)
        if raw_size is not None and len(raw) != raw_size:
            raise ValueError("blob raw_size mismatch")
    return raw


def iter_blobs(data: bytes):
    """Yield (blob_type, raw_payload) for each framed blob: 4-byte BE
    BlobHeader length → BlobHeader{1:type, 3:datasize} → Blob{1:raw |
    2:raw_size + 3:zlib_data | 4:lzma_data | 5:bzip2_data}, inflated."""
    pos, n = 0, len(data)
    while pos + 4 <= n:
        (hlen,) = struct.unpack(">I", data[pos : pos + 4])
        pos += 4
        btype, dsize = None, None
        for num, _w, v in scan_fields(data[pos : pos + hlen]):
            if num == 1:
                btype = bytes(v).decode()
            elif num == 3:
                dsize = v
        pos += hlen
        yield btype, _inflate_blob(data[pos : pos + dsize])
        pos += dsize


def scan_blob_index_stream(f, start: int = 0, stop: int | None = None):
    """Yield (offset, length, type) of every framed blob from a seekable
    file-like WITHOUT reading (let alone inflating) payloads — only the
    4-byte lengths and ~30-byte BlobHeaders are read; payloads are
    seek()ed past. On an ~80 GB planet file this touches a few MB of
    header bytes total; the payload I/O happens later, one range-read
    per blob, inside the distributed decode kernel (read_pbf).

    ``start`` must be a true blob boundary (0, or a boundary found by
    ``resync_blob_boundary``); ``stop`` ends the walk at the first blob
    STARTING at or after it (split ownership rule: a blob belongs to the
    split its first byte falls in)."""
    pos = start
    f.seek(start)
    while stop is None or pos < stop:
        hdr4 = f.read(4)
        if len(hdr4) < 4:
            return
        (hlen,) = struct.unpack(">I", hdr4)
        btype, dsize = None, None
        # a corrupted stream STOPS the walk instead of crashing it — the
        # caller's tiling check (read_pbf) then reports exactly where
        # coverage of [0, file_size) broke
        if hlen > _MAX_HEADER_LEN:
            return
        try:
            for num, _w, v in scan_fields(f.read(hlen)):
                if num == 1:
                    btype = bytes(v).decode("ascii")
                elif num == 3:
                    dsize = v
        except (ValueError, IndexError, UnicodeDecodeError):
            return
        if not isinstance(dsize, int) or not 0 < dsize <= _MAX_BLOB_DATA:
            return
        f.seek(dsize, 1)
        total = 4 + hlen + dsize
        yield pos, total, btype
        pos += total


# A BlobHeader serialized in field order opens with the `type` string:
# tag 0x0A (field 1, wire 2), 1-byte length, then the ASCII type — a
# fixed byte signature 4 bytes after every blob boundary. Every known
# encoder (osmium, JOSM, this writer) emits type-first; a file that
# doesn't simply fails resync and the contiguity check reports it.
_BLOB_SIGNATURES = (b"\x0a\x07OSMData", b"\x0a\x09OSMHeader")
_MAX_HEADER_LEN = 1 << 16  # BlobHeaders are tens of bytes; 64 KiB is generous
_MAX_BLOB_DATA = 64 << 20  # the format caps datasize at 32 MiB; allow 2×


def _parse_boundary_at(f, pos: int, file_size: int) -> int | None:
    """If ``pos`` is a plausible blob boundary, return the NEXT boundary
    (pos + framed size); else None. Checks length sanity, header parse,
    known type, and datasize bounds."""
    try:
        f.seek(pos)
        hdr4 = f.read(4)
        if len(hdr4) < 4:
            return None
        (hlen,) = struct.unpack(">I", hdr4)
        if not 8 <= hlen <= _MAX_HEADER_LEN or pos + 4 + hlen > file_size:
            return None
        btype, dsize = None, None
        for num, _w, v in scan_fields(f.read(hlen)):
            if num == 1:
                btype = bytes(v).decode("ascii")
            elif num == 3:
                dsize = v
        if btype not in ("OSMData", "OSMHeader"):
            return None
        if dsize is None or not 0 < dsize <= _MAX_BLOB_DATA:
            return None
        nxt = pos + 4 + hlen + dsize
        return nxt if nxt <= file_size else None
    except (ValueError, struct.error, UnicodeDecodeError, IndexError):
        return None


def resync_blob_boundary(f, start: int, file_size: int) -> int | None:
    """First true blob boundary at or after ``start`` (Hadoop-input-split
    style record sync): scan a window for the BlobHeader byte signature,
    validate the candidate by parsing, and CHAIN-check that the blob it
    frames ends at another valid boundary (or exactly at EOF). A false
    positive that survives both checks would still break the index's
    contiguity and is rejected by read_pbf's full-file tiling check."""
    # incremental window: blobs are ~1 MB, so the boundary is almost
    # always within the first chunk — reading the worst-case 64 MiB span
    # up front would make the "header-only" index phase re-read ~half
    # the file's bytes. Chunks overlap by the signature length so a
    # signature straddling a chunk edge is still found.
    win_end = min(start + _MAX_BLOB_DATA + _MAX_HEADER_LEN + 8, file_size)
    chunk_sz = 1 << 20
    overlap = max(len(s) for s in _BLOB_SIGNATURES) + 4
    chunk_start = start
    while chunk_start < win_end:
        f.seek(chunk_start)
        window = f.read(min(chunk_sz, win_end - chunk_start))
        at = 0
        while True:
            cands = [window.find(sig, at) for sig in _BLOB_SIGNATURES]
            cands = [c for c in cands if c != -1]
            if not cands:
                break
            hit = min(cands)
            pos = chunk_start + hit - 4  # signature is 4 bytes past the boundary
            if pos >= start:
                nxt = _parse_boundary_at(f, pos, file_size)
                if nxt is not None and (
                    nxt == file_size
                    or _parse_boundary_at(f, nxt, file_size) is not None
                ):
                    return pos
            at = hit + 1
        if chunk_start + len(window) >= win_end:
            return None
        chunk_start += max(1, len(window) - overlap)


def blob_index(data: bytes) -> list[tuple[int, int, str]]:
    """(offset, length, type) of every framed blob WITHOUT inflating —
    the planet-scale range-read index (header scan only). Raises on
    corrupt framing: the walker stops silently at garbage (read_pbf's
    tiling check handles that distributed case), so this direct helper
    must verify the index covers the whole buffer itself."""
    import io

    out = list(scan_blob_index_stream(io.BytesIO(data)))
    end = out[-1][0] + out[-1][1] if out else 0
    if end != len(data):
        raise ValueError(
            f"corrupt blob framing at byte {end} (buffer is {len(data)} bytes)"
        )
    return out


def _open_stream(path_uri: str):
    """Open a Spark file URI for seekable binary reads. Local paths
    (``file:`` or bare) use builtin open; any other scheme (hdfs://,
    s3://, ...) goes through pyarrow.fs — the same FileSystem layer a
    real cluster's range reads would use."""
    from urllib.parse import unquote, urlparse

    u = urlparse(path_uri)
    if u.scheme in ("", "file"):
        return open(unquote(u.path) if u.scheme else path_uri, "rb")
    import pyarrow.fs as pafs

    fs, p = pafs.FileSystem.from_uri(path_uri)
    return fs.open_input_file(p)


def header_bbox(data: bytes) -> tuple[float, float, float, float] | None:
    """S4 header probe: (lat_min, lon_min, lat_max, lon_max) from the
    OSMHeader blob's HeaderBBox (nanodegrees), or None."""
    for btype, raw in iter_blobs(data):
        if btype != "OSMHeader":
            continue
        for num, _w, v in scan_fields(raw):
            if num == 1:  # HeaderBBox{1:left 2:right 3:top 4:bottom} sint64
                vals = {}
                for fn, _w2, fv in scan_fields(v):
                    vals[fn] = zigzag_decode(np.array([fv], dtype=np.uint64))[0]
                return (
                    float(vals[4]) * 1e-9,
                    float(vals[1]) * 1e-9,
                    float(vals[3]) * 1e-9,
                    float(vals[2]) * 1e-9,
                )
        return None
    return None


# ---------------------------------------------------------------------------
# PrimitiveBlock decode (osmformat.proto)
# ---------------------------------------------------------------------------


def decode_block_columnar(raw: bytes) -> dict:
    """One OSMData payload → columnar node arrays (ids/lats/lons numpy,
    tags list) + way/relation rows. The columnar node form is the hot
    path: a planet block is ~8000 dense nodes whose ids/coords decode as
    three vectorized cumsums, and row tuples would dominate the decode
    cost (measured 2.8 s → 0.6 s for 140k entities)."""
    strings: list[str] = []
    groups = []
    granularity, lat_off, lon_off = 100, 0, 0
    for num, _w, v in scan_fields(raw):
        if num == 1:  # StringTable{repeated 1: bytes}
            strings = [bytes(s).decode() for n2, _x, s in scan_fields(v) if n2 == 1]
        elif num == 2:
            groups.append(bytes(v))
        elif num == 17:
            granularity = v
        elif num == 19:
            lat_off = v
        elif num == 20:
            lon_off = v

    def coord(vals: np.ndarray, off: int) -> np.ndarray:
        return 1e-9 * (off + granularity * vals.astype(np.float64))

    plain_nodes, dense_nodes, ways, rels = [], [], [], []
    way_raw: list[tuple] = []
    for g in groups:
        for num, _w, v in scan_fields(g):
            if num == 1:  # plain Node (non-dense variant)
                nid, nlat, nlon = None, 0, 0
                npacked: dict[int, bytearray] = {}
                for fn, _w2, fv in scan_fields(v):
                    if fn == 1:
                        nid = zigzag_decode(np.array([fv], np.uint64))[0]
                    elif fn in (2, 3):  # chunk-accumulate (see DenseNodes)
                        npacked.setdefault(fn, bytearray()).extend(bytes(fv))
                    elif fn == 8:
                        nlat = zigzag_decode(np.array([fv], np.uint64))[0]
                    elif fn == 9:
                        nlon = zigzag_decode(np.array([fv], np.uint64))[0]
                keys = decode_varints(bytes(npacked.get(2, b"")))
                vals_ = decode_varints(bytes(npacked.get(3, b"")))
                tags = {strings[int(k)]: strings[int(x)] for k, x in zip(keys, vals_)}
                plain_nodes.append(
                    (
                        int(nid),
                        float(1e-9 * (lat_off + granularity * float(nlat))),
                        float(1e-9 * (lon_off + granularity * float(nlon))),
                        tags,
                    )
                )
            elif num == 2:  # DenseNodes
                # protobuf allows a packed repeated field to arrive as
                # SEVERAL length-delimited chunks — accumulate raw bytes
                # before decoding (varints are self-delimiting, and the
                # delta stream continues across chunk boundaries, so one
                # concatenated decode+cumsum is the correct semantics;
                # keeping only the last chunk would silently truncate)
                dense: dict[int, bytearray] = {}
                for fn, _w2, fv in scan_fields(v):
                    dense.setdefault(fn, bytearray()).extend(bytes(fv))

                ids = zz_cumsum(bytes(dense.get(1, b"")))  # W1 prefix sum
                lat = zz_cumsum(bytes(dense.get(8, b"")))
                lon = zz_cumsum(bytes(dense.get(9, b"")))
                kv = (
                    decode_varints(bytes(dense[10])).astype(np.int64)
                    if 10 in dense and len(dense[10])
                    else np.zeros(len(ids), dtype=np.int64)
                )
                lats = coord(lat, lat_off)
                lons = coord(lon, lon_off)
                n_nodes = len(ids)
                # tags: vectorized segmentation on the 0 terminators;
                # python only touches nodes that actually carry pairs
                if n_nodes and kv.any():
                    ends = np.flatnonzero(kv == 0)
                    starts = np.concatenate([[0], ends[:-1] + 1])
                    tag_dicts: list[dict] = []
                    for s, e in zip(starts.tolist(), ends.tolist()):
                        if e > s:
                            seg = kv[s:e].tolist()
                            tag_dicts.append(
                                {
                                    strings[seg[t]]: strings[seg[t + 1]]
                                    for t in range(0, len(seg), 2)
                                }
                            )
                        else:
                            tag_dicts.append({})
                    # tolerate short/long keys_vals (fewer or more 0
                    # terminators than nodes — seen in permissive
                    # encoders): missing nodes get empty tags, extras
                    # are dropped, mirroring the row-wise loop's behavior
                    if len(tag_dicts) < n_nodes:
                        tag_dicts += [{}] * (n_nodes - len(tag_dicts))
                    elif len(tag_dicts) > n_nodes:
                        tag_dicts = tag_dicts[:n_nodes]
                else:
                    tag_dicts = [{}] * n_nodes  # shared empty dict: read-only
                dense_nodes.append(
                    (ids.astype(np.int64), lats, lons, tag_dicts)
                )
            elif num == 3:  # Way
                wid = None
                packed: dict[int, bytearray] = {}
                for fn, _w2, fv in scan_fields(v):
                    if fn == 1:
                        wid = fv
                    elif fn in (2, 3, 8):  # chunk-accumulate (see DenseNodes)
                        packed.setdefault(fn, bytearray()).extend(bytes(fv))
                # defer the packed-field decode: all ways' tiny buffers
                # batch into one vectorized pass after the group walk
                # (batch_decode_varints / batch_zz_cumsum)
                way_raw.append(
                    (
                        int(wid),
                        bytes(packed.get(2, b"")),
                        bytes(packed.get(3, b"")),
                        bytes(packed.get(8, b"")),
                    )
                )
            elif num == 4:  # Relation
                rid = None
                packed = {}
                for fn, _w2, fv in scan_fields(v):
                    if fn == 1:
                        rid = fv
                    elif fn in (2, 3, 8, 9, 10):  # chunk-accumulate
                        packed.setdefault(fn, bytearray()).extend(bytes(fv))

                def _rvals(fn: int) -> np.ndarray:
                    return decode_varints(bytes(packed.get(fn, b"")))

                keys, vals_, roles = _rvals(2), _rvals(3), _rvals(8)
                memids = zz_cumsum(bytes(packed.get(9, b"")))
                types = _rvals(10)
                tags = {strings[int(k)]: strings[int(x)] for k, x in zip(keys, vals_)}
                # engine member-type convention is the fixtures' uppercase
                # (relation merge filters on type == 'WAY')
                tnames = ("NODE", "WAY", "RELATION")
                members = [
                    (tnames[int(t)], int(m), strings[int(r)])
                    for t, m, r in zip(types, memids, roles)
                ]
                rels.append((int(rid), members, tags))

    # flush the deferred ways: three vectorized batch decodes over all
    # ways' concatenated packed fields instead of 3 × n_ways tiny ones
    if way_raw:
        kflat, kcnt = _batch_decode_flat([w[1] for w in way_raw])
        vflat, _vcnt = _batch_decode_flat([w[2] for w in way_raw])
        rflat, rcnt = _batch_zz_cumsum_flat([w[3] for w in way_raw])
        # one bulk tolist each, then python LIST slices per way — numpy
        # per-segment views (np.split) cost ~20× for 8000 tiny segments
        kl, vl, rl = kflat.tolist(), vflat.tolist(), rflat.tolist()
        kb = np.concatenate([[0], np.cumsum(kcnt)]).tolist()
        rb = np.concatenate([[0], np.cumsum(rcnt)]).tolist()
        for i, (wid, _k, _v, _r) in enumerate(way_raw):
            tags = {
                strings[k]: strings[x]
                for k, x in zip(kl[kb[i] : kb[i + 1]], vl[kb[i] : kb[i + 1]])
            }
            ways.append((wid, rl[rb[i] : rb[i + 1]], tags))

    # merge dense (columnar) + plain (row) nodes into one columnar form
    id_parts = [d[0] for d in dense_nodes]
    lat_parts = [d[1] for d in dense_nodes]
    lon_parts = [d[2] for d in dense_nodes]
    tag_parts = [d[3] for d in dense_nodes]
    if plain_nodes:
        id_parts.append(np.array([n[0] for n in plain_nodes], dtype=np.int64))
        lat_parts.append(np.array([n[1] for n in plain_nodes], dtype=np.float64))
        lon_parts.append(np.array([n[2] for n in plain_nodes], dtype=np.float64))
        tag_parts.append([n[3] for n in plain_nodes])
    return {
        "node_ids": (
            np.concatenate(id_parts) if id_parts else np.zeros(0, dtype=np.int64)
        ),
        "node_lats": (
            np.concatenate(lat_parts) if lat_parts else np.zeros(0)
        ),
        "node_lons": (
            np.concatenate(lon_parts) if lon_parts else np.zeros(0)
        ),
        "node_tags": [t for part in tag_parts for t in part],
        "ways": ways,
        "relations": rels,
    }


# ---------------------------------------------------------------------------
# writer (fixture generation + PBF sink)
# ---------------------------------------------------------------------------


def _nano_px(deg: float) -> int:
    """Degrees -> integer nanodegrees with the repo-wide floor(x+0.5)
    rounding (F6) — python round() is half-EVEN and DuckDB ROUND is
    half-away, so both would diverge from the pbf_roundtrip oracle at
    exact .5 nanodegree ties; floor(x+0.5) is the one convention every
    engine expression already pins."""
    import math

    return int(math.floor(deg * 1e9 + 0.5))


def _string_table(tag_dicts, extra: list[str] = ()) -> tuple[bytes, dict[str, int]]:
    idx = {"": 0}
    for d in tag_dicts:
        for k, v in d.items():
            idx.setdefault(k, len(idx))
            idx.setdefault(v, len(idx))
    for s in extra:
        idx.setdefault(s, len(idx))
    payload = b"".join(
        _len_field(1, s.encode()) for s in sorted(idx, key=idx.__getitem__)
    )
    return _len_field(1, payload), idx


def _blob(btype: str, raw: bytes, codec: str = "zlib") -> bytes:
    if codec == "zlib":
        blob = _varint_field(2, len(raw)) + _len_field(3, zlib.compress(raw, 6))
    elif codec == "lzma":
        import lzma

        blob = _varint_field(2, len(raw)) + _len_field(4, lzma.compress(raw))
    elif codec == "bzip2":  # obsolete in the format; kept for round-trip tests
        import bz2

        blob = _varint_field(2, len(raw)) + _len_field(5, bz2.compress(raw))
    elif codec == "lz4":
        from .lz4 import lz4_compress_block

        blob = _varint_field(2, len(raw)) + _len_field(6, lz4_compress_block(raw))
    elif codec == "zstd":
        # deliberately NOT our own encoder: sources/zstd.py is
        # decode-only so the round-trip is adversarial (system libzstd
        # compresses, our RFC 8878 decoder reads it back)
        import shutil
        import subprocess

        if shutil.which("zstd") is None:
            raise NotImplementedError(
                "zstd blob WRITING needs the system zstd CLI (reading "
                "zstd blobs needs nothing — sources/zstd.py)"
            )
        comp = subprocess.run(
            ["zstd", "-c", "-3"], input=raw, capture_output=True, check=True
        ).stdout
        blob = _varint_field(2, len(raw)) + _len_field(7, comp)
    elif codec == "raw":
        blob = _len_field(1, raw)
    else:
        raise ValueError(f"unsupported blob codec {codec!r}")
    header = _len_field(1, btype.encode()) + _varint_field(3, len(blob))
    return struct.pack(">I", len(header)) + header + blob


def write_dense_pbf(
    path: str,
    ids: np.ndarray,
    lats_nano: np.ndarray,
    lons_nano: np.ndarray,
    block_size: int = 8000,
    bbox: tuple[float, float, float, float] | None = None,
    codec: str = "zlib",
) -> None:
    """Columnar bulk DenseNodes writer (no tags): int64 arrays in, real
    ``.osm.pbf`` out, streamed block-by-block to disk. Every packed
    field is encoded with the vectorized ``encode_varints`` — ~100×
    the row-wise ``write_pbf`` for bulk node data, which is what makes
    a ≥100 MB load-bound decode benchmark fixture cheap to generate.
    Delta coding resets per block (format semantics), granularity 1."""
    header = _len_field(4, b"OsmSchema-V0.6") + _len_field(4, b"DenseNodes")
    if bbox is not None:
        lat_min, lon_min, lat_max, lon_max = bbox
        hb = (
            _varint_field(1, _zigzag_encode(_nano_px(lon_min)))
            + _varint_field(2, _zigzag_encode(_nano_px(lon_max)))
            + _varint_field(3, _zigzag_encode(_nano_px(lat_max)))
            + _varint_field(4, _zigzag_encode(_nano_px(lat_min)))
        )
        header = _len_field(1, hb) + header
    ids = np.ascontiguousarray(ids, dtype=np.int64)
    lats_nano = np.ascontiguousarray(lats_nano, dtype=np.int64)
    lons_nano = np.ascontiguousarray(lons_nano, dtype=np.int64)
    st = _len_field(1, _len_field(1, b""))  # string table: [""] only
    with open(path, "wb") as f:
        f.write(_blob("OSMHeader", header, codec))
        for s in range(0, len(ids), block_size):
            e = min(s + block_size, len(ids))
            dn = (
                _len_field(1, _packed_zz(np.diff(ids[s:e], prepend=0)))
                + _len_field(8, _packed_zz(np.diff(lats_nano[s:e], prepend=0)))
                + _len_field(9, _packed_zz(np.diff(lons_nano[s:e], prepend=0)))
            )
            block = st + _len_field(2, _len_field(2, dn)) + _varint_field(17, 1)
            f.write(_blob("OSMData", block, codec))


def write_pbf(
    path: str,
    nodes: list[tuple],
    ways: list[tuple],
    relations: list[tuple],
    bbox: tuple[float, float, float, float] | None = None,
    block_size: int = 4000,
    dense: bool = True,
    codec: str = "zlib",
) -> None:
    """Write a real .osm.pbf: OSMHeader (+HeaderBBox) then OSMData blobs
    of DenseNodes / Ways / Relations, granularity 1 (coords are integer
    nanodegrees, exact round-trip). nodes = (id, lat, lon, tags),
    ways = (id, refs, tags), relations = (id, members, tags) with
    members = (type, ref, role). ``dense=False`` writes plain Node
    messages instead of DenseNodes (both real-world variants decode).
    ``codec``: zlib (default) | lzma | bzip2 | raw."""
    _b = lambda btype, raw: _blob(btype, raw, codec)  # noqa: E731
    out = bytearray()
    header = _len_field(4, b"OsmSchema-V0.6") + _len_field(4, b"DenseNodes")
    if bbox is not None:
        lat_min, lon_min, lat_max, lon_max = bbox
        hb = (
            _varint_field(1, _zigzag_encode(_nano_px(lon_min)))
            + _varint_field(2, _zigzag_encode(_nano_px(lon_max)))
            + _varint_field(3, _zigzag_encode(_nano_px(lat_max)))
            + _varint_field(4, _zigzag_encode(_nano_px(lat_min)))
        )
        header = _len_field(1, hb) + header
    out += _b("OSMHeader", header)

    for start in range(0, max(len(nodes), 1), block_size):
        chunk = nodes[start : start + block_size]
        if not chunk:
            break
        st, idx = _string_table([t for _i, _la, _lo, t in chunk])
        ids = [n[0] for n in chunk]
        lats = [_nano_px(n[1]) for n in chunk]
        lons = [_nano_px(n[2]) for n in chunk]
        if dense:
            kv = []
            for _i, _la, _lo, tags in chunk:
                for k, v in tags.items():
                    kv += [idx[k], idx[v]]
                kv.append(0)
            dn = (
                _len_field(1, _packed_zz(np.diff(ids, prepend=0)))
                + _len_field(8, _packed_zz(np.diff(lats, prepend=0)))
                + _len_field(9, _packed_zz(np.diff(lons, prepend=0)))
                + _len_field(10, _packed(kv))
            )
            group = _len_field(2, dn)
        else:
            group = b""
            for (nid, _la, _lo, tags), la, lo in zip(chunk, lats, lons):
                msg = _field(1, 0) + _encode_varint(_zigzag_encode(nid))
                if tags:
                    msg += _len_field(2, _packed(idx[k] for k in tags))
                    msg += _len_field(3, _packed(idx[v] for v in tags.values()))
                msg += _field(8, 0) + _encode_varint(_zigzag_encode(la))
                msg += _field(9, 0) + _encode_varint(_zigzag_encode(lo))
                group += _len_field(1, msg)
        block = st + _len_field(2, group) + _varint_field(17, 1)
        out += _b("OSMData", block)

    for start in range(0, max(len(ways), 1), block_size):
        chunk = ways[start : start + block_size]
        if not chunk:
            break
        st, idx = _string_table([t for _i, _r, t in chunk])
        group = b""
        for wid, refs, tags in chunk:
            msg = _varint_field(1, wid)
            if tags:
                msg += _len_field(2, _packed(idx[k] for k in tags))
                msg += _len_field(3, _packed(idx[v] for v in tags.values()))
            msg += _len_field(8, _packed_zz(np.diff(refs, prepend=0)))
            group += _len_field(3, msg)
        out += _b("OSMData", st + _len_field(2, group) + _varint_field(17, 1))

    tcode = {"NODE": 0, "WAY": 1, "RELATION": 2}
    for start in range(0, max(len(relations), 1), block_size):
        chunk = relations[start : start + block_size]
        if not chunk:
            break
        norm = [
            (
                rid,
                [
                    (m["type"].upper(), m["ref"], m.get("role") or "")
                    if isinstance(m, dict)
                    else (m[0].upper(), m[1], m[2] or "")
                    for m in members
                ],
                tags,
            )
            for rid, members, tags in chunk
        ]
        st, idx = _string_table(
            [t for _i, _m, t in norm],
            extra=[m[2] for _i, ms, _t in norm for m in ms],
        )
        group = b""
        for rid, members, tags in norm:
            msg = _varint_field(1, rid)
            if tags:
                msg += _len_field(2, _packed(idx[k] for k in tags))
                msg += _len_field(3, _packed(idx[v] for v in tags.values()))
            if members:
                msg += _len_field(8, _packed(idx[m[2]] for m in members))
                msg += _len_field(
                    9, _packed_zz(np.diff([m[1] for m in members], prepend=0))
                )
                msg += _len_field(10, _packed(tcode[m[0]] for m in members))
            group += _len_field(4, msg)
        out += _b("OSMData", st + _len_field(2, group) + _varint_field(17, 1))

    with open(path, "wb") as f:
        f.write(bytes(out))


# ---------------------------------------------------------------------------
# Spark reader
# ---------------------------------------------------------------------------


def read_pbf(
    spark,
    path: str,
    use_index: bool = True,
    split_bytes: int | None = 128 << 20,
):
    """``.osm.pbf`` → (nodes, ways, relations) DataFrames in the
    fixtures.osm schemas. The unit of parallelism is the ~1 MB
    compressed blob — the reference's own bounded-memory work unit
    (MapData.m:361-482 walks the file one framed blob at a time).

    ``use_index=True`` (default, the planet-scale path): a header-only
    framing scan builds a (path, blob_idx, offset, length) POINTER index
    — no payload bytes read — which is shuffled across the cluster; each
    task then range-reads (open/seek/read) exactly its own blobs inside
    the decode kernel. No task ever materializes more than one ~1 MB
    compressed blob at a time, so an ~80 GB planet file never hits
    Spark's 2 GB row limits and never ships whole-file bytes through a
    shuffle.

    ``use_index=False``: legacy whole-file path (each file one
    ``binaryFile`` row; raw blob bytes shuffled). Kept for remote/
    non-seekable sources and as the differential-testing twin — both
    paths produce identical DataFrames.

    Index mode persists the pointer index after its shuffle, so the
    three returned DataFrames — and repeated actions on any of them —
    share ONE header scan instead of re-scanning per action. The index
    is ~30 bytes/blob (an 80 GB planet ≈ 2.5 MB), so the cache is always
    driver-trivial; Spark evicts it LRU like any cached plan. The cache
    is private to the call: a later ``read_pbf`` of the same path (e.g.
    after the file was rewritten) scans afresh.

    ``split_bytes`` (index mode only, default 128 MiB): files larger
    than this are indexed in PARALLEL byte-range splits — each split
    resynchronizes to the first true blob boundary (signature search +
    parse + chain validation, Hadoop-input-split style), so even ONE
    80 GB planet file gets its header walk spread over ~640 tasks
    instead of a single sequential scan. A lazy full-file TILING check
    (blobs must tile [0, file_size) exactly) turns any resync mistake
    into a loud error; ``split_bytes=None`` disables splitting (one
    sequential walk per file, no resync involved).

    node block_id = the blob index (the engine's stand-in for the
    reference's per-file grouping)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ..session import arrow_stage_partitions

    # explicit partition count, one decode task per core: with a bare
    # repartition(cols) over a few KB of blob pointers, AQE coalesces the
    # shuffle to ONE partition and the decode runs serially (measured
    # 3.3 s → 0.5 s for 19 blobs); more tasks than cores only add
    # per-task Python overhead
    n_part = arrow_stage_partitions(spark)

    if use_index:
        from pyspark.sql import Window

        # metadata-only listing: content is never selected, so the
        # binaryFile scan reads no payload bytes (pinned by test_pbf:
        # ReadSchema carries only path + length). The per-call read_id
        # literal keeps the plans persisted below private to this call:
        # Spark's cache manager serves a persisted plan to ANY later
        # plan with the same result, so a later read of a rewritten file
        # at the same path would otherwise reuse this call's blob index
        # (stale counts, or offsets past the new file's end).
        listing = (
            spark.read.format("binaryFile")
            .load(path)
            .select(
                "path",
                F.col("length").alias("file_size"),
                F.lit(uuid.uuid4().hex).alias("read_id"),
            )
        )
        # zero-byte files can't be split (sequence() needs a positive
        # range); they also never appear here — the binaryFile source
        # omits empty files from its listing on BOTH read paths, and an
        # empty file frames no blobs, so nothing is lost. Non-empty
        # files stay visible to the missing-file guard below.
        files = listing.where(F.col("file_size") > 0)
        # parallel index of ONE huge file (the planet case): byte-range
        # splits, each resynchronized to the first true blob boundary —
        # without this the header walk of an 80 GB file is a single
        # sequential task
        if split_bytes is None:
            step = "file_size"  # one split per file (no resync needed)
        else:
            step = str(int(split_bytes))
        splits = files.select(
            "path",
            "file_size",
            F.explode(
                F.expr(f"sequence(CAST(0 AS LONG), file_size - 1, {step})")
            ).alias("split_start"),
        ).repartition(n_part, "path", "split_start")

        def scan_split(batches):
            for pdf in batches:
                rows = []
                for p, fsize, s0 in zip(
                    pdf["path"], pdf["file_size"], pdf["split_start"]
                ):
                    fsize, s0 = int(fsize), int(s0)
                    end = fsize if split_bytes is None else min(
                        s0 + int(split_bytes), fsize
                    )
                    with _open_stream(p) as f:
                        pos = (
                            0 if s0 == 0 else resync_blob_boundary(f, s0, fsize)
                        )
                        if pos is None or pos >= end:
                            continue
                        for off, ln, bt in scan_blob_index_stream(
                            f, pos, stop=end
                        ):
                            rows.append((p, fsize, off, ln, bt))
                yield pd.DataFrame(
                    rows,
                    columns=["path", "file_size", "offset", "length", "btype"],
                )

        raw_idx = splits.mapInPandas(
            scan_split,
            schema=(
                "path string, file_size long, offset long, length long, "
                "btype string"
            ),
        )
        w = Window.partitionBy("path").orderBy("offset")
        idx = raw_idx.select(
            "*",
            (F.row_number().over(w) - 1).alias("blob_idx"),
            F.lag(F.col("offset") + F.col("length")).over(w).alias("prev_end"),
        )
        # exact full-file TILING check, evaluated lazily inside the same
        # action: every blob must start where its predecessor ended, the
        # first at offset 0, the last at file_size. Any resync false
        # positive/negative breaks contiguity and fails the decode
        # loudly instead of silently dropping or duplicating blobs.
        bad_row = F.when(
            F.col("prev_end").isNull(), F.col("offset") != 0
        ).otherwise(F.col("prev_end") != F.col("offset"))
        # one header walk TOTAL: the guard's broadcast job (driver builds
        # broadcast relations before submitting the main stage) populates
        # this cache, and every later reference — the data branch plus all
        # actions on the three returned DataFrames — reads it. ~30
        # bytes/blob, driver-trivial.
        idx = idx.persist()
        # ONE aggregation pass folds every integrity counter (the r3 code
        # ran gaps/overruns/tails/missing as separate subplans, so a
        # single action re-walked the headers ~5×; on a remote store each
        # walk is many small range reads): per-path partials, then a
        # metadata-sized outer join against the listing for missing files.
        # coalesce: SUM over an empty index is NULL, and a NULL guard
        # column would crash the int() readback instead of diagnosing
        per_path = idx.groupBy("path").agg(
            F.sum(F.when(bad_row, 1).otherwise(0)).alias("p_gaps"),
            F.sum(
                F.when(
                    F.col("offset") + F.col("length") > F.col("file_size"), 1
                ).otherwise(0)
            ).alias("p_overruns"),
            F.max(F.col("offset") + F.col("length")).alias("idx_end"),
        )
        # a listed file that contributed ZERO index rows is invisible to
        # the row-wise checks above — the left join makes it a NULL
        # partial row, counted as missing, so a whole garbage file can't
        # vanish silently
        guard = (
            listing.join(per_path, "path", "left")
            .agg(
                F.coalesce(F.sum("p_gaps"), F.lit(0)).alias("n_gaps"),
                F.coalesce(F.sum("p_overruns"), F.lit(0)).alias("n_overruns"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("idx_end") != F.col("file_size"), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("n_tails"),
                F.coalesce(
                    F.sum(F.when(F.col("idx_end").isNull(), 1).otherwise(0)),
                    F.lit(0),
                ).alias("n_missing"),
            )
        )
        # a CARRIER row always exists: without it a file whose corruption
        # empties the OSMData set would return zero rows silently (the
        # guard columns ride on data rows, and there would be none to
        # carry them). It rides through the broadcast crossJoin like any
        # data row and is skipped by the decode loop (offset < 0), so the
        # guard subplan is referenced exactly ONCE — no sentinel branch
        # re-running the aggregation. It joins the blob rows BEFORE their
        # repartition: a union after it would add the carrier's own
        # partitions and run that many more decode tasks per entity.
        carrier = spark.range(1).select(
            F.lit("!guard-carrier").alias("path"),
            F.lit(-1).alias("blob_idx"),
            F.lit(-1).cast("long").alias("offset"),
            F.lit(-1).cast("long").alias("length"),
        )
        blobs = (
            idx.where(F.col("btype") == "OSMData")
            .select("path", "blob_idx", "offset", "length")
            .unionByName(carrier)
            .repartition(n_part, "path", "blob_idx")
            .crossJoin(F.broadcast(guard))
            .persist()
        )

        def fetch(pdf):
            if len(pdf):
                gaps = int(pdf["n_gaps"].iloc[0] or 0)
                over = int(pdf["n_overruns"].iloc[0] or 0)
                tail = int(pdf["n_tails"].iloc[0] or 0)
                miss = int(pdf["n_missing"].iloc[0] or 0)
                if gaps or over or tail or miss:
                    raise ValueError(
                        "PBF index failed the full-file tiling check "
                        f"(gaps={gaps}, overruns={over}, tail_mismatches="
                        f"{tail}, unindexable_files={miss}): the blob "
                        "framing is corrupt, uses blobs over the 64 MiB "
                        "walker bound, or could not be resynchronized — "
                        "inspect the file; read_pbf(..., use_index=False) "
                        "reads whole files without the framing walk limits"
                    )
            # the guard-carrier row exists only to ferry the counters
            # above into partitions that might otherwise be empty
            pdf = pdf[pdf["offset"] >= 0]
            # one handle per (file, task); each blob is one range read of
            # exactly [offset, offset+length) — the task's peak buffer is
            # a single compressed blob
            for p, grp in pdf.groupby("path", sort=True):
                with _open_stream(p) as f:
                    for bi, off, ln in zip(
                        grp["blob_idx"], grp["offset"], grp["length"]
                    ):
                        f.seek(int(off))
                        _btype, raw = next(iter_blobs(f.read(int(ln))))
                        yield int(bi), raw
    else:
        files = spark.read.format("binaryFile").load(path).select("path", "content")

        def explode_blobs(batches):
            for pdf in batches:
                rows = []
                for p, content in zip(pdf["path"], pdf["content"]):
                    for i, (btype, raw) in enumerate(iter_blobs(bytes(content))):
                        if btype == "OSMData":
                            rows.append((p, i, raw))
                yield pd.DataFrame(rows, columns=["path", "blob_idx", "raw"])

        blobs = files.mapInPandas(
            explode_blobs, schema="path string, blob_idx int, raw binary"
        ).repartition(n_part, "path", "blob_idx")

        def fetch(pdf):
            for bi, raw in zip(pdf["blob_idx"], pdf["raw"]):
                yield int(bi), bytes(raw)

    def node_decode(batches):
        import numpy as np

        for pdf in batches:
            for blob_idx, raw in fetch(pdf):
                c = decode_block_columnar(raw)
                n = len(c["node_ids"])
                if n:
                    # columnar assembly — no per-node python tuples;
                    # tagless nodes emit NULL (cheaper in Arrow than an
                    # empty list), coalesced to an empty map JVM-side
                    yield pd.DataFrame(
                        {
                            "id": c["node_ids"],
                            "lat": c["node_lats"],
                            "lon": c["node_lons"],
                            "tags_kv": [
                                list(t.items()) if t else None
                                for t in c["node_tags"]
                            ],
                            "block_id": np.full(n, int(blob_idx), dtype=np.int32),
                        }
                    )

    def way_decode(batches):
        for pdf in batches:
            for _blob_idx, raw in fetch(pdf):
                ways = decode_block_columnar(raw)["ways"]
                if ways:
                    yield pd.DataFrame(
                        [
                            (wid, refs, list(tags.items()) if tags else None)
                            for wid, refs, tags in ways
                        ],
                        columns=["id", "refs", "tags_kv"],
                    )

    def rel_decode(batches):
        for pdf in batches:
            for _blob_idx, raw in fetch(pdf):
                rels = decode_block_columnar(raw)["relations"]
                if rels:
                    yield pd.DataFrame(
                        [
                            (
                                rid,
                                [m[0] for m in members],
                                [m[1] for m in members],
                                [m[2] for m in members],
                                list(tags.items()) if tags else None,
                            )
                            for rid, members, tags in rels
                        ],
                        columns=["id", "mtypes", "mrefs", "mroles", "tags_kv"],
                    )

    # one narrow kernel per entity: an action on `nodes` never pays
    # pandas/Arrow costs for way/relation columns (and vice versa) —
    # measured 1.9 s → node-only scan time on a nodes-only file
    kv = "array<struct<key: string, value: string>>"
    tags = F.coalesce(
        F.map_from_entries(F.col("tags_kv")),
        F.map_from_entries(F.expr(f"CAST(array() AS {kv})")),
    )
    nodes = blobs.mapInPandas(
        node_decode,
        schema=f"id long, lat double, lon double, tags_kv {kv}, block_id int",
    ).select("id", "lat", "lon", tags.alias("tags"), "block_id")
    ways = blobs.mapInPandas(
        way_decode, schema=f"id long, refs array<long>, tags_kv {kv}"
    ).select("id", "refs", tags.alias("tags"))
    rels = blobs.mapInPandas(
        rel_decode,
        schema=(
            f"id long, mtypes array<string>, mrefs array<long>, "
            f"mroles array<string>, tags_kv {kv}"
        ),
    ).select(
        "id",
        F.expr(
            "transform(arrays_zip(mtypes, mrefs, mroles), "
            "m -> struct(m.mtypes AS type, m.mrefs AS ref, m.mroles AS role))"
        ).alias("members"),
        tags.alias("tags"),
    )
    return nodes, ways, rels
