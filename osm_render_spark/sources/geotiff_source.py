"""GeoTIFF → DEM-tile-grid source with segment-level pointer reads.

The planet-scale shape mirrors sources/pbf.py's blob index (the
reference's bounded-memory file walk, MapData.m:361-482): a GeoTIFF's
strips/tiles are independently compressed byte ranges whose offsets
live in the IFD, so the driver parses ONLY the header + IFD (a few KB
of targeted range reads, no pixel bytes), builds a
(path, segment, offset, length, position) pointer index, and each task
range-reads and decodes exactly its own segments.  An 80 GB DEM mosaic
never ships whole-file bytes through a shuffle and no task holds more
than one compressed segment plus its decoded pixels.

Regridding TIFF segments to the engine's tile_px grid:
- fast path: the file is TIFF-tiled with tile dims == tile_px — each
  segment IS an engine tile; zero exchange after decode;
- general path: each decoded segment is sliced into engine-tile-aligned
  sub-rects (narrow), then ONE groupBy(raster, tx, ty) assembles tiles
  that straddle segment boundaries.

Output rows: (raster string, tx long, ty long, dem binary) —
little-endian int32 tile_px² — the contract of
raster/terrain.terrain_tiles.  Raster dims must be multiples of
tile_px (DEM products ship in aligned tiles; a clear error otherwise).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..raster.geotiff import (
    _TYPES,
    T_BITS,
    T_COMPRESSION,
    T_LENGTH,
    T_PLANAR,
    T_PREDICTOR,
    T_ROWS_PER_STRIP,
    T_SAMPLE_FMT,
    T_SAMPLES,
    T_STRIP_COUNTS,
    T_STRIP_OFFSETS,
    T_TILE_COUNTS,
    T_TILE_H,
    T_TILE_OFFSETS,
    T_TILE_W,
    T_WIDTH,
    _dtype_for,
    lzw_decode_tiff,
    packbits_decode,
)
from ..session import arrow_stage_partitions
from .pbf import _open_stream

_I32 = np.dtype("<i4")


@dataclass(frozen=True)
class TiffLayout:
    """Everything a task needs to decode one segment — shipped as plain
    columns in the pointer index so the kernel is closure-free."""

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


def tiff_segment_index(
    path: str,
) -> tuple[TiffLayout, list[tuple[int, int, int]]]:
    """Header-only parse: (layout, [(segment_idx, offset, length), ...]).
    Reads the 8-byte header, the IFD entry table, and any out-of-line
    value arrays — never a pixel byte."""
    with _open_stream(path) as f:
        head = f.read(8)
        if head[:2] == b"II":
            bo = "<"
        elif head[:2] == b"MM":
            bo = ">"
        else:
            raise ValueError(f"{path}: not a TIFF")
        magic, ifd_off = struct.unpack(bo + "HI", head[2:])
        if magic != 42:
            raise NotImplementedError(f"{path}: TIFF magic {magic}")
        f.seek(ifd_off)
        (count,) = struct.unpack(bo + "H", f.read(2))
        entries = f.read(12 * count)
        tags: dict[int, list] = {}
        out_of_line: list[tuple[int, int, int, int]] = []  # tag,type,n,off
        for i in range(count):
            tag, ftype, n = struct.unpack_from(bo + "HHI", entries, 12 * i)
            if ftype not in _TYPES or ftype in (2, 5, 10):
                continue
            ch, size = _TYPES[ftype]
            if size * n <= 4:
                tags[tag] = list(
                    struct.unpack_from(bo + str(n) + ch, entries, 12 * i + 8)
                )
            else:
                (voff,) = struct.unpack_from(bo + "I", entries, 12 * i + 8)
                out_of_line.append((tag, ftype, n, voff))
        for tag, ftype, n, voff in out_of_line:
            ch, size = _TYPES[ftype]
            f.seek(voff)
            tags[tag] = list(struct.unpack(bo + str(n) + ch, f.read(size * n)))

    w = int(tags[T_WIDTH][0])
    h = int(tags[T_LENGTH][0])
    if int(tags.get(T_SAMPLES, [1])[0]) != 1:
        raise NotImplementedError("DEM source is single-sample (grayscale)")
    if int(tags.get(T_PLANAR, [1])[0]) != 1:
        raise NotImplementedError("planar TIFF")
    tiled = T_TILE_OFFSETS in tags
    if tiled:
        seg_w, seg_h = int(tags[T_TILE_W][0]), int(tags[T_TILE_H][0])
        offsets, counts = tags[T_TILE_OFFSETS], tags[T_TILE_COUNTS]
    else:
        seg_w = w
        seg_h = int(tags.get(T_ROWS_PER_STRIP, [h])[0])
        offsets, counts = tags[T_STRIP_OFFSETS], tags[T_STRIP_COUNTS]
    layout = TiffLayout(
        w=w,
        h=h,
        seg_w=seg_w,
        seg_h=seg_h,
        tiled=tiled,
        comp=int(tags.get(T_COMPRESSION, [1])[0]),
        pred=int(tags.get(T_PREDICTOR, [1])[0]),
        bits=int(tags.get(T_BITS, [8])[0]),
        fmt=int(tags.get(T_SAMPLE_FMT, [1])[0]),
        bo=bo,
    )
    segs = [
        (i, int(off), int(cnt)) for i, (off, cnt) in enumerate(zip(offsets, counts))
    ]
    return layout, segs


def _decode_segment(raw: bytes, lay: TiffLayout, seg_h: int) -> np.ndarray:
    dt = _dtype_for(lay.bits, lay.fmt, lay.bo)
    expected = lay.seg_w * seg_h * dt.itemsize
    if lay.comp == 1:
        plain = raw[:expected]
    elif lay.comp == 5:
        plain = lzw_decode_tiff(raw, expected)
    elif lay.comp in (8, 32946):
        import zlib

        plain = zlib.decompress(raw)
    elif lay.comp == 32773:
        plain = packbits_decode(raw, expected)
    else:
        raise NotImplementedError(f"TIFF compression {lay.comp}")
    if len(plain) < expected:
        plain = plain + b"\0" * (expected - len(plain))
    seg = np.frombuffer(plain[:expected], dtype=dt).reshape(seg_h, lay.seg_w)
    if lay.pred == 2:
        seg = np.cumsum(seg.astype(np.int64), axis=1, dtype=np.int64).astype(dt)
    return seg


_IDX_SCHEMA = (
    "raster string, path string, seg int, offset long, length long, "
    "w int, h int, seg_w int, seg_h int, tiled boolean, comp int, "
    "pred int, bits int, fmt int, bo string"
)


def read_geotiff_tiles(
    spark: SparkSession,
    paths: list[str],
    tile_px: int,
    *,
    index_partitions: int | None = None,
) -> DataFrame:
    """Distributed (raster, tx, ty, dem) tile grid from GeoTIFF files.
    Driver reads headers only; pixel bytes are range-read in tasks.
    dem is little-endian int32 regardless of source sample type
    (float DEMs are floor(x+0.5)-rounded — F6 discipline)."""
    rows = []
    fast = True
    for path in sorted(paths):
        lay, segs = tiff_segment_index(path)
        if lay.w % tile_px or lay.h % tile_px:
            raise ValueError(
                f"{path}: {lay.w}x{lay.h} not a multiple of tile_px={tile_px}"
            )
        fast = fast and lay.tiled and lay.seg_w == tile_px and lay.seg_h == tile_px
        name = path.rsplit("/", 1)[-1]
        rows += [
            (name, path, i, off, cnt, lay.w, lay.h, lay.seg_w, lay.seg_h,
             lay.tiled, lay.comp, lay.pred, lay.bits, lay.fmt, lay.bo)
            for i, off, cnt in segs
        ]
    n_part = index_partitions or min(len(rows), arrow_stage_partitions(spark))
    # explicit partition count: the index rows are pointers to heavy
    # decode work (CLAUDE.md AQE-coalesce trap)
    idx = spark.createDataFrame(rows, _IDX_SCHEMA).repartition(n_part, "path", "seg")

    def decode(pdf_iter: Iterator[pd.DataFrame]):
        for pdf in pdf_iter:
            out = []
            handles: dict[str, object] = {}
            try:
                for r in pdf.itertuples():
                    fh = handles.get(r.path)
                    if fh is None:
                        fh = handles[r.path] = _open_stream(r.path)
                    fh.seek(int(r.offset))
                    raw = fh.read(int(r.length))
                    lay = TiffLayout(
                        r.w, r.h, r.seg_w, r.seg_h, bool(r.tiled),
                        r.comp, r.pred, r.bits, r.fmt, r.bo,
                    )
                    if lay.tiled:
                        across = (lay.w + lay.seg_w - 1) // lay.seg_w
                        x0 = (r.seg % across) * lay.seg_w
                        y0 = (r.seg // across) * lay.seg_h
                        seg_h = lay.seg_h
                    else:
                        x0, y0 = 0, r.seg * lay.seg_h
                        seg_h = min(lay.seg_h, lay.h - y0)
                    seg = _decode_segment(raw, lay, seg_h)
                    if seg.dtype.kind == "f":
                        seg = np.floor(seg + 0.5)
                    seg = seg.astype(_I32)
                    # clip the right/bottom tile padding, then slice into
                    # engine-tile-aligned sub-rects
                    seg = seg[: min(seg.shape[0], lay.h - y0),
                              : min(seg.shape[1], lay.w - x0)]
                    ys = range(y0 // tile_px, (y0 + seg.shape[0] - 1) // tile_px + 1)
                    xs = range(x0 // tile_px, (x0 + seg.shape[1] - 1) // tile_px + 1)
                    for ty in ys:
                        for tx in xs:
                            gy0, gx0 = ty * tile_px, tx * tile_px
                            sy0 = max(gy0, y0) - y0
                            sx0 = max(gx0, x0) - x0
                            sy1 = min(gy0 + tile_px, y0 + seg.shape[0]) - y0
                            sx1 = min(gx0 + tile_px, x0 + seg.shape[1]) - x0
                            sub = seg[sy0:sy1, sx0:sx1]
                            out.append(
                                (r.raster, tx, ty,
                                 y0 + sy0 - gy0, x0 + sx0 - gx0,
                                 sub.shape[0], sub.shape[1],
                                 np.ascontiguousarray(sub).tobytes())
                            )
            finally:
                for fh in handles.values():
                    fh.close()
            yield pd.DataFrame(
                out,
                columns=["raster", "tx", "ty", "oy", "ox", "sh", "sw", "px"],
            )

    parts = idx.mapInPandas(
        decode,
        schema=(
            "raster string, tx long, ty long, oy int, ox int, "
            "sh int, sw int, px binary"
        ),
    )
    if fast:
        # every part is a whole engine tile already — no exchange
        return parts.selectExpr("raster", "tx", "ty", "px AS dem")

    import pyspark.sql.functions as F

    from ..raster.ops import buffered_group_map

    def assemble(group: pd.DataFrame):
        tile = np.zeros((tile_px, tile_px), dtype=_I32)
        for r in group.itertuples():
            a = np.frombuffer(r.px, dtype=_I32).reshape(r.sh, r.sw)
            tile[r.oy : r.oy + r.sh, r.ox : r.ox + r.sw] = a
        r0 = group.iloc[0]
        return (r0["raster"], int(r0["tx"]), int(r0["ty"]), tile.tobytes())

    keyed = parts.withColumn("gkey", F.concat_ws(":", "raster", "tx", "ty"))
    return buffered_group_map(
        keyed,
        "gkey",
        assemble,
        ["raster", "tx", "ty", "dem"],
        "raster string, tx long, ty long, dem binary",
    )
