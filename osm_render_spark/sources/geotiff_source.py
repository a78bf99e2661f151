"""GeoTIFF → DEM-tile-grid source with segment-level pointer reads.

The planet-scale shape mirrors sources/pbf.py's blob index (the
reference's bounded-memory file walk, MapData.m:361-482): a GeoTIFF's
strips/tiles are independently compressed byte ranges whose offsets
live in the IFD, so the driver parses ONLY the header + IFD (a few KB
of targeted range reads, no pixel bytes), builds a
(path, segment, offset, length, layout) pointer index, and each task
range-reads and decodes exactly its own segments.  An 80 GB DEM mosaic
never ships whole-file bytes through a shuffle and no task holds more
than one compressed segment plus its decoded pixels.  Header walk and
segment decoder are raster/geotiff.py's; a cut or corrupt segment fails
the read, naming the file and segment.

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

from collections.abc import Callable, Iterator
from dataclasses import astuple, fields

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..raster.geotiff import TiffLayout, decode_segment, read_tiff
from ..session import arrow_stage_partitions
from .pbf import _open_stream

_I32 = np.dtype("<i4")
_LAYOUT_FIELDS = fields(TiffLayout)


def _range_reader(f) -> Callable[[int, int], bytes]:
    def read(off: int, n: int) -> bytes:
        f.seek(off)
        return f.read(n)

    return read


def tiff_segment_index(
    path: str,
) -> tuple[TiffLayout, list[tuple[int, int, int]]]:
    """Header-only parse: (layout, [(segment_idx, offset, length), ...]).
    Reads the 8-byte header, the IFD entry table, and any out-of-line
    value arrays — never a pixel byte."""
    with _open_stream(path) as f:
        lay, segments, _tags = read_tiff(_range_reader(f))
    return lay, [(i, off, n) for i, (off, n) in enumerate(segments)]


# pointer columns, then the TiffLayout fields in declaration order
_IDX_SCHEMA = (
    "raster string, path string, seg int, offset long, length long, "
    "w int, h int, seg_w int, seg_h int, tiled boolean, comp int, "
    "pred int, bits int, fmt int, bo string, spp int"
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
        if lay.spp != 1:
            raise NotImplementedError(
                f"{path}: DEM source is single-sample (grayscale)"
            )
        if lay.w % tile_px or lay.h % tile_px:
            raise ValueError(
                f"{path}: {lay.w}x{lay.h} not a multiple of tile_px={tile_px}"
            )
        fast = fast and lay.tiled and lay.seg_w == tile_px and lay.seg_h == tile_px
        name = path.rsplit("/", 1)[-1]
        rows += [(name, path, i, off, cnt) + astuple(lay) for i, off, cnt in segs]
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
                    lay = TiffLayout(*(getattr(r, f.name) for f in _LAYOUT_FIELDS))
                    try:
                        seg, x0, y0 = decode_segment(
                            _range_reader(fh), lay, r.seg, r.offset, r.length
                        )
                    except ValueError as e:
                        raise ValueError(f"{r.path}: {e}") from e
                    if seg.dtype.kind == "f":
                        seg = np.floor(seg + 0.5)
                    seg = seg[:, :, 0].astype(_I32)
                    # slice into engine-tile-aligned sub-rects
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

    from ..raster.ops import buffered_group_flatmap

    def assemble(g) -> list[tuple]:
        tile = np.zeros((tile_px, tile_px), dtype=_I32)
        for px, *box in zip(g["px"], g["oy"], g["ox"], g["sh"], g["sw"]):
            oy, ox, sh, sw = map(int, box)
            a = np.frombuffer(px, dtype=_I32).reshape(sh, sw)
            tile[oy : oy + sh, ox : ox + sw] = a
        return [
            (g["raster"][0], int(g["tx"][0]), int(g["ty"][0]), tile.tobytes())
        ]

    keyed = parts.withColumn("gkey", F.concat_ws(":", "raster", "tx", "ty"))
    return buffered_group_flatmap(
        keyed,
        "gkey",
        assemble,
        ["raster", "tx", "ty", "dem"],
        "raster string, tx long, ty long, dem binary",
    )
