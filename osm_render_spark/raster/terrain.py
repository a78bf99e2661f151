"""Terrain derivatives over tiled DEM rasters — Horn gradients, slope,
aspect, hillshade — as a DISTRIBUTED tile operator with perimeter-sized
halo exchange.

Reference semantics: the reference renders each area's raster
independently in a per-area loop (OsmRender.m:1248-1257);
terrain shading is the raster analog that NEEDS cross-tile pixels — each
output pixel reads a 3×3 neighborhood, so tile borders require the
adjacent tiles' edge rows/columns.  The naive distributed shapes are
both wrong at 100 TB: shipping every tile to all 8 neighbors multiplies
shuffle volume 9×, and gathering the whole raster per executor is a
broadcast of the world.  This module exchanges ONLY the 1-pixel border
strips (perimeter-sized: ~tile_px·4 bytes per edge vs tile_px²·4 per
tile, a 32× shuffle saving at 64px tiles and 128× at 256px), then each
tile computes alone:

  stage 1 (narrow mapInPandas): every tile emits its full core to
    itself plus 8 border parts addressed to its neighbors;
  stage 2 (ONE exchange, the sorted-run group kernel keyed by tile —
    raster/ops.buffered_group_flatmap): assemble the
    (tile_px+2)² padded array, replicate edges where a neighbor is
    absent (= global clamp-to-edge), run the numpy kernel on the core.

Missing-neighbor replication makes the distributed result IDENTICAL to
computing Horn on the full mosaic with clamped borders — pinned by the
geotiff_terrain_stats oracle (DuckDB recomputes the closed-form DEM and
clamped Horn sums independently) and tests/test_terrain.py (tiled ==
whole-array on random mosaics).

Horn 1981 convention used everywhere (incl. the oracle SQL):
  gx = (z[NE]+2z[E]+z[SE]) - (z[NW]+2z[W]+z[SW])   (east minus west)
  gy = (z[SW]+2z[S]+z[SE]) - (z[NW]+2z[N]+z[NE])   (south minus north)
with x growing east (columns) and y growing south (rows) — integer-exact
on integer DEMs.  dz/dx = gx/(8·cellsize).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_I32 = np.dtype("<i4")


# -------------------------------------------------------- numpy kernels

def horn_gradients(padded: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(gx, gy) int64 for the CORE of a 1-pixel-padded array."""
    z = padded.astype(np.int64)
    nw, n_, ne = z[:-2, :-2], z[:-2, 1:-1], z[:-2, 2:]
    w_, e_ = z[1:-1, :-2], z[1:-1, 2:]
    sw, s_, se = z[2:, :-2], z[2:, 1:-1], z[2:, 2:]
    gx = (ne + 2 * e_ + se) - (nw + 2 * w_ + sw)
    gy = (sw + 2 * s_ + se) - (nw + 2 * n_ + ne)
    return gx, gy


def pad_clamp(dem: np.ndarray) -> np.ndarray:
    """1-pixel clamp-to-edge padding (the single-array reference for
    what the distributed halo exchange reconstructs)."""
    return np.pad(dem, 1, mode="edge")


def hillshade(
    padded: np.ndarray,
    *,
    cellsize: float = 30.0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
) -> np.ndarray:
    """Standard Horn hillshade (the ESRI/GDAL formula), uint8 in 0..255,
    over the core of a padded tile.  Float path — pinned by property
    tests + goldens, not the SQL oracle (transcendental)."""
    gx, gy = horn_gradients(padded)
    dzdx = gx.astype(np.float64) * (z_factor / (8.0 * cellsize))
    dzdy = gy.astype(np.float64) * (z_factor / (8.0 * cellsize))
    zen = math.radians(90.0 - altitude_deg)
    az = math.radians(360.0 - azimuth_deg + 90.0)
    # algebraic form of cos(zen)·cos(slope) + sin(zen)·sin(slope)·
    # cos(az − aspect) with slope = atan(m), aspect = atan2(dzdy, −dzdx):
    # cos(slope) = 1/√(1+m²), sin(slope)·cos(aspect) = −dzdx/√(1+m²),
    # sin(slope)·sin(aspect) = dzdy/√(1+m²) — one sqrt per pixel, no
    # per-pixel trig (~6× faster; same formula, not an approximation)
    hs = (
        math.cos(zen)
        + math.sin(zen) * (math.cos(az) * -dzdx + math.sin(az) * dzdy)
    ) / np.sqrt(1.0 + dzdx * dzdx + dzdy * dzdy)
    # engine-wide floor(x+0.5) rounding (F6)
    return np.clip(np.floor(255.0 * hs + 0.5), 0, 255).astype(np.uint8)


def slope_aspect_octant(padded: np.ndarray, cellsize: int = 1):
    """(slope_milli, octant) integer derivatives: slope_milli =
    floor(1000·√(gx²+gy²))/(8·cellsize) done in integer space as
    isqrt(10⁶·(gx²+gy²))//(8·cellsize); octant = 0..7 by atan2 octant of
    (gy, gx), 8 for flat — engine-independent integers for oracles."""
    gx, gy = horn_gradients(padded)
    mag2 = gx * gx + gy * gy
    slope_milli = np.array(
        [math.isqrt(int(v) * 1_000_000) for v in mag2.ravel()], dtype=np.int64
    ).reshape(mag2.shape) // (8 * cellsize)
    ax, ay = np.abs(gx), np.abs(gy)
    octant = np.full(gx.shape, 8, dtype=np.int64)
    nz = mag2 > 0
    # octants counter-clockwise from east, ties to the lower octant
    o = np.where(
        ay <= ax,
        np.where(gx >= 0, np.where(gy >= 0, 0, 7), np.where(gy >= 0, 3, 4)),
        np.where(gy >= 0, np.where(gx >= 0, 1, 2), np.where(gx >= 0, 6, 5)),
    )
    octant[nz] = o[nz]
    return slope_milli, octant


# ------------------------------------------------- distributed operator

def _halo_strips(pdf_iter: Iterator[pd.DataFrame], tile_px: int, keyed: bool):
    """Perimeter strips addressed to the 8 neighbors.  dx,dy are the
    part's position in the RECEIVER's frame.  The core row does NOT
    pass through here — it is emitted Catalyst-side (a plain select)
    and unioned in, so the tile's pixel bytes cross the Python/Arrow
    boundary zero extra times; only perimeter bytes do."""
    for pdf in pdf_iter:
        rows = []
        keys = pdf["raster"] if keyed else [""] * len(pdf)
        for k, tx, ty, blob in zip(keys, pdf["tx"], pdf["ty"], pdf["dem"]):
            a = np.frombuffer(blob, dtype=_I32).reshape(tile_px, tile_px)
            tx, ty = int(tx), int(ty)
            # edges: receiver at (tx+ox, ty+oy) sees this strip at (-ox,-oy)
            rows.append((k, tx + 1, ty, -1, 0, a[:, -1].tobytes()))
            rows.append((k, tx - 1, ty, 1, 0, a[:, 0].tobytes()))
            rows.append((k, tx, ty + 1, 0, -1, a[-1, :].tobytes()))
            rows.append((k, tx, ty - 1, 0, 1, a[0, :].tobytes()))
            rows.append((k, tx + 1, ty + 1, -1, -1, a[-1:, -1].tobytes()))
            rows.append((k, tx - 1, ty + 1, 1, -1, a[-1:, 0].tobytes()))
            rows.append((k, tx + 1, ty - 1, -1, 1, a[:1, -1].tobytes()))
            rows.append((k, tx - 1, ty - 1, 1, 1, a[:1, 0].tobytes()))
        yield pd.DataFrame(
            rows, columns=["raster", "tx", "ty", "dx", "dy", "part"]
        )


def _halo_parts_df(src: DataFrame, tile_px: int, keyed: bool) -> DataFrame:
    """Core rows (pure Catalyst select) unioned with the Python-emitted
    perimeter strips — the shared stage-1 of terrain_tiles and
    contour_tiles."""
    core = src.selectExpr(
        ("raster" if keyed else "'' AS raster"),
        "tx",
        "ty",
        "CAST(0 AS INT) AS dx",
        "CAST(0 AS INT) AS dy",
        "dem AS part",
    )
    strips = src.mapInPandas(
        lambda it: _halo_strips(it, tile_px, keyed),
        schema="raster string, tx long, ty long, dx int, dy int, part binary",
    )
    return core.unionByName(strips)


def _halo_parts(g) -> dict[tuple[int, int], bytes]:
    """A tile group's parts keyed by their (dx, dy) position."""
    return {
        (int(dx), int(dy)): part
        for dx, dy, part in zip(g["dx"], g["dy"], g["part"])
    }


def _assemble_flags(
    g, tile_px: int
) -> tuple[np.ndarray, bool, bool] | None:
    """_assemble plus (has_east, has_south) neighbor-presence flags —
    contour cells on the last row/column exist only when the neighbor
    does (the cell grid is one smaller than the pixel grid)."""
    parts = _halo_parts(g)
    p = _assemble(parts, tile_px)
    if p is None:
        return None
    return p, (1, 0) in parts, (0, 1) in parts


def _assemble(
    parts: dict[tuple[int, int], bytes], tile_px: int
) -> np.ndarray | None:
    """Padded (tile_px+2)² array from a tile's core + neighbor strips
    (:func:`_halo_parts`); absent neighbors replicate the nearest filled
    edge (global clamp). None when the group is halo-only (an address
    off the tile grid)."""
    if (0, 0) not in parts:
        return None
    core = np.frombuffer(parts[0, 0], dtype=_I32).reshape(tile_px, tile_px)
    p = np.empty((tile_px + 2, tile_px + 2), dtype=np.int64)
    p[1:-1, 1:-1] = core
    has_w = (-1, 0) in parts
    has_e = (1, 0) in parts
    has_n = (0, -1) in parts
    has_s = (0, 1) in parts
    p[1:-1, 0] = (
        np.frombuffer(parts[-1, 0], dtype=_I32) if has_w else core[:, 0]
    )
    p[1:-1, -1] = (
        np.frombuffer(parts[1, 0], dtype=_I32) if has_e else core[:, -1]
    )
    p[0, 1:-1] = (
        np.frombuffer(parts[0, -1], dtype=_I32) if has_n else core[0, :]
    )
    p[-1, 1:-1] = (
        np.frombuffer(parts[0, 1], dtype=_I32) if has_s else core[-1, :]
    )

    def corner(dx: int, dy: int, row: int, col: int) -> int:
        if (dx, dy) in parts:
            return int(np.frombuffer(parts[dx, dy], dtype=_I32)[0])
        # clamp: prefer the filled vertical edge, then horizontal, then core
        if (0, dy) in parts:
            return int(p[row, 1 if col == 0 else -2])
        if (dx, 0) in parts:
            return int(p[1 if row == 0 else -2, col])
        return int(p[1 if row == 0 else -2, 1 if col == 0 else -2])

    p[0, 0] = corner(-1, -1, 0, 0)
    p[0, -1] = corner(1, -1, 0, -1)
    p[-1, 0] = corner(-1, 1, -1, 0)
    p[-1, -1] = corner(1, 1, -1, -1)
    return p


def terrain_tiles(
    tiles: DataFrame,
    tile_px: int,
    *,
    mode: str = "hillshade",
    cellsize: float = 30.0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    raster_col: str | None = None,
) -> DataFrame:
    """Distributed terrain derivative over a DEM tile grid.

    tiles: (tx int, ty int, dem binary) — little-endian int32,
    tile_px×tile_px row-major.  ``raster_col`` names an optional raster
    id column so a multi-file mosaic keeps per-raster grids (halo never
    crosses rasters; each raster clamps at its own edges).

    mode='hillshade' → (tx, ty, shade binary u8 tile)
    mode='gradient_stats' → (tx, ty, sum_z, sum_abs_gx, sum_abs_gy)
      — integer-exact Horn sums, the oracle surface.

    Plan: narrow part fan-out, then ONE exchange (groupBy tile key)."""
    if mode not in ("hillshade", "gradient_stats"):
        raise ValueError(f"unknown mode {mode!r}")
    keyed = raster_col is not None
    src = (
        tiles.withColumnRenamed(raster_col, "raster")
        if keyed and raster_col != "raster"
        else tiles
    )

    import pyspark.sql.functions as F

    from .ops import buffered_group_flatmap

    parts = _halo_parts_df(src, tile_px, keyed).withColumn(
        "gkey", F.concat_ws(":", "raster", "tx", "ty")
    )
    key_sel = (["raster"] if keyed else []) + ["tx", "ty"]

    if mode == "hillshade":
        cols = ["raster", "tx", "ty", "shade"]
        schema = "raster string, tx long, ty long, shade binary"

        def render_group(g) -> list[tuple]:
            p = _assemble(_halo_parts(g), tile_px)
            if p is None:  # halo-only address off the grid
                return []
            hs = hillshade(
                p,
                cellsize=cellsize,
                azimuth_deg=azimuth_deg,
                altitude_deg=altitude_deg,
            )
            return [(g["raster"][0], int(g["tx"][0]), int(g["ty"][0]),
                     hs.tobytes())]

        out = buffered_group_flatmap(parts, "gkey", render_group, cols, schema)
        return out.select(*key_sel, "shade")

    # stats mode: PIXEL BYTES NEVER SHUFFLE.  Stage A reduces each
    # tile's interior (rows/cols 1..t−2, whose Horn stencils stay
    # inside the tile) narrowly and emits only a 2-px own frame plus
    # the 1-px neighbor strips; stage B reconstructs the border band
    # and adds the outermost ring's sums.  Exchange volume is
    # ~3·perimeter per tile (≈ 3% of tile² at 256px) — the shape that
    # scales when the mosaic is 10⁹ tiles and shuffle is the
    # bottleneck.  Output is identical to whole-mosaic Horn (pinned by
    # test_tiled_equals_whole_array_gradient_stats).
    if tile_px < 4:
        raise ValueError("gradient_stats requires tile_px >= 4")

    def stage_a(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            keys = pdf["raster"] if keyed else [""] * len(pdf)
            for k, tx, ty, blob in zip(keys, pdf["tx"], pdf["ty"], pdf["dem"]):
                a = np.frombuffer(blob, dtype=_I32).reshape(tile_px, tile_px)
                tx, ty = int(tx), int(ty)
                gx, gy = horn_gradients(a)  # interior pixels 1..t−2
                psum = np.array(
                    [a.astype(np.int64).sum(), np.abs(gx).sum(),
                     np.abs(gy).sum()],
                    dtype=np.int64,
                )
                rows.append((k, tx, ty, 2, 2, psum.tobytes()))
                frame = np.concatenate(
                    [a[:2, :].ravel(), a[-2:, :].ravel(),
                     a[:, :2].ravel(), a[:, -2:].ravel()]
                ).astype(_I32)
                rows.append((k, tx, ty, 0, 0, frame.tobytes()))
                rows.append((k, tx + 1, ty, -1, 0, a[:, -1].tobytes()))
                rows.append((k, tx - 1, ty, 1, 0, a[:, 0].tobytes()))
                rows.append((k, tx, ty + 1, 0, -1, a[-1, :].tobytes()))
                rows.append((k, tx, ty - 1, 0, 1, a[0, :].tobytes()))
                rows.append((k, tx + 1, ty + 1, -1, -1, a[-1:, -1].tobytes()))
                rows.append((k, tx - 1, ty + 1, 1, -1, a[-1:, 0].tobytes()))
                rows.append((k, tx + 1, ty - 1, -1, 1, a[:1, -1].tobytes()))
                rows.append((k, tx - 1, ty - 1, 1, 1, a[:1, 0].tobytes()))
            yield pd.DataFrame(
                rows, columns=["raster", "tx", "ty", "dx", "dy", "part"]
            )

    parts_s = src.mapInPandas(
        stage_a,
        schema="raster string, tx long, ty long, dx int, dy int, part binary",
    ).withColumn("gkey", F.concat_ws(":", "raster", "tx", "ty"))

    t = tile_px
    ring = np.zeros((t, t), dtype=bool)
    ring[0, :] = ring[-1, :] = ring[:, 0] = ring[:, -1] = True

    cols = ["raster", "tx", "ty", "sum_z", "sum_abs_gx", "sum_abs_gy"]
    schema = (
        "raster string, tx long, ty long, "
        "sum_z long, sum_abs_gx long, sum_abs_gy long"
    )

    def render_group(g) -> list[tuple]:
        parts_map = _halo_parts(g)
        if (2, 2) not in parts_map:  # halo-only address off the grid
            return []
        psum = np.frombuffer(parts_map[2, 2], dtype=np.int64)
        frame = np.frombuffer(parts_map[0, 0], dtype=_I32)
        p = np.zeros((t + 2, t + 2), dtype=np.int64)
        p[1:3, 1:-1] = frame[0 : 2 * t].reshape(2, t)
        p[t - 1 : t + 1, 1:-1] = frame[2 * t : 4 * t].reshape(2, t)
        p[1:-1, 1:3] = frame[4 * t : 6 * t].reshape(t, 2)
        p[1:-1, t - 1 : t + 1] = frame[6 * t : 8 * t].reshape(t, 2)
        has = {k: k in parts_map for k in ((-1, 0), (1, 0), (0, -1), (0, 1))}
        p[1:-1, 0] = (
            np.frombuffer(parts_map[-1, 0], dtype=_I32)
            if has[-1, 0] else p[1:-1, 1]
        )
        p[1:-1, -1] = (
            np.frombuffer(parts_map[1, 0], dtype=_I32)
            if has[1, 0] else p[1:-1, -2]
        )
        p[0, 1:-1] = (
            np.frombuffer(parts_map[0, -1], dtype=_I32)
            if has[0, -1] else p[1, 1:-1]
        )
        p[-1, 1:-1] = (
            np.frombuffer(parts_map[0, 1], dtype=_I32)
            if has[0, 1] else p[-2, 1:-1]
        )

        def corner(dx: int, dy: int, row: int, col: int) -> int:
            if (dx, dy) in parts_map:
                return int(np.frombuffer(parts_map[dx, dy], dtype=_I32)[0])
            if has[0, dy]:
                return int(p[row, 1 if col == 0 else -2])
            if has[dx, 0]:
                return int(p[1 if row == 0 else -2, col])
            return int(p[1 if row == 0 else -2, 1 if col == 0 else -2])

        p[0, 0] = corner(-1, -1, 0, 0)
        p[0, -1] = corner(1, -1, 0, -1)
        p[-1, 0] = corner(-1, 1, -1, 0)
        p[-1, -1] = corner(1, 1, -1, -1)
        gx, gy = horn_gradients(p)
        return [(
            g["raster"][0], int(g["tx"][0]), int(g["ty"][0]),
            int(psum[0]),
            int(psum[1] + np.abs(gx)[ring].sum()),
            int(psum[2] + np.abs(gy)[ring].sum()),
        )]

    out = buffered_group_flatmap(parts_s, "gkey", render_group, cols, schema)
    return out.select(*key_sel, "sum_z", "sum_abs_gx", "sum_abs_gy")


# marching-squares segment table: corner bits TL=8 TR=4 BR=2 BL=1
# ("inside" = z > thr), edges T/R/B/L; saddles use the fixed convention
# that each inside corner gets its own separating segment (no center
# probe) — documented, and the count oracle pins the topology
_MS_SEGS: dict[int, list[tuple[str, str]]] = {
    1: [("L", "B")], 2: [("B", "R")], 3: [("L", "R")], 4: [("T", "R")],
    5: [("T", "R"), ("L", "B")], 6: [("T", "B")], 7: [("L", "T")],
    8: [("L", "T")], 9: [("T", "B")], 10: [("L", "T"), ("B", "R")],
    11: [("T", "R")], 12: [("L", "R")], 13: [("B", "R")], 14: [("L", "B")],
}
_MS_NSEG = np.array([0, 1, 1, 1, 1, 2, 1, 1, 1, 1, 2, 1, 1, 1, 1, 0])


def _edge_ppm(z0: np.ndarray, z1: np.ndarray, thr: int) -> np.ndarray:
    """floor(10⁶·(thr−z0)/(z1−z0)) — exact crossing fraction in ppm;
    only read where a crossing exists (z0, z1 straddle thr)."""
    num = (thr - z0).astype(np.int64) * 1_000_000
    den = (z1 - z0).astype(np.int64)
    safe = np.where(den == 0, 1, den)
    return np.floor_divide(num, safe)


def _contour_cells(p: np.ndarray, thr: int):
    """(case, tl, tr, br, bl) int64 corner grids for the core cells of a
    padded tile (cell (i,j) spans pixels (i..i+1, j..j+1))."""
    tl = p[1:-1, 1:-1]
    tr = p[1:-1, 2:]
    br = p[2:, 2:]
    bl = p[2:, 1:-1]
    case = (
        (tl > thr).astype(np.int64) * 8
        + (tr > thr) * 4
        + (br > thr) * 2
        + (bl > thr) * 1
    )
    return case, tl, tr, br, bl


def _cell_mask(tile_px: int, has_e: bool, has_s: bool) -> np.ndarray:
    """Cells this tile OWNS: the global cell grid is one smaller than
    the pixel grid, so the last column/row of cells exists only when the
    east/south neighbor does."""
    m = np.ones((tile_px, tile_px), dtype=bool)
    if not has_e:
        m[:, -1] = False
    if not has_s:
        m[-1, :] = False
    return m


def _segments_for_tile(
    p: np.ndarray, mask: np.ndarray, thr: int, tx: int, ty: int, tile_px: int
) -> list[tuple[int, int, int, int]]:
    """(x1_ppm, y1_ppm, x2_ppm, y2_ppm) global-pixel segments, exact
    ppm-quantized linear interpolation on each crossed edge."""
    case, tl, tr, br, bl = _contour_cells(p, thr)
    t_ppm = _edge_ppm(tl, tr, thr)
    b_ppm = _edge_ppm(bl, br, thr)
    l_ppm = _edge_ppm(tl, bl, thr)
    r_ppm = _edge_ppm(tr, br, thr)
    gy, gx = np.mgrid[0 : mask.shape[0], 0 : mask.shape[1]]
    gx = (gx + tx * tile_px).astype(np.int64) * 1_000_000
    gy = (gy + ty * tile_px).astype(np.int64) * 1_000_000
    M = 1_000_000
    pt = {
        "T": (gx + t_ppm, gy),
        "B": (gx + b_ppm, gy + M),
        "L": (gx, gy + l_ppm),
        "R": (gx + M, gy + r_ppm),
    }
    out: list[tuple[int, int, int, int]] = []
    for c, pairs in _MS_SEGS.items():
        sel = (case == c) & mask
        if not sel.any():
            continue
        for ea, eb in pairs:
            x1, y1 = pt[ea][0][sel], pt[ea][1][sel]
            x2, y2 = pt[eb][0][sel], pt[eb][1][sel]
            out += [
                (int(a), int(b), int(cc), int(d))
                for a, b, cc, d in zip(x1, y1, x2, y2)
            ]
    return out


def contour_tiles(
    tiles: DataFrame,
    tile_px: int,
    thresholds: list[int],
    *,
    mode: str = "segments",
    raster_col: str | None = None,
) -> DataFrame:
    """Marching-squares contour extraction over a DEM tile grid — the
    vector complement of hillshade (isolines for the MVT/slippy sinks).
    Same perimeter halo exchange as terrain_tiles; each tile owns the
    cells whose top-left pixel it holds, so every global cell is emitted
    exactly once and tile seams are exact.

    mode='stats' → (tx, ty, thr, n_cut, n_segments) — integer topology
      counts, the oracle surface.
    mode='segments' → (tx, ty, thr, x1_ppm, y1_ppm, x2_ppm, y2_ppm) —
      exact ppm-quantized crossing endpoints in global pixel space."""
    if mode not in ("segments", "stats"):
        raise ValueError(f"unknown mode {mode!r}")
    import pyspark.sql.functions as F

    from .ops import buffered_group_flatmap

    keyed = raster_col is not None
    src = (
        tiles.withColumnRenamed(raster_col, "raster")
        if keyed and raster_col != "raster"
        else tiles
    )
    parts = _halo_parts_df(src, tile_px, keyed).withColumn(
        "gkey", F.concat_ws(":", "raster", "tx", "ty")
    )
    key_sel = (["raster"] if keyed else []) + ["tx", "ty"]
    thrs = list(thresholds)

    def tile_grid(g):
        got = _assemble_flags(g, tile_px)
        if got is None:
            return None
        p, has_e, has_s = got
        m = _cell_mask(tile_px, has_e, has_s)
        return p, m, g["raster"][0], int(g["tx"][0]), int(g["ty"][0])

    if mode == "stats":
        def group_rows(g):
            got = tile_grid(g)
            if got is None:
                return []
            p, m, raster, tx, ty = got
            rows = []
            for thr in thrs:
                case, *_ = _contour_cells(p, thr)
                cut = ((case > 0) & (case < 15) & m).sum()
                nseg = int(_MS_NSEG[case][m].sum())
                rows.append((raster, tx, ty, thr, int(cut), nseg))
            return rows

        cols = ["raster", "tx", "ty", "thr", "n_cut", "n_segments"]
        schema = (
            "raster string, tx long, ty long, thr long, n_cut long, "
            "n_segments long"
        )
        out_cols = key_sel + ["thr", "n_cut", "n_segments"]
    else:
        def group_rows(g):
            got = tile_grid(g)
            if got is None:
                return []
            p, m, raster, tx, ty = got
            return [
                (raster, tx, ty, thr, *seg)
                for thr in thrs
                for seg in _segments_for_tile(p, m, thr, tx, ty, tile_px)
            ]

        cols = ["raster", "tx", "ty", "thr", "x1_ppm", "y1_ppm", "x2_ppm",
                "y2_ppm"]
        schema = (
            "raster string, tx long, ty long, thr long, x1_ppm long, "
            "y1_ppm long, x2_ppm long, y2_ppm long"
        )
        out_cols = key_sel + ["thr", "x1_ppm", "y1_ppm", "x2_ppm", "y2_ppm"]

    return buffered_group_flatmap(
        parts, "gkey", group_rows, cols, schema
    ).select(*out_cols)


def dem_to_tiles(dem: np.ndarray, tile_px: int) -> list[tuple[int, int, bytes]]:
    """Split a full DEM (h,w multiples of tile_px) into operator rows —
    driver-side fixture helper; the distributed source is
    sources.geotiff_source.read_geotiff_tiles."""
    h, w = dem.shape
    if h % tile_px or w % tile_px:
        raise ValueError("DEM dims must be multiples of tile_px")
    a = np.ascontiguousarray(dem, dtype=_I32)
    return [
        (x0 // tile_px, y0 // tile_px,
         a[y0 : y0 + tile_px, x0 : x0 + tile_px].tobytes())
        for y0 in range(0, h, tile_px)
        for x0 in range(0, w, tile_px)
    ]


def dem_overview(
    tiles: DataFrame,
    tile_px: int,
    factor: int,
    *,
    raster_col: str | None = None,
) -> DataFrame:
    """Reduced-resolution DEM overview — the GeoTIFF-overview / raster
    pyramid semantics for elevation grids: each output pixel is the
    F6-rounded mean of its factor×factor source block,
    floor(sum/f² + 1/2) computed EXACTLY in integers as
    (2·sum + f²) DIV (2·f²) (negative-safe: python floor division in
    the kernel, closed-form in the oracle).

    Output tile (tx, ty) pools input tiles (f·tx .. f·tx+f−1) ×
    (f·ty .. f·ty+f−1): ONE exchange (groupBy output tile), kernel
    assembles the f² block grid and mean-pools in numpy.  tile_px must
    be divisible by factor so output tiles keep the same tile_px.
    When the input grid extent is not a multiple of factor, the ragged
    output tiles are zero-filled outside the covered region (callers
    carrying nodata should mask on the input grid extent)."""
    if tile_px % factor:
        raise ValueError("tile_px must be divisible by factor")
    import pyspark.sql.functions as F

    from .ops import buffered_group_flatmap

    keyed = raster_col is not None
    src = (
        tiles.withColumnRenamed(raster_col, "raster")
        if keyed and raster_col != "raster"
        else tiles
    )
    if not keyed:
        src = src.withColumn("raster", F.lit(""))
    f = factor
    # tile coordinates must be non-negative: Spark DIV truncates toward
    # zero and % follows the dividend sign, so a negative tx/ty would
    # mis-group output tiles and produce negative sub-block offsets that
    # wrap-index into the output array SILENTLY. Unlike map_match (which
    # offset-shifts via _OFF), DEM grids are defined on a non-negative
    # tile lattice — enforce it loudly instead of shifting.
    parts = src.selectExpr(
        "raster",
        # the guard lives INSIDE the used column so pruning can't drop it
        f"CASE WHEN tx < 0 OR ty < 0 THEN CAST(raise_error("
        f"'dem_overview requires non-negative tile coordinates') AS BIGINT)"
        f" ELSE tx DIV {f} END AS otx",
        f"ty DIV {f} AS oty",
        f"tx % {f} AS sx",
        f"ty % {f} AS sy",
        "dem",
    ).withColumn("gkey", F.concat_ws(":", "raster", "otx", "oty"))

    sub = tile_px // f

    def render_group(g) -> list[tuple]:
        out = np.zeros((tile_px, tile_px), dtype=np.int64)
        for dem, sx, sy in zip(g["dem"], g["sx"], g["sy"]):
            a = np.frombuffer(dem, dtype=_I32).reshape(tile_px, tile_px)
            s = a.astype(np.int64).reshape(tile_px // f, f, tile_px // f, f)
            sums = s.sum(axis=(1, 3))
            # floor(sum/f² + 1/2) — exact, negative-safe
            pooled = (2 * sums + f * f) // (2 * f * f)
            y0, x0 = int(sy) * sub, int(sx) * sub
            out[y0 : y0 + sub, x0 : x0 + sub] = pooled
        return [(
            g["raster"][0], int(g["otx"][0]), int(g["oty"][0]),
            out.astype(_I32).tobytes(),
        )]

    res = buffered_group_flatmap(
        parts,
        "gkey",
        render_group,
        ["raster", "tx", "ty", "dem"],
        "raster string, tx long, ty long, dem binary",
    )
    return res if keyed else res.select("tx", "ty", "dem")
