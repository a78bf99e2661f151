"""Point-density heatmap tiles — billions of points → z/x/y raster
intensity tiles.

The raster twin of operators/tiles.tile_counts: instead of one count
per tile, every point lands in its PIXEL bin (the same
floor((merc − tile) · tile_px) arithmetic as the slippy renderer's
local projection, shared via functions/projection SQL so the oracle
recomputes bins identically), and each tile renders a grayscale PNG
whose intensity is the bin count scaled by the tile's max (the
engine-wide floor(x+0.5) rounding).

Spark shape: tile/pixel assignment is pure Column arithmetic (inside
whole-stage codegen — no UDF touches the full point table); ONE
shuffle on tile_key groups a tile's points; the Arrow kernel is a
single np.bincount per tile. Skew: a dense urban tile is a hot group —
the same AQE-skew-split + salting story as tile_counts, and the kernel
cost is bounded by points-in-group + tile_px² regardless of how the
points cluster within the tile.

Oracle discipline: the PNG is engine-specific, so the value-hashed
outputs are n_points, max_bin and an integer pixel digest
Σ count(bin)·bin_index = Σ_points (px·tile_px + py) — linear in the
points, so DuckDB states it without building histograms.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.projection import (
    merc_x_sql,
    merc_y_sql,
    tile_key_sql,
    tile_x_sql,
    tile_y_sql,
)
from .codec import encode_png
from .ops import buffered_group_flatmap


def pixel_bin_sql(lon: str, lat: str, zoom: int, tile_px: int) -> str:
    """Flat bin index px·tile_px + py of a point inside its tile — ONE
    definition used by the Column path and pasted into the DuckDB
    oracle, so the binning arithmetic cannot diverge. Clamped to the
    tile (points whose mercator coord sits exactly on the antimeridian
    / pole clamp edge bin into the last row/column)."""

    def clamp(e: str) -> str:
        return f"LEAST(GREATEST({e}, 0), {tile_px - 1})"

    px = clamp(
        f"CAST(FLOOR(({merc_x_sql(lon, zoom)} - {tile_x_sql(lon, zoom)})"
        f" * {tile_px}) AS BIGINT)"
    )
    py = clamp(
        f"CAST(FLOOR(({merc_y_sql(lat, zoom)} - {tile_y_sql(lat, zoom)})"
        f" * {tile_px}) AS BIGINT)"
    )
    return f"({px} * {tile_px} + {py})"


def density_tiles(
    points: DataFrame,
    zoom: int,
    tile_px: int = 256,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """points(lon, lat, ...) → one grayscale density PNG per non-empty
    z/x/y tile, plus engine-independent digests (n_points, max_bin,
    pix_digest). Intensity = floor(255·count/max_count + 0.5) per bin."""
    binned = points.select(
        F.expr(tile_key_sql(lon, lat, zoom)).alias("tile_key"),
        F.expr(tile_x_sql(lon, zoom)).alias("tile_x"),
        F.expr(tile_y_sql(lat, zoom)).alias("tile_y"),
        F.expr(pixel_bin_sql(lon, lat, zoom, tile_px)).alias("bin"),
    )
    # pre-aggregate per (tile, bin): the shuffle carries one row per
    # DISTINCT bin (≤ tile_px² per tile), not one per point — map-side
    # combine does the heavy lifting on dense data
    counts = binned.groupBy("tile_key", "tile_x", "tile_y", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )

    def render_group(g) -> list[tuple]:
        bins = np.asarray(g["bin"], dtype=np.int64)
        ns = np.asarray(g["n"], dtype=np.int64)
        grid = np.zeros(tile_px * tile_px, dtype=np.int64)
        grid[bins] = ns
        max_bin = int(ns.max())
        # floor(x+0.5) intensity ramp against the tile's own max
        img = (
            (grid.astype(np.float64) * 255.0 / max_bin + 0.5)
            .astype(np.int64)
            .clip(0, 255)
            .astype(np.uint8)
            # bin = px·tile_px + py → x is the ROW of this layout;
            # transpose into (row=y, col=x) image order
            .reshape(tile_px, tile_px)
            .T
        )
        return [(
            int(g["tile_key"][0]),
            int(g["tile_x"][0]),
            int(g["tile_y"][0]),
            encode_png(img),
            int(ns.sum()),
            max_bin,
            int((bins * ns).sum()),
        )]

    return buffered_group_flatmap(
        counts,
        "tile_key",
        render_group,
        [
            "tile_key", "tile_x", "tile_y", "bytes", "n_points",
            "max_bin", "pix_digest",
        ],
        (
            "tile_key long, tile_x long, tile_y long, bytes binary, "
            "n_points long, max_bin long, pix_digest long"
        ),
    )
