"""Tile-pyramid rollup — build every ancestor zoom from ONE base render.

The reference renders each requested view independently (OsmRender.m
renders one scene per invocation); a planet-scale slippy tree cannot —
rendering z0..z18 independently re-reads and re-draws every way once
per level. The pyramid form renders only the DEEPEST zoom from vectors
(raster/ops.render_slippy_tiles), then derives each parent level from
its children as a pure raster reduction: four z-level tiles box-filter
into one (z-1) tile.

Spark shape (per level): parent key = (tile_x >> 1, tile_y >> 1) is
Column arithmetic; ONE shuffle on parent_key groups each parent's ≤4
children; the Arrow kernel composes a 2×2 canvas (missing children =
LAND_COLOR — exactly what rendering an empty tile produces, so sparse
oceans cost nothing) and downsamples 2× with the engine-wide
floor(x+0.5) rounding: per channel, (a+b+c+d+2) >> 2.

Levels form a geometric series: level z-1 has 1/4 the tiles of z, so
the WHOLE pyramid shuffles ≈ 1/3 of the base level's bytes and total
work ≈ 4/3 of one base render — vs L× for render-per-level. Each level
is localCheckpoint()ed before feeding the next so the union of levels
never re-renders ancestors (the dedup.py closure precedent).

Manifest digests (n_children / n_ways / way_sum) roll up alongside the
pixels so the DuckDB oracle can recompute the pyramid's SHAPE from the
fan-out arithmetic alone (the slippy_render discipline: PNG bytes are
pinned bit-exactly by pytest goldens, engine-independent digests by the
driver's value-hash).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import arrow_stage_partitions
from .codec import decode_png, encode_png
from .ops import LAND_COLOR, buffered_group_flatmap


def downsample2x(img: np.ndarray) -> np.ndarray:
    """Exact 2× box filter with floor(x+0.5) rounding (F6): each output
    pixel is the rounded mean of its 2×2 input block, per channel."""
    h, w, c = img.shape
    if h % 2 or w % 2:
        raise ValueError(f"downsample2x needs even dims, got {h}x{w}")
    # sum of the four strided quarters; ≤ 4*255 fits uint16
    s = img[0::2, 0::2].astype(np.uint16)
    s += img[0::2, 1::2]
    s += img[1::2, 0::2]
    s += img[1::2, 1::2]
    s += 2
    s >>= 2
    return s.astype(np.uint8)


def _compose_parent(children: list[tuple[int, int, bytes]], tile_px: int) -> bytes:
    """≤4 (qx, qy, png) children → parent PNG. qx/qy ∈ {0,1} select the
    quadrant; absent quadrants are LAND_COLOR (an empty tile's render)."""
    canvas = np.empty((2 * tile_px, 2 * tile_px, 4), dtype=np.uint8)
    canvas[:, :] = LAND_COLOR
    for qx, qy, png in children:
        img = decode_png(png)
        if img.shape[:2] != (tile_px, tile_px):
            raise ValueError(
                f"child tile is {img.shape[1]}x{img.shape[0]}, "
                f"expected {tile_px}x{tile_px}"
            )
        canvas[
            qy * tile_px : (qy + 1) * tile_px,
            qx * tile_px : (qx + 1) * tile_px,
        ] = img
    return encode_png(downsample2x(canvas))


def rollup_level(tiles: DataFrame, zoom: int, tile_px: int = 256) -> DataFrame:
    """One pyramid step: tiles at ``zoom`` → tiles at ``zoom - 1``.

    Input/output schema: tile_key, tile_x, tile_y, bytes, n_ways,
    way_sum (the render_slippy_tiles manifest columns) — plus
    n_children on the output (1..4: how many real children existed; the
    oracle recomputes it from the fan-out arithmetic).

    n_ways/way_sum roll up by SUM over children: a way spanning two
    sibling tiles counts once per child, matching the SQL rollup over
    the child manifest exactly (engine-independent by construction).
    """
    if zoom < 1:
        raise ValueError("cannot roll up below zoom 0")
    n_parent = 1 << (zoom - 1)
    prepared = tiles.select(
        F.shiftright("tile_x", 1).alias("px"),
        F.shiftright("tile_y", 1).alias("py"),
        (
            F.shiftright("tile_x", 1) * F.lit(n_parent)
            + F.shiftright("tile_y", 1)
        ).alias("parent_key"),
        (F.col("tile_x") - F.shiftleft(F.shiftright("tile_x", 1), 1))
        .cast("int")
        .alias("qx"),
        (F.col("tile_y") - F.shiftleft(F.shiftright("tile_y", 1), 1))
        .cast("int")
        .alias("qy"),
        "bytes",
        "n_ways",
        "way_sum",
    )

    def render_group(g) -> list[tuple]:
        png = _compose_parent(
            list(zip(g["qx"], g["qy"], g["bytes"])), tile_px
        )
        return [(
            int(g["parent_key"][0]),
            int(g["px"][0]),
            int(g["py"][0]),
            png,
            int(g["n_ways"].sum()),
            int(g["way_sum"].sum()),
            len(g["qx"]),
        )]

    return buffered_group_flatmap(
        prepared,
        "parent_key",
        render_group,
        [
            "tile_key", "tile_x", "tile_y", "bytes", "n_ways", "way_sum",
            "n_children",
        ],
        (
            "tile_key long, tile_x long, tile_y long, bytes binary, "
            "n_ways long, way_sum long, n_children long"
        ),
    )


def rollup_levels(
    tiles: DataFrame, zoom: int, n_levels: int, tile_px: int = 256
) -> DataFrame:
    """``n_levels`` pyramid steps in ONE exchange: tiles at ``zoom`` →
    every level down to ``zoom - n_levels``, each row tagged ``zoom``.

    Tiles key by their ancestor ``n_levels`` up, so one group holds a
    complete 4^n_levels subtree and the kernel runs the per-level
    reduction locally — same ``_compose_parent`` arithmetic as
    :func:`rollup_level` applied level by level (bit-identical PNGs;
    PNG is lossless so re-decoding the in-kernel intermediate equals
    the old cross-shuffle decode), but ceil(levels / n) exchanges and
    jobs instead of one per level (guide §2.4). Group size is bounded
    at 4^n_levels tiles."""
    if zoom < n_levels:
        raise ValueError("cannot roll up below zoom 0")
    n_anc = 1 << (zoom - n_levels)
    prepared = tiles.select(
        (
            F.shiftright("tile_x", n_levels) * F.lit(n_anc)
            + F.shiftright("tile_y", n_levels)
        ).alias("_akey"),
        "tile_x",
        "tile_y",
        "bytes",
        "n_ways",
        "way_sum",
    )

    def subtree_rows(g) -> list[tuple]:
        cur = {
            (int(x), int(y)): (png, int(nw), int(ws))
            for x, y, png, nw, ws in zip(
                g["tile_x"], g["tile_y"], g["bytes"], g["n_ways"],
                g["way_sum"],
            )
        }
        out = []
        for step in range(1, n_levels + 1):
            zp = zoom - step
            n_parent = 1 << zp
            parents: dict[tuple[int, int], list] = {}
            for (x, y), (png, nw, ws) in cur.items():
                parents.setdefault((x >> 1, y >> 1), []).append(
                    (x - ((x >> 1) << 1), y - ((y >> 1) << 1), png, nw, ws)
                )
            cur = {}
            for (px, py), chs in parents.items():
                png = _compose_parent(
                    [(qx, qy, p) for qx, qy, p, _nw, _ws in chs], tile_px
                )
                nw = sum(c[3] for c in chs)
                ws = sum(c[4] for c in chs)
                cur[(px, py)] = (png, nw, ws)
                out.append(
                    (px * n_parent + py, px, py, png, nw, ws, len(chs), zp)
                )
        return out

    return buffered_group_flatmap(
        prepared,
        "_akey",
        subtree_rows,
        [
            "tile_key", "tile_x", "tile_y", "bytes", "n_ways", "way_sum",
            "n_children", "zoom",
        ],
        (
            "tile_key long, tile_x long, tile_y long, bytes binary, "
            "n_ways long, way_sum long, n_children long, zoom int"
        ),
    )


def build_tile_pyramid(
    tiles: DataFrame, zoom: int, zoom_min: int = 0, tile_px: int = 256,
    levels_per_shuffle: int = 3,
) -> DataFrame:
    """Full pyramid: base tiles at ``zoom`` → union of every level down
    to ``zoom_min`` (inclusive), each row tagged with its ``zoom``.

    Levels are produced in chunks of ``levels_per_shuffle`` via
    :func:`rollup_levels` (one exchange + one kernel per chunk instead
    of one per level — at toy scale per-level job overhead dominated
    the geometric series; at planet scale it cuts exchanges 3×). Each
    chunk is localCheckpoint()ed before deriving the next, so the
    returned union materializes every level exactly once (without it,
    a chunk's lineage would re-run every earlier chunk AND the base
    render once per reference).
    """
    if zoom_min > zoom:
        raise ValueError(f"zoom_min {zoom_min} above base zoom {zoom}")
    base = tiles.withColumn("n_children", F.lit(0).cast("long"))
    if zoom_min < zoom:
        # the base feeds BOTH the first rollup and the union — without
        # this the base render's lineage runs twice
        base = base.localCheckpoint(eager=True)
    levels = [base.withColumn("zoom", F.lit(zoom).cast("int"))]
    cur = base
    z = zoom
    while z > zoom_min:
        n = min(levels_per_shuffle, z - zoom_min)
        chunk = rollup_levels(cur, z, n, tile_px).localCheckpoint(eager=True)
        levels.append(chunk)
        cur = chunk.where(F.col("zoom") == z - n).drop("zoom")
        z -= n
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    if len(levels) > 1:
        # a union's partition count is the SUM of its inputs'; coalesce
        # (no shuffle) so a Python sink over the pyramid runs one task
        # per core instead of one per level-chunk partition
        out = out.coalesce(arrow_stage_partitions(out.sparkSession))
    return out
