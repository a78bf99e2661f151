"""Tile-pyramid rollup: exact box-filter semantics, quadrant placement,
missing-child = land, and full-pyramid equivalence with a single-process
numpy reference over the slippy test scene."""

from __future__ import annotations

import numpy as np
import pandas as pd

from osm_render_spark.raster.codec import decode_png, encode_png
from osm_render_spark.raster.ops import LAND_COLOR, render_slippy_tiles
from osm_render_spark.raster.pyramid import (
    build_tile_pyramid,
    downsample2x,
    rollup_level,
)

from test_slippy import TILE_PX, ZOOM, _ways

_SCHEMA = (
    "tile_key long, tile_x long, tile_y long, bytes binary, "
    "n_ways long, way_sum long"
)


def test_downsample2x_exact_block_mean():
    rng = np.random.default_rng(7)
    for shape in [(16, 12, 4), (256, 256, 4), (256, 256, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        h, w, c = shape
        ref = np.floor(
            img.astype(np.float64)
            .reshape(h // 2, 2, w // 2, 2, c)
            .mean(axis=(1, 3))
            + 0.5
        ).astype(np.uint8)
        assert np.array_equal(downsample2x(img), ref)
        # all-255 blocks: the uint16 accumulator's largest sum
        assert (downsample2x(np.full(shape, 255, np.uint8)) == 255).all()


def _tile_row(tx, ty, zoom, color, n_ways=1, way_sum=10):
    img = np.empty((8, 8, 4), dtype=np.uint8)
    img[:, :] = color
    n = 1 << zoom
    return (tx * n + ty, tx, ty, encode_png(img), n_ways, way_sum)


def test_rollup_quadrants_and_digests(spark):
    # four uniform z1 children → one z0 parent; uniform blocks mean to
    # themselves, so each parent quadrant must equal its child's color
    colors = {
        (0, 0): (10, 20, 30, 255),
        (1, 0): (200, 0, 0, 255),
        (0, 1): (0, 200, 0, 255),
        (1, 1): (0, 0, 200, 255),
    }
    rows = [
        _tile_row(tx, ty, 1, c, n_ways=tx + 1, way_sum=100 * (ty + 1))
        for (tx, ty), c in colors.items()
    ]
    out = rollup_level(
        spark.createDataFrame(rows, _SCHEMA), zoom=1, tile_px=8
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["tile_key"], r["tile_x"], r["tile_y"]) == (0, 0, 0)
    assert r["n_children"] == 4
    assert r["n_ways"] == sum(tx + 1 for tx, _ in colors)
    assert r["way_sum"] == sum(100 * (ty + 1) for _, ty in colors)
    img = decode_png(r["bytes"])
    assert img.shape == (8, 8, 4)
    for (qx, qy), c in colors.items():
        quad = img[qy * 4 : (qy + 1) * 4, qx * 4 : (qx + 1) * 4]
        assert np.all(quad == np.array(c, dtype=np.uint8)), (qx, qy)


def test_missing_children_render_as_land(spark):
    # one lone child at z2 (tile 3,2) → parent (1,1) with three land quads
    rows = [_tile_row(3, 2, 2, (50, 60, 70, 255))]
    out = rollup_level(
        spark.createDataFrame(rows, _SCHEMA), zoom=2, tile_px=8
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["tile_x"], r["tile_y"], r["n_children"]) == (1, 1, 1)
    img = decode_png(r["bytes"])
    land = np.array(LAND_COLOR, dtype=np.uint8)
    assert np.all(img[:4, 4:] == np.array((50, 60, 70, 255), dtype=np.uint8))
    assert np.all(img[:4, :4] == land)
    assert np.all(img[4:, :] == land)


def _reference_pyramid(base_rows, zoom, zoom_min, tile_px):
    """Single-process numpy reference: recursively compose+downsample
    the collected base tiles (independent of the Spark kernel's
    batching/grouping)."""
    land = np.array(LAND_COLOR, dtype=np.uint8)
    levels = {
        zoom: {
            (r["tile_x"], r["tile_y"]): (
                decode_png(r["bytes"]),
                r["n_ways"],
                r["way_sum"],
            )
            for r in base_rows
        }
    }
    for z in range(zoom, zoom_min, -1):
        parents: dict = {}
        for (tx, ty), (img, n_ways, way_sum) in levels[z].items():
            key = (tx // 2, ty // 2)
            canvas, nw, ws, nc = parents.get(
                key,
                (
                    np.tile(land, (2 * tile_px, 2 * tile_px, 1)),
                    0,
                    0,
                    0,
                ),
            )
            qx, qy = tx % 2, ty % 2
            canvas[
                qy * tile_px : (qy + 1) * tile_px,
                qx * tile_px : (qx + 1) * tile_px,
            ] = img
            parents[key] = (canvas, nw + n_ways, ws + way_sum, nc + 1)
        levels[z - 1] = {
            k: (downsample2x(c), nw, ws) for k, (c, nw, ws, _) in parents.items()
        }
        # n_children checked separately via the returned dict
        levels[z - 1 + 1000] = {k: v[3] for k, v in parents.items()}
    return levels


def test_pyramid_matches_single_process_reference(spark):
    ways = _ways(spark)
    base = render_slippy_tiles(ways, ZOOM, TILE_PX)
    pyr = build_tile_pyramid(base, ZOOM, zoom_min=ZOOM - 2, tile_px=TILE_PX)
    got = pyr.collect()

    base_rows = [r for r in got if r["zoom"] == ZOOM]
    ref = _reference_pyramid(base_rows, ZOOM, ZOOM - 2, TILE_PX)

    for z in (ZOOM, ZOOM - 1, ZOOM - 2):
        got_z = {
            (r["tile_x"], r["tile_y"]): r for r in got if r["zoom"] == z
        }
        assert set(got_z) == set(ref[z]), f"zoom {z} tile set differs"
        n = 1 << z
        for key, (img, n_ways, way_sum) in ref[z].items():
            r = got_z[key]
            assert np.array_equal(decode_png(r["bytes"]), img), (z, key)
            assert r["n_ways"] == n_ways and r["way_sum"] == way_sum
            assert r["tile_key"] == key[0] * n + key[1]
            if z < ZOOM:
                assert r["n_children"] == ref[z + 1000][key]

    # geometric shrink: each level has no more tiles than the one below
    counts = {z: sum(1 for r in got if r["zoom"] == z) for z in
              (ZOOM, ZOOM - 1, ZOOM - 2)}
    assert counts[ZOOM - 1] <= counts[ZOOM]
    assert counts[ZOOM - 2] <= counts[ZOOM - 1]


def test_pyramid_determinism(spark):
    ways = _ways(spark)
    base = render_slippy_tiles(ways, ZOOM, TILE_PX)

    def digest():
        rows = build_tile_pyramid(
            base, ZOOM, zoom_min=ZOOM - 1, tile_px=TILE_PX
        ).collect()
        return sorted((r["zoom"], r["tile_key"], bytes(r["bytes"])) for r in rows)

    assert digest() == digest()


def test_pyramid_tree_sink(spark, tmp_path):
    import os

    from osm_render_spark.raster.sink import write_pyramid_tree

    ways = _ways(spark)
    pyr = build_tile_pyramid(
        render_slippy_tiles(ways, ZOOM, TILE_PX), ZOOM, ZOOM - 2, TILE_PX
    )
    out = str(tmp_path / "tree")
    manifest = write_pyramid_tree(pyr, out).collect()
    rows = pyr.collect()
    assert len(manifest) == len(rows)
    by_key = {(r["zoom"], r["tile_key"]): r for r in rows}
    for m in manifest:
        r = by_key[(m["zoom"], m["tile_key"])]
        assert m["path"] == os.path.join(
            out, f"z{r['zoom']}", f"x{r['tile_x']}", f"y{r['tile_y']}.png"
        )
        assert open(m["path"], "rb").read() == bytes(r["bytes"])
    # all three zoom directories exist
    assert set(os.listdir(out)) == {f"z{z}" for z in range(ZOOM - 2, ZOOM + 1)}


def test_rollup_levels_equals_per_level_chain(spark):
    # the r7 chunked rollup (3 levels per shuffle) must reproduce the
    # per-level path byte-for-byte at every level, including n_children
    from osm_render_spark.raster.pyramid import rollup_levels

    rng = np.random.default_rng(11)
    rows = []
    for tx in range(8):
        for ty in range(8):
            if (tx * 7 + ty) % 3 == 0:
                continue  # holes exercise missing-child handling
            color = tuple(int(c) for c in rng.integers(0, 256, 4))
            rows.append(_tile_row(tx, ty, 3, color, n_ways=tx + 1, way_sum=ty))
    base = spark.createDataFrame(rows, _SCHEMA)

    chunked = {
        (r["zoom"], r["tile_key"]): (
            bytes(r["bytes"]), r["n_ways"], r["way_sum"], r["n_children"]
        )
        for r in rollup_levels(base, 3, 3, 8).collect()
    }

    expected = {}
    cur = base
    for z in (3, 2, 1):
        cur = rollup_level(cur, z, 8)
        for r in cur.collect():
            expected[(z - 1, r["tile_key"])] = (
                bytes(r["bytes"]), r["n_ways"], r["way_sum"], r["n_children"]
            )
        cur = cur.drop("n_children")
    assert chunked == expected
