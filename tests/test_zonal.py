"""Zonal statistics (raster/zonal.py): tiled result == whole-array
_coverage_mask reference for rects, triangles, concave and multi-tile
polygons; pixel-center membership hand-worked."""

import numpy as np
import pytest

from osm_render_spark.raster.kernels import _coverage_mask
from osm_render_spark.raster.terrain import dem_to_tiles
from osm_render_spark.raster.zonal import zonal_stats

RNG = np.random.default_rng(17)
T = 64


def _dem():
    return RNG.integers(-100, 100, (128, 192)).astype(np.int32)


def _run(spark, dem, polys):
    tiles = spark.createDataFrame(
        [(tx, ty, bytearray(b)) for tx, ty, b in dem_to_tiles(dem, T)],
        "tx long, ty long, dem binary",
    )
    pdf = spark.createDataFrame(
        [(pid, [int(v) for v in xs], [int(v) for v in ys])
         for pid, xs, ys in polys],
        "poly_id long, xs array<bigint>, ys array<bigint>",
    )
    return {
        r.poly_id: (r.n_px, r.sum_z)
        for r in zonal_stats(pdf, tiles, T).collect()
    }


def _ref(dem, xs, ys):
    mask = _coverage_mask(
        dem.shape[1], dem.shape[0],
        [np.column_stack([np.asarray(xs, float), np.asarray(ys, float)])],
    )
    return int(mask.sum()), int(dem[mask].astype(np.int64).sum())


def test_rect_hand_worked(spark):
    """Rect [2,5)×[1,3): pixel centers x∈{2,3,4}, y∈{1,2} → 6 px."""
    dem = np.arange(128 * 192, dtype=np.int32).reshape(128, 192) % 50
    got = _run(spark, dem, [(0, [2, 5, 5, 2], [1, 1, 3, 3])])
    expect_px = [(x, y) for x in (2, 3, 4) for y in (1, 2)]
    assert got[0] == (
        6, sum(int(dem[y, x]) for x, y in expect_px)
    )


@pytest.mark.parametrize(
    "xs,ys",
    [
        ([10, 150, 80], [5, 40, 120]),                   # triangle, 4 tiles
        ([0, 191, 191, 0], [0, 0, 127, 127]),            # whole-raster rect
        ([20, 120, 120, 70, 70, 20], [20, 20, 90, 90, 50, 50]),  # concave L
        ([5, 60, 5, 60], [5, 5, 60, 60]),                # self-crossing bowtie
    ],
)
def test_tiled_equals_whole_array(spark, xs, ys):
    dem = _dem()
    got = _run(spark, dem, [(0, xs, ys)])
    n_px, sum_z = _ref(dem, xs, ys)
    assert got.get(0, (0, 0)) == (n_px, sum_z)


def test_multiple_polygons_and_empty(spark):
    dem = _dem()
    polys = [
        (1, [0, 10, 10, 0], [0, 0, 10, 10]),
        (2, [100, 180, 140], [10, 10, 100]),
        (3, [50, 50, 50, 50], [1, 1, 2, 2]),  # degenerate: zero area
    ]
    got = _run(spark, dem, polys)
    assert got[1] == _ref(dem, *[p[1:] for p in polys if p[0] == 1][0])
    assert got[2] == _ref(dem, polys[1][1], polys[1][2])
    assert 3 not in got  # no covered centers → no row
