"""Point-in-polygon: kernel properties + distributed join vs brute force."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_render_spark.functions.cells import cell_id, polygon_cover
from osm_render_spark.operators.pip import POLY_SCHEMA, pip_join, raycast_even_odd


def _convex_inside(px, py, poly):
    """Independent check: sign test for CCW convex polygons."""
    inside = np.ones(len(px), dtype=bool)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        inside &= ((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)) > 0
    return inside


def _random_ccw_convex(rng, n_vertices):
    angles = np.sort(rng.uniform(0, 2 * np.pi, n_vertices))
    r = rng.uniform(5, 20)
    cx, cy = rng.uniform(-50, 50, 2)
    return [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a))) for a in angles]


@given(seed=st.integers(0, 10_000))
@settings(max_examples=50, deadline=None)
def test_raycast_matches_convex_sign_test(seed):
    rng = np.random.default_rng(seed)
    poly = _random_ccw_convex(rng, int(rng.integers(3, 9)))
    px = rng.uniform(-80, 80, 200)
    py = rng.uniform(-80, 80, 200)
    xs = np.array([p[0] for p in poly])
    ys = np.array([p[1] for p in poly])
    got = raycast_even_odd(px, py, xs, ys)
    want = _convex_inside(px, py, poly)
    assert (got == want).all()


def test_raycast_concave():
    # L-shape: (0,0)-(4,0)-(4,1)-(1,1)-(1,4)-(0,4)
    xs = np.array([0.0, 4.0, 4.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 0.0, 1.0, 1.0, 4.0, 4.0])
    px = np.array([0.5, 2.0, 2.0, 0.5, 3.5])
    py = np.array([0.5, 0.5, 2.0, 3.5, 3.5])
    want = np.array([True, True, False, True, False])
    assert (raycast_even_odd(px, py, xs, ys) == want).all()


@given(seed=st.integers(0, 10_000))
@settings(max_examples=30, deadline=None)
def test_cover_is_superset_of_inside_cells(seed):
    """J8 invariant: the cell cover must contain the cell of every inside
    point (prefilter may over-select, never under-select)."""
    rng = np.random.default_rng(seed)
    poly = _random_ccw_convex(rng, int(rng.integers(3, 8)))
    pts = np.column_stack([rng.uniform(-75, 75, 300), rng.uniform(-70, 70, 300)])
    zoom = int(rng.integers(3, 10))
    xs = np.array([p[0] for p in poly])
    ys = np.array([p[1] for p in poly])
    inside = raycast_even_odd(pts[:, 0], pts[:, 1], xs, ys)
    cover = set(polygon_cover(np.array(poly), zoom).tolist())
    cells = cell_id(pts[inside, 0], pts[inside, 1], zoom)
    assert set(cells.tolist()) <= cover


@pytest.mark.parametrize("zoom", [5, 9])
def test_pip_join_matches_bruteforce(spark, zoom):
    rng = np.random.default_rng(7)
    polys = {aid: _random_ccw_convex(rng, 5) for aid in range(3)}
    pts = np.column_stack([rng.uniform(-75, 75, 500), rng.uniform(-70, 70, 500)])
    points = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "point_id long, lon double, lat double",
    )
    polygons = spark.createDataFrame(
        [
            (aid, [p[0] for p in poly], [p[1] for p in poly])
            for aid, poly in polys.items()
        ],
        POLY_SCHEMA,
    )
    got = {
        (r["point_id"], r["area_id"])
        for r in pip_join(points, polygons, zoom=zoom).collect()
    }
    want = set()
    for aid, poly in polys.items():
        xs = np.array([p[0] for p in poly])
        ys = np.array([p[1] for p in poly])
        inside = raycast_even_odd(pts[:, 0], pts[:, 1], xs, ys)
        want |= {(int(i), aid) for i in np.flatnonzero(inside)}
    assert got == want
