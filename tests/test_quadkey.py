"""Quadkey encoding (functions/quadkey.py): the canonical Bing example,
python-twin == SQL parity, pyramid prefix property, and round-trip."""

import numpy as np
import pytest

from osm_render_spark.functions.quadkey import quadkey_from_xy_sql, quadkey_py

RNG = np.random.default_rng(3)


def test_bing_canonical_example():
    """The Bing Maps tile-system doc's worked example: tile (3, 5) at
    level 3 → quadkey '213'."""
    assert quadkey_py(3, 5, 3) == "213"


def test_prefix_is_parent():
    for _ in range(200):
        z = int(RNG.integers(2, 12))
        tx = int(RNG.integers(0, 1 << z))
        ty = int(RNG.integers(0, 1 << z))
        child = quadkey_py(tx, ty, z)
        parent = quadkey_py(tx >> 1, ty >> 1, z - 1)
        assert child[: z - 1] == parent


def test_roundtrip_decode():
    for _ in range(200):
        z = int(RNG.integers(1, 16))
        tx = int(RNG.integers(0, 1 << z))
        ty = int(RNG.integers(0, 1 << z))
        qk = quadkey_py(tx, ty, z)
        rx = ry = 0
        for ch in qk:
            d = int(ch)
            rx = rx * 2 + (d & 1)
            ry = ry * 2 + (d >> 1)
        assert (rx, ry) == (tx, ty)


def test_sql_matches_python_twin(spark):
    z = 6
    df = spark.range(500).selectExpr(
        f"CAST(id % {1 << z} AS BIGINT) AS tx",
        f"CAST((id * 7) % {1 << z} AS BIGINT) AS ty",
    ).selectExpr("tx", "ty", quadkey_from_xy_sql("tx", "ty", z) + " AS qk")
    for r in df.collect():
        assert r.qk == quadkey_py(r.tx, r.ty, z)


def test_zoom_guard():
    with pytest.raises(ValueError):
        quadkey_from_xy_sql("tx", "ty", 0)
