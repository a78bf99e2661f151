"""Terrain derivatives (raster/terrain.py) + GeoTIFF tile source
(sources/geotiff_source.py): the distributed halo-exchange result must
be IDENTICAL to the whole-array computation, the source's regrid must
be exact across strip/tile layouts, and the plans must carry exactly
one exchange per operator."""

import struct

import numpy as np
import pytest

from osm_render_spark.raster.geotiff import GeoRef, encode_geotiff
from osm_render_spark.raster.terrain import (
    dem_to_tiles,
    hillshade,
    horn_gradients,
    pad_clamp,
    slope_aspect_octant,
    terrain_tiles,
)
from osm_render_spark.sources.geotiff_source import (
    read_geotiff_tiles,
    tiff_segment_index,
)

RNG = np.random.default_rng(46)
T = 64


def _mosaic(h=128, w=192):
    return RNG.integers(-500, 4000, (h, w)).astype(np.int32)


def _tiles_df(spark, dem):
    return spark.createDataFrame(
        [(tx, ty, bytearray(b)) for tx, ty, b in dem_to_tiles(dem, T)],
        "tx long, ty long, dem binary",
    )


# ------------------------------------------------------- numpy kernels

def test_horn_hand_worked():
    """3×3 DEM worked by hand against the Horn 1981 stencil."""
    z = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9]], dtype=np.int32)
    gx, gy = horn_gradients(z)  # core is the single center pixel
    # gx = (3+2·6+9) − (1+2·4+7) = 24 − 16 = 8
    # gy = (7+2·8+9) − (1+2·2+3) = 32 − 8 = 24
    assert gx[0, 0] == 8 and gy[0, 0] == 24


def test_flat_dem_constant_hillshade():
    p = pad_clamp(np.full((20, 20), 1234, dtype=np.int32))
    hs = hillshade(p, altitude_deg=45.0)
    # flat: hs = 255·cos(45°) = 180.31 → floor(+.5) = 180, everywhere
    assert (hs == 180).all()


def test_hillshade_slope_orientation():
    """A plane RISING to the south-east tilts its surface normal toward
    the default NW (315°) sun — brighter than flat; rising to the
    north-west tilts away — darker."""
    y, x = np.mgrid[0:40, 0:40]
    rise_se = ((x + y) * 20).astype(np.int32)
    rise_nw = ((78 - x - y) * 20).astype(np.int32)
    flat = hillshade(pad_clamp(np.zeros((40, 40), np.int32)))[5, 5]
    assert hillshade(pad_clamp(rise_se), cellsize=1.0)[5, 5] > flat
    assert hillshade(pad_clamp(rise_nw), cellsize=1.0)[5, 5] < flat


def test_slope_aspect_octant():
    y, x = np.mgrid[0:10, 0:10]
    east_up = (x * 100).astype(np.int32)  # gx > 0, gy = 0 → octant 0
    sm, oc = slope_aspect_octant(pad_clamp(east_up))
    assert (oc[1:-1, 1:-1] == 0).all()
    # interior gx = 4·100·... Horn: (E−W) terms = 4·Δ = 4·100 → ·? check >0
    assert (sm[1:-1, 1:-1] > 0).all()
    flat = np.zeros((5, 5), np.int32)
    sm0, oc0 = slope_aspect_octant(pad_clamp(flat))
    assert (sm0 == 0).all() and (oc0 == 8).all()


# -------------------------------------------------- distributed == whole

def test_tiled_equals_whole_array_gradient_stats(spark):
    dem = _mosaic()
    gx, gy = horn_gradients(pad_clamp(dem))
    out = {
        (r.tx, r.ty): r
        for r in terrain_tiles(
            _tiles_df(spark, dem), T, mode="gradient_stats"
        ).collect()
    }
    assert len(out) == 6
    for (tx, ty), r in out.items():
        sl = np.s_[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T]
        assert r.sum_z == int(dem[sl].astype(np.int64).sum())
        assert r.sum_abs_gx == int(np.abs(gx[sl]).sum())
        assert r.sum_abs_gy == int(np.abs(gy[sl]).sum())


def test_tiled_equals_whole_array_hillshade(spark):
    dem = _mosaic()
    ref = hillshade(pad_clamp(dem))
    for r in terrain_tiles(_tiles_df(spark, dem), T).collect():
        got = np.frombuffer(r.shade, np.uint8).reshape(T, T)
        sl = np.s_[r.ty * T : (r.ty + 1) * T, r.tx * T : (r.tx + 1) * T]
        assert (got == ref[sl]).all()


def test_single_tile_grid_clamps_everywhere(spark):
    dem = _mosaic(T, T)
    ref = hillshade(pad_clamp(dem))
    (row,) = terrain_tiles(_tiles_df(spark, dem), T).collect()
    assert (np.frombuffer(row.shade, np.uint8).reshape(T, T) == ref).all()


def test_terrain_single_exchange(spark):
    plan = terrain_tiles(
        _tiles_df(spark, _mosaic()), T, mode="gradient_stats"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


# ------------------------------------------------------------- source

LAYOUTS = [
    dict(tile=(64, 64), compression="deflate", predictor=2),  # fast path
    dict(rows_per_strip=23, compression="lzw", predictor=2),
    dict(tile=(48, 32), compression="packbits"),
    dict(rows_per_strip=64, compression="none"),
]


def _write_files(tmp_path, n=4):
    dems, paths = {}, []
    for k in range(n):
        dem = RNG.integers(-100, 3000, (128, 192)).astype(np.int32)
        p = str(tmp_path / f"k{k}.tif")
        with open(p, "wb") as f:
            f.write(
                encode_geotiff(
                    dem, georef=GeoRef(7.0, 46.0, 0.01, 0.01),
                    **LAYOUTS[k % len(LAYOUTS)],
                )
            )
        dems[f"k{k}.tif"] = dem
        paths.append(p)
    return dems, paths


def test_segment_index_is_header_only(tmp_path):
    dems, paths = _write_files(tmp_path, 1)
    lay, segs = tiff_segment_index(paths[0])
    assert lay.tiled and (lay.seg_w, lay.seg_h) == (64, 64)
    assert len(segs) == 6  # 3×2 tiles of 64² over 192×128
    raw = open(paths[0], "rb").read()
    for _, off, cnt in segs:
        assert 0 < off and off + cnt <= len(raw)


def test_source_regrid_exact_all_layouts(spark, tmp_path):
    dems, paths = _write_files(tmp_path)
    df = read_geotiff_tiles(spark, paths, T)
    got = {
        (r.raster, r.tx, r.ty): np.frombuffer(r.dem, np.int32).reshape(T, T)
        for r in df.collect()
    }
    assert len(got) == 4 * 6
    for name, dem in dems.items():
        for ty in range(2):
            for tx in range(3):
                assert (
                    got[name, tx, ty]
                    == dem[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T]
                ).all()


def test_source_fast_path_has_no_regrid_exchange(spark, tmp_path):
    """Aligned TIFF tiles skip the assembly groupBy: only the pointer
    index repartition exchanges; the misaligned path adds exactly one."""
    _, paths = _write_files(tmp_path)
    fast = read_geotiff_tiles(spark, [paths[0]], T)
    slow = read_geotiff_tiles(spark, [paths[1]], T)
    n_fast = fast._jdf.queryExecution().executedPlan().toString().count("Exchange")
    n_slow = slow._jdf.queryExecution().executedPlan().toString().count("Exchange")
    assert n_fast == 1 and n_slow == 2


def test_source_rejects_unaligned_extent(spark, tmp_path):
    dem = RNG.integers(0, 100, (100, 100)).astype(np.int32)
    p = str(tmp_path / "odd.tif")
    with open(p, "wb") as f:
        f.write(encode_geotiff(dem))
    with pytest.raises(ValueError, match="multiple of tile_px"):
        read_geotiff_tiles(spark, [p], T)


def test_source_rejects_multi_sample(spark, tmp_path):
    p = str(tmp_path / "rgb.tif")
    with open(p, "wb") as f:
        f.write(encode_geotiff(RNG.integers(0, 256, (64, 64, 3), dtype=np.uint8)))
    assert tiff_segment_index(p)[0].spp == 3
    with pytest.raises(NotImplementedError, match="rgb.tif: DEM source is single-sample"):
        read_geotiff_tiles(spark, [p], T)


@pytest.mark.parametrize("comp", ["lzw", "packbits", "none"])
def test_source_truncated_segment_raises(spark, tmp_path, comp):
    """A cut segment, or one whose byte range runs past the end of the
    file, fails the read naming the file and segment instead of landing
    as zero elevation."""
    from test_geotiff import with_segment_length

    dem = RNG.integers(-100, 3000, (128, 128)).astype(np.int32)
    good = encode_geotiff(dem, compression=comp, tile=(64, 64))
    for name, length in (("cut", lambda n: n // 2),
                         ("long", lambda n: n + len(good))):
        p = tmp_path / f"{name}_{comp}.tif"
        p.write_bytes(with_segment_length(good, 2, length))
        with pytest.raises(Exception) as err:
            read_geotiff_tiles(spark, [str(p)], T).collect()
        assert f"ValueError: {p}: segment 2: " in str(err.value)


def test_source_float_dem_rounds_f6(spark, tmp_path):
    """float32 DEM samples land as floor(x+0.5) int32 (engine-wide F6)."""
    dem = np.full((64, 64), 12.5, dtype=np.float32)
    dem[0, 0] = -2.5
    p = str(tmp_path / "f.tif")
    with open(p, "wb") as f:
        f.write(encode_geotiff(dem, tile=(64, 64)))
    (row,) = read_geotiff_tiles(spark, [p], T).collect()
    a = np.frombuffer(row.dem, np.int32).reshape(T, T)
    assert a[0, 1] == 13 and a[0, 0] == -2


def test_source_to_terrain_end_to_end(spark, tmp_path):
    dems, paths = _write_files(tmp_path)
    tiles = read_geotiff_tiles(spark, paths, T)
    stats = terrain_tiles(
        tiles, T, mode="gradient_stats", raster_col="raster"
    ).collect()
    byk = {(r.raster, r.tx, r.ty): r for r in stats}
    assert len(byk) == 24
    for name, dem in dems.items():
        gx, gy = horn_gradients(pad_clamp(dem))
        for ty in range(2):
            for tx in range(3):
                r = byk[name, tx, ty]
                sl = np.s_[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T]
                assert r.sum_abs_gx == int(np.abs(gx[sl]).sum())
                assert r.sum_abs_gy == int(np.abs(gy[sl]).sum())


# ------------------------------------------------------------ contours

from osm_render_spark.raster.terrain import (  # noqa: E402
    _MS_NSEG,
    _cell_mask,
    _contour_cells,
    _segments_for_tile,
    contour_tiles,
)


def test_marching_squares_hand_worked():
    """2×2 pixels = one cell. TL=5 inside, others 0 (thr=1) → case 8,
    one segment L→T with exact ppm interpolation: L at frac (1−5)/(0−5)
    = 4/5 of the way down? No — L edge runs TL→BL: (thr−z0)/(z1−z0) =
    (1−5)/(0−5) = 0.8 → y = 800000; T edge TL→TR: same → x = 800000."""
    p = pad_clamp(np.array([[5, 0], [0, 0]], dtype=np.int32))
    mask = np.array([[True, False], [False, False]])
    segs = _segments_for_tile(p, mask, 1, 0, 0, 2)
    assert segs == [(0, 800000, 800000, 0)]  # (L) → (T)


def test_marching_squares_saddle_two_segments():
    """TL and BR inside (case 10) → exactly two segments."""
    p = pad_clamp(np.array([[9, 0], [0, 9]], dtype=np.int32))
    mask = np.array([[True, False], [False, False]])
    segs = _segments_for_tile(p, mask, 4, 0, 0, 2)
    assert len(segs) == 2
    case, *_ = _contour_cells(p, 4)
    assert case[0, 0] == 10 and _MS_NSEG[case[0, 0]] == 2


def test_contour_distributed_equals_global(spark):
    dem = RNG.integers(-50, 50, (128, 192)).astype(np.int32)
    df = _tiles_df(spark, dem)
    p = pad_clamp(dem)
    mask = np.ones((128, 192), bool)
    mask[-1, :] = False
    mask[:, -1] = False
    for thr in (-20, 0, 20):
        ref = sorted(_segments_for_tile(p, mask, thr, 0, 0, T))
        got = sorted(
            (r.x1_ppm, r.y1_ppm, r.x2_ppm, r.y2_ppm)
            for r in contour_tiles(df, T, [thr]).collect()
        )
        assert got == ref, thr


def test_contour_stats_cell_ownership_total(spark):
    """Every global cell is owned exactly once: Σ n_cut + flat cells ==
    (H−1)·(W−1)."""
    dem = RNG.integers(-5, 5, (128, 192)).astype(np.int32)
    stats = contour_tiles(_tiles_df(spark, dem), T, [0], mode="stats").collect()
    p = pad_clamp(dem)
    case, *_ = _contour_cells(p, 0)
    mask = np.ones((128, 192), bool)
    mask[-1, :] = False
    mask[:, -1] = False
    assert sum(r.n_cut for r in stats) == int(
        ((case > 0) & (case < 15) & mask).sum()
    )
    assert sum(r.n_segments for r in stats) == int(_MS_NSEG[case][mask].sum())


def test_contour_endpoints_interpolate_to_threshold(spark):
    """Each segment endpoint lies on a cell edge where the linear
    interpolation of the two corner values at the quantized fraction
    brackets the threshold within one ppm step."""
    dem = RNG.integers(-100, 100, (64, 64)).astype(np.int32)
    rows = contour_tiles(_tiles_df(spark, dem), T, [7]).collect()
    assert rows
    for r in rows[:300]:
        for (xp, yp) in ((r.x1_ppm, r.y1_ppm), (r.x2_ppm, r.y2_ppm)):
            # exactly one coordinate is fractional (on-edge)
            fx, fy = xp % 1_000_000, yp % 1_000_000
            assert (fx == 0) != (fy == 0) or (fx == 0 and fy == 0)
            if fx:
                x0, y0 = xp // 1_000_000, yp // 1_000_000
                z0, z1 = int(dem[y0, x0]), int(dem[y0, x0 + 1])
            elif fy:
                x0, y0 = xp // 1_000_000, yp // 1_000_000
                z0, z1 = int(dem[y0, x0]), int(dem[y0 + 1, x0])
            else:
                continue
            f = (fx or fy) / 1e6
            v = z0 + f * (z1 - z0)
            assert abs(v - 7) <= abs(z1 - z0) / 1e6 + 1e-9


def test_dem_overview_matches_numpy_pooling(spark):
    """factor-2 and factor-4 overviews == whole-array F6 mean pooling,
    including negative halves (floor(x+0.5), not banker's)."""
    from osm_render_spark.raster.terrain import dem_overview

    dem = RNG.integers(-1000, 1000, (256, 256)).astype(np.int32)
    for f in (2, 4):
        s = dem.astype(np.int64).reshape(256 // f, f, 256 // f, f).sum(
            axis=(1, 3)
        )
        ref = (2 * s + f * f) // (2 * f * f)
        out = {
            (r.tx, r.ty): np.frombuffer(r.dem, np.int32).reshape(T, T)
            for r in dem_overview(_tiles_df(spark, dem), T, f).collect()
        }
        assert len(out) == (4 // f) ** 2
        for (tx, ty), tile in out.items():
            sl = np.s_[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T]
            assert (tile == ref[sl]).all(), (f, tx, ty)


def test_dem_overview_negative_halfway():
    """The exact F6 form on a hand case: block sums −2 and 2 at f=2:
    mean −0.5 → floor(−0.5+0.5) = 0; mean 0.5 → floor(1.0) = 1."""
    s = np.array([[-2, 2]], dtype=np.int64)
    pooled = (2 * s + 4) // 8
    assert pooled.tolist() == [[0, 1]]


def test_dem_overview_rejects_negative_tile_coords(spark):
    import numpy as np
    import pytest
    from py4j.protocol import Py4JJavaError

    from osm_render_spark.raster.terrain import dem_overview

    dem = np.arange(16, dtype=np.int32).tobytes()
    tiles = spark.createDataFrame(
        [(-1, 0, dem), (0, 0, dem)], "tx long, ty long, dem binary"
    )
    # Spark DIV truncates toward zero, so a negative tx would silently
    # mis-group and wrap-index — the operator must fail loudly instead
    with pytest.raises(Exception) as ei:
        dem_overview(tiles, 4, 2).count()
    assert "non-negative tile coordinates" in str(ei.value)
