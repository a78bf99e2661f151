"""Raster layer: codec round-trips, kernel semantics, Spark pipeline."""

from __future__ import annotations

import numpy as np
import pytest

from osm_render_spark.raster.codec import (
    decode_image,
    decode_png,
    encode_image,
    encode_png,
    phash64,
    psnr,
)
from osm_render_spark.raster.kernels import (
    apply_diff,
    atlas,
    diff_sprite,
    fill_polygon,
    new_surface,
    stroke_polyline,
    unpack_argb,
)


def _img(i=3, w=60, h=40):
    from osm_render_spark.fixtures.images import image_pixels

    return image_pixels(i, w, h)


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def test_png_roundtrip_bitexact():
    img = _img()
    assert (decode_png(encode_png(img)) == img).all()


def test_png_roundtrip_byte_stable():
    img = _img(5)
    assert encode_png(img) == encode_png(img.copy())


def test_png_gray_and_rgb():
    g = (np.arange(96, dtype=np.uint8).reshape(8, 12) * 2).astype(np.uint8)
    assert (decode_png(encode_png(g))[:, :, 0] == g).all()
    rgb = _img()[:, :, :3]
    assert (decode_png(encode_png(rgb)) == rgb).all()


def test_jpeg_lossy_psnr_above_40db():
    """fmt='jpeg' rows now go through the REAL baseline codec
    (raster/jpeg.py): RGBA in, (h, w, 3) RGB out (JPEG has no alpha),
    measured 41.2 dB on this fixture at the encode_image defaults."""
    img = _img(7, 396, 396)
    dec = decode_image(encode_image(img, "jpeg"), "jpeg")
    assert dec.shape == (396, 396, 3)
    p = psnr(img[:, :, :3], dec)
    assert p >= 40.0, f"JPEG PSNR {p:.1f} dB < 40"
    with pytest.raises(ValueError, match="missing SOI"):
        decode_image(encode_png(img), "jpeg")


def test_phash_deterministic_and_sensitive():
    img = _img(9, 128, 128)
    assert phash64(img) == phash64(img.copy())
    other = _img(10, 128, 128)
    assert phash64(img) != phash64(other)


# ---------------------------------------------------------------------------
# kernels
# ---------------------------------------------------------------------------

def test_unpack_argb():
    """R12: packed 0xAARRGGBB unpacks to (r, g, b, a)."""
    assert unpack_argb(0x80FF4020) == (255, 64, 32, 128)


def test_fill_even_odd_hole():
    surf = new_surface(20, 20)
    outer = np.array([[2, 2], [18, 2], [18, 18], [2, 18]], dtype=float)
    inner = np.array([[6, 6], [14, 6], [14, 14], [6, 14]], dtype=float)
    fill_polygon(surf, [outer, inner], (255, 0, 0, 255))
    assert (surf[10, 4] == (255, 0, 0, 255)).all()  # ring
    assert (surf[10, 10] == (0, 0, 0, 0)).all()  # hole (even-odd)


def test_stroke_and_dest_out():
    surf = new_surface(20, 20, (0, 0, 255, 255))
    stroke_polyline(surf, np.array([[0, 10], [20, 10]], dtype=float), 2.0, (0, 0, 0, 255), erase=True)
    assert (surf[10, 10] == (0, 0, 0, 0)).all()  # erased (DEST_OUT)
    assert (surf[2, 10] == (0, 0, 255, 255)).all()  # untouched


def test_diff_apply_inverse():
    base = _img(1, 50, 50)
    variant = base.copy()
    variant[10:20, 10:20] = (1, 2, 3, 255)
    d = diff_sprite(variant, base)
    assert (apply_diff(base, d) == variant).all()
    # diff is minimal: untouched pixels are fully zero
    assert (d[30, 30] == 0).all()


def test_atlas_packs_in_order():
    a = new_surface(4, 4, (1, 1, 1, 255))
    b = new_surface(6, 4, (2, 2, 2, 255))
    packed = atlas([a, b])
    assert packed.shape == (4, 10, 4)
    assert (packed[0, 0] == (1, 1, 1, 255)).all() and (packed[0, 5] == (2, 2, 2, 255)).all()


# ---------------------------------------------------------------------------
# Spark pipeline: scene → render → variants → diff → atlas
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def scene_tiles(spark):
    from pyspark.sql import functions as F

    from osm_render_spark.fixtures.osm import ALL_SCENES
    from osm_render_spark.operators.ways_in_rect import ways_in_rect
    from osm_render_spark.raster.ops import render_map_tiles

    scene = ALL_SCENES["bridges"]()
    nodes, ways, rels = scene.to_spark(spark)
    result = ways_in_rect(nodes, ways, rels, scene.bbox)
    lat_min, lon_min, lat_max, lon_max = scene.bbox
    w = h = 396
    # project to pixel space (P8/P9) as Column expressions — JVM-side
    proj = result.select(
        F.lit(0).cast("long").alias("scene_id"),
        F.col("way_id"),
        F.when(F.map_contains_key("tags", "bridge"), F.lit("bridge"))
        .when(F.element_at("tags", "natural") == "coastline", F.lit("coast"))
        .otherwise(F.lit("water"))
        .alias("kind"),
        F.transform(
            "geometry", lambda p: (p["lon"] - F.lit(lon_min)) * F.lit(w / (lon_max - lon_min))
        ).alias("xs"),
        F.transform(
            "geometry", lambda p: (p["lat"] - F.lit(lat_max)) * F.lit(h / (lat_min - lat_max))
        ).alias("ys"),
    )
    tiles = render_map_tiles(proj, w, h)
    return proj.toPandas(), tiles


def test_render_map_spark_matches_local(scene_tiles):
    """Plumbing equivalence: the Spark group kernel must produce the exact
    bytes of a single-process run of the same kernel."""
    from osm_render_spark.raster.ops import render_map_kernel

    proj_pdf, tiles = scene_tiles
    rows = tiles.collect()
    assert len(rows) == 1
    spark_img = decode_png(rows[0]["bytes"])
    local_img = render_map_kernel(proj_pdf, 396, 396)
    assert (spark_img == local_img).all()
    # water must actually be painted (the pond fills some pixels)
    from osm_render_spark.raster.ops import LAND_COLOR, WATER_COLOR

    assert (spark_img == np.array(WATER_COLOR, dtype=np.uint8)).all(axis=2).any()
    assert (spark_img == np.array(LAND_COLOR, dtype=np.uint8)).all(axis=2).any()


def test_sprites_and_atlas(spark, scene_tiles):
    from osm_render_spark.raster.ops import pack_atlas, sprite_variants

    _proj, tiles = scene_tiles
    areas = spark.createDataFrame(
        [
            (0, 0, [50.0, 150.0, 150.0, 50.0], [50.0, 50.0, 150.0, 150.0]),
            (0, 1, [200.0, 300.0, 250.0], [200.0, 200.0, 300.0]),
        ],
        "scene_id long, area_id long, xs array<double>, ys array<double>",
    )
    sprites = sprite_variants(tiles, areas).cache()
    rows = {(r["area_id"], r["mode"]): r for r in sprites.collect()}
    assert set(rows) == {(0, "hover"), (0, "active"), (1, "hover"), (1, "active")}
    base = decode_png(tiles.collect()[0]["bytes"])
    for (aid, mode), r in rows.items():
        variant = decode_png(r["sprite"])
        d = decode_png(r["diff"])
        assert (apply_diff(base, d) == variant).all()  # J10 inverse
        assert (variant != base).any()  # the mode tint painted something
    packed = pack_atlas(sprites).collect()
    assert len(packed) == 1 and packed[0]["n_sprites"] == 4
    atlas_img = decode_png(packed[0]["atlas"])
    assert atlas_img.shape[1] == 4 * 396


def test_glyph_atlas_fixture_matches_generator():
    """The shipped pre-rendered atlas (tools/make_goldens.py) must be
    byte-identical to the deterministic generator (R7 AA fixture pin)."""
    import numpy as np

    from osm_render_spark.raster.font import _ATLAS_PATH, build_atlas

    gen = build_atlas()
    with np.load(_ATLAS_PATH) as z:
        assert set(z.files) == set(gen)
        for k in gen:
            assert (z[k] == gen[k]).all(), k


def test_aa_glyphs_are_proportional_and_antialiased():
    import numpy as np

    from osm_render_spark.raster.font import AA_SIZES, aa_glyph, text_mask_aa

    assert AA_SIZES == (8, 10, 11)  # OsmRender.m:611-622 label sizes
    for size in AA_SIZES:
        m = aa_glyph("M", size)
        i = aa_glyph("I", size)
        assert m.shape[0] == size and i.shape[0] == size
        assert m.shape[1] > i.shape[1], "widths must be proportional"
        # true anti-aliasing at the fractional scale size/7: fully-opaque
        # interiors AND fractional edge coverage
        assert (m == 255).any()
        assert ((m > 0) & (m < 255)).any()
    # proportional advance: 'III' narrower than 'MMM'
    assert text_mask_aa("III", 10).shape[1] < text_mask_aa("MMM", 10).shape[1]


def test_draw_label_aa_and_legacy_paths():
    import numpy as np

    from osm_render_spark.raster.font import draw_label
    from osm_render_spark.raster.kernels import new_surface

    aa = new_surface(120, 120, (255, 255, 255, 255))
    draw_label(aa, "AV-8", 60, 60, bg=None, size=11)
    legacy = new_surface(120, 120, (255, 255, 255, 255))
    draw_label(legacy, "AV-8", 60, 60, bg=None, size=None)
    # AA path blends edge pixels (gray levels strictly between ink and bg)
    ink = np.array([20, 20, 20])
    aa_lum = aa[:, :, :3]
    assert (aa_lum == ink).all(axis=2).any()  # opaque cores
    mid = ((aa_lum > 30) & (aa_lum < 220)).all(axis=2)
    assert mid.any(), "no anti-aliased edge pixels"
    # legacy bitmap path is pure two-level
    lg = legacy[:, :, :3]
    lev = {tuple(px) for px in lg.reshape(-1, 3)}
    assert lev == {(255, 255, 255), (20, 20, 20)}


def test_hinted_text_is_bilevel_with_same_metrics():
    """The reference's hinting switch (OsmRender.m:763-765): hinted masks
    are bi-level (no gray) but keep the proportional AA metrics."""
    import numpy as np

    from osm_render_spark.raster.font import text_mask_aa

    aa = text_mask_aa("AV-8", 10)
    hinted = text_mask_aa("AV-8", 10, hinted=True)
    assert aa.shape == hinted.shape  # same proportional layout
    assert set(np.unique(hinted)) <= {0, 255}
    assert ((aa > 0) & (aa < 255)).any()  # unhinted keeps gray edges
    # hinting is the 50% coverage threshold of the AA mask
    assert (hinted == np.where(aa >= 128, 255, 0)).all()
