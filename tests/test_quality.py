"""Image-quality heuristics: closed-form metric checks on constructed
images, ordering properties, and the Spark operator + keep predicate."""

from __future__ import annotations

import numpy as np

from osm_render_spark.raster.codec import encode_png
from osm_render_spark.raster.quality import (
    image_quality,
    quality_keep,
    quality_metrics,
)


def _solid(v=128, h=16, w=16):
    return np.full((h, w, 3), v, np.uint8)


def _noise(seed=0, h=32, w=32):
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3), np.uint8)


def _checker(h=32, w=32):
    yy, xx = np.mgrid[0:h, 0:w]
    return (((yy + xx) % 2) * 255).astype(np.uint8)[:, :, None].repeat(3, 2)


def _gradient(h=32, w=32):
    row = np.linspace(40, 215, w)
    img = np.tile(row, (h, 1)).astype(np.uint8)
    return img[:, :, None].repeat(3, 2)


def test_solid_image_closed_form():
    s, e, x, c, b = quality_metrics(_solid())
    # sharpness 0, entropy 0 (one histogram bin), no extremes, no
    # contrast, uniform border
    assert (s, e, x, c, b) == (0, 0, 0, 0, 1)
    # an extreme solid (all-black) is 100% extreme
    assert quality_metrics(_solid(0))[2] == 1_000_000


def test_checkerboard_closed_form():
    s, e, x, c, b = quality_metrics(_checker())
    # two equiprobable bins -> exactly 1 bit of entropy
    assert e == 1_000_000
    # every pixel is 0 or 255 -> 100% extreme; contrast = 127.5
    assert x == 1_000_000 and c == 127_500_000
    # Laplacian of a checkerboard: interior |L| = 8*127.5... variance
    # is large; just pin that it beats the gradient by a lot
    assert s > 100 * quality_metrics(_gradient())[0]
    assert b == 0  # borders alternate


def test_orderings():
    # blur detector: noise > checker-ish texture > smooth gradient > solid
    sharp_noise = quality_metrics(_noise())[0]
    sharp_grad = quality_metrics(_gradient())[0]
    assert sharp_noise > sharp_grad > 0
    # entropy: noise ~8 bits > gradient > solid 0
    e_noise = quality_metrics(_noise())[1]
    e_grad = quality_metrics(_gradient())[1]
    assert e_noise > 7_000_000 and e_noise > e_grad > 0
    # grayscale 2-D input takes the same path
    assert quality_metrics(_noise()[:, :, 0])[1] > 7_000_000


def test_border_uniform_letterbox():
    img = _noise(3)
    img[0, :] = img[-1, :] = img[:, 0] = img[:, -1] = (10, 20, 30)
    assert quality_metrics(img)[4] == 1
    img[0, 5] = (11, 20, 30)
    assert quality_metrics(img)[4] == 0


def test_tiny_image_guard():
    # below 3x3 there is no Laplacian interior; must not crash
    assert quality_metrics(np.full((2, 2, 3), 7, np.uint8))[0] == 0


def _df(spark):
    imgs = {
        "solid": _solid(),
        "noise": _noise(1),
        "grad": _gradient(),
        "checker": _checker(),
    }
    rows = [(k, bytearray(encode_png(v)), "png") for k, v in imgs.items()]
    rows.append(("poison", bytearray(b"\x89not-a-png"), "png"))
    return (
        spark.createDataFrame(rows, "image_id string, bytes binary, fmt string"),
        imgs,
    )


def test_operator_matches_pure_function(spark):
    df, imgs = _df(spark)
    got = {r["image_id"]: r for r in image_quality(df).collect()}
    for k, img in imgs.items():
        s, e, x, c, b = quality_metrics(img)
        r = got[k]
        assert (r["sharpness_u"], r["entropy_u"], r["extreme_u"],
                r["contrast_u"], r["border_uniform"]) == (s, e, x, c, b)
        assert r["decode_ok"] == 1
    assert got["poison"]["decode_ok"] == 0
    assert got["poison"]["sharpness_u"] is None


def test_filter_stage(spark):
    df, _ = _df(spark)
    # the pipeline's quality stage: metrics, then the JVM-side predicate
    kept = {r["image_id"] for r in image_quality(df).where(quality_keep(
        min_sharpness=5.0, min_entropy=1.0, max_extreme=0.9
    )).collect()}
    # noise survives; solid (entropy 0), gradient (sharpness ~0),
    # checker (100% extreme), poison (decode_ok=0) are dropped
    assert kept == {"noise"}
