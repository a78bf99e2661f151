"""Raster↔vector Spark operators (SURVEY.md J8-J11, A5/A6, R1-R12, M5).

All imperative pixel work lives in numpy kernels invoked from
``mapInPandas`` over Arrow batches — per-key kernels through the one
sorted-run group primitive (:func:`buffered_group_flatmap`), never
per-row Python. DataFrame plumbing (grouping, joins, fan-out) is pure
Spark, so Catalyst handles partitioning; the per-scene/per-tile group
kernels are embarrassingly parallel across groups.

Scale notes: tiles are the unit of parallelism (co-partition by tile/scene
key before the kernels — one shuffle); sprite fan-out is a crossJoin
against a tiny modes dimension (broadcast, no shuffle of the tile side);
the atlas aggregation is the only single-group stage and is bounded by
sprites-per-scene, never by table size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.clip import clip_polyline
from ..operators.coast_merge import merge_coast_paths
from ..session import arrow_stage_partitions
from .codec import decode_image, encode_png, phash64
from .kernels import (
    _coverage_mask,
    diff_sprite,
    fill_polygon,
    mask_fill,
    new_surface,
    stroke_polyline,
)

# engine default palette (packed ARGB, engine-owned — not read from the
# reference's options.cfg)
LAND_COLOR = (238, 234, 226, 255)
WATER_COLOR = (163, 204, 255, 255)
AREA_COLORS = {
    "base": (0, 0, 0, 0),
    "hover": (255, 255, 160, 120),
    "active": (255, 200, 80, 160),
}


def split_sorted_runs(batches, key_col: str):
    """Split batches sorted on ``key_col`` into runs of one key. Yields,
    per input batch, the list of runs that batch completes; each run is
    a dict of column name → numpy array (views into the batch).

    Run boundaries come from one vectorized compare on the key column.
    Only the run that spans a batch boundary is buffered: its pieces go
    into a list that is concatenated once, when the run ends, so a group
    costs time linear in its size whatever the batch count. NULL keys
    (None/NaN after the Arrow→pandas conversion) form one run, as in
    ``applyInPandas``."""
    pending: list[dict] = []
    pending_key, pending_null = None, False
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        k = cols[key_col]
        null = pd.isna(k)
        change = (k[1:] != k[:-1]) & ~(null[1:] & null[:-1])
        bounds = [0, *(np.flatnonzero(change) + 1).tolist(), n]
        runs = []
        if pending:
            if (pending_null and null[0]) or (
                not (pending_null or null[0]) and k[0] == pending_key
            ):
                pending.append({c: a[: bounds[1]] for c, a in cols.items()})
                if len(bounds) == 2:  # the whole batch continues the run
                    continue
                del bounds[0]
            runs.append(_concat_run(pending))
        for s, e in zip(bounds[:-2], bounds[1:-1]):
            runs.append({c: a[s:e] for c, a in cols.items()})
        s = bounds[-2]
        pending = [{c: a[s:] for c, a in cols.items()}]
        pending_key, pending_null = k[s], bool(null[s])
        yield runs
    if pending:
        yield [_concat_run(pending)]


def _concat_run(pieces: list[dict]) -> dict:
    if len(pieces) == 1:
        return pieces[0]
    return {c: np.concatenate([p[c] for p in pieces]) for c in pieces[0]}


def buffered_group_flatmap(df, key_col: str, group_rows, cols, schema):
    """The engine's one sorted-run group kernel: every per-key Python
    kernel crosses the Python boundary here. Repartition on ``key_col``
    (one task per core) + sort within partitions, then split each
    partition's Arrow batches into key runs (:func:`split_sorted_runs`),
    many groups per batch.

    ``group_rows(g) -> list[tuple]`` emits ZERO OR MORE output rows
    (``cols`` order) per key group. ``g`` maps column name → numpy
    array: kernels read it only as ``g[c]`` and ``c in g`` (a pandas
    frame is such a mapping too), never ``len(g)``. A group costs ~1.2 µs
    of slicing, against ~22 µs for a pandas ``groupby`` sub-frame
    (``bench_extra.py groups``: 25k four-row groups with a list column,
    4 vCPU) and ~4 ms for one ``applyInPandas`` call."""
    n_part = arrow_stage_partitions(df.sparkSession)
    arranged = df.repartition(n_part, key_col).sortWithinPartitions(key_col)

    def kernel(batches):
        for runs in split_sorted_runs(batches, key_col):
            out = [row for g in runs for row in group_rows(g)]
            if out:
                yield pd.DataFrame(out, columns=cols)

    return arranged.mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# map rendering (OsmRenderMap analog, OsmRender.m:430-537)
# ---------------------------------------------------------------------------

def render_map_kernel(g, w: int, h: int) -> np.ndarray:
    """One scene/tile: land base, merged-coast water fill, water-body
    fill, bridge DEST_OUT erase. ``g`` maps columns (kind, xs, ys and
    optionally way_id) to arrays — a group view or a pandas frame."""
    kinds, xss, yss = (np.asarray(g[c]) for c in ("kind", "xs", "ys"))
    # shuffle arrival order is nondeterministic; the coast concat/walk is
    # order-sensitive, so pin way_id order (the engine's canonical stand-in
    # for the reference's file order, SURVEY O4)
    if "way_id" in g:
        order = np.argsort(np.asarray(g["way_id"]), kind="stable")
        kinds, xss, yss = kinds[order], xss[order], yss[order]
    surf = new_surface(w, h, LAND_COLOR)
    rect = (0.0, 0.0, float(w), float(h))

    coast_subpaths: list[np.ndarray] = []
    water_rings: list[np.ndarray] = []
    bridges: list[np.ndarray] = []
    for kind, xs, ys in zip(kinds, xss, yss):
        path = np.column_stack([np.asarray(xs), np.asarray(ys)])
        if kind == "coast":
            coast_subpaths.extend(clip_polyline(path, rect))
        elif kind == "water":
            if len(path) >= 3:
                water_rings.append(path)
        elif kind == "bridge":
            bridges.append(path)

    # coastline: merge clipped fragments into closed polys, one even-odd
    # poly-polygon fill (OsmRender.m:495-504)
    coast_polys = merge_coast_paths(coast_subpaths, rect)
    if coast_polys:
        fill_polygon(surf, coast_polys, WATER_COLOR)
    # water bodies fill PER WAY (the reference fills each water path
    # separately, OsmRender.m:508-517) — accumulating them into one
    # even-odd fill would cancel overlapping water bodies back to land
    for ring in water_rings:
        fill_polygon(surf, [ring], WATER_COLOR)
    for b in bridges:
        stroke_polyline(surf, b, 2.0, (0, 0, 0, 255), erase=True)
    return surf


def render_map_tiles(scene_ways: DataFrame, w: int, h: int) -> DataFrame:
    """scene_ways(scene_id, way_id, kind, xs, ys — pixel space) →
    (scene_id, bytes, w, h) one rendered base tile per scene."""

    def render_group(g) -> list[tuple]:
        surf = render_map_kernel(g, w, h)
        return [(g["scene_id"][0], encode_png(surf), w, h)]

    return buffered_group_flatmap(
        scene_ways,
        "scene_id",
        render_group,
        ["scene_id", "bytes", "w", "h"],
        "scene_id long, bytes binary, w int, h int",
    )


# ---------------------------------------------------------------------------
# sprite fan-out + variants + diffs (A6/J9/J10, OsmRender.m:1248-1257)
# ---------------------------------------------------------------------------

def sprite_variants(
    base_tiles: DataFrame, areas: DataFrame, modes: tuple[str, ...] = ("hover", "active")
) -> DataFrame:
    """base_tiles(scene_id, bytes, w, h) × areas(scene_id, area_id, xs, ys)
    × modes → per-(area, mode) variant sprite plus its per-pixel diff vs
    base (J10). Fan-out is a broadcast crossJoin against a 2-row modes dim;
    the render is a cogrouped Arrow kernel."""
    spark = base_tiles.sparkSession
    modes_df = spark.createDataFrame([(m,) for m in modes], "mode string")
    fanned = areas.crossJoin(F.broadcast(modes_df)).join(
        base_tiles, "scene_id"
    )

    def kernel(batches):
        for pdf in batches:
            out = []
            # decode each scene's base ONCE per batch — the fan-out means
            # every (area, mode) row carries the same base bytes
            base_cache: dict = {}
            for row in pdf.itertuples(index=False):
                base = base_cache.get(row.scene_id)
                if base is None:
                    base = decode_image(row.bytes, "png")
                    base_cache[row.scene_id] = base
                poly = np.column_stack([np.asarray(row.xs), np.asarray(row.ys)])
                mask = _coverage_mask(base.shape[1], base.shape[0], [poly])
                variant = base.copy()
                color = AREA_COLORS[row.mode]
                a8 = (mask * 255).astype(np.uint8)
                mask_fill(variant, a8, color)
                d = diff_sprite(variant, base)
                out.append(
                    (
                        row.scene_id,
                        row.area_id,
                        row.mode,
                        encode_png(variant),
                        encode_png(d),
                        base.shape[1],
                        base.shape[0],
                    )
                )
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["scene_id", "area_id", "mode", "sprite", "diff", "w", "h"],
                )

    return fanned.mapInPandas(
        kernel,
        schema="scene_id long, area_id long, mode string, sprite binary, diff binary, w int, h int",
    )


def pack_atlas(sprites: DataFrame) -> DataFrame:
    """A5/R10: per-scene atlas of all sprites, deterministic order
    (area_id, mode). Single group per scene — bounded by sprite count."""

    from .kernels import atlas

    def atlas_group(g) -> list[tuple]:
        # stable two-pass argsort = lexicographic (area_id, mode) order
        order = np.argsort(g["mode"], kind="stable")
        order = order[np.argsort(g["area_id"][order], kind="stable")]
        imgs = [decode_image(b, "png") for b in g["sprite"][order]]
        packed = atlas(imgs)
        return [
            (g["scene_id"][0], encode_png(packed), packed.shape[1],
             packed.shape[0], len(imgs))
        ]

    return buffered_group_flatmap(
        sprites,
        "scene_id",
        atlas_group,
        ["scene_id", "atlas", "w", "h", "n_sprites"],
        "scene_id long, atlas binary, w int, h int, n_sprites int",
    )


# ---------------------------------------------------------------------------
# slippy-map multi-tile renderer — the distributed generalization of the
# reference's single-scene render (each z/x/y tile is its own 256px
# render box; a way lands on EVERY tile its bbox covers)
# ---------------------------------------------------------------------------

def _merc_x(lon, zoom: int):
    """Column-lambda copy of functions.projection.merc_x_sql — needed
    because transform() lambda variables can't be spliced into F.expr
    SQL text. tests/test_properties pins 3-way bitwise agreement
    (SQL text / this Column form / cells.merc_xy numpy)."""
    n = 1 << zoom
    return (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))


def _merc_y(lat, zoom: int):
    import math

    from ..functions.projection import MERC_MAX_LAT

    n = 1 << zoom
    lat_c = F.least(F.greatest(lat, F.lit(-MERC_MAX_LAT)), F.lit(MERC_MAX_LAT))
    rad = F.radians(lat_c)
    return (
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(float(n))
    )


def fan_out_tiles(ways: DataFrame, zoom: int) -> DataFrame:
    """Steps 1-2 of the slippy pipeline: per-way mercator bbox → covered
    tile ranges → one (way_id, kind, geometry, tile_x, tile_y, tile_key)
    row per covered tile. Shared by the raster renderer below and the
    MVT encoder (raster/mvt.py) so the two products can never disagree
    on which tiles a way covers."""
    n = 1 << zoom
    g = F.col("geometry")
    lon_min = F.array_min(F.transform(g, lambda p: p["lon"]))
    lon_max = F.array_max(F.transform(g, lambda p: p["lon"]))
    lat_min = F.array_min(F.transform(g, lambda p: p["lat"]))
    lat_max = F.array_max(F.transform(g, lambda p: p["lat"]))

    def clamp_tile(c):
        return F.least(F.greatest(F.floor(c), F.lit(0)), F.lit(n - 1)).cast("long")

    ranged = ways.select(
        "way_id",
        "kind",
        "geometry",
        clamp_tile(_merc_x(lon_min, zoom)).alias("tx0"),
        clamp_tile(_merc_x(lon_max, zoom)).alias("tx1"),
        clamp_tile(_merc_y(lat_max, zoom)).alias("ty0"),  # y-down: max lat = min y
        clamp_tile(_merc_y(lat_min, zoom)).alias("ty1"),
    )
    return (
        ranged.withColumn("tile_x", F.explode(F.sequence("tx0", "tx1")))
        .withColumn("tile_y", F.explode(F.sequence("ty0", "ty1")))
        .withColumn("tile_key", F.col("tile_x") * n + F.col("tile_y"))
        .drop("tx0", "tx1", "ty0", "ty1")
    )


def render_slippy_tiles(
    ways: DataFrame, zoom: int, tile_px: int = 256
) -> DataFrame:
    """ways(way_id, kind, geometry:array<struct<lon,lat>>) → one rendered
    PNG per z/x/y tile any way's bbox covers.

    Plan shape (all pre-kernel work is Column arithmetic):
      1. per-way mercator bbox → covered tile ranges (aggregate HOFs)
      2. fan-out: explode the tile-x and tile-y ranges (a way appears once
         per covered tile — the slippy generalization of P8/P9)
      3. translate geometry to tile-local pixel coords (transform HOF)
      4. ONE shuffle on (tile_x, tile_y) → per-tile group render kernel
         (clip → coast merge → fill/stroke/erase — same kernels as the
         single-scene path, so goldens carry over)

    Skew note: dense cells fan out many ways to one tile; the group kernel
    cost is bounded by tile_px² plus the bbox-windowed fills, and AQE
    skew-split handles uneven groups.
    """
    fanned = fan_out_tiles(ways, zoom)
    local = fanned.select(
        "way_id",
        "kind",
        "tile_x",
        "tile_y",
        "tile_key",
        F.transform(
            "geometry",
            lambda p: (_merc_x(p["lon"], zoom) - F.col("tile_x")) * F.lit(float(tile_px)),
        ).alias("xs"),
        F.transform(
            "geometry",
            lambda p: (_merc_y(p["lat"], zoom) - F.col("tile_y")) * F.lit(float(tile_px)),
        ).alias("ys"),
    )

    def render_group(g) -> list[tuple]:
        surf = render_map_kernel(g, tile_px, tile_px)
        # n_ways/way_sum: engine-independent per-tile manifest digests
        # (each way appears exactly once per covered tile) — the
        # slippy_render oracle recomputes them from the fan-out
        # arithmetic in DuckDB
        return [(
            int(g["tile_key"][0]),
            int(g["tile_x"][0]),
            int(g["tile_y"][0]),
            encode_png(surf),
            len(g["way_id"]),
            int(g["way_id"].sum()),
        )]

    return buffered_group_flatmap(
        local,
        "tile_key",
        render_group,
        ["tile_key", "tile_x", "tile_y", "bytes", "n_ways", "way_sum"],
        (
            "tile_key long, tile_x long, tile_y long, bytes binary, "
            "n_ways long, way_sum long"
        ),
    )


# ---------------------------------------------------------------------------
# landmark bullets + park icon blit (R2 bullets OsmRender.m:840-844,
# J11 icon blit OsmRender.m:746-756)
# ---------------------------------------------------------------------------

def park_icon(size: int = 16) -> np.ndarray:
    """Deterministic stand-in for the reference's park.png tree icon
    (engine-owned asset; we do not read reference binaries)."""
    icon = new_surface(size, size)
    trunk = np.array([[size / 2, size * 0.95], [size / 2, size * 0.55]])
    stroke_polyline(icon, trunk, 2.0, (101, 67, 33, 255))
    crown = np.array(
        [[size / 2, size * 0.05], [size * 0.9, size * 0.6], [size * 0.1, size * 0.6]]
    )
    fill_polygon(icon, [crown], (34, 139, 34, 255))
    return icon


def annotate_tiles(
    tiles: DataFrame, marks: DataFrame, bullet_radius: float = 3.0
) -> DataFrame:
    """tiles(scene_id, bytes, w, h) × marks(scene_id, mark_id, x, y, kind
    [, label]) → tiles with landmark bullets (kind='bullet'), park icons
    (kind='park', J11) and text labels with rounded-rect backgrounds
    (kind='label', R7/R8 — engine bitmap font) composited. One cogroup
    pass; marks are dimension-sized."""

    def kernel(key, tiles_pdf: pd.DataFrame, marks_pdf: pd.DataFrame) -> pd.DataFrame:
        from .font import draw_label

        marks_pdf = marks_pdf.sort_values("mark_id", kind="mergesort")
        icon = park_icon()
        out = []
        for row in tiles_pdf.itertuples(index=False):
            surf = decode_image(row.bytes, "png").copy()
            for m in marks_pdf.itertuples(index=False):
                if m.kind == "bullet":
                    # a disc = zero-length stroke with width 2r (R2 bullets)
                    p = np.array([[m.x, m.y], [m.x, m.y]])
                    stroke_polyline(surf, p, bullet_radius * 2, (200, 30, 30, 255))
                elif m.kind == "park":
                    from .kernels import blit

                    # centered blit, floor(x+0.5) rounding (F6)
                    bx = int(np.floor(m.x - icon.shape[1] / 2 + 0.5))
                    by = int(np.floor(m.y - icon.shape[0] / 2 + 0.5))
                    blit(surf, icon, bx, by)
                elif m.kind == "label":
                    draw_label(surf, getattr(m, "label", "") or "", m.x, m.y)
            out.append((key[0], encode_png(surf), row.w, row.h))
        return pd.DataFrame(out, columns=["scene_id", "bytes", "w", "h"])

    return (
        tiles.groupBy("scene_id")
        .cogroup(marks.groupBy("scene_id"))
        .applyInPandas(kernel, schema="scene_id long, bytes binary, w int, h int")
    )


# ---------------------------------------------------------------------------
# raster↔vector co-partitioned overlay (J9 north-star form)
# ---------------------------------------------------------------------------

def overlay_tiles(tiles: DataFrame, features: DataFrame) -> DataFrame:
    """Co-partition decoded image tiles with vector features on tile_key
    and composite the features onto each tile (the north rule's
    raster↔vector join): ``tiles(tile_key, bytes, fmt)`` cogrouped with
    ``features(tile_key, feature_id, kind, xs, ys)`` → rendered
    (tile_key, bytes); feature_id fixes the draw order within a tile.

    Both sides shuffle ONCE on tile_key (cogroup); the kernel is Arrow-
    batched per tile group. At 10^12 images the tile side is written
    bucketed by tile_key so this cogroup co-locates without a shuffle.
    Tiles with no features pass through unchanged (left-cogroup
    semantics); features without a tile are dropped.
    """

    def kernel(key, tiles_pdf: pd.DataFrame, feats_pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic draw order regardless of shuffle arrival order
        feats_pdf = feats_pdf.sort_values("feature_id", kind="mergesort")
        out = []
        for row in tiles_pdf.itertuples(index=False):
            img = decode_image(row.bytes, row.fmt)
            if img.shape[2] == 3:  # promote RGB to RGBA for compositing
                img = np.concatenate(
                    [img, np.full(img.shape[:2] + (1,), 255, dtype=np.uint8)], axis=2
                )
            surf = img.copy()
            # render order mirrors the reference: polygon fills first
            # (water, PER feature — see render_map_kernel note on
            # overlapping water bodies), strokes, erases last (DEST_OUT)
            for f in feats_pdf.itertuples(index=False):
                if f.kind == "poly":
                    poly = np.column_stack([np.asarray(f.xs), np.asarray(f.ys)])
                    fill_polygon(surf, [poly], WATER_COLOR)
            for f in feats_pdf.itertuples(index=False):
                if f.kind == "line":
                    path = np.column_stack([np.asarray(f.xs), np.asarray(f.ys)])
                    stroke_polyline(surf, path, 2.0, (20, 20, 20, 255))
            for f in feats_pdf.itertuples(index=False):
                if f.kind == "erase":
                    path = np.column_stack([np.asarray(f.xs), np.asarray(f.ys)])
                    stroke_polyline(surf, path, 2.0, (0, 0, 0, 255), erase=True)
            out.append((key[0], encode_png(surf)))
        return pd.DataFrame(out, columns=["tile_key", "bytes"])

    return (
        tiles.groupBy("tile_key")
        .cogroup(features.groupBy("tile_key"))
        .applyInPandas(kernel, schema="tile_key long, bytes binary")
    )


# ---------------------------------------------------------------------------
# image-table operators (training-data pipeline over the input_hint table)
# ---------------------------------------------------------------------------

def decode_features(images: DataFrame) -> DataFrame:
    """Decode the binary column, verify dims + phash, extract features —
    (image_id, w, h, fmt, phash_ok, dims_ok, mean_lum). The decode itself
    is the container-stubbed part only for real JPEG (codec docstring);
    plumbing (Arrow batches, schema, partitioning) is production-shaped.
    An undecodable blob fails the task: in a controlled corpus it is a
    bug, never a row to drop."""

    def kernel(batches):
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                img = decode_image(row.bytes, row.fmt)
                recs.append(
                    (
                        row.image_id,
                        img.shape[1],
                        img.shape[0],
                        row.fmt,
                        bool(phash64(img) == row.phash) if row.fmt == "png" else None,
                        bool(img.shape[1] == row.w and img.shape[0] == row.h),
                        float(img[:, :, :3].mean()),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "image_id", "w", "h", "fmt", "phash_ok", "dims_ok", "mean_lum",
                ],
            )

    return images.mapInPandas(
        kernel,
        schema=(
            "image_id string, w int, h int, fmt string, "
            "phash_ok boolean, dims_ok boolean, mean_lum double"
        ),
    )


def fake_audio_bytes(audio_id: int, n_samples: int = 8000, rate: int = 8000) -> bytes:
    """Deterministic stand-in for an encoded audio blob: int16 PCM of a
    few id-derived sinusoids, zlib-wrapped. (No audio codec in this
    container — the compressed-format decode is the stubbed part; the
    PCM math and Spark plumbing are real.)"""
    import struct
    import zlib

    t = np.arange(n_samples, dtype=np.float64) / rate
    f1 = 110.0 + (audio_id * 37) % 500
    f2 = 220.0 + (audio_id * 91) % 900
    wave = 0.6 * np.sin(2 * np.pi * f1 * t) + 0.3 * np.sin(2 * np.pi * f2 * t)
    pcm = np.floor(wave * 32767 + 0.5).astype(np.int16)
    return b"FAUD" + struct.pack(">IIH", audio_id, n_samples, rate) + zlib.compress(
        pcm.tobytes()
    )


def audio_features(audios: DataFrame, frame: int = 400) -> DataFrame:
    """Audio feature extraction over opaque blobs: per-frame RMS energy,
    peak amplitude, zero-crossing rate — vectorized numpy inside Arrow
    batches. REAL decode for WAV PCM (RIFF — raster/containers.py) and
    FLAC (raster/flac.py, from-scratch lossless codec) plus the
    deterministic fake_audio_bytes fixture format; perceptual codecs
    (mp3/aac/...) raise NotImplementedError (no codec library in this
    container). Why MP3 stays stubbed while JPEG/FLAC/LZ4/zstd were
    built from scratch: Layer III's pipeline math (IMDCT, synthesis
    polyphase) is derivable, but ISO 11172-3's normative DATA tables
    (the 512-coefficient window, 34 Huffman tables, scalefactor bands)
    are copyrighted constants with no in-container independent decoder
    to validate against — fabricating them is exactly the
    self-consistent-codec trap this repo's codec discipline exists to
    avoid (zstd had the system CLI as adversary; MP3 has nothing)."""
    def kernel(batches):
        from .dsp import decode_audio_blob

        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                x, rate = decode_audio_blob(row.bytes)
                n_frames = len(x) // frame
                fx = x[: n_frames * frame].reshape(n_frames, frame)
                rms = np.sqrt((fx**2).mean(axis=1))
                zc = (np.diff(np.signbit(fx), axis=1) != 0).sum(axis=1)
                rows.append(
                    (
                        row.audio_id,
                        rate,
                        n_frames,
                        float(rms.mean()),
                        float(np.abs(x).max()),
                        float(zc.mean() / frame),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["audio_id", "rate", "n_frames", "rms", "peak", "zcr"],
            )

    return audios.mapInPandas(
        kernel,
        schema=(
            "audio_id long, rate int, n_frames int, rms double, peak double, "
            "zcr double"
        ),
    )
