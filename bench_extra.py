"""Per-operator isolation benches for the r7 optimization round
(guide §1.4: time the computation with count()/noop, label jobs).

`bench.py` is FROZEN for measurement; this file reproduces individual
sections of its suite so a change's effect can be measured in seconds
without a 8-minute full run. Usage:

    python bench_extra.py snap viterbi
    python bench_extra.py all
    python bench_extra.py jpeg     # driver-only: starts no Spark session
    python bench_extra.py groups   # driver-only: the group run splitter
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from osm_render_spark.session import get_spark

    return get_spark("bench_extra", cpus=CPUS, shuffle_partitions=max(CPUS, 8))


def _mm_fixtures(spark):
    """Byte-identical to bench.py's map-match fixtures."""
    mm_segs = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .where("o_orderkey % 10 = 0")
        .selectExpr(
            "o_orderkey % 211 AS way_id",
            "o_orderkey DIV 211 AS seg_idx",
            "(o_orderkey * 127) % 4000 AS ax",
            "(o_orderkey * 331) % 4000 AS ay",
            "(o_orderkey * 127) % 4000 + o_orderkey % 63 - 31 AS bx",
            "(o_orderkey * 331) % 4000 + o_orderkey % 41 - 20 AS by",
        )
    )
    mm_pts = spark.read.parquet(f"{SF_DIR}/events.parquet").selectExpr(
        "event_id AS point_id",
        "(event_id * 7919) % 4000 AS x",
        "(event_id * 104729) % 4000 AS y",
    )
    vt_pts = spark.read.parquet(f"{SF_DIR}/events.parquet").selectExpr(
        "event_id DIV 4 AS traj_id",
        "event_id % 4 AS seq",
        "(event_id DIV 4 * 7919) % 3800"
        " + (event_id % 4 * 37 + event_id DIV 4 % 61) % 160 AS x",
        "(event_id DIV 4 * 104729) % 3800"
        " + (event_id % 4 * 53 + event_id DIV 4 % 43) % 160 AS y",
    )
    return mm_segs, mm_pts, vt_pts


def bench_snap(spark) -> dict:
    from osm_render_spark.operators.map_match import snap_points_to_segments

    mm_segs, mm_pts, _ = _mm_fixtures(spark)
    spark.sparkContext.setJobDescription("bench_extra: snap warm")
    snap_points_to_segments(mm_pts.limit(2000), mm_segs).count()
    spark.sparkContext.setJobDescription("bench_extra: snap")
    n_pts = mm_pts.count()
    t0 = time.time()
    n = snap_points_to_segments(mm_pts, mm_segs, cell=256, max_dist=64).count()
    sec = time.time() - t0
    return {"snap_sec": round(sec, 3), "snapped": n,
            "points_per_sec": round(n_pts / sec, 1)}


def bench_viterbi(spark) -> dict:
    from osm_render_spark.operators.map_match import match_trajectories

    mm_segs, _, vt_pts = _mm_fixtures(spark)
    n_traj = vt_pts.count() // 4
    spark.sparkContext.setJobDescription("bench_extra: viterbi")
    t0 = time.time()
    n = (
        match_trajectories(vt_pts, mm_segs, cell=256, max_dist=64, top_k=3)
        .where("seq = 0")
        .count()
    )
    sec = time.time() - t0
    return {"viterbi_sec": round(sec, 3), "matched": n,
            "traj_per_sec": round(n_traj / sec, 1)}


def bench_pipeline(spark) -> dict:
    """bench.py's pipeline_e2e with per-stage walls (monkeypatched
    run_stage timer)."""
    import shutil
    import tempfile

    from osm_render_spark.fixtures.images import pipeline_corpus_df
    from osm_render_spark.pipeline import training_data_pipeline
    from osm_render_spark.plans.checkpoint import CheckpointStore

    n_pipe = 3000
    corpus = pipeline_corpus_df(spark, n_pipe).cache()
    corpus.count()
    root = tempfile.mkdtemp(prefix="bench_pipe_")
    stage_walls: dict[str, float] = {}
    orig = CheckpointStore.run_stage

    def timed(self, spark_, stage, params, compute, **kw):
        t0 = time.time()
        out = orig(self, spark_, stage, params, compute, **kw)
        stage_walls[stage] = round(time.time() - t0, 3)
        return out

    CheckpointStore.run_stage = timed
    try:
        t0 = time.time()
        out = training_data_pipeline(
            spark, corpus, CheckpointStore(root),
            params={"corpus": "bench", "n": n_pipe},
        )
        n_packed = out["packed"].count()
        total = time.time() - t0
    finally:
        CheckpointStore.run_stage = orig
        shutil.rmtree(root, ignore_errors=True)
        corpus.unpersist()
    return {"pipeline_e2e_sec": round(total, 3), "packed": n_packed,
            "stages": stage_walls}


def bench_geotiff(spark) -> dict:
    """bench.py's GeoTIFF ingest + hillshade + contours, same fixtures."""
    import numpy as np

    from osm_render_spark.raster.geotiff import GeoRef, encode_geotiff
    from osm_render_spark.raster.terrain import contour_tiles, terrain_tiles
    from osm_render_spark.sources.geotiff_source import read_geotiff_tiles

    gt_dir = "/tmp/osm_render_spark_fixtures/geotiff_bench"
    os.makedirs(gt_dir, exist_ok=True)
    yy, xx = np.mgrid[0:1024, 0:1024].astype(np.int64)
    layouts = [
        dict(tile=(64, 64), compression="deflate", predictor=2),
        dict(rows_per_strip=64, compression="lzw", predictor=2),
        dict(tile=(128, 128), compression="packbits"),
        dict(rows_per_strip=128, compression="deflate", predictor=2),
    ]
    paths = []
    for k, kw in enumerate(layouts):
        p = f"{gt_dir}/k{k}.tif"
        if not os.path.exists(p):
            dem = ((xx * 3 + yy * 7 + k * 1000 + (xx * yy) % 97) % 4096).astype(
                np.int32
            )
            with open(p, "wb") as f:
                f.write(encode_geotiff(dem, georef=GeoRef(0, 0, 0.01, 0.01), **kw))
        paths.append(p)
    read_geotiff_tiles(spark, paths[:1], 64).count()  # warm
    t0 = time.time()
    gt = read_geotiff_tiles(spark, paths, 64)
    n = gt.count()
    ingest = time.time() - t0
    t0 = time.time()
    ns = terrain_tiles(gt, 64, mode="hillshade", raster_col="raster").count()
    shade = time.time() - t0
    t0 = time.time()
    nc = contour_tiles(gt, 64, [500, 1500, 2500], raster_col="raster").count()
    contour = time.time() - t0
    return {
        "gt_ingest_sec": round(ingest, 3), "gt_tiles": n,
        "hillshade_sec": round(shade, 3), "shade_tiles": ns,
        "contour_sec": round(contour, 3), "contour_segs": nc,
    }


def bench_jpeg(spark) -> dict:
    """Driver-only codec microbench (``spark`` is unused): best-of-3 ms
    per image to encode and decode baseline, multi-scan and progressive
    streams of 60 ``image_pixels`` 48x48 images at q90 4:4:4, the size
    and settings of the training_curate corpus. Each pass walks the
    whole corpus, so a progressive image's own Huffman tables are
    decoded cold, as in a corpus read."""
    from osm_render_spark.fixtures.images import image_pixels
    from osm_render_spark.raster.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_progressive_jpeg,
    )

    imgs = [image_pixels(j, 48, 48) for j in range(60)]
    encoders = {
        "baseline": lambda im: encode_jpeg(im, 90, "444"),
        "multiscan": lambda im: encode_jpeg(im, 90, "444", multi_scan=True),
        "progressive": lambda im: encode_progressive_jpeg(im, 90, "444"),
    }

    def best_ms(fn, items):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for it in items:
                fn(it)
            best = min(best, time.perf_counter() - t0)
        return round(1000.0 * best / len(items), 3)

    out = {}
    for kind, enc in encoders.items():
        out[f"jpeg_encode_{kind}_ms"] = best_ms(enc, imgs)
        blobs = [enc(im) for im in imgs]
        out[f"jpeg_decode_{kind}_ms"] = best_ms(decode_jpeg, blobs)
    return out


def group_batches(n_groups: int, group_rows: int, list_col: bool) -> list:
    """Key-sorted pandas batches of 4,096 rows (the session's Arrow batch
    size): ``n_groups`` keys of ``group_rows`` rows each, optionally with a
    list column (an object column of small arrays, like geometry)."""
    import numpy as np
    import pandas as pd

    n = n_groups * group_rows
    cols = {
        "key": np.repeat(np.arange(n_groups, dtype=np.int64), group_rows),
        "v": np.arange(n, dtype=np.int64),
    }
    if list_col:
        xs = np.empty(n, dtype=object)
        xs[:] = [np.arange(4, dtype=np.float64)] * n
        cols["xs"] = xs
    pdf = pd.DataFrame(cols)
    return [
        pdf.iloc[i : i + 4096].reset_index(drop=True)
        for i in range(0, n, 4096)
    ]


GROUP_CASES = {
    "groups_25k_x4_list": (25_000, 4, True),
    "groups_1x400k": (1, 400_000, False),
    "groups_1x800k": (1, 800_000, False),
}


def bench_groups(spark) -> dict:
    """Driver-only (``spark`` is unused): best-of-3 ms for
    ``raster/ops.split_sorted_runs`` to hand every group of the
    GROUP_CASES inputs to a trivial kernel, plus µs per group."""
    from osm_render_spark.raster.ops import split_sorted_runs

    out = {}
    for name, (n_groups, group_rows, list_col) in GROUP_CASES.items():
        batches = group_batches(n_groups, group_rows, list_col)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            seen = sum(
                len(g["v"])
                for runs in split_sorted_runs(batches, "key")
                for g in runs
            )
            best = min(best, time.perf_counter() - t0)
        assert seen == n_groups * group_rows
        out[f"{name}_ms"] = round(1000.0 * best, 2)
        out[f"{name}_us_per_group"] = round(1e6 * best / n_groups, 2)
    return out


SECTIONS = {
    "snap": bench_snap,
    "viterbi": bench_viterbi,
    "pipeline": bench_pipeline,
    "geotiff": bench_geotiff,
    "jpeg": bench_jpeg,
    "groups": bench_groups,
}
DRIVER_ONLY = {"jpeg", "groups"}  # sections that never touch the session


def main() -> int:
    names = sys.argv[1:] or ["all"]
    if names == ["all"]:
        names = list(SECTIONS)
    spark = _spark() if set(names) - DRIVER_ONLY else None
    out = {"cpus": CPUS, "sf_dir": SF_DIR}
    for nm in names:
        out.update(SECTIONS[nm](spark))
        print(json.dumps(out))
    if spark is not None:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
