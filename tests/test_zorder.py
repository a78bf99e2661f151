"""Z-order clustering: Morton math, file-skipping win vs a 1-D layout,
and exactness of pruned reads."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_render_spark.functions.zorder import morton_sql, zorder_write
from osm_render_spark.sources.manifest import pruned_files, read_pruned


def _points(spark, n=60_000):
    return spark.range(0, n).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(256)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(256)).alias("y"),
    )


def test_morton_monotone_per_axis(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("x"), (F.col("id") % 97).alias("y")
    )
    rows = df.select(
        "x", "y", F.expr(morton_sql("x", "y")).alias("m")
    ).collect()
    seen = {(r["x"], r["y"]): r["m"] for r in rows}
    for (x, y), m in seen.items():
        if (x + 1, y) in seen:
            assert seen[(x + 1, y)] > m
        if (x, y + 1) in seen:
            assert seen[(x, y + 1)] > m


def test_zorder_write_rejects_out_of_range_coords(spark, tmp_path):
    """The Morton key masks coordinates to 16 bits — a value >= 2^16 or
    < 0 would silently wrap into the wrong file and pruned bbox reads
    would return wrong rows. The guard rides the write pass itself
    (raise_error in the key projection — no second scan of the input
    plan), so the refusal surfaces as a Spark job failure."""
    import pytest

    big = spark.range(0, 100).select(
        (F.col("id") + 65_500).alias("x"), F.col("id").alias("y"), "id"
    )
    with pytest.raises(Exception, match="Morton domain"):
        zorder_write(big, str(tmp_path / "zbad"), "x", "y", 4)
    neg = spark.range(0, 100).select(
        F.col("id").alias("x"), (F.col("id") - 50).alias("y"), "id"
    )
    with pytest.raises(Exception, match="Morton domain"):
        zorder_write(neg, str(tmp_path / "zneg"), "x", "y", 4)
    # in-range data still writes (the guard is free when valid)
    ok = spark.range(0, 100).select(
        F.col("id").alias("x"), (F.col("id") * 3 % 256).alias("y"), "id"
    )
    zorder_write(ok, str(tmp_path / "zok"), "x", "y", 2)


def test_zorder_prunes_bbox_files_vs_1d_layout(spark, tmp_path):
    """The point of Z-ordering: a 32x32 aligned bbox over a 256x256
    space (1/64 of the area) touches ~1/64 of z-ordered files but ~1/8
    of x-sorted files (each x-file spans ALL y). Both layouts return
    exactly the brute-force rows via the manifest-pruned read."""
    from osm_render_spark.sources.manifest import write_dataset

    pts = _points(spark)
    zpath, xpath = str(tmp_path / "z"), str(tmp_path / "x")
    zorder_write(pts, zpath, "x", "y", n_files=64)
    write_dataset(pts.withColumn("_xkey", F.col("x")), xpath, "_xkey", 64)

    x0, x1, y0, y1 = 64, 95, 64, 95  # 32-aligned block: compact Morton span
    # monotone per axis -> bbox's Morton span is [morton(x0,y0), morton(x1,y1)]
    lo = spark.sql(f"SELECT {morton_sql(str(x0), str(y0))} AS m").first()["m"]
    hi = spark.sql(f"SELECT {morton_sql(str(x1), str(y1))} AS m").first()["m"]
    z_files = pruned_files(spark, zpath, lo, hi)
    x_files = pruned_files(spark, xpath, x0, x1)
    assert len(z_files) <= 4, f"z-order read {len(z_files)} of 64 files"
    assert len(x_files) >= 6, f"1-D layout read only {len(x_files)} files"
    assert len(z_files) < len(x_files)

    want = sorted(
        r["id"]
        for r in pts.where(
            (F.col("x").between(x0, x1)) & (F.col("y").between(y0, y1))
        ).collect()
    )
    got_z = sorted(
        r["id"]
        for r in read_pruned(spark, zpath, "_zkey", lo, hi)
        .where((F.col("x").between(x0, x1)) & (F.col("y").between(y0, y1)))
        .collect()
    )
    assert got_z == want


def test_bbox_range_decomposition_beats_single_span(spark, tmp_path):
    """The unaligned, boundary-crossing bbox (x straddles 128) where a
    single Morton span prunes NOTHING: the quadtree decomposition still
    reads a small file subset, returns exactly the brute-force rows,
    and a tiny max_ranges budget stays a correct (coarser) superset."""
    from osm_render_spark.functions.zorder import (
        _morton_py,
        morton_sql,
        pruned_files_bbox,
    )
    from osm_render_spark.sources.manifest import pruned_files

    pts = _points(spark)
    zpath = str(tmp_path / "z2")
    zorder_write(pts, zpath, "x", "y", n_files=64)
    x0, x1, y0, y1 = 100, 131, 100, 131  # crosses the 128 boundary

    # python twin == SQL ladder (one spot check through Spark)
    r = spark.sql(f"SELECT {morton_sql('100', '131')} AS m").first()["m"]
    assert r == _morton_py(100, 131)

    span = pruned_files(spark, zpath, _morton_py(x0, y0), _morton_py(x1, y1))
    decomposed = pruned_files_bbox(spark, zpath, x0, x1, y0, y1)
    assert len(span) >= 32, f"boundary span should be near-useless, got {len(span)}"
    assert len(decomposed) <= 12, f"decomposed read {len(decomposed)} of 64"

    want = sorted(
        r["id"]
        for r in pts.where(
            (F.col("x").between(x0, x1)) & (F.col("y").between(y0, y1))
        ).collect()
    )
    got = sorted(
        r["id"]
        for r in spark.read.parquet(*decomposed)
        .where((F.col("x").between(x0, x1)) & (F.col("y").between(y0, y1)))
        .collect()
    )
    assert got == want
    # a starved budget must stay a superset of the exact file set
    coarse = pruned_files_bbox(spark, zpath, x0, x1, y0, y1, max_ranges=4)
    assert set(coarse) >= set(decomposed)


def test_zorder_store_feeds_tile_pipeline(spark, tmp_path):
    """Integration with the core engine: lon/lat points stored
    z-ordered by their z8 tile coords; a bbox tile-count query reads
    ONLY the pruned file subset yet matches brute force over the full
    table — the layout serves the engine's actual workload, not just
    the synthetic key test."""
    from osm_render_spark.functions.zorder import pruned_files_bbox
    from osm_render_spark.operators.tiles import assign_tiles

    pts = spark.range(0, 40_000).select(
        F.col("id"),
        (F.pmod(F.xxhash64("id"), F.lit(3_600_000)) / 10_000.0 - 180.0).alias("lon"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1_600_000)) / 10_000.0 - 80.0).alias("lat"),
    )
    tiled = assign_tiles(pts, "lon", "lat", 8)
    zpath = str(tmp_path / "ztiles")
    zorder_write(tiled, zpath, "tile_x", "tile_y", n_files=48)

    tx0, tx1, ty0, ty1 = 60, 90, 100, 125  # unaligned z8 tile bbox
    files = pruned_files_bbox(spark, zpath, tx0, tx1, ty0, ty1)
    assert 0 < len(files) < 24, f"pruned to {len(files)} of 48"
    in_box = (F.col("tile_x").between(tx0, tx1)) & (
        F.col("tile_y").between(ty0, ty1)
    )
    got = {
        (r["tile_key"], r["n"])
        for r in spark.read.parquet(*files)
        .where(in_box)
        .groupBy("tile_key")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    want = {
        (r["tile_key"], r["n"])
        for r in tiled.where(in_box).groupBy("tile_key").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(want) > 50


def test_morton_sql_matches_python_twin_bulk(spark):
    """One Spark job sweeps the SQL ladder against the python twin over
    2k coordinate pairs including the 16-bit extremes (the BIGINT
    widening regression would fail here for x >= 32768)."""
    from osm_render_spark.functions.zorder import _morton_py, morton_sql

    df = spark.range(0, 2000).select(
        F.pmod(F.xxhash64("id"), F.lit(65536)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(65536)).alias("y"),
    ).union(
        spark.createDataFrame(
            [(0, 0), (65535, 65535), (32768, 1), (1, 32768)], "x long, y long"
        )
    )
    rows = df.select("x", "y", F.expr(morton_sql("x", "y")).alias("m")).collect()
    assert any(r["x"] >= 32768 for r in rows)
    for r in rows:
        assert r["m"] == _morton_py(r["x"], r["y"]), (r["x"], r["y"])


def test_manifest_table_is_relocatable(spark, tmp_path):
    """The relative-manifest fix, pinned directly: MOVE a z-ordered
    table directory wholesale and pruned reads from the new location
    still resolve every file (absolute input_file_name() entries would
    strand on the old path — the compaction-swap bug class)."""
    import shutil

    from osm_render_spark.functions.zorder import pruned_files_bbox

    pts = _points(spark, 20_000)
    src, dst = str(tmp_path / "orig"), str(tmp_path / "moved")
    zorder_write(pts, src, "x", "y", n_files=32)
    shutil.move(src, dst)
    files = pruned_files_bbox(spark, dst, 64, 95, 64, 95)
    assert files and all(f.startswith(dst) for f in files)
    got = (
        spark.read.parquet(*files)
        .where((F.col("x").between(64, 95)) & (F.col("y").between(64, 95)))
        .count()
    )
    want = pts.where(
        (F.col("x").between(64, 95)) & (F.col("y").between(64, 95))
    ).count()
    assert got == want > 0


def test_failed_zorder_rewrite_preserves_existing_table(spark, tmp_path):
    """The write-time domain guard fires mid-job; a failed rewrite must
    leave the previous table AND its manifest intact (review catch: the
    overwrite used to clear the target before validation ran)."""
    path = str(tmp_path / "z")
    pts = _points(spark, 5_000)
    zorder_write(pts, path, "x", "y", n_files=4)
    want = spark.read.parquet(path).count()
    bad = spark.range(0, 100).select(
        (F.col("id") + 70_000).alias("x"), F.col("id").alias("y"), "id"
    )
    import pytest

    with pytest.raises(Exception, match="Morton domain"):
        zorder_write(bad, path, "x", "y", n_files=4)
    assert spark.read.parquet(path).count() == want
    from osm_render_spark.sources.manifest import pruned_files

    assert pruned_files(spark, path, 0, 1 << 32)  # manifest still resolves


def test_zorder_overwrite_rolls_back_when_swap_fails(spark, tmp_path, monkeypatch):
    """The staged rewrite swaps directories with two renames; when the
    second (tmp → live) fails, the original must be renamed back, the
    error must surface, and no staging debris may remain."""
    import os

    import pytest

    path = str(tmp_path / "z")
    zorder_write(_points(spark, 5_000), path, "x", "y", n_files=4)
    lo, hi = 0, 1 << 32

    def table():
        return sorted(map(tuple, read_pruned(spark, path, "_zkey", lo, hi).collect()))

    want = table()
    real_rename = os.rename
    calls = []

    def flaky_rename(src, dst):
        calls.append((src, dst))
        if len(calls) == 2:
            raise OSError("injected: second rename fails")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky_rename)
    with pytest.raises(OSError, match="injected"):
        zorder_write(_points(spark, 3_000), path, "x", "y", n_files=4)
    monkeypatch.setattr(os, "rename", real_rename)

    assert calls[1] == (f"{path}.zorder-tmp", path)
    assert table() == want
    leftovers = sorted(os.listdir(tmp_path))
    assert leftovers == ["z"], leftovers
