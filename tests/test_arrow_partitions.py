"""One Python task per core on the Arrow stages of the tile path: the
outputs feeding pixel, decode and sink kernels never carry more
partitions than ``defaultParallelism`` — no second task wave from a
partition floor, and no plan union multiplying partitions in front of a
Python kernel."""

from __future__ import annotations

from osm_render_spark.fixtures.osm import ALL_SCENES
from osm_render_spark.raster.ops import render_slippy_tiles
from osm_render_spark.raster.pyramid import build_tile_pyramid
from osm_render_spark.session import arrow_stage_partitions
from osm_render_spark.sources.pbf import read_pbf

from test_pbf import _scene_pbf
from test_slippy import TILE_PX, ZOOM, _ways


def test_helper_is_one_task_per_core(spark):
    assert arrow_stage_partitions(spark) == spark.sparkContext.defaultParallelism


def test_render_and_pyramid_partitions_at_most_cores(spark):
    cores = spark.sparkContext.defaultParallelism
    tiles = render_slippy_tiles(_ways(spark), ZOOM, TILE_PX)
    assert tiles.rdd.getNumPartitions() <= cores
    # base level + two level chunks: the union alone would hold 3× the
    # partitions of one level
    pyramid = build_tile_pyramid(tiles, ZOOM, ZOOM - 6, TILE_PX)
    assert pyramid.rdd.getNumPartitions() <= cores
    assert pyramid.select("zoom").distinct().count() == 7


def test_read_pbf_decodes_partitions_at_most_cores(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    path = _scene_pbf(ALL_SCENES["relations"](), str(tmp_path))
    for use_index in (True, False):
        for entity in read_pbf(spark, path, use_index=use_index):
            assert entity.rdd.getNumPartitions() <= cores


def test_pack_sequences_partitions_at_most_cores(spark):
    """The pack kernel runs one task per core whatever ``n_buckets`` is,
    and with an explicit bucket column ``n_buckets`` changes nothing."""
    from pyspark.sql import functions as F

    from osm_render_spark.operators.packing import pack_sequences

    cores = spark.sparkContext.defaultParallelism
    docs = spark.range(240).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 37 % 90 + 5).alias("size"),
        (F.col("id") % 24).cast("string").alias("shard"),
    )
    runs = {}
    for n_buckets in (4, 64):
        packed = pack_sequences(docs, 200, bucket_col="shard", n_buckets=n_buckets)
        assert packed.rdd.getNumPartitions() <= cores
        runs[n_buckets] = sorted(tuple(r) for r in packed.collect())
    assert len(runs[4]) == 240
    assert runs[4] == runs[64]
