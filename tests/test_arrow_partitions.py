"""One Python task per core on the Arrow stages of the tile path: the
outputs feeding pixel, decode and sink kernels never carry more
partitions than ``defaultParallelism`` — no second task wave from a
partition floor, and no plan union multiplying partitions in front of a
Python kernel. The sorted-run group primitive behind every per-key
kernel hands each key group to its kernel whole and exactly once."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

from osm_render_spark.fixtures.osm import ALL_SCENES
from osm_render_spark.raster.ops import (
    buffered_group_flatmap,
    render_slippy_tiles,
    split_sorted_runs,
)
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


def test_group_kernel_sees_each_group_whole_once(spark):
    """Over the session's 4,096-row Arrow batches: three 9,000-row keys,
    a key change exactly at row 4,096 of a partition, 1-row keys, NULL
    keys on several rows (one group, as ``applyInPandas`` has it) and an
    empty partition. Keys are placed with the repartition's own hash."""
    from pyspark.sql import functions as F

    n = arrow_stage_partitions(spark)
    part_of = dict(
        spark.range(1, 400).select("id", F.pmod(F.hash("id"), F.lit(n))).collect()
    )
    null_part = spark.range(1).select(
        F.pmod(F.hash(F.lit(None).cast("long")), F.lit(n))
    ).first()[0]
    empty_part = (null_part + 1) % n if n > 1 else None
    # the NULL rows sort first in their partition, then its smallest key
    # fills the partition up to row 4,096, then a 9,000-row key starts
    in_null_part = sorted(k for k, p in part_of.items() if p == null_part)
    n_null = 7
    sizes = {None: n_null, in_null_part[0]: 4096 - n_null, in_null_part[1]: 9000}
    free = [
        k for k in sorted(part_of)
        if k not in sizes and part_of[k] != empty_part
    ]
    sizes.update({k: 9000 for k in free[:2]})
    sizes.update({k: 1 for k in free[2:32]})
    rows, v = [], 0
    for k, m in sizes.items():
        rows += [(k, v + i) for i in range(m)]
        v += m
    df = spark.createDataFrame(rows, "k long, v long")

    def whole(g):
        return [(g["k"][0], len(g["v"]), int(g["v"].sum()))]

    got = buffered_group_flatmap(
        df, "k", whole, ["k", "n", "v_sum"], "k long, n long, v_sum long"
    ).collect()
    want = {}
    for k, v in rows:
        n_k, s_k = want.get(k, (0, 0))
        want[k] = (n_k + 1, s_k + v)
    assert len(got) == len(want)  # one kernel call per key
    assert {r["k"]: (r["n"], r["v_sum"]) for r in got} == want


@pytest.mark.parametrize("null, dtype", [(np.nan, "float64"), (None, object)])
def test_split_sorted_runs_over_batches(null, dtype):
    """Driver-only: one key spanning 50 batches, empty batches, 1-row
    keys and a leading NULL run split into whole runs, in key order —
    for a numeric key (NULL as NaN) and an object key (NULL as None)."""
    keys = [null] * 3 + [1] * (50 * 8 - 3) + [2, 3] + [4] * 11 + [5]
    v = np.arange(len(keys))
    cuts = list(range(0, len(keys), 8)) + [len(keys)]
    batches = [pd.DataFrame({"k": [], "v": []})]
    for a, b in zip(cuts, cuts[1:]):
        k = pd.Series(keys[a:b], dtype=dtype)
        batches.append(pd.DataFrame({"k": k, "v": v[a:b]}))
        batches.append(batches[0])  # an empty batch after every batch
    runs = [g for done in split_sorted_runs(batches, "k") for g in done]
    want = [
        list(grp)
        for _k, grp in itertools.groupby(
            range(len(keys)), key=lambda i: "null" if i < 3 else keys[i]
        )
    ]
    assert [list(g["v"]) for g in runs] == want
    assert [len(g["k"]) for g in runs] == [3, 397, 1, 1, 11, 1]
