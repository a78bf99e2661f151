"""Checkpoint / lineage / resume (SURVEY.md S10 + north-rule resumability).

The resume test simulates a killed job by deleting a subset of completed
partition directories, then asserts the rerun recomputes EXACTLY the
missing partitions and the final output is identical.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from osm_render_spark.plans.checkpoint import CheckpointStore, stage_key


@pytest.fixture()
def store():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield CheckpointStore(d)
    shutil.rmtree(d, ignore_errors=True)


def _tiles(spark, n=1000):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 10).alias("tile"),
        (F.col("id") * 7 % 1000).alias("v"),
    )


def test_stage_memoization_skips_recompute(spark, store):
    calls = []

    def compute():
        calls.append(1)
        return _tiles(spark)

    p = {"zoom": 7, "color": "0xff0000ff"}
    a = store.run_stage(spark, "render", p, compute, partition_col="tile")
    assert a.count() == 1000 and len(calls) == 1
    b = store.run_stage(spark, "render", p, compute, partition_col="tile")
    assert b.count() == 1000 and len(calls) == 1  # cache hit: no recompute
    # different params → different key → recompute (the reference's cache
    # key bug — omitting params — is exactly what this pins against)
    store.run_stage(spark, "render", {**p, "color": "0x00ff00ff"}, compute)
    assert len(calls) == 2


def test_lineage_rows_and_verification(spark, store):
    p = {"zoom": 7}
    store.run_stage(spark, "s1", p, lambda: _tiles(spark), partition_col="tile")
    lin = store.lineage(spark, "s1", p)
    rows = {r["partition_key"]: r for r in lin.collect()}
    assert len(rows) == 10
    assert all(r["row_count"] == 100 for r in rows.values())
    assert store.verify_lineage(spark, "s1", p)


def test_partitioned_resume_recomputes_only_missing(spark, store):
    computed_batches = []

    def compute(missing):
        keys = sorted(r["tile"] for r in missing.collect())
        computed_batches.append(keys)
        return _tiles(spark).join(missing, "tile")

    expected = spark.range(10).select(F.col("id").alias("tile"))
    p = {"stage": "assign"}
    full = store.run_stage_partitioned(
        spark, "assign", p, "tile", expected, compute
    )
    a = {(r["id"], r["v"]) for r in full.collect()}  # materialize pre-kill
    assert len(a) == 1000
    assert computed_batches == [list(range(10))]

    # simulate a kill that lost 3 partitions
    import os

    key = stage_key("assign", p, "")
    path = store._path("assign", key)
    for t in (2, 5, 7):
        shutil.rmtree(os.path.join(path, f"tile={t}"))

    resumed = store.run_stage_partitioned(
        spark, "assign", p, "tile", expected, compute
    )
    assert resumed.count() == 1000
    assert computed_batches[-1] == [2, 5, 7]  # ONLY the missing partitions

    # identical final content
    b = {(r["id"], r["v"]) for r in resumed.collect()}
    assert a == b

    # clean rerun: nothing missing, compute not called again
    n_before = len(computed_batches)
    store.run_stage_partitioned(spark, "assign", p, "tile", expected, compute)
    assert len(computed_batches) == n_before


def test_partitioned_resume_salvages_killed_append(spark, store):
    """A job killed mid-append (task-commit committers) leaves a
    partially-written partition that WOULD pass the naive distinct()
    anti-join; the resume path must checksum-verify against lineage, drop
    the partial partition, and recompute it (ADVICE r1, medium)."""
    import os

    def compute(missing):
        return _tiles(spark).join(missing, "tile")

    expected = spark.range(10).select(F.col("id").alias("tile"))
    p = {"stage": "salvage"}
    full = store.run_stage_partitioned(spark, "salvage", p, "tile", expected, compute)
    a = {(r["id"], r["v"]) for r in full.collect()}

    key = stage_key("salvage", p, "")
    path = store._path("salvage", key)
    # simulate a killed append: partition 3 half-written (drop one file →
    # checksum mismatch), partition 8 has an EXTRA committed-but-orphaned
    # file (duplicate rows), plus a _temporary leftover marking the kill
    t3 = os.path.join(path, "tile=3")
    files3 = sorted(f for f in os.listdir(t3) if f.endswith(".parquet"))
    os.remove(os.path.join(t3, files3[0]))
    t8 = os.path.join(path, "tile=8")
    files8 = sorted(f for f in os.listdir(t8) if f.endswith(".parquet"))
    shutil.copy(
        os.path.join(t8, files8[0]), os.path.join(t8, "part-extra.c000.parquet")
    )
    os.makedirs(os.path.join(path, "_temporary"), exist_ok=True)

    resumed = store.run_stage_partitioned(spark, "salvage", p, "tile", expected, compute)
    b = {(r["id"], r["v"]) for r in resumed.collect()}
    assert a == b  # partials dropped + recomputed, no duplicates
    assert resumed.count() == 1000


def test_partitioned_resume_uncommitted_dir_recomputes(spark, store):
    """A dir with no committed data files (killed before first commit)
    must be treated as absent, not raise 'unable to infer schema'."""
    import os

    def compute(missing):
        return _tiles(spark).join(missing, "tile")

    expected = spark.range(10).select(F.col("id").alias("tile"))
    p = {"stage": "fresh"}
    key = stage_key("fresh", p, "")
    path = store._path("fresh", key)
    os.makedirs(os.path.join(path, "_temporary"), exist_ok=True)  # no data

    out = store.run_stage_partitioned(spark, "fresh", p, "tile", expected, compute)
    assert out.count() == 1000


def test_lineage_detects_corruption(spark, store):
    import os

    p = {"x": 1}
    store.run_stage(spark, "s2", p, lambda: _tiles(spark, 500), partition_col="tile")
    assert store.verify_lineage(spark, "s2", p)
    key = stage_key("s2", p, "")
    path = store._path("s2", key)
    # corrupt: drop one data file
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    os.remove(os.path.join(path, files[0]))
    assert not store.verify_lineage(spark, "s2", p)


def test_run_stage_hit_rewrites_lost_lineage(spark, store):
    """A kill between the data commit and the lineage commit leaves a
    stage with data but no lineage; the next key hit must serve the data
    without recomputing AND write the lineage from its read-back, so the
    stage is verifiable again (not PATH_NOT_FOUND forever)."""
    import os

    calls = []

    def compute():
        calls.append(1)
        return _tiles(spark, 300)

    p = {"kill": "after_data"}
    store.run_stage(spark, "s3", p, compute, partition_col="tile")
    key = stage_key("s3", p, "")
    shutil.rmtree(store._lineage_path("s3", key))
    assert not os.path.exists(store._lineage_path("s3", key))

    again = store.run_stage(spark, "s3", p, compute, partition_col="tile")
    assert len(calls) == 1  # key hit: compute not called
    assert again.count() == 300
    assert store.verify_lineage(spark, "s3", p)
    assert store.lineage(spark, "s3", p).count() == 10


def test_stage_hit_reads_back_without_a_job(spark, store):
    """A key hit reads the stored output with the schema from its footer:
    no Spark job (schema inference runs one per ``spark.read.parquet``)
    and the same schema inference would give, MAP and STRUCT included."""

    def compute():
        return _tiles(spark, 50).select(
            "*",
            F.create_map(F.lit("k"), F.col("v")).alias("tags"),
            F.struct("id", "v").alias("pt"),
        )

    p = {"read": "footer"}
    store.run_stage(spark, "s4", p, compute, partition_col="tile")
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-hit", "key hit")
    try:
        hit = store.run_stage(spark, "s4", p, compute, partition_col="tile")
        assert sc.statusTracker().getJobIdsForGroup("checkpoint-hit") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    path = store._path("s4", stage_key("s4", p, ""))
    assert hit.schema == spark.read.parquet(path).schema
    assert sorted(hit.collect()) == sorted(compute().collect())


# Lineage of the stage below as the Spark-written format recorded it:
# (partition_key, row_count, checksum) per stage, the checksum being the
# exact sum of xxhash64 row hashes with the MAP column hashed as sorted
# entries.
_PINNED_LINEAGE = {
    "tile": {
        ("1", 4, "6620270429231518764"),
        ("2", 4, "708887237825406176"),
        (None, 4, "-1660122192907955999"),
    },
    "": {("0", 12, "5669035474148968941")},
}


def test_lineage_format_pinned(spark, store):
    """Lineage keeps its columns, types, nullability and rows for a
    stage with a NULL partition key and a MAP column, grouped by a
    column and ungrouped; and a NULL partition key verifies."""
    import os

    import pyarrow.parquet as pq

    def compute():
        return spark.range(12).select(
            F.col("id"),
            F.when(F.col("id") % 3 == 0, F.lit(None))
            .otherwise(F.col("id") % 3)
            .alias("tile"),
            F.create_map(F.lit("k"), F.col("id") * 7).alias("tags"),
        )

    p = {"zoom": 3}
    for stage, pcol in (("grouped", "tile"), ("ungrouped", None)):
        store.run_stage(spark, stage, p, compute, partition_col=pcol)
        key = stage_key(stage, p, "")
        lin = store.lineage(spark, stage, p)
        assert lin.schema.simpleString() == (
            "struct<partition_key:string,row_count:bigint,checksum:string,"
            "stage:string,key:string,partition_col:string,params_json:string>"
        )
        rows = lin.collect()
        assert {(r[0], r[1], r[2]) for r in rows} == _PINNED_LINEAGE[pcol or ""]
        assert {tuple(r[3:]) for r in rows} == {
            (stage, key, pcol or "", '{"zoom": 3}')
        }
        lpath = store._lineage_path(stage, key)
        files = [f for f in os.listdir(lpath) if f.endswith(".parquet")]
        schema = pq.read_schema(os.path.join(lpath, files[0]))
        nullable = {f.name: f.nullable for f in schema}
        assert nullable == {
            "partition_key": pcol is not None,
            "row_count": False,
            "checksum": True,
            "stage": False,
            "key": False,
            "partition_col": False,
            "params_json": False,
        }
        assert os.path.exists(os.path.join(lpath, "_SUCCESS"))
        assert store.verify_lineage(spark, stage, p)
