"""kNN operators: map-side prune bound, circular metric."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from osm_render_spark.operators.knn import knn_join


def _frames(spark, spread=0.5):
    rng = np.random.default_rng(5)
    qpts = [(i, float(-50 + 13 * i), float(-30 + 9 * i)) for i in range(6)]
    cands = []
    k = 0
    for _qid, qlon, qlat in qpts:
        for _ in range(30):
            cands.append(
                (
                    k,
                    float(qlon + rng.uniform(-spread, spread)),
                    float(qlat + rng.uniform(-spread, spread)),
                )
            )
            k += 1
    q = spark.createDataFrame(qpts, "query_id long, qlon double, qlat double")
    c = spark.createDataFrame(cands, "cand_id long, lon double, lat double")
    return q, c


def test_local_topk_prune_bounds_prewindow_rows(spark):
    """The VERDICT r1 scale fix: rows reaching the rank window must be
    bounded by k × |queries| × n_batches, never |candidates| × |queries|
    (map-side prune inside the Arrow kernel)."""
    from osm_render_spark.operators.knn import _local_topk_scored

    q, c = _frames(spark)  # 6 queries × 180 candidates
    c4 = c.repartition(4)
    scored = _local_topk_scored(q, c4, 5)
    n = scored.count()
    # ≤ k(5) × queries(6) × batches(≤4 partitions, one batch each at this
    # size) = 120, and strictly below the 1080-row cross product
    assert n <= 5 * 6 * 4
    assert n < 180 * 6


def test_knn_circular_metric_plugs_in(spark):
    """J7's actual metric: clockwise perimeter gap (mod perimeter). The
    dist parameter accepts any Column expression."""
    perimeter = 100.0
    q = spark.createDataFrame([(0, 90.0)], "query_id long, qpos double")
    c = spark.createDataFrame(
        [(1, 10.0), (2, 85.0), (3, 95.0)], "cand_id long, pos double"
    )
    gap = F.pmod(F.col("pos") - F.col("qpos"), F.lit(perimeter))
    got = [
        r["cand_id"]
        for r in knn_join(q, c, 3, dist=gap).orderBy("rank").collect()
    ]
    # clockwise from 90: 95 (gap 5), 10 (gap 20), 85 (gap 95)
    assert got == [3, 1, 2]
