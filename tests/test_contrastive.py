"""Contrastive batch assembly (operators/contrastive.py): the
false-negative-free guarantee, exact-size batches, hand-worked tiny
case, and parity with a single-window reference enumeration."""

import numpy as np

from osm_render_spark.operators.contrastive import contrastive_batches

RNG = np.random.default_rng(99)


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "id long, cluster long")
    return contrastive_batches(df, **kw).collect()


def test_hand_worked_tiny(spark):
    """Clusters sizes 3/2/1, batch_size 2: level 1 has 3 items → one
    full batch (third dropped); level 2 has 2 → one batch; level 3 has
    1 → dropped entirely."""
    rows = [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 30)]
    out = _run(spark, rows, batch_size=2, n_buckets=4)
    by_level = {}
    for r in out:
        by_level.setdefault(r.level, []).append(r)
    assert len(by_level[1]) == 2 and len(by_level[2]) == 2
    assert 3 not in by_level
    # level 1 members are the first item of each cluster
    assert {r.id for r in by_level[1]} <= {1, 4, 6}


def test_no_batch_has_duplicate_cluster_and_exact_size(spark):
    rows = [
        (int(i), int(c))
        for i, c in enumerate(RNG.integers(0, 40, 2000))
    ]
    out = _run(spark, rows, batch_size=16, n_buckets=8)
    batches = {}
    for r in out:
        batches.setdefault((r.level, r.batch_in_level), []).append(r.cluster)
    for key, cl in batches.items():
        assert len(cl) == 16, key
        assert len(set(cl)) == 16, key  # no false negatives


def test_matches_single_window_reference(spark):
    """The distributed bucket-offset enumeration equals ROW_NUMBER over
    (level ORDER BY bucket, id) computed the naive way."""
    rows = [
        (int(i * 7 + 1), int(c))
        for i, c in enumerate(RNG.integers(0, 25, 900))
    ]
    out = {r.id: r for r in _run(spark, rows, batch_size=8, n_buckets=16)}
    # naive python reference
    by_cluster = {}
    for i, c in sorted(rows):
        by_cluster.setdefault(c, []).append(i)
    level_of = {}
    for c, ids in by_cluster.items():
        for lv, i in enumerate(ids, 1):
            level_of[i] = lv
    by_level = {}
    for i, c in rows:
        bucket = ((i % 100000007) * 2654435761) % 16
        by_level.setdefault(level_of[i], []).append((bucket, i, c))
    for lv, members in by_level.items():
        members.sort()
        total = len(members)
        for enum, (b, i, c) in enumerate(members, 1):
            batch = (enum - 1) // 8
            if (batch + 1) * 8 <= total:
                r = out[i]
                assert (r.level, r.enum, r.batch_in_level) == (lv, enum, batch)
            else:
                assert i not in out


def test_deterministic(spark):
    rows = [(int(i), int(i % 13)) for i in range(400)]
    a = sorted(map(tuple, _run(spark, rows, batch_size=4)))
    b = sorted(map(tuple, _run(spark, rows, batch_size=4)))
    assert a == b
