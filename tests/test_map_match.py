"""Map matching (operators/map_match.py): hand-worked point→segment
distances (interior / both clamps / degenerate), brute-force parity on
random data incl. NEGATIVE coordinates, cell-boundary candidates, and
plan pins (no Python, bounded exchanges)."""

import numpy as np

from osm_render_spark.operators.map_match import snap_points_to_segments

RNG = np.random.default_rng(8)


def _run(spark, pts, segs, **kw):
    p = spark.createDataFrame(pts, "point_id long, x long, y long")
    s = spark.createDataFrame(
        segs, "way_id long, seg_idx long, ax long, ay long, bx long, by long"
    )
    return {
        r.point_id: (r.way_id, r.seg_idx, r.d2_milli)
        for r in snap_points_to_segments(p, s, **kw).collect()
    }


def _brute_d2_milli(px, py, ax, ay, bx, by):
    apx, apy = px - ax, py - ay
    abx, aby = bx - ax, by - ay
    dot = apx * abx + apy * aby
    len2 = abx * abx + aby * aby
    if len2 == 0 or dot <= 0:
        return 1000 * (apx * apx + apy * apy)
    if dot >= len2:
        return 1000 * ((px - bx) ** 2 + (py - by) ** 2)
    num = (apx * apx + apy * apy) * len2 - dot * dot
    return (num // len2) * 1000 + (num % len2) * 1000 // len2


def test_hand_worked_cases(spark):
    segs = [(1, 0, 0, 0, 10, 0)]  # horizontal segment (0,0)-(10,0)
    got = _run(
        spark,
        [(0, 5, 3), (1, -4, 3), (2, 14, 3), (3, 5, 0)],
        segs,
        cell=64,
        max_dist=60,
    )
    assert got[0] == (1, 0, 9000)        # interior: d²=9
    assert got[1] == (1, 0, 25000)       # clamp A: 16+9
    assert got[2] == (1, 0, 25000)       # clamp B: 16+9
    assert got[3] == (1, 0, 0)           # on the segment


def test_degenerate_zero_length_segment(spark):
    got = _run(spark, [(0, 3, 4)], [(7, 2, 0, 0, 0, 0)], cell=64, max_dist=10)
    assert got[0] == (7, 2, 25000)


def test_fractional_projection_floor(spark):
    """Non-integer d²: P=(1,1) vs segment (0,0)-(3,1): d² = 4/10 →
    floor(1000·0.4) = 400."""
    got = _run(spark, [(0, 1, 1)], [(1, 0, 0, 0, 3, 1)], cell=64, max_dist=10)
    assert got[0] == (1, 0, 400)


def test_max_dist_boundary_inclusive(spark):
    got = _run(
        spark,
        [(0, 0, 8), (1, 0, 9)],
        [(1, 0, -5, 0, 5, 0)],
        cell=64,
        max_dist=8,
    )
    assert got[0] == (1, 0, 64000)
    assert 1 not in got  # 9 px > max_dist


def test_cross_cell_candidate_found(spark):
    """Point sits at the very start of a cell; its nearest segment lies
    entirely in the PREVIOUS cell — the max_dist bbox expansion must
    bring it into the point's cell bucket."""
    got = _run(
        spark,
        [(0, 256, 5)],
        [(1, 0, 250, 0, 254, 0)],  # cells ~0; point cell = 1
        cell=256,
        max_dist=16,
    )
    assert got[0] == (1, 0, 1000 * (2 * 2 + 5 * 5))


def test_brute_force_parity_with_negative_coords(spark):
    pts = [
        (int(i), int(x), int(y))
        for i, (x, y) in enumerate(
            zip(RNG.integers(-500, 500, 300), RNG.integers(-500, 500, 300))
        )
    ]
    segs = []
    for j in range(120):
        ax, ay = RNG.integers(-500, 500, 2)
        segs.append(
            (j % 37, j, int(ax), int(ay),
             int(ax + RNG.integers(-40, 41)), int(ay + RNG.integers(-40, 41)))
        )
    got = _run(spark, pts, segs, cell=128, max_dist=100)
    for pid, x, y in pts:
        best = None
        for wid, sidx, ax, ay, bx, by in segs:
            d = _brute_d2_milli(x, y, ax, ay, bx, by)
            if d <= 1000 * 100 * 100:
                k = (d, wid, sidx)
                if best is None or k < best:
                    best = k
        if best is None:
            assert pid not in got
        else:
            assert got[pid] == (best[1], best[2], best[0]), pid


def test_plan_no_python_bounded_exchanges(spark):
    p = spark.createDataFrame([(0, 1, 1)], "point_id long, x long, y long")
    s = spark.createDataFrame(
        [(1, 0, 0, 0, 3, 1)],
        "way_id long, seg_idx long, ax long, ay long, bx long, by long",
    )
    plan = (
        snap_points_to_segments(p, s)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    # cell join + point window (+ possible AQE artifacts): ≤ 3 exchanges
    assert plan.count("Exchange") <= 3


# ---------------------------------------------------- match_trajectories

def _run_traj(spark, pts, segs, **kw):
    from osm_render_spark.operators.map_match import match_trajectories

    P = spark.createDataFrame(pts, "traj_id long, seq long, x long, y long")
    S = spark.createDataFrame(
        segs, "way_id long, seg_idx long, ax long, ay long, bx long, by long"
    )
    out = {}
    rows = match_trajectories(P, S, **kw).collect()
    for r in rows:
        out.setdefault(r.traj_id, {})[r.seq] = (
            r.way_id, r.seg_idx, r.d2_milli, r.total_cost
        )
    return out


def test_viterbi_smooths_noisy_ping(spark):
    """Two parallel horizontal ways; pings hug way 1 except one noisy
    ping slightly nearer way 2.  Independent snap would switch ways
    twice (2 penalties); Viterbi keeps way 1 (cheaper than 2×10⁷)."""
    segs = [
        (1, 0, 0, 0, 400, 0),
        (2, 0, 0, 30, 400, 30),
    ]
    pts = [(0, 0, 10, 2), (0, 1, 100, 17), (0, 2, 200, 3), (0, 3, 300, 1)]
    got = _run_traj(
        spark, pts, segs, cell=256, max_dist=100, top_k=3,
        switch_penalty=10_000_000,
    )
    assert [got[0][s][0] for s in range(4)] == [1, 1, 1, 1]
    # seq 1 is 17px from way 1 but only 13px from way 2 — snap would pick 2
    assert got[0][1][2] == 1000 * 17 * 17


def test_viterbi_switches_when_evidence_is_strong(spark):
    """A genuine way change (all later pings far from way 1) must pay
    the single switch."""
    segs = [(1, 0, 0, 0, 200, 0), (2, 0, 0, 500, 200, 500)]
    pts = [(0, 0, 10, 1), (0, 1, 50, 2), (0, 2, 60, 499), (0, 3, 120, 501)]
    got = _run_traj(
        spark, pts, segs, cell=256, max_dist=100, top_k=3,
        switch_penalty=10_000_000,
    )
    assert [got[0][s][0] for s in range(4)] == [1, 1, 2, 2]
    assert got[0][0][3] == (1 + 4 + 1 + 1) * 1000 + 10_000_000


def test_viterbi_drops_trajectory_with_unmatchable_ping(spark):
    segs = [(1, 0, 0, 0, 100, 0)]
    pts = [(0, 0, 10, 5), (0, 1, 5000, 5000)]  # ping 1 out of range
    got = _run_traj(spark, pts, segs, cell=256, max_dist=50)
    assert got == {}


def test_viterbi_equals_path_enumeration(spark):
    """DP == exhaustive enumeration under (cost, path-lex) on random
    worlds — the oracle's argument, in-process."""
    import itertools
    from collections import defaultdict

    segs = []
    for j in range(60):
        ax, ay = RNG.integers(0, 700, 2)
        segs.append(
            (int(j % 17), int(j), int(ax), int(ay),
             int(ax + RNG.integers(-50, 51)), int(ay + RNG.integers(-50, 51)))
        )
    pts = []
    for t in range(25):
        x, y = (int(v) for v in RNG.integers(0, 700, 2))
        for s in range(5):
            x += int(RNG.integers(-25, 26))
            y += int(RNG.integers(-25, 26))
            pts.append((t, s, x, y))
    got = _run_traj(
        spark, pts, segs, cell=128, max_dist=90, top_k=3,
        switch_penalty=10_000_000,
    )
    cands = defaultdict(list)
    for t, s, x, y in pts:
        cl = sorted(
            (_brute_d2_milli(x, y, *sg[2:]), sg[0], sg[1])
            for sg in segs
            if _brute_d2_milli(x, y, *sg[2:]) <= 1000 * 90 * 90
        )
        cands[(t, s)] = [(w, si, d) for d, w, si in cl[:3]]
    n_checked = 0
    for t in range(25):
        per = [cands[(t, s)] for s in range(5)]
        if any(not c for c in per):
            assert t not in got
            continue
        best = None
        for combo in itertools.product(*per):
            cost = sum(c[2] for c in combo) + sum(
                10_000_000 for a, b in zip(combo, combo[1:]) if a[0] != b[0]
            )
            key = (cost, tuple((c[0], c[1]) for c in combo))
            best = key if best is None or key < best else best
        path = tuple((got[t][s][0], got[t][s][1]) for s in range(5))
        assert (got[t][0][3], path) == best, t
        n_checked += 1
    assert n_checked >= 10


def _prefix_dp_reference(steps, switch_penalty):
    """The DP as it was before backpointers: each state carries its
    whole (way_id, seg_idx) prefix, O(L²) in trajectory length, and
    ties compare the prefixes directly.  Kept as the tie-break oracle."""
    states = [(d2, ((wid, sidx),), wid) for wid, sidx, d2 in steps[0]]
    for cands in steps[1:]:
        nxt = []
        for wid, sidx, d2 in cands:
            best = None
            for cost, prefix, pw in states:
                c = cost + d2 + (switch_penalty if pw != wid else 0)
                k2 = (c, prefix + ((wid, sidx),))
                if best is None or k2 < best:
                    best = k2
            nxt.append((best[0], best[1], wid))
        states = nxt
    cost, path, _ = min(states, key=lambda t: (t[0], t[1]))
    return cost, list(path)


def test_viterbi_backpointer_matches_prefix_dp():
    """Tie-heavy random trajectories (a 3×3 (way, seg) grid, d2 and
    penalty from {0, 5}) have many equal-cost paths; the backpointer DP
    must pick the same (cost, lexicographic path) as the prefix DP."""
    from osm_render_spark.operators.map_match import _viterbi_path

    rng = np.random.default_rng(31)
    for _ in range(400):
        n, k = int(rng.integers(1, 14)), int(rng.integers(1, 5))
        steps = []
        for _s in range(n):
            picks = rng.choice(9, size=k, replace=False)
            steps.append([(int(p // 3), int(p % 3), 5 * int(rng.integers(0, 2)))
                          for p in picks])
        penalty = 5 * int(rng.integers(0, 2))
        cost, idx = _viterbi_path(steps, penalty)
        path = [steps[t][i][:2] for t, i in enumerate(idx)]
        assert (cost, path) == _prefix_dp_reference(steps, penalty)


def test_viterbi_long_trajectory(spark):
    """One 2,000-point trajectory between three parallel ways on an
    integer grid (pings equidistant from two ways, segment joints
    equidistant from two segments): the kernel's rows equal the prefix
    DP over brute-force top-3 candidates."""
    seg_len, n, max_dist, penalty = 100, 2000, 20, 20_000
    segs = [
        (w, j, j * seg_len, y, (j + 1) * seg_len, y)
        for w, y in ((1, -10), (2, 0), (3, 10))
        for j in range(n * 10 // seg_len + 1)
    ]
    rng = np.random.default_rng(32)
    pts = [(7, s, 10 * s, int(rng.choice([-5, 0, 5]))) for s in range(n)]
    got = _run_traj(
        spark, pts, segs, cell=128, max_dist=max_dist, top_k=3,
        switch_penalty=penalty,
    )[7]
    steps = []
    for _t, _s, x, y in pts:
        near = []
        for w in range(3):
            base = w * (n * 10 // seg_len + 1)
            j = x // seg_len
            near += segs[base + max(j - 1, 0): base + j + 2]
        cl = sorted(
            (_brute_d2_milli(x, y, *sg[2:]), sg[0], sg[1])
            for sg in near
            if _brute_d2_milli(x, y, *sg[2:]) <= 1000 * max_dist ** 2
        )
        steps.append([(w, si, d) for d, w, si in cl[:3]])
    cost, path = _prefix_dp_reference(steps, penalty)
    assert len(got) == n
    assert [got[s][:2] for s in range(n)] == path
    assert {got[s][3] for s in range(n)} == {cost}
