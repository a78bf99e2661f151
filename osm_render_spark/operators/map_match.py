"""Map matching: snap points to their nearest way segment — the
geospatial join behind GPS-trace conflation, address interpolation, and
trajectory→road assignment.

Reference semantics: the nearest-feature family the reference solves
for the clockwise-successor walk (OsmRenderConnect analog,
operators/coast_merge.py J7) and generalized kNN (operators/knn.py) —
this is the point→SEGMENT variant: distance to a line segment with
endpoint clamping, not to a vertex.

100 TB shape (a spatial-cell equi-join, since both sides are big):
- segments explode to the grid cells their max_dist-expanded bbox
  overlaps (a short segment lands in 1–4 cells);
- each point keys to exactly ONE cell, so the cell equi-join yields
  every candidate within max_dist exactly once (no dedup pass);
- the refine is INTEGER-EXACT: d²·len2 = |AP|²·len2 − (AP·AB)² for the
  interior case, |AP|²/|BP|² at the clamps, quantized to
  d2_milli = floor(1000·d²) via two-step floor division so every
  intermediate stays in int64 (coords |x|,|y| < 2^15, documented);
- top-1 per point by (d2_milli, way_id, seg_idx) — deterministic,
  engine-independent ordering, as a min(struct) aggregation that
  combines map-side (the shuffle carries ≤1 row per point per task,
  not the candidate fan-out).

Plan: one cell-join exchange + one partial-agg exchange, no Python.
The brute-force DuckDB oracle formulation (all pairs, no cells) pins
that the cover never loses a candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..raster.ops import buffered_group_flatmap

# shifts coordinates non-negative so integer DIV == floor division
# (Spark DIV truncates toward zero); bounds the exact-arithmetic proof
_OFF = 1 << 20


def _d2_milli_expr() -> str:
    """floor(1000·d²(P, seg AB)) in pure int64 arithmetic.
    num/den is d²: interior case den=len2, clamp cases den=1."""
    return """
    CASE WHEN len2 = 0 OR dot <= 0 THEN 1000 * (apx*apx + apy*apy)
         WHEN dot >= len2 THEN
           1000 * ((x-bx)*(x-bx) + (y-by)*(y-by))
         ELSE
           ((apx*apx + apy*apy) * len2 - dot*dot) DIV len2 * 1000
           + (((apx*apx + apy*apy) * len2 - dot*dot) % len2) * 1000 DIV len2
    END
    """


def _snap_candidates(
    points: DataFrame,
    segments: DataFrame,
    cell: int,
    max_dist: int,
    key_cols: list[str],
) -> DataFrame:
    """All (point, segment) candidates within max_dist with their exact
    d2_milli — the shared cover+refine behind snap_points_to_segments
    (top-1) and match_trajectories (Viterbi over top-K). ``key_cols``
    identify the point (``["point_id"]`` / ``["traj_id", "seq"]``).

    A cheap expanded-bbox prefilter runs right at the cell join (guide
    §3: cut join output before the expensive refine): d ≤ max_dist
    implies the point lies in the segment bbox grown by max_dist, so
    the filter is a superset of the exact d2 test and drops most of a
    cell's non-candidates with 4 comparisons before the integer d2
    expression and the downstream aggregation ever see them.

    Per-segment invariants (bbox bounds, abx/aby/len2) are computed
    BELOW the join on the segment side, so the d2 filter that Catalyst
    pushes into the join condition references plain attributes rather
    than re-expanded arithmetic — without this the fused
    WholeStageCodegen method blows past the JVM JIT's huge-method
    threshold and the whole join stage runs in the bytecode
    interpreter (measured 10 s vs 2.7 s on the bench viterbi cover;
    guide §7.2 'duplicated subtrees').

    The y axis joins at cell/4 granularity (x stays at ``cell``): a
    segment's max_dist-grown bbox covers ~2-3 quarter-bands instead of
    1-2 full cells, so the segment index grows ~2x, but each point
    probes a 4x thinner slab — the (point, segment) join output (the
    quadratic term a denser cell would otherwise pay) shrinks ~4x.
    Pure cover refinement: the exact d2 filter is unchanged, so the
    candidate SET is identical."""
    ycell = max(cell // 4, 1)
    seg_cells = segments.selectExpr(
        "way_id",
        "seg_idx",
        "ax",
        "ay",
        "bx",
        "by",
        f"least(ax, bx) - {max_dist} AS xlo",
        f"greatest(ax, bx) + {max_dist} AS xhi",
        f"least(ay, by) - {max_dist} AS ylo",
        f"greatest(ay, by) + {max_dist} AS yhi",
        "bx - ax AS abx",
        "by - ay AS aby",
        "(bx - ax) * (bx - ax) + (by - ay) * (by - ay) AS len2",
        f"sequence((least(ax, bx) - {max_dist} + {_OFF}) DIV {cell},"
        f"         (greatest(ax, bx) + {max_dist} + {_OFF}) DIV {cell})"
        " AS cxs",
        f"sequence((least(ay, by) - {max_dist} + {_OFF}) DIV {ycell},"
        f"         (greatest(ay, by) + {max_dist} + {_OFF}) DIV {ycell})"
        " AS cys",
    ).selectExpr(
        "way_id", "seg_idx", "ax", "ay", "bx", "by",
        "xlo", "xhi", "ylo", "yhi", "abx", "aby", "len2",
        "explode(cxs) AS cx", "cys",
    ).selectExpr(
        "way_id", "seg_idx", "ax", "ay", "bx", "by",
        "xlo", "xhi", "ylo", "yhi", "abx", "aby", "len2",
        "cx", "explode(cys) AS cy",
    )

    pts = points.selectExpr(
        *key_cols,
        "x",
        "y",
        f"(x + {_OFF}) DIV {cell} AS cx",
        f"(y + {_OFF}) DIV {ycell} AS cy",
    )

    return (
        pts.join(seg_cells, ["cx", "cy"])
        .where("x >= xlo AND x <= xhi AND y >= ylo AND y <= yhi")
        .selectExpr(
            *key_cols,
            "way_id",
            "seg_idx",
            "x", "y", "bx", "by",
            "x - ax AS apx",
            "y - ay AS apy",
            "abx",
            "aby",
            "len2",
        )
        .selectExpr(
            *key_cols,
            "way_id", "seg_idx", "x", "y", "bx", "by",
            "apx", "apy",
            "apx*abx + apy*aby AS dot",
            "len2",
        )
        .selectExpr(
            *key_cols,
            "way_id",
            "seg_idx",
            f"({_d2_milli_expr()}) AS d2_milli",
        )
        .where(f"d2_milli <= {1000 * max_dist * max_dist}")
    )


def snap_points_to_segments(
    points: DataFrame,
    segments: DataFrame,
    *,
    cell: int = 256,
    max_dist: int = 128,
) -> DataFrame:
    """points (point_id, x, y) × segments (way_id, seg_idx, ax, ay, bx,
    by) → (point_id, way_id, seg_idx, d2_milli) for each point whose
    nearest segment lies within max_dist.  Integer pixel coordinates,
    |coord| < 2^15 (keeps d²·len2 < 2^62).

    Top-1 is ``min(struct(d2_milli, way_id, seg_idx))`` — the same
    deterministic (d2, way, seg) ordering the old row_number window
    used, but as an aggregation it combines MAP-SIDE (guide §2.3):
    each task ships one candidate per point instead of shuffling the
    full candidate fan-out to a window sort."""
    cand = _snap_candidates(points, segments, cell, max_dist, ["point_id"])
    return (
        cand.groupBy("point_id")
        .agg(F.min(F.struct("d2_milli", "way_id", "seg_idx")).alias("_b"))
        .select(
            "point_id",
            F.col("_b.way_id").alias("way_id"),
            F.col("_b.seg_idx").alias("seg_idx"),
            F.col("_b.d2_milli").alias("d2_milli"),
        )
    )


def _dense_rank(keys: list[tuple]) -> list[int]:
    order = {k: r for r, k in enumerate(sorted(set(keys)))}
    return [order[k] for k in keys]


def _viterbi_path(
    steps: list[list[tuple[int, int, int]]], switch_penalty: int
) -> tuple[int, list[int]]:
    """Min-cost path over one (way_id, seg_idx, d2_milli) candidate list
    per point → (cost, chosen index per point); cost = Σ d2 +
    switch_penalty per way change, ties to the lexicographically first
    (way_id, seg_idx) sequence.  Backpointers keep it linear in the
    number of points: each step ranks its equal-length prefixes by
    (parent's rank, (way_id, seg_idx)), which orders them as comparing
    whole prefixes would, and cost ties compare ranks."""
    first = steps[0]
    cost = [d2 for _w, _s, d2 in first]
    rank = _dense_rank([(w, s) for w, s, _d2 in first])
    back: list[list[int]] = []
    prev = first
    for cands in steps[1:]:
        nxt, ptr = [], []
        for wid, _sidx, d2 in cands:
            c, _r, j = min(
                (cost[j] + (switch_penalty if pw != wid else 0), rank[j], j)
                for j, (pw, _ps, _pd) in enumerate(prev)
            )
            nxt.append(c + d2)
            ptr.append(j)
        rank = _dense_rank(
            [(rank[j], w, s) for j, (w, s, _d2) in zip(ptr, cands)]
        )
        cost, prev = nxt, cands
        back.append(ptr)
    i = min(range(len(cost)), key=lambda k: (cost[k], rank[k]))
    total, path = cost[i], [i]
    for ptr in reversed(back):
        i = ptr[i]
        path.append(i)
    return total, path[::-1]


def match_trajectories(
    points: DataFrame,
    segments: DataFrame,
    *,
    cell: int = 256,
    max_dist: int = 128,
    top_k: int = 4,
    switch_penalty: int = 10_000_000,
) -> DataFrame:
    """HMM-style (Viterbi) trajectory map matching: points
    (traj_id, seq, x, y) → (traj_id, seq, way_id, seg_idx, d2_milli,
    total_cost) — the jointly-optimal segment assignment per
    trajectory, where path cost = Σ emission d2_milli + switch_penalty
    per way change between consecutive points.

    The simplification vs a full road-network HMM is documented: the
    transition model is a flat way-switch penalty, not route distance
    (the engine has no turn-restriction graph); what this keeps is the
    defining property snap-per-point lacks — a noisy ping near a wrong
    way is overridden by its neighbors.

    Determinism: all costs are integers, candidates are the top_k by
    (d2_milli, way_id, seg_idx), and among equal-cost paths the
    lexicographically-first (way_id, seg_idx) SEQUENCE wins
    (:func:`_viterbi_path`; the oracle enumerates all paths and sorts,
    and the kernel must agree exactly).

    Trajectories where ANY point has no candidate within max_dist are
    dropped whole (partial matches are ambiguous; callers pre-split).

    Plan (r7): cover join → per-(traj, seq) top-k as ONE hash-agg
    (``slice(array_sort(collect_list(struct(d2, way, seg))), 1, k)`` —
    the same deterministic top-k set the old row_number window
    produced, without the window sort, and one row per POINT crosses
    the shuffle instead of top_k rows) → broadcast n_seq join → the
    Viterbi DP as the group kernel of the engine's sorted-run primitive
    (raster/ops.buffered_group_flatmap: many trajectories per Arrow
    batch, ~1.2 µs of per-group slicing instead of ~4 ms per
    applyInPandas group)."""
    cand = _snap_candidates(
        points.selectExpr("traj_id", "seq", "x", "y"),
        segments,
        cell,
        max_dist,
        ["traj_id", "seq"],
    )
    topk = cand.groupBy("traj_id", "seq").agg(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct("d2_milli", "way_id", "seg_idx"))
            ),
            1,
            top_k,
        ).alias("cands")
    )

    n_points = points.groupBy("traj_id").agg(
        F.count("*").alias("n_seq")
    )
    full = topk.join(F.broadcast(n_points), "traj_id")

    def viterbi_rows(g) -> list[tuple]:
        if len(g["seq"]) != int(g["n_seq"][0]):  # a point had no candidate
            return []
        traj = int(g["traj_id"][0])
        # per-seq candidate lists (wid, sidx, d2) — cands arrive sorted
        # by (d2, way, seg); the DP takes min over ALL (prev, cand)
        # combinations by (cost, prefix), so iteration order is free
        by_seq = sorted(
            (
                int(s),
                [
                    (int(c["way_id"]), int(c["seg_idx"]), int(c["d2_milli"]))
                    for c in cl
                ],
            )
            for s, cl in zip(g["seq"], g["cands"])
        )
        cost, path = _viterbi_path([c for _s, c in by_seq], switch_penalty)
        return [
            (traj, s, *cands[i], cost) for (s, cands), i in zip(by_seq, path)
        ]

    return buffered_group_flatmap(
        full,
        "traj_id",
        viterbi_rows,
        ["traj_id", "seq", "way_id", "seg_idx", "d2_milli", "total_cost"],
        (
            "traj_id long, seq long, way_id long, seg_idx long, "
            "d2_milli long, total_cost long"
        ),
    )
