"""Coastline merge: concat fixpoint + clockwise boundary walk
(SURVEY.md A3/A4, reference OsmRender.m:196-380, milestone M6).

Semantics re-expressed from the survey (not translated):

* A3 — concat fixpoint (MergeCoastPaths, OsmRender.m:310-351): while any
  path A's last point EXACTLY equals another path B's first point, append
  B (minus its duplicated head) to A and discard B. Greedy in ascending
  (i, j) index order, restart on change — reproduces the reference's
  first-best tie-breaking.
* P6 — open paths with an endpoint strictly inside the rect are discarded
  (OsmRender.m:356-377): a clipped coastline must start and end on the
  boundary.
* A4 — boundary walk (ConnectEdgePaths, OsmRender.m:196-291): each
  remaining open path starts and ends on the rect boundary. Map boundary
  points to clockwise perimeter arc length (ClockwiseBoxPosition,
  OsmRender.m:137-160: top→right→bottom→left, y-down). Repeatedly find,
  for the current path's end position, the open path whose start position
  minimally exceeds it (circular gap, k=1 NN — the reference's kNN
  kernel); insert any box corners lying clockwise between the two
  positions; if the nearest successor is the path itself, close it.
  If progress stalls (degenerate input), the remainder is dropped — the
  reference just logs "Drats!" (OsmRender.m:281).

Distribution: the walk is inherently sequential per tile but tiles are
independent — the Spark form is a per-tile kernel on the engine's
sorted-run group primitive (path counts per tile are small; SURVEY.md
A3/A4).
"""

from __future__ import annotations

import numpy as np

Rect = tuple[float, float, float, float]  # (x0, y0, x1, y1)


def clockwise_box_position(x: float, y: float, rect: Rect) -> float:
    """Arc length along the clockwise perimeter, y-down
    (top→right→bottom→left), start at the top-left corner."""
    x0, y0, x1, y1 = rect
    w = x1 - x0
    h = y1 - y0
    if y == y0:
        return x - x0
    if x == x1:
        return w + (y - y0)
    if y == y1:
        return w + h + (x1 - x)
    return w + h + w + (y1 - y)


def _corners_between(pos_a: float, pos_b: float, rect: Rect) -> list[tuple[float, float]]:
    """Box corners strictly between two clockwise perimeter positions
    (pos_a exclusive → pos_b exclusive), in clockwise order
    (ConnectClockwise, OsmRender.m:162-187).

    DOCUMENTED DIVERGENCE (COVERAGE.md): the reference SKIPS corner
    insertion when from/to share an edge (fromEdge == toEdge) or share an
    x/y with endAngle < startAngle, so a same-edge wrap-around (leave the
    edge clockwise, come back to a point BEHIND the start on the same
    edge) closes with a straight chord through the box interior. This
    engine always inserts the corners actually crossed by the clockwise
    walk, which is the geometrically consistent closure (the polygon
    follows the box perimeter in every case). The two forms differ only
    on degenerate same-edge wrap-arounds and axis-aligned cross-box
    connections — not exercised by any golden scene — and the engine form
    is intentionally kept."""
    x0, y0, x1, y1 = rect
    w = x1 - x0
    h = y1 - y0
    perimeter = 2 * (w + h)
    corners = [  # (arc position, point) clockwise from top-left
        (0.0, (x0, y0)),
        (w, (x1, y0)),
        (w + h, (x1, y1)),
        (w + h + w, (x0, y1)),
    ]
    gap = (pos_b - pos_a) % perimeter
    out = []
    for cpos, cpt in corners:
        rel = (cpos - pos_a) % perimeter
        if 0.0 < rel < gap:
            out.append((rel, cpt))
    out.sort()
    return [pt for _rel, pt in out]


def _is_closed(path: np.ndarray) -> bool:
    return len(path) >= 3 and bool((path[0] == path[-1]).all())


def concat_fixpoint(paths: list[np.ndarray]) -> list[np.ndarray]:
    """A3: exact endpoint concatenation until no update."""
    paths = [np.asarray(p, dtype=np.float64) for p in paths]
    changed = True
    while changed:
        changed = False
        for i in range(len(paths)):
            if changed:
                break
            if _is_closed(paths[i]):
                continue
            for j in range(len(paths)):
                if i == j or _is_closed(paths[j]):
                    continue
                if (paths[i][-1] == paths[j][0]).all():
                    paths[i] = np.vstack([paths[i], paths[j][1:]])
                    del paths[j]
                    changed = True
                    break
    return paths


def drop_interior_endpoints(paths: list[np.ndarray], rect: Rect) -> list[np.ndarray]:
    """P6: open paths with an endpoint strictly inside the rect can't be
    clipped coastlines — drop them."""
    x0, y0, x1, y1 = rect

    def strictly_inside(pt) -> bool:
        return x0 < pt[0] < x1 and y0 < pt[1] < y1

    out = []
    for p in paths:
        if _is_closed(p) or not (strictly_inside(p[0]) or strictly_inside(p[-1])):
            out.append(p)
    return out


def connect_edge_paths(paths: list[np.ndarray], rect: Rect) -> list[np.ndarray]:
    """A4: chain open boundary paths clockwise into closed polygons."""
    perimeter = 2 * ((rect[2] - rect[0]) + (rect[3] - rect[1]))
    closed = [p for p in paths if _is_closed(p)]
    open_paths = [p for p in paths if not _is_closed(p)]

    while open_paths:
        cur = open_paths.pop(0)
        # walk until cur closes or no progress is possible
        for _ in range(len(open_paths) + len(paths) + 4):
            end_pos = clockwise_box_position(cur[-1, 0], cur[-1, 1], rect)
            self_pos = clockwise_box_position(cur[0, 0], cur[0, 1], rect)
            best_j = -1
            best_gap = (self_pos - end_pos) % perimeter
            for j, cand in enumerate(open_paths):
                start_pos = clockwise_box_position(cand[0, 0], cand[0, 1], rect)
                gap = (start_pos - end_pos) % perimeter
                if gap < best_gap:
                    best_gap = gap
                    best_j = j
            if best_j < 0:
                # nearest successor is this path's own start: close it
                start_pos = self_pos
                corners = _corners_between(end_pos, start_pos, rect)
                if corners:
                    cur = np.vstack([cur, np.array(corners)])
                cur = np.vstack([cur, cur[:1]])
                closed.append(cur)
                cur = None
                break
            nxt = open_paths.pop(best_j)
            start_pos = clockwise_box_position(nxt[0, 0], nxt[0, 1], rect)
            corners = _corners_between(end_pos, start_pos, rect)
            mid = np.array(corners) if corners else np.empty((0, 2))
            cur = np.vstack([cur, mid, nxt])
        else:
            # exhausted the iteration budget — degenerate input; the
            # reference logs "Drats!" and gives up (OsmRender.m:281)
            cur = None
        _ = cur
    return closed


def merge_coast_paths(paths: list[np.ndarray], rect: Rect) -> list[np.ndarray]:
    """Full A3 → P6 → A4 pipeline for one tile. Returns closed polygons."""
    merged = concat_fixpoint(paths)
    kept = drop_interior_endpoints(merged, rect)
    return connect_edge_paths(kept, rect)


def merge_coast_df(paths_df, rect: Rect):
    """Distributed form: paths(tile_key, path_id, xs, ys) →
    (tile_key, poly_id, xs, ys) closed polygons, one group kernel per
    tile (sequential within a tile, parallel across tiles — SURVEY A3/A4).
    Input paths within a tile are processed in path_id order (the
    deterministic stand-in for the reference's file order)."""
    from ..raster.ops import buffered_group_flatmap  # ops imports this module

    def merge_group(g) -> list[tuple]:
        order = np.argsort(g["path_id"], kind="stable")
        paths = [
            np.column_stack([np.asarray(xs), np.asarray(ys)])
            for xs, ys in zip(g["xs"][order], g["ys"][order])
        ]
        polys = merge_coast_paths(paths, rect)
        tile = g["tile_key"][0]
        return [
            (tile, i, [float(x) for x in p[:, 0]], [float(y) for y in p[:, 1]])
            for i, p in enumerate(polys)
        ]

    return buffered_group_flatmap(
        paths_df,
        "tile_key",
        merge_group,
        ["tile_key", "poly_id", "xs", "ys"],
        "tile_key long, poly_id long, xs array<double>, ys array<double>",
    )
