"""Point-in-polygon join (SURVEY.md J8, milestone M3).

The reference tests every tile pixel against every neighborhood polygon
implicitly via Cairo's even-odd fill of an A8 mask (OsmRender.m:645-657,
664-711). The engine's distributed form, per the north rule:

1. **cell-cover prefilter** — each polygon is expanded to the set of
   Web-Mercator cells its bbox covers (functions.cells.polygon_cover);
   the (area_id, cell) cover table is tiny and broadcast. Points carry
   their cell id (pure Column arithmetic). The equi-join
   points.cell == cover.cell prunes the candidate space without a
   shuffle of the point table.
2. **exact ray-cast refinement** — an Arrow-vectorized kernel (numpy,
   even-odd rule — matching Cairo's fill rule) runs per batch; within a
   batch points are grouped by polygon so the edge loop vectorizes over
   (points × edges) slabs.

Scale: points ~10^12 stream through one broadcast hash join + one
codegen-adjacent Arrow kernel — no shuffle (``pip_join``). The polygon
side is collected on the driver, so it must be dimension-sized.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cells import polygon_cover
from ..functions.projection import tile_key_sql


def raycast_even_odd(
    px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Vectorized even-odd ray cast: horizontal +x ray, crossing parity.

    px, py: (n,) point coords; xs, ys: (m,) polygon vertices (closed
    implicitly: last connects to first). Points exactly on an edge follow
    the half-open crossing convention (deterministic, engine-canonical).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1 = np.asarray(xs, dtype=np.float64)
    y1 = np.asarray(ys, dtype=np.float64)
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    # (n, m) broadcast; chunk points to bound memory at 8M cells per slab
    n = len(px)
    out = np.zeros(n, dtype=bool)
    m = max(len(x1), 1)
    step = max(1, 8_000_000 // m)
    for s in range(0, n, step):
        e = min(n, s + step)
        ppx = px[s:e, None]
        ppy = py[s:e, None]
        straddle = (y1[None, :] > ppy) != (y2[None, :] > ppy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1)[None, :] * (ppy - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
        cross = straddle & (ppx < xint)
        out[s:e] = (cross.sum(axis=1) % 2).astype(bool)
    return out


POLY_SCHEMA = T.StructType(
    [
        T.StructField("area_id", T.LongType(), False),
        T.StructField("xs", T.ArrayType(T.DoubleType()), False),
        T.StructField("ys", T.ArrayType(T.DoubleType()), False),
    ]
)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    zoom: int = 9,
    point_id: str = "point_id",
) -> DataFrame:
    """points(point_id, lon, lat) ⨝ polygons(area_id, xs, ys) →
    (point_id, area_id) for every point strictly inside (even-odd).

    ``polygons`` is dimension-sized by contract, so it is collected once:
    the cell cover is computed driver-side (no extra Spark job + broadcast
    for the cover build) and the vertex arrays ride to the refine
    kernel in its closure instead of being join-duplicated onto every
    candidate row and re-shipped through Arrow (guide §4.1: pass only
    the columns the function needs — the big side now crosses with
    just point_id/area_id/lon/lat)."""
    polys = polygons.select("area_id", "xs", "ys").collect()
    poly_map = {
        int(r["area_id"]): (
            np.asarray(r["xs"], dtype=np.float64),
            np.asarray(r["ys"], dtype=np.float64),
        )
        for r in polys
    }
    cover_rows = [
        (aid, int(cell))
        for aid, (xs, ys) in sorted(poly_map.items())
        for cell in polygon_cover(np.column_stack([xs, ys]), zoom)
    ]
    cover = points.sparkSession.createDataFrame(
        cover_rows, "area_id long, cell long"
    )
    pts = points.withColumn("cell", F.expr(tile_key_sql("lon", "lat", zoom)))
    cand = pts.join(F.broadcast(cover), "cell").select(
        point_id, "area_id", "lon", "lat"
    )

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            inside = np.zeros(len(pdf), dtype=bool)
            for aid in pdf["area_id"].unique():
                mask = (pdf["area_id"] == aid).to_numpy()
                xs, ys = poly_map[int(aid)]
                inside[mask] = raycast_even_odd(
                    pdf["lon"].to_numpy()[mask], pdf["lat"].to_numpy()[mask], xs, ys
                )
            out = pdf.loc[inside, [point_id, "area_id"]]
            if len(out):
                yield out

    return cand.mapInPandas(refine, schema=f"{point_id} long, area_id long")
