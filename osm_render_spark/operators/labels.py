"""Greedy label placement (cartographic decluttering) per tile.

The reference renders every landmark label unconditionally — it clamps
label rects to the scene (F14 rect math, OsmRender.m label pass) but
never resolves collisions, which works for a handful of city callouts
and fails at planet-tile density where labels stack dozens deep. The
standard cartographic fix is greedy priority placement: walk labels in
(priority, label_id) order, accept one iff its rect overlaps no
already-accepted rect. The accepted set is the lexicographically-first
maximal independent set of the overlap graph — deterministic, no
scoring heuristics.

Spark shape: tiles are independent, so the sequential-by-nature greedy
runs per tile inside ``applyInPandas``. Two scale guards, both
JVM-side BEFORE any group materializes (applyInPandas materializes
whole groups — CLAUDE.md):

* ``max_per_tile``: a row_number window keeps only the top-N labels by
  (priority, label_id) per tile before the kernel. This is a DOCUMENTED
  truncation (same discipline as minhash_pairs_capped): labels past the
  cap are dropped unseen, which can differ from uncapped greedy when a
  tile legitimately fits more than N labels — size N to the tile's
  visual capacity (a 256px tile saturates far below the default 512).
  The cap is what bounds kernel memory on adversarial hot tiles.
* the window itself is the only exchange: one hash partition by tile,
  then sort-within — the kernel adds no further shuffle.

Kernel: the per-label acceptance test is a vectorized numpy broadcast
against the accepted-rect arrays (O(n·A) per tile with whole-array
ops); the outer walk is sequential because greedy acceptance IS a
sequential dependence. Rects are half-open [x, x+w) × [y, y+h):
touching edges do not collide.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_OUT_SCHEMA = (
    "tile bigint, label_id bigint, priority bigint, "
    "x bigint, y bigint, w bigint, h bigint, place_rank int"
)


def greedy_mask(
    xs: np.ndarray, ys: np.ndarray, ws: np.ndarray, hs: np.ndarray
) -> np.ndarray:
    """Acceptance mask for rects already sorted by (priority, id).
    Exposed for tests (the brute-force reference cross-checks this)."""
    n = len(xs)
    acc = np.zeros(n, dtype=bool)
    ax = np.empty(n, dtype=np.int64)
    ay = np.empty(n, dtype=np.int64)
    aw = np.empty(n, dtype=np.int64)
    ah = np.empty(n, dtype=np.int64)
    m = 0
    for i in range(n):
        if m:
            hit = (
                (xs[i] < ax[:m] + aw[:m])
                & (ax[:m] < xs[i] + ws[i])
                & (ys[i] < ay[:m] + ah[:m])
                & (ay[:m] < ys[i] + hs[i])
            )
            if hit.any():
                continue
        acc[i] = True
        ax[m], ay[m], aw[m], ah[m] = xs[i], ys[i], ws[i], hs[i]
        m += 1
    return acc


def place_labels(
    labels: DataFrame,
    tile_col: str = "tile",
    max_per_tile: int = 512,
) -> DataFrame:
    """Resolve label collisions per tile: greedy priority placement over
    ``labels(tile, label_id, priority, x, y, w, h)`` (integer pixel
    rects). Returns the accepted labels with their placement rank
    (0-based order of acceptance within the tile)."""
    w = Window.partitionBy(tile_col).orderBy("priority", "label_id")
    capped = (
        labels.select(
            F.col(tile_col).cast("bigint").alias("tile"),
            F.col("label_id").cast("bigint"),
            F.col("priority").cast("bigint"),
            F.col("x").cast("bigint"),
            F.col("y").cast("bigint"),
            F.col("w").cast("bigint"),
            F.col("h").cast("bigint"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_per_tile)
        .drop("_rn")
    )

    def kernel(_key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["priority", "label_id"], kind="mergesort")
        acc = greedy_mask(
            pdf["x"].to_numpy(np.int64),
            pdf["y"].to_numpy(np.int64),
            pdf["w"].to_numpy(np.int64),
            pdf["h"].to_numpy(np.int64),
        )
        out = pdf[acc].copy()
        out["place_rank"] = np.arange(len(out), dtype=np.int32)
        return out

    return capped.groupBy("tile").applyInPandas(kernel, schema=_OUT_SCHEMA)
