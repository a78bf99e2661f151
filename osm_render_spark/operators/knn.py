"""Indexed kNN join (SURVEY.md J7/W3, milestone M4).

Generalizes the reference's nearest-clockwise-successor search
(``ConnectEdgePaths``, OsmRender.m:236-253 — a k=1 NN under a circular
metric) to k≥1 under a pluggable distance expression.

Physical strategy, in preference order:

* **map-side-pruned broadcast kNN** (default squared-L2 metric) — the
  query set (small by contract) ships inside an Arrow kernel closure;
  each candidate batch is scored with one vectorized numpy pass and
  pruned to the per-query LOCAL top-k BEFORE any shuffle, so the global
  rank window sees ≤ k × |queries| × n_batches rows instead of
  |candidates| × |queries|. At 10^12 candidates the per-query reducer
  sorts thousands of rows, not 10^12 (same pattern as
  similarity.cosine_topk).
* **expression kNN** (``dist=`` any Column) — crossJoin against the
  broadcast query side + rank window. Supports arbitrary metrics (the
  reference's clockwise gap) but ships every candidate row for a query
  to one reducer; use only when one side is genuinely dimension-sized.

Determinism: ties broken by candidate id ascending (FIXTURES.md
golden_knn convention) — the LOCAL prune is tie-aware (lexsort by
(d2, cand_id)) so a tied candidate with the smaller id always survives
to the global rank, keeping kernel and oracle bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _local_topk_scored(queries: DataFrame, candidates: DataFrame, k: int) -> DataFrame:
    """Map-side pruning stage: (query_id, cand_id, d2) with at most
    k × |queries| rows emitted PER ARROW BATCH — the numpy arithmetic is
    dx*dx + dy*dy in float64, bit-identical to the oracle's
    ``(lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)``, so
    ranks match the SQL oracle exactly.

    NOTE: collects the query side on the DRIVER at plan-BUILD time (the
    kernel closure ships the query arrays) — callers lose laziness here,
    and the query side must be driver-sized (3 numbers per query; ~24 MB
    per million queries). The distance matrix is chunked over queries so
    kernel memory stays O(batch × chunk), not O(batch × |queries|)."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select("query_id", "qlon", "qlat").collect()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    q_lon = np.array([r["qlon"] for r in q_rows], dtype=np.float64)
    q_lat = np.array([r["qlat"] for r in q_rows], dtype=np.float64)

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or len(q_ids) == 0:
                continue
            ids = pdf["cand_id"].to_numpy()
            lon = pdf["lon"].to_numpy()
            lat = pdf["lat"].to_numpy()
            kk = min(k, n)
            # bound the temp matrix to ~4M float64 cells (32 MB) per slab
            q_chunk = max(1, (4 << 20) // max(n, 1))
            out_q, out_c, out_d = [], [], []
            for qs in range(0, len(q_ids), q_chunk):
                qe = min(qs + q_chunk, len(q_ids))
                dx = lon[:, None] - q_lon[None, qs:qe]
                dy = lat[:, None] - q_lat[None, qs:qe]
                d2 = dx * dx + dy * dy
                for qi in range(qe - qs):
                    col = d2[:, qi]
                    # tie-aware local top-k: (d2 asc, cand_id asc)
                    order = np.lexsort((ids, col))[:kk]
                    out_q.append(np.full(kk, q_ids[qs + qi], dtype=np.int64))
                    out_c.append(ids[order])
                    out_d.append(col[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "d2": np.concatenate(out_d),
                }
            )

    return candidates.select("cand_id", "lon", "lat").mapInPandas(
        kernel, schema="query_id long, cand_id long, d2 double"
    )


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    dist: Column | None = None,
) -> DataFrame:
    """queries(query_id, qlon, qlat) × candidates(cand_id, lon, lat) →
    (query_id, cand_id, rank, d2), rank 1..k.

    Default metric (squared L2): map-side local top-k prune (module
    docstring) — the candidate table streams through unshuffled and only
    ≤ k·|queries| rows per batch reach the rank window. NOTE this path
    ``collect()``s the query side EAGERLY when the result DataFrame is
    CONSTRUCTED (Spark jobs run at plan-build time, see
    _local_topk_scored) — if the call sits inside a larger lazy plan and
    that matters, pass an explicit ``dist=`` to get the fully-lazy
    expression form instead.

    Custom ``dist``: arbitrary Column metric via crossJoin against the
    broadcast query side; every candidate row for a query reaches its
    reducer — reserve for dimension-sized inputs (the reference's own
    use: one query against a handful of edge paths).
    """
    if dist is None:
        return _rank_scored(_local_topk_scored(queries, candidates, k), k)
    crossed = candidates.crossJoin(F.broadcast(queries)).withColumn("d2", dist)
    return _rank_scored(crossed, k)


def _rank_scored(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, cand_id, d2, ...) → top-k per query with the canonical
    (d2 asc, cand_id asc) tie-break."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "d2")
    )
