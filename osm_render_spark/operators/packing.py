"""Sequence packing — the training-data step that concatenates documents
into fixed-budget training sequences (token/char budget per sequence).

Scale shape (10^12 docs): greedy packing is inherently sequential, so
the parallel unit is a deterministic BUCKET — an explicit bucket column,
or ``n_buckets`` hash groups — and each bucket packs independently
inside a group kernel on the engine's sorted-run primitive
(``raster/ops.buffered_group_flatmap``); sequence ids are (bucket,
seq_idx) pairs so no cross-bucket coordination exists. ``n_buckets`` is the
packing-quality dial: more buckets = smaller groups and slightly worse
packing (greedy never sees docs in other buckets) — exactly the
tradeoff production packers make. It does NOT set the partition count:
the primitive's one shuffle takes an EXPLICIT count from
``session.arrow_stage_partitions`` (one Python task per core; AQE would
coalesce a small shuffle to one partition and serialize every bucket
kernel), and a partition holds as many buckets as hash to it. Within a
bucket the order is (id) ascending, so output is reproducible under any
partitioning, and a single document larger than the budget gets its own
sequence (never silently dropped or truncated).

The group kernel sees WHOLE buckets (CLAUDE.md), so bucket size bounds
executor memory: ``max_bucket_rows`` (default 2M) counts buckets
JVM-side at call time and raises with the worst offender before any
kernel can OOM — size n_buckets so corpus/n_buckets stays under it, or
pass None to skip the (one-action) guard on trusted inputs.

The greedy rule (shared with the DuckDB oracle's recursive CTE): keep a
running size; if running + size > budget, close the sequence and start
a new one at this doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..raster.ops import buffered_group_flatmap


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    size_col: str = "size",
    bucket_col: str | None = None,
    n_buckets: int = 64,
    max_bucket_rows: int | None = 2_000_000,
) -> DataFrame:
    """(id, size[, bucket]) → (id, bucket, seq_idx, pos_in_seq,
    seq_fill): greedy fixed-budget packing per bucket. ``size`` is
    whatever unit the budget is in (tokens, characters, bytes). Id and
    bucket columns keep their own types (string language buckets, string
    ids — the kernel schema is derived from the input). If
    ``bucket_col`` is None, docs shard by pmod(xxhash64(id), n_buckets);
    pass an explicit column to control co-packing (e.g. same-language
    buckets) or to share bucketing with an oracle. NULL sizes raise a
    clear validation error naming the offending ids."""
    import numpy as np

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if bucket_col is None:
        bucket_expr = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
    else:
        bucket_expr = F.col(bucket_col)
    work = df.select(
        F.col(id_col).alias("_id"),
        F.col(size_col).cast("long").alias("_size"),
        bucket_expr.alias("_bucket"),
    )
    if max_bucket_rows is not None:
        # JVM-side guard BEFORE the kernel: the group kernel sees the
        # whole bucket at once, so an oversized bucket OOMs the executor —
        # fail loudly at call time instead (one extra aggregation)
        worst = (
            work.groupBy("_bucket")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc())
            .first()
        )
        if worst is not None and worst["n"] > max_bucket_rows:
            raise ValueError(
                f"bucket {worst['_bucket']!r} holds {worst['n']} rows > "
                f"max_bucket_rows={max_bucket_rows}: raise n_buckets (or "
                f"split the explicit bucket column) so whole-group "
                f"materialization stays within executor memory, or pass "
                f"max_bucket_rows=None to skip this guard"
            )
    id_t = work.schema["_id"].dataType.simpleString()
    bucket_t = work.schema["_bucket"].dataType.simpleString()

    def pack(g) -> list[tuple]:
        sizes = g["_size"]
        null = np.isnan(sizes.astype(np.float64))
        if null.any():
            bad = g["_id"][null][:5].tolist()
            raise ValueError(f"NULL size for ids {bad}: filter or impute first")
        order = np.argsort(g["_id"], kind="stable")
        bucket = g["_bucket"][0]
        out = []
        cur_seq, cur_pos, cur_fill = 0, 0, 0
        for doc, s in zip(g["_id"][order].tolist(), sizes[order].tolist()):
            s = int(s)
            if cur_pos > 0 and cur_fill + s > budget:
                cur_seq += 1
                cur_pos, cur_fill = 0, 0
            cur_fill += s
            out.append((doc, bucket, cur_seq, cur_pos, cur_fill))
            cur_pos += 1
        return out

    out = buffered_group_flatmap(
        work,
        "_bucket",
        pack,
        ["_id", "_bucket", "seq_idx", "pos_in_seq", "seq_fill"],
        (
            f"_id {id_t}, _bucket {bucket_t}, "
            f"seq_idx long, pos_in_seq long, seq_fill long"
        ),
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_bucket").alias("bucket"),
        "seq_idx",
        "pos_in_seq",
        "seq_fill",
    )


# ---------------------------------------------------------------------------
# aspect-ratio bucketing (image-batch assembly for multimodal training)
# ---------------------------------------------------------------------------


def aspect_buckets(
    max_pixels: int = 1024 * 1024,
    step: int = 64,
    max_dim: int = 2048,
    max_ratio: float = 4.0,
) -> list[tuple[int, int]]:
    """Deterministic bucket list (the published aspect-bucketing recipe:
    fixed pixel budget, dims in multiples of ``step``): for every width
    that fits, the TALLEST height within the budget — so each bucket is
    maximal — bounded by ``max_dim`` and ``max_ratio``. Sorted by
    (width, height); index in this list is the bucket id everywhere
    (operator, oracle, tests)."""
    out = set()
    for w in range(step, max_dim + 1, step):
        h = min((max_pixels // w) // step * step, max_dim)
        if h < step:
            continue
        r = max(w / h, h / w)
        if r <= max_ratio:
            out.add((w, h))
    return sorted(out)


def bucket_images_by_aspect(
    images: DataFrame,
    batch_size: int,
    buckets: list[tuple[int, int]] | None = None,
    id_col: str = "image_id",
    w_col: str = "width",
    h_col: str = "height",
) -> DataFrame:
    """Assign each image to its nearest aspect-ratio bucket and form
    fixed-size training batches inside each bucket — the image twin of
    pack_sequences (variable-shape inputs → uniform training units).

    Nearest bucket = argmin over |ln((w·bh) / (h·bw))| (log-aspect
    distance; symmetric in portrait/landscape), ties to the LOWEST
    bucket index. Batches: images order by id inside their bucket,
    batch_idx = rank div batch_size; ``complete`` marks full batches
    (the short tail per bucket — at most batch_size−1 images — is what
    a trainer would pad or drop).

    Scale shape: assignment is per-row Column arithmetic over a
    LITERAL bucket array (an aggregate HOF — ~|buckets| JVM-interpreted
    ops per row, no shuffle, no row multiplication; the broadcast-join
    alternative multiplies the scan by |buckets| and re-aggregates);
    the only exchange is the per-bucket batching window, keyed on
    ~dozens of buckets — hot buckets (most of a web corpus is a few
    common aspects) are ordered ranks, the same bounded-window story as
    every per-group operator here."""
    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive, got {batch_size}")
    if buckets is None:
        buckets = aspect_buckets()
    if not buckets:
        raise ValueError("bucket list is empty")
    arr = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("i"),
                F.lit(bw).cast("long").alias("bw"),
                F.lit(bh).cast("long").alias("bh"),
            )
            for i, (bw, bh) in enumerate(buckets)
        ]
    )
    w, h = F.col(w_col).cast("long"), F.col(h_col).cast("long")
    base = images.select(
        F.col(id_col).alias("image_id"),
        w.alias("_w"),
        h.alias("_h"),
        arr.alias("_buckets"),
    )
    # strictly-less keeps the FIRST (lowest-index) bucket on exact ties
    best = F.expr(
        "aggregate(_buckets, "
        " struct(CAST(-1 AS INT) AS i, CAST(0 AS BIGINT) AS bw, "
        "        CAST(0 AS BIGINT) AS bh, CAST('Infinity' AS DOUBLE) AS d), "
        " (acc, b) -> CASE WHEN ABS(LN(CAST(_w * b.bh AS DOUBLE) "
        "                             / CAST(_h * b.bw AS DOUBLE))) < acc.d "
        "   THEN struct(b.i AS i, b.bw AS bw, b.bh AS bh, "
        "               ABS(LN(CAST(_w * b.bh AS DOUBLE) "
        "                      / CAST(_h * b.bw AS DOUBLE))) AS d) "
        "   ELSE acc END)"
    )
    assigned = base.select(
        "image_id",
        F.col("_w").alias("width"),
        F.col("_h").alias("height"),
        best.alias("_b"),
    ).select(
        "image_id",
        "width",
        "height",
        F.col("_b.i").alias("bucket_idx"),
        F.col("_b.bw").alias("bucket_w"),
        F.col("_b.bh").alias("bucket_h"),
    )
    win = Window.partitionBy("bucket_idx").orderBy("image_id")
    rn = F.row_number().over(win) - F.lit(1)
    n_in_bucket = F.count(F.lit(1)).over(Window.partitionBy("bucket_idx"))
    return assigned.select(
        "image_id",
        "width",
        "height",
        "bucket_idx",
        "bucket_w",
        "bucket_h",
        (rn / batch_size).cast("long").alias("batch_idx"),
        (rn % batch_size).alias("pos_in_batch"),
        (
            ((rn / batch_size).cast("long") + 1) * batch_size <= n_in_bucket
        ).alias("complete"),
    )
