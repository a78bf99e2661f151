"""Z-order (Morton) clustering — the OPTIMIZE ZORDER analog for spatial
layouts. A 1-D sort on tile-x gives file-level min/max stats that prune
x-ranges but not y; interleaving the bits of (x, y) into one Morton key
makes a compact key range correspond to a compact 2-D block, so BOTH
axes of a bbox query prune at file level (manifest file skipping /
parquet row-group stats) — the standard multi-dimensional clustering
trick lakehouses ship as Z-ordering.

The bit-spread is written in shared-dialect SQL arithmetic: multiplies
and bitwise AND/OR only — Spark SQL has shiftleft() but no `<<`, DuckDB
has `<<` but no shiftleft(), and x*2^k is both engines' common ground
(inputs are < 2^16 so nothing approaches int64)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _spread16_sql(e: str) -> str:
    """Spread a 16-bit value's bits to the even positions of 32 bits:
    the classic mask ladder, shifts spelled as multiplies. The first
    step widens to BIGINT: an INT input >= 32768 times 65536 exceeds
    int32 and raises in BOTH engines (the CLAUDE.md int*int gotcha).
    NOTE: the input expression is textually inlined 32 times — pass a
    simple column reference or literal; wrap anything heavier (e.g. a
    Mercator formula) in a CTE first, as the morton_code query does."""
    s = f"((CAST(({e}) AS BIGINT)) & 65535)"
    s = f"(({s} | ({s} * 65536)) & 281470681808895)"   # 0x0000FFFF0000FFFF
    s = f"(({s} | ({s} * 256)) & 71777214294589695)"   # 0x00FF00FF00FF00FF
    s = f"(({s} | ({s} * 16)) & 1085102592571150095)"  # 0x0F0F0F0F0F0F0F0F
    s = f"(({s} | ({s} * 4)) & 3689348814741910323)"   # 0x3333333333333333
    s = f"(({s} | ({s} * 2)) & 6148914691236517205)"   # 0x5555555555555555
    return s


def morton_sql(x_expr: str, y_expr: str) -> str:
    """Morton interleave of two 16-bit values as shared SQL text
    (x bits land in odd positions, y in even)."""
    return f"({_spread16_sql(x_expr)} * 2 + {_spread16_sql(y_expr)})"


def zorder_write(
    df: DataFrame, path: str, x_col: str, y_col: str, n_files: int
) -> None:
    """Write ``df`` clustered by the Morton key of (x_col, y_col) using
    the manifest machinery (sources/manifest.write_dataset): each file
    owns a compact Morton range == a compact 2-D block, and the manifest
    records per-file key min/max for file skipping. Query via
    pruned_files_bbox / sources.manifest.read_pruned on the key range
    of the bbox (conservative: the bbox's full Morton span)."""
    # the Morton interleave masks to 16 bits — a coordinate >= 2^16
    # would WRAP into the wrong file and pruned bbox reads would then
    # silently return wrong rows. The domain check is FOLDED into the
    # key projection (raise_error) so it rides the same pass as the
    # write — a separate validation aggregate would execute the whole
    # upstream plan twice (review catch)
    guarded = (
        f"CASE WHEN {x_col} < 0 OR {x_col} > 65535 "
        f"OR {y_col} < 0 OR {y_col} > 65535 THEN "
        f"CAST(raise_error(concat("
        f"'zorder_write: coordinate outside the 16-bit Morton domain "
        f"(would wrap into the wrong file): ({x_col}, {y_col}) = (', "
        f"CAST({x_col} AS STRING), ', ', CAST({y_col} AS STRING), "
        f"') — rescale into [0, 65535] first')) AS BIGINT) "
        f"ELSE {morton_sql(x_col, y_col)} END"
    )
    keyed = df.withColumn("_zkey", F.expr(guarded))
    staged_clustered_write(keyed, path, "_zkey", n_files)


def _atomic_dir_swap(path: str, tmp: str) -> None:
    """Replace directory ``path`` with ``tmp`` via two atomic renames
    (live → .old, tmp → live), so readers never see a mix of old and new
    files. If the second rename fails, the original is renamed back and
    the tmp copy removed. Fixed-name .old debris from a crashed previous
    run is cleared first."""
    old = f"{path}.old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except Exception:
        os.rename(old, path)  # roll back to the intact original
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)


def staged_clustered_write(
    keyed: DataFrame, path: str, key_col: str, n_files: int
) -> None:
    """Write a keyed DataFrame clustered by ``key_col`` via the manifest
    machinery, staging into a tmp sibling and swapping on success: the
    write-time domain guard fires MID-JOB, and writing straight to
    ``path`` in overwrite mode would have deleted an existing table
    before validation ran (review catch — a failed rewrite must leave
    the old data intact)."""
    from ..sources.manifest import write_dataset

    tmp = f"{path}.zorder-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write_dataset(keyed, tmp, key_col, n_files)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.isdir(path):
        _atomic_dir_swap(path, tmp)
    else:
        os.rename(tmp, path)


def quadtree_bbox_ranges(
    x0: int,
    x1: int,
    y0: int,
    y1: int,
    max_ranges: int,
    block_range,
    order: int = 16,
) -> list[tuple[int, int]]:
    """Shared quadtree walk behind bbox → key-range decomposition for ANY
    quadtree space-filling curve (Morton, Hilbert): an aligned 2^k quad
    block is contiguous in curve order — all its cells share the key's
    high prefix — so a bbox becomes a union of aligned blocks' ranges.
    ``block_range(cx, cy, k) -> (lo, hi)`` supplies the curve-specific
    contiguous range of the block at corner (cx, cy), side 2^k.
    ``max_ranges`` is a hard bound on the returned list: refinement stops
    when the budget is hit and remaining frontier blocks emit coarse
    ranges, then the smallest inter-range gaps are bridged until the list
    fits — always a correct superset, just coarser. Output is sorted,
    disjoint, adjacent-merged."""
    out: list[tuple[int, int]] = []
    # (corner_x, corner_y, side_log2); root covers [0, 2^order)^2
    stack = [(0, 0, order)]
    budget_hit = False
    while stack:
        cx, cy, k = stack.pop()
        side = 1 << k
        hx, hy = cx + side - 1, cy + side - 1
        if hx < x0 or cx > x1 or hy < y0 or cy > y1:
            continue  # disjoint
        if (cx >= x0 and hx <= x1 and cy >= y0 and hy <= y1) or k == 0:
            out.append(block_range(cx, cy, k))
            continue
        if len(out) >= max_ranges and not budget_hit:
            budget_hit = True
        if budget_hit:
            out.append(block_range(cx, cy, k))  # coarse superset
            continue
        h = side >> 1
        stack.append((cx + h, cy + h, k - 1))
        stack.append((cx + h, cy, k - 1))
        stack.append((cx, cy + h, k - 1))
        stack.append((cx, cy, k - 1))
    out.sort()
    merged: list[tuple[int, int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    # enforce the budget as a HARD bound (the frontier can overshoot it):
    # repeatedly bridge the smallest inter-range gap — still a superset,
    # just coarser
    while len(merged) > max_ranges:
        gi = min(
            range(len(merged) - 1),
            key=lambda i: merged[i + 1][0] - merged[i][1],
        )
        merged[gi : gi + 2] = [(merged[gi][0], merged[gi + 1][1])]
    return merged


def bbox_morton_ranges(
    x0: int, x1: int, y0: int, y1: int, max_ranges: int = 64
) -> list[tuple[int, int]]:
    """Decompose a bbox (inclusive, 16-bit coords) into contiguous
    Morton key ranges — the quadtree walk behind every Z-order range
    scan (LITMAX/BIGMIN family). Without this, the single conservative
    span [morton(x0,y0), morton(x1,y1)] explodes across power-of-2
    boundaries (a bbox straddling x=128 spans nearly the whole key space
    and prunes nothing). For Morton the block's corner IS its minimum
    key, so the block range is [morton(cx,cy), +4^k)."""

    def block(cx: int, cy: int, k: int) -> tuple[int, int]:
        base = _morton_py(cx, cy)
        return (base, base + (1 << (2 * k)) - 1)

    return quadtree_bbox_ranges(x0, x1, y0, y1, max_ranges, block)


def _morton_py(x: int, y: int) -> int:
    """Python twin of morton_sql (pinned equal by test)."""
    def spread(v: int) -> int:
        v &= 0xFFFF
        v = (v | (v << 16)) & 0x0000FFFF0000FFFF
        v = (v | (v << 8)) & 0x00FF00FF00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0F
        v = (v | (v << 2)) & 0x3333333333333333
        v = (v | (v << 1)) & 0x5555555555555555
        return v

    return spread(x) * 2 + spread(y)


def pruned_files_bbox(
    spark, path: str, x0: int, x1: int, y0: int, y1: int, max_ranges: int = 64
) -> list[str]:
    """Manifest file skipping for an ARBITRARY bbox: files whose key
    range intersects any of the bbox's Morton ranges."""
    from pyspark.sql import functions as _F

    from ..sources.manifest import MANIFEST, _resolve

    ranges = bbox_morton_ranges(x0, x1, y0, y1, max_ranges)
    if not ranges:
        return []  # bbox entirely off the 16-bit grid (or inverted)
    m = spark.read.parquet(os.path.join(path, MANIFEST))
    cond = None
    for lo, hi in ranges:
        c = (_F.col("cell_max") >= lo) & (_F.col("cell_min") <= hi)
        cond = c if cond is None else (cond | c)
    return [_resolve(path, r["_file"]) for r in m.where(cond).collect()]
