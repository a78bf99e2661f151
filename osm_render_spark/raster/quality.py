"""Image quality heuristics — the image twin of operators/text.py's
text-quality scorer, for training-corpus filtering.

Per image: Laplacian-variance sharpness (the classic blur detector),
grayscale-histogram Shannon entropy (solid/synthetic detector),
over/under-exposure fraction, global contrast, and a solid-border flag
(letterboxed thumbnails / placeholder images).  All metrics are pure
deterministic numpy over the decoded pixels, computed inside Arrow
batches; thresholds are applied JVM-side as Column predicates so a
100 TB filter stage prunes before any downstream shuffle.

Metrics are reported as integer micro-units (floor(x·1e6 + 0.5), the
engine-wide F6 rounding) so results are engine-independent ints the
oracle can hash.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .codec import decode_image


def quality_metrics(img: np.ndarray) -> tuple[int, int, int, int, int]:
    """(h, w[, c]) uint8 → (sharpness_u, entropy_u, extreme_u,
    contrast_u, border_uniform) with the _u fields in micro-units.

    sharpness = Var(3×3 Laplacian of gray); entropy = Shannon bits of
    the 256-bin gray histogram; extreme = fraction of pixels with gray
    < 8 or > 247; contrast = std(gray); border_uniform = 1 iff every
    1-px-border pixel equals the top-left pixel."""
    if img.ndim == 3:
        gray = img.astype(np.float64).mean(axis=2)  # phash64's convention
    else:
        gray = img.astype(np.float64)
    h, w = gray.shape
    if h >= 3 and w >= 3:
        lap = (
            gray[:-2, 1:-1] + gray[2:, 1:-1] + gray[1:-1, :-2]
            + gray[1:-1, 2:] - 4.0 * gray[1:-1, 1:-1]
        )
        sharpness = float(lap.var())
    else:
        sharpness = 0.0
    u8 = np.floor(gray + 0.5).astype(np.int64)  # F6 rounding
    hist = np.bincount(u8.ravel(), minlength=256).astype(np.float64)
    p = hist / u8.size
    nz = p[p > 0]
    entropy = float(-(nz * np.log2(nz)).sum())
    extreme = float(((u8 < 8) | (u8 > 247)).mean())
    contrast = float(gray.std())
    border = np.concatenate(
        [img[0].reshape(w, -1), img[-1].reshape(w, -1),
         img[:, 0].reshape(h, -1), img[:, -1].reshape(h, -1)]
    )
    border_uniform = int((border == border[0]).all())

    def u(x: float) -> int:
        return int(np.floor(x * 1e6 + 0.5))

    return u(sharpness), u(entropy), u(extreme), u(contrast), border_uniform


def image_quality(images: DataFrame) -> DataFrame:
    """(image_id, bytes, fmt) → per-image quality metrics.  Decode uses
    the repo's real codecs (raster/codec.decode_image: PNG, baseline +
    progressive JPEG); an undecodable blob yields decode_ok=0 with null
    metrics instead of killing the scan task."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                try:
                    img = decode_image(bytes(row.bytes), row.fmt)
                    m = quality_metrics(img)
                    rows.append((row.image_id, *m, 1))
                except Exception:
                    rows.append((row.image_id, None, None, None, None, None, 0))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "sharpness_u", "entropy_u", "extreme_u",
                         "contrast_u", "border_uniform", "decode_ok"],
            )

    return images.mapInPandas(
        kernel,
        schema=("image_id string, sharpness_u long, entropy_u long, "
                "extreme_u long, contrast_u long, border_uniform int, "
                "decode_ok int"),
    )


def quality_keep(
    min_sharpness: float = 5.0,
    min_entropy: float = 1.0,
    max_extreme: float = 0.9,
    reject_uniform_border: bool = True,
) -> Column:
    """JVM-side keep predicate over image_quality's columns (thresholds
    in natural units; compared against the micro-unit columns with
    integer literals so the filter stays in whole-stage codegen)."""
    keep = (
        (F.col("decode_ok") == 1)
        & (F.col("sharpness_u") >= int(min_sharpness * 1e6))
        & (F.col("entropy_u") >= int(min_entropy * 1e6))
        & (F.col("extreme_u") <= int(max_extreme * 1e6))
    )
    if reject_uniform_border:
        keep = keep & (F.col("border_uniform") == 0)
    return keep
