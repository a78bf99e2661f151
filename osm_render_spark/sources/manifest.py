"""File-manifest pruning — the Iceberg-manifest analog (SURVEY.md S4/S6).

The reference reads only a file's header blob to get its bbox, then skips
files whose bbox can't contain the query (MapData.m:290-359,
OsmRender.m:986-993). Iceberg does the same with per-file column min/max
stats in manifests. Without Iceberg jars, this module keeps an explicit
manifest: ``write_dataset`` writes the table partitioned into files
bucketed by a sort on the cell key and records per-file (cell_min,
cell_max, row_count); ``read_pruned`` consults the manifest and hands
Spark ONLY the files whose range intersects the query — file skipping
before any data IO, exactly the reference's header-probe semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest"


def _resolve(path: str, name: str) -> str:
    """Manifest entries are relative basenames (see write_dataset);
    absolute entries from pre-relocatable manifests still resolve."""
    return name if "/" in name else os.path.join(path, name)


def write_dataset(
    df: DataFrame, path: str, cell_col: str, n_files: int
) -> None:
    """Range-partition by ``cell_col`` into ``n_files`` files (so each
    file owns a compact cell range — the precondition for useful min/max
    pruning), then record per-file stats in the manifest."""
    spark = df.sparkSession
    (
        df.repartitionByRange(n_files, F.col(cell_col))
        .sortWithinPartitions(cell_col)
        .write.mode("overwrite")
        .parquet(path)
    )
    # store the BASENAME, not input_file_name()'s absolute URI: the
    # manifest must survive a directory rename (zorder's staged write
    # lands in a tmp dir and renames it into place — absolute paths
    # would strand every entry; relative ones make the table
    # relocatable). Files are flat under path by construction here.
    data = spark.read.parquet(path).withColumn(
        "_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    manifest = data.groupBy("_file").agg(
        F.min(cell_col).alias("cell_min"),
        F.max(cell_col).alias("cell_max"),
        F.count("*").alias("row_count"),
    )
    manifest.write.mode("overwrite").parquet(os.path.join(path, MANIFEST))


def pruned_files(
    spark: SparkSession, path: str, cell_lo: int, cell_hi: int
) -> list[str]:
    m = spark.read.parquet(os.path.join(path, MANIFEST))
    rows = m.where(
        (F.col("cell_max") >= cell_lo) & (F.col("cell_min") <= cell_hi)
    ).collect()
    return [_resolve(path, r["_file"]) for r in rows]


def read_pruned(
    spark: SparkSession, path: str, cell_col: str, cell_lo: int, cell_hi: int
) -> DataFrame:
    """Read only the files whose cell range intersects [cell_lo, cell_hi]
    (the residual WHERE is still applied — pruning is a superset)."""
    files = pruned_files(spark, path, cell_lo, cell_hi)
    if not files:
        return (
            spark.read.parquet(path)
            .where(F.lit(False))
        )
    df = spark.read.parquet(*files)
    return df.where((F.col(cell_col) >= cell_lo) & (F.col(cell_col) <= cell_hi))
