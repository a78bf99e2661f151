"""Color + hashing scalar functions (SURVEY.md §2.8 F3-F5).

All pure integer / binary arithmetic — expressible identically in Spark
SQL and DuckDB, so each has a ``*_sql`` form for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hover_color_sql(c1: str, c2: str) -> str:
    """F4 (OsmRender.m:37-38): per-channel truncating average of two packed
    ARGB colors via the bit trick ((c1>>1)&0x7f7f7f7f)+((c2>>1)&0x7f7f7f7f).

    Uses arithmetic (/2 on non-negative ints == >>1) so the same text runs
    in Spark SQL and DuckDB.
    """
    m = 0x7F7F7F7F
    return (
        f"(CAST(FLOOR(({c1}) / 2) AS BIGINT) & {m}) + "
        f"(CAST(FLOOR(({c2}) / 2) AS BIGINT) & {m})"
    )


def hover_color(c1: Column, c2: Column) -> Column:
    m = F.lit(0x7F7F7F7F)
    return (F.shiftright(c1.cast("long"), 1).bitwiseAND(m)) + (
        F.shiftright(c2.cast("long"), 1).bitwiseAND(m)
    )


def cache_key(*cols: Column) -> Column:
    """F5/S10 (OsmRender.m:548-565): SHA-256 content-addressed key over the
    render parameters. Unlike the reference (whose key omits most colors —
    a stale-cache hazard noted in SURVEY.md S10), callers must pass ALL
    parameters that affect the output.
    """
    return F.sha2(F.concat_ws("|", *[c.cast("string") for c in cols]), 256)
