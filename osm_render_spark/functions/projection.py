"""Projection + tile-grid expressions.

The reference projects lon/lat into pixel space with a per-scene affine
transform (``OsmRenderTransformPoint``, OsmRender.m:382-387: translate by
(-lonMin, -latMax) then scale by (W/Δlon, H/Δlat), y inverted, C ``round``
= half away from zero — operators P8/P9 in SURVEY.md §2.2). The engine
generalizes this: each z/x/y Web-Mercator slippy tile is a small render
box of its own, so tile assignment IS the distributed form of the
reference's single-scene projection.

Every function here comes in two flavors:

* ``*_sql(...) -> str`` — a SQL expression string valid in BOTH Spark SQL
  and DuckDB (same arithmetic, same evaluation order), used to keep the
  engine and the DuckDB oracle bit-identical.
* ``*_col(...) -> Column`` — the same expression as a PySpark Column
  (built via ``F.expr`` on the shared SQL text, so there is exactly one
  definition of the arithmetic).

Rounding convention (F6): C ``round()`` on non-negative pixel coords is
``floor(x + 0.5)``; we use that literal form everywhere (Spark ``round``
is HALF_UP which matches for positives, but numpy is HALF_EVEN — pinning
``floor(x+0.5)`` keeps SQL, Column, and numpy kernels in agreement).

DOCUMENTED DIVERGENCE (COVERAGE.md): the reference rounds BEFORE clipping
(OsmRenderTransformPoint), so off-scene vertices can project to negative
pixel coords, where exact .5 halves differ: C round(-2.5) = -3
(half-away-from-zero) vs floor(-2.5 + 0.5) = -2. Only off-canvas vertices
are affected — they are clipped before any pixel is touched, and the clip
intersection math runs on UNrounded doubles — so no rendered pixel can
differ; we keep the single floor(x+0.5) form because three independent
implementations (SQL text, Column, numpy kernels) must stay bit-identical
and sign-aware rounding would triple the divergence surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Web-Mercator latitude clamp (standard slippy-map limit).
MERC_MAX_LAT = 85.05112878


# ---------------------------------------------------------------------------
# Affine scene projection (P8/P9): lon/lat -> pixel in a W×H scene box.
# ---------------------------------------------------------------------------

def affine_px_sql(lon: str, lon_min: float, lon_max: float, width: int) -> str:
    """px = floor((lon - lonMin) * W / (lonMax - lonMin) + 0.5)."""
    return (
        f"CAST(FLOOR(({lon} - ({lon_min!r})) * {width} / "
        f"(({lon_max!r}) - ({lon_min!r})) + 0.5) AS BIGINT)"
    )


def affine_py_sql(lat: str, lat_min: float, lat_max: float, height: int) -> str:
    """py = floor((lat - latMax) * H / (latMin - latMax) + 0.5) — y inverted
    (OsmRender.m:386: the scale factor is H / (latMin - latMax), negative)."""
    return (
        f"CAST(FLOOR(({lat} - ({lat_max!r})) * {height} / "
        f"(({lat_min!r}) - ({lat_max!r})) + 0.5) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# Web-Mercator slippy tiles (z/x/y).
# ---------------------------------------------------------------------------

def _clamped_lat_sql(lat: str) -> str:
    return f"LEAST(GREATEST({lat}, -{MERC_MAX_LAT!r}), {MERC_MAX_LAT!r})"


def merc_x_sql(lon: str, zoom: int) -> str:
    """Continuous mercator x in tile units at ``zoom`` (0 .. 2^z)."""
    n = 1 << zoom
    return f"(({lon}) + 180.0) / 360.0 * {n}"


def merc_y_sql(lat: str, zoom: int) -> str:
    """Continuous mercator y in tile units at ``zoom`` (0 at the north edge)."""
    n = 1 << zoom
    c = _clamped_lat_sql(lat)
    return (
        f"(1.0 - LN(TAN(RADIANS({c})) + 1.0 / COS(RADIANS({c}))) / PI()) "
        f"/ 2.0 * {n}"
    )


def tile_x_sql(lon: str, zoom: int) -> str:
    n = 1 << zoom
    return f"CAST(LEAST(GREATEST(FLOOR({merc_x_sql(lon, zoom)}), 0), {n - 1}) AS BIGINT)"


def tile_y_sql(lat: str, zoom: int) -> str:
    n = 1 << zoom
    return f"CAST(LEAST(GREATEST(FLOOR({merc_y_sql(lat, zoom)}), 0), {n - 1}) AS BIGINT)"


def tile_x_col(lon: str, zoom: int) -> Column:
    return F.expr(tile_x_sql(lon, zoom))


def tile_y_col(lat: str, zoom: int) -> Column:
    return F.expr(tile_y_sql(lat, zoom))


def tile_key_sql(lon: str, lat: str, zoom: int) -> str:
    """Single BIGINT key for a z/x/y tile: x * 2^z + y (z fixed per query).

    This is the engine's spatial partition key — the Spark analog of the
    reference's per-file bbox pruning (S6): a WHERE on tile_key ranges
    prunes parquet row groups via min/max stats.
    """
    n = 1 << zoom
    return f"({tile_x_sql(lon, zoom)} * {n} + {tile_y_sql(lat, zoom)})"


def tile_key_col(lon: str, lat: str, zoom: int) -> Column:
    return F.expr(tile_key_sql(lon, lat, zoom))


# ---------------------------------------------------------------------------
# Derived deterministic coordinates for the TPC-H-ish oracle tables.
# ---------------------------------------------------------------------------

def derived_lon_sql(key: str) -> str:
    """Deterministic synthetic longitude from an integer key.

    Both engines compute ((key * 7919) % 36000) / 100.0 - 180.0 with exact
    integer arithmetic followed by one exact-by-construction double divide,
    so Spark and DuckDB agree bitwise. The CAST AS DOUBLE is load-bearing:
    Spark types the literal 100.0 as DECIMAL(4,1) and would produce a
    DECIMAL division, while DuckDB produces DOUBLE.
    """
    return f"CAST((({key}) * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0"


def derived_lat_sql(key: str) -> str:
    return f"CAST((({key}) * 104729) % 17000 AS DOUBLE) / 100.0 - 85.0"
