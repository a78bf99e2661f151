"""Filter predicates (SURVEY.md §2.2 P1-P6, P10-P11).

The tag vocabulary reproduces the reference exactly, including the literal
``reservoid`` misspelling (OsmIsWater, OsmRender.m:407) — it changes filter
semantics so parity requires keeping it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# OsmIsWater (OsmRender.m:389-420): value sets per tag key.
WATER_NATURAL = ("lake", "pond", "water")
WATER_LANDUSE = ("basin", "lake", "pond", "reservoid", "water")
WATER_WATERWAY = ("dock", "riverbank")


def is_water(tags: Column) -> Column:
    """OsmIsWater (OsmRender.m:389-420) over a map<string,string> column."""
    return (
        F.element_at(tags, "natural").isin(*WATER_NATURAL)
        | F.element_at(tags, "landuse").isin(*WATER_LANDUSE)
        | F.element_at(tags, "waterway").isin(*WATER_WATERWAY)
    )


def is_coastline(tags: Column) -> Column:
    return F.element_at(tags, "natural") == "coastline"


def has_bridge(tags: Column) -> Column:
    """OsmFilterWay checks mere key presence for bridge (OsmRender.m:424)."""
    return F.map_contains_key(tags, "bridge")


def filter_way(tags: Column) -> Column:
    """OsmFilterWay (OsmRender.m:422-428): bridge ∨ coastline ∨ water."""
    return has_bridge(tags) | is_coastline(tags) | is_water(tags)


def classify_kinds(tags: Column) -> Column:
    """ADDITIVE render-kind array for a way — one entry per reference
    render pass that touches it (coastline collect, water-fill re-scan
    of ALL ways with OsmIsWater at OsmRender.m:508-517, bridge erase):
    a bridge∧water way yields ['water','bridge'], a coastline way that
    is also OsmIsWater yields ['water','coast']. Ways matching no pass
    default to 'water' (callers have already tag-filtered; the branch
    serves custom tag_filter users). Single definition shared by
    pipeline.project_ways, tools/render_pbf, and tests."""
    is_b = has_bridge(tags)
    is_c = F.coalesce(is_coastline(tags), F.lit(False))
    is_w = F.coalesce(is_water(tags), F.lit(False))
    return F.array_compact(
        F.array(
            F.when(is_w | (~is_b & ~is_c), F.lit("water")),
            F.when(is_c, F.lit("coast")),
            F.when(is_b, F.lit("bridge")),
        )
    )


def bbox_contains(lon: Column, lat: Column, bbox: tuple[float, float, float, float]) -> Column:
    """P1: point-in-bbox. bbox = (lat_min, lon_min, lat_max, lon_max),
    matching the reference's MapDataBounds field order (MapData.m:28-32)."""
    lat_min, lon_min, lat_max, lon_max = bbox
    return (
        (lat >= F.lit(lat_min))
        & (lat <= F.lit(lat_max))
        & (lon >= F.lit(lon_min))
        & (lon <= F.lit(lon_max))
    )


def is_cyclic(geometry: Column) -> Column:
    """P5 (OsmRender.m:497-498): first point == last point (exact equality,
    mirroring NSEqualPoints at OsmRender.m:338)."""
    return F.element_at(geometry, 1) == F.element_at(geometry, -1)
