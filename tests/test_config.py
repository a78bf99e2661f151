"""JSON config source (S7)."""

from __future__ import annotations

from osm_render_spark.sources.config import (
    areas_table,
    landmarks_table,
    load_demo_configs,
    parse_config,
)


def test_config_bbox_normalized(spark):
    parsed = parse_config(load_demo_configs(spark))
    row = parsed.collect()[0]
    # the demo config has latMin > latMax on purpose (P11 swap)
    assert row["lat_min"] == 10.0 and row["lat_max"] == 10.1
    assert row["lon_min"] == 20.0 and row["lon_max"] == 20.1


def test_areas_vertex_parse_lat_first(spark):
    areas = areas_table(parse_config(load_demo_configs(spark))).collect()
    a0 = [a for a in areas if a["area_id"] == 0][0]
    # config string "10.02 20.02" is lat lon (OsmRender.m:925)
    assert a0["polygon"][0]["lat"] == 10.02 and a0["polygon"][0]["lon"] == 20.02
    assert a0["label"] == "Old Town\nCenter"  # multi-line labels survive (F1)
    a1 = [a for a in areas if a["area_id"] == 1][0]
    assert a1["type"] == 2  # park


def test_landmarks_display_filter(spark):
    lm = landmarks_table(parse_config(load_demo_configs(spark))).collect()
    assert [r["label"] for r in lm] == ["Museum"]  # P4 drops display=false
