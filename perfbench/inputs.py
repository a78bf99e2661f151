"""Seeded input generators. Every input is a pure function of the seed;
the engine only ever sees the files and DataFrames made here."""

from __future__ import annotations

import dataclasses

import numpy as np

from osm_render_spark.fixtures.osm import Scene

# ---------------------------------------------------------------------------
# tiles, cities: a synthetic extract with a few dense cities
# ---------------------------------------------------------------------------

CITY_SPAN = 0.12  # degrees per city bbox side (about 3x3 z13 tiles)
WAY_KINDS = (
    # (share, tags, closed) — water fills, coastline chains, bridges and
    # decoy highways that the tag filter must drop
    (0.45, {"natural": "water"}, True),
    (0.10, {"landuse": "reservoid"}, True),
    (0.10, {"natural": "coastline"}, False),
    (0.15, {"bridge": "yes", "highway": "primary"}, False),
    (0.20, {"highway": "residential"}, False),
)


@dataclasses.dataclass
class Extract:
    scene: Scene
    cities: list[dict]  # [{"name", "bbox": [lat0, lon0, lat1, lon1]}]


def osm_extract(seed: int, n_cities: int, n_ways: int) -> Extract:
    """One hot metro holds a third of the ways, the other cities share
    half, and the rest scatter outside every city (scanned, never
    matched). Ways near a city edge cross it, so the join must assemble
    geometry from nodes outside the bbox. Relations add a name to some
    matched ways and ``natural=water`` to some decoys, which must still
    be filtered out (the filter runs before the relation merge)."""
    rng = np.random.default_rng(seed)
    scene = Scene(f"bench-{seed}", bbox=(-60.0, -170.0, 70.0, 170.0))
    # city corners on a coarse grid so no two cities overlap
    slots = rng.choice(26 * 68, size=n_cities, replace=False)
    corners = [(-60.0 + 5.0 * (s // 68) + rng.uniform(0, 4),
                -170.0 + 5.0 * (s % 68) + rng.uniform(0, 4)) for s in slots]
    cities = [
        {"name": f"city{i:02d}", "bbox": [lat, lon, lat + CITY_SPAN, lon + CITY_SPAN]}
        for i, (lat, lon) in enumerate(corners)
    ]
    shares = np.array([k[0] for k in WAY_KINDS])
    kinds = rng.choice(len(WAY_KINDS), size=n_ways, p=shares / shares.sum())
    where = rng.uniform(size=n_ways)
    others = rng.integers(1, n_cities, size=n_ways)
    for i in range(n_ways):
        if where[i] < 1 / 3:
            lat0, lon0 = corners[0]
        elif where[i] < 5 / 6:
            lat0, lon0 = corners[others[i]]
        else:
            lat0, lon0 = rng.uniform(-60, 70), rng.uniform(-170, 170)
        # centres spill 10% past the bbox so edge-crossing ways occur
        clat = lat0 + rng.uniform(-0.1, 1.1) * CITY_SPAN
        clon = lon0 + rng.uniform(-0.1, 1.1) * CITY_SPAN
        _share, tags, closed = WAY_KINDS[kinds[i]]
        n_pts = int(rng.integers(3, 7))
        size = rng.uniform(0.001, 0.012)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n_pts))
        pts = [(clat + size * np.sin(a), clon + size * np.cos(a)) for a in ang]
        scene.add_way(10_000 + 3 * i, pts, dict(tags), closed=closed)
    wids = [w[0] for w in scene.ways]
    for r in range(n_ways // 20):
        a, b = rng.choice(len(wids), size=2, replace=False)
        members = [
            {"type": "WAY", "ref": wids[a], "role": "outer"},
            {"type": "NODE", "ref": scene.ways[a][1][0], "role": ""},
            {"type": "WAY", "ref": 9_999_999_999, "role": ""},  # dangling
        ]
        if scene.ways[b][2].get("highway") == "residential":
            members.append({"type": "WAY", "ref": wids[b], "role": ""})
        tags = {"name": f"rel {r}"} if r % 3 else {"natural": "water"}
        scene.relations.append((1_000_000 + r, members, tags))
    return Extract(scene, cities)


def city_scene(extract: Extract, bbox) -> Scene:
    """The extract seen through one city's bbox (the oracle reads
    ``scene.bbox``)."""
    return dataclasses.replace(extract.scene, bbox=tuple(bbox))


def write_extract(extract: Extract, path: str) -> None:
    from osm_render_spark.sources.pbf import write_pbf

    s = extract.scene
    write_pbf(
        path,
        [(i, la, lo, t) for i, la, lo, t, _b in s.nodes],
        s.ways,
        s.relations,
        bbox=s.bbox,
    )


# ---------------------------------------------------------------------------
# tiles, pyramid: small water ways spread over the world
# ---------------------------------------------------------------------------


def world_ways(seed: int, n_ways: int) -> list[tuple]:
    """(way_id, kind, ring) with rings of ~0.03 deg squares — at z7 nearly
    every way lands in a tile of its own."""
    rng = np.random.default_rng(seed)
    lon = np.round(rng.uniform(-179.0, 179.0, n_ways), 6)
    lat = np.round(rng.uniform(-80.0, 80.0, n_ways), 6)
    d = 0.03
    return [
        (i, "water", [(x, y), (x + d, y), (x + d, y + d), (x, y + d), (x, y)])
        for i, (x, y) in enumerate(zip(lon.tolist(), lat.tolist()))
    ]


def ways_df(spark, rows: list[tuple]):
    return spark.createDataFrame(
        rows,
        "way_id long, kind string, geometry array<struct<lon:double,lat:double>>",
    )


# ---------------------------------------------------------------------------
# training_curate: the planted-event image+caption corpus
# ---------------------------------------------------------------------------


class _ShiftedRange:
    """Stand-in session for ``pipeline_corpus_df``: its ``range(0, n)``
    becomes ``range(base, base + n)``, so the seed chooses which rows of
    the planted recipe are generated while the recipe itself (planted
    dups, corrupt dims, codecs) stays the engine's own."""

    def __init__(self, spark, base: int):
        self._spark, self._base = spark, base

    def range(self, start: int, end: int):
        return self._spark.range(self._base + start, self._base + end)


def corpus_base(seed: int) -> int:
    return (seed % 100_000) * 10_000


def write_corpus(spark, seed: int, n: int, path: str) -> None:
    from osm_render_spark.fixtures.images import pipeline_corpus_df

    df = pipeline_corpus_df(_ShiftedRange(spark, corpus_base(seed)), n)
    df.coalesce(4).write.mode("overwrite").parquet(path)
