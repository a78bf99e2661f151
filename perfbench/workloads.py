"""The two workloads. Each one makes its inputs from the seed, runs one
pass through the engine's public entry points into real on-disk sinks,
and checks that pass's outputs against an engine-independent recompute.

``tiles`` runs two tile products, ``OsmCities`` and ``WorldPyramid``, in
each pass; ``training_curate`` runs the curation pipeline. A pass is
split into *operations* for the error rate: one city, one zoom level of
the pyramid or the MVT pass, one pipeline stage (and the resume). An
operation fails if it raises or if any of its output checks fails."""

from __future__ import annotations

import dataclasses
import hashlib
import json
import math
import os
import shutil
import time
from collections import Counter, defaultdict

from perfbench import inputs
from perfbench.trace import NullTracer

MERC_MAX_LAT = 85.05112878  # functions.projection.MERC_MAX_LAT


@dataclasses.dataclass
class Checked:
    """Operations attempted and the names of those that failed."""

    attempted: int = 0
    failed: list = dataclasses.field(default_factory=list)

    def op(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(f"{name}: {why}" if why else name)


# ---------------------------------------------------------------------------
# slippy-tile arithmetic, recomputed independently of the engine
# ---------------------------------------------------------------------------


def _merc_x(lon: float, n: int) -> float:
    return (lon + 180.0) / 360.0 * n


def _merc_y(lat: float, n: int) -> float:
    lat = min(max(lat, -MERC_MAX_LAT), MERC_MAX_LAT)
    rad = math.radians(lat)
    return (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi) / 2.0 * n


def fan_out(rows, zoom: int) -> dict[tuple[int, int], list[int]]:
    """rows of (way_id, kind, [(lon, lat), ...]) → {(tile_x, tile_y):
    [n_ways, way_sum]} over every tile each row's bbox covers (the
    engine's ``fan_out_tiles`` contract)."""
    n = 1 << zoom

    def clamp(c: float) -> int:
        return int(min(max(math.floor(c), 0), n - 1))

    out: dict[tuple[int, int], list[int]] = defaultdict(lambda: [0, 0])
    for way_id, _kind, pts in rows:
        lons = [p[0] for p in pts]
        lats = [p[1] for p in pts]
        tx0, tx1 = clamp(_merc_x(min(lons), n)), clamp(_merc_x(max(lons), n))
        ty0, ty1 = clamp(_merc_y(max(lats), n)), clamp(_merc_y(min(lats), n))
        for tx in range(tx0, tx1 + 1):
            for ty in range(ty0, ty1 + 1):
                acc = out[(tx, ty)]
                acc[0] += 1
                acc[1] += way_id
    return dict(out)


def _kinds(tags: dict) -> list[str]:
    """``functions.predicates.classify_kinds`` over a plain dict."""
    from osm_render_spark.fixtures.oracle import is_water

    b = "bridge" in tags
    c = tags.get("natural") == "coastline"
    w = is_water(tags)
    return [k for k, on in (("water", w or (not b and not c)), ("coast", c), ("bridge", b)) if on]


def _tile_files(root: str) -> set[tuple[int, int]]:
    """{(x, y)} of the ``x{x}/y{y}.png`` files under one zoom directory."""
    found = set()
    if not os.path.isdir(root):
        return found
    for xdir in os.listdir(root):
        for f in os.listdir(os.path.join(root, xdir)):
            if f.endswith(".png"):
                found.add((int(xdir[1:]), int(f[1:-4])))
    return found


def _pixel_digest(root: str) -> str:
    """sha256 over the DECODED pixels of every tile under ``root``, in
    path order (PNG bytes could change with the encoder, pixels not)."""
    from osm_render_spark.raster.codec import decode_png

    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                pix = decode_png(fh.read())
            h.update(f"{dirpath[len(root):]}/{f}{pix.shape}".encode())
            h.update(pix.tobytes())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# tiles: city trees from an extract
# ---------------------------------------------------------------------------


class OsmCities:
    """Seeded extract → ``tools/render_pbf.render_cities`` → z13 tree."""

    zoom, tile_px = 13, 256
    full = {"n_cities": 2, "n_ways": 3000}
    reduced = {"n_cities": 2, "n_ways": 300}

    def make_inputs(self, spark, seed: int, root: str, reduced: bool = False) -> dict:
        size = self.reduced if reduced else self.full
        ex = inputs.osm_extract(seed, size["n_cities"], size["n_ways"])
        pbf = os.path.join(root, "extract.osm.pbf")
        inputs.write_extract(ex, pbf)
        with open(pbf, "rb") as f:
            digest = hashlib.sha256(f.read() + json.dumps(ex.cities).encode()).hexdigest()
        return {"pbf": pbf, "extract": ex, "cities": ex.cities, "digest": digest}

    def expect(self, inp: dict) -> None:
        """Per city: the oracle's matched ways and the tile fan-out of
        their render rows (one row per way and render kind)."""
        from osm_render_spark.fixtures.oracle import ways_in_rect_oracle

        inp["expected"] = {}
        for city in inp["cities"]:
            matched = ways_in_rect_oracle(inputs.city_scene(inp["extract"], city["bbox"]))
            rows = [
                (wid, kind, geom)
                for wid, (geom, tags) in matched.items()
                for kind in _kinds(tags)
            ]
            inp["expected"][city["name"]] = {
                "way_ids": set(matched),
                "tiles": fan_out(rows, self.zoom),
            }

    def run(self, spark, tracer, inp: dict, out_dir: str) -> dict:
        from render_pbf import render_cities

        # a traced pass renders one city at a time, so spans never overlap
        par = 4 if isinstance(tracer, NullTracer) else 1
        with tracer.span("tools.render_pbf"):
            summary = render_cities(
                spark, inp["pbf"], inp["cities"], out_dir, self.zoom, self.tile_px, par
            )
        return {"summary": summary, "out_dir": out_dir}

    def check(self, spark, inp: dict, res: dict, tracer=None, digests: dict | None = None) -> Checked:
        c = Checked()
        by_name = {s["name"]: s for s in res["summary"]}
        captured = _captured_cities(tracer, len(inp["cities"]))
        for i, city in enumerate(inp["cities"]):
            name = city["name"]
            exp = inp["expected"][name]
            s = by_name.get(name)
            tile_dir = os.path.join(res["out_dir"], name, f"z{self.zoom}")
            on_disk = _tile_files(tile_dir)
            why = ""
            if s is None:
                why = "no summary"
            elif s["n_ways"] != len(exp["way_ids"]):
                why = f"n_ways {s['n_ways']} != oracle {len(exp['way_ids'])}"
            elif s["n_tiles"] != len(exp["tiles"]) or on_disk != set(exp["tiles"]):
                why = f"tiles {s['n_tiles']}/{len(on_disk)} on disk != fan-out {len(exp['tiles'])}"
            elif captured is not None:
                ids, tiles = captured[i]
                if ids != exp["way_ids"]:
                    why = "matched way ids != oracle"
                elif tiles != {k: tuple(v) for k, v in exp["tiles"].items()}:
                    why = "per-tile n_ways/way_sum != fan-out"
            if not why and digests is not None:
                d = _pixel_digest(tile_dir)
                if digests.setdefault(name, d) != d:
                    why = "decoded pixels differ from the first pass of this seed"
            c.op(name, not why, why)
        return c


def _captured_cities(tracer, n_cities: int):
    """From a traced pass (cities rendered one at a time, in order): per
    city, the matched way ids and {(x, y): (n_ways, way_sum)}."""
    if tracer is None or isinstance(tracer, NullTracer):
        return None
    matched = tracer.kept.get("operators.ways_in_rect", [])
    tiles = tracer.kept.get("raster.ops.render", [])[:n_cities]  # cities render first
    if len(matched) != n_cities or len(tiles) != n_cities:
        return [(set(), {})] * n_cities
    return [
        ({r["way_id"] for r in m},
         {(r["tile_x"], r["tile_y"]): (r["n_ways"], r["way_sum"]) for r in t})
        for m, t in zip(matched, tiles)
    ]


# ---------------------------------------------------------------------------
# tiles: world pyramid and vector tiles
# ---------------------------------------------------------------------------


class WorldPyramid:
    """Small ways world-wide → base render → pyramid → PNG tree + MVT."""

    zoom, tile_px = 7, 128
    full = {"n_ways": 250}
    reduced = {"n_ways": 30}

    def make_inputs(self, spark, seed: int, root: str, reduced: bool = False) -> dict:
        rows = inputs.world_ways(seed, (self.reduced if reduced else self.full)["n_ways"])
        digest = hashlib.sha256(repr(rows).encode()).hexdigest()
        return {"rows": rows, "digest": digest}

    def expect(self, inp: dict) -> None:
        base = set(fan_out(inp["rows"], self.zoom))
        inp["expected"] = {
            z: len({(x >> (self.zoom - z), y >> (self.zoom - z)) for x, y in base})
            for z in range(self.zoom + 1)
        }

    def run(self, spark, tracer, inp: dict, out_dir: str) -> dict:
        import osm_render_spark.raster.mvt as mvt
        import osm_render_spark.raster.ops as ops
        import osm_render_spark.raster.pyramid as pyramid
        import osm_render_spark.raster.sink as sink

        ways = inputs.ways_df(spark, inp["rows"])
        base = ops.render_slippy_tiles(ways, self.zoom, self.tile_px)
        tree = pyramid.build_tile_pyramid(base, self.zoom, 0, self.tile_px)
        manifest = sink.write_pyramid_tree(tree, os.path.join(out_dir, "png"))
        with tracer.span("raster.sink"):
            written = manifest.select("zoom", "n_bytes").collect()
        vector = mvt.vector_tiles(ways, self.zoom)
        with tracer.span("raster.sink"):
            vector.write.mode("overwrite").parquet(os.path.join(out_dir, "mvt"))
        return {"written": written, "out_dir": out_dir}

    def check(self, spark, inp: dict, res: dict, tracer=None, digests=None) -> Checked:
        c = Checked()
        per_zoom = Counter(r["zoom"] for r in res["written"])
        for z, want in inp["expected"].items():
            on_disk = len(_tile_files(os.path.join(res["out_dir"], "png", f"z{z}")))
            ok = per_zoom.get(z, 0) == want == on_disk
            c.op(f"z{z}", ok, f"{per_zoom.get(z, 0)} written, {on_disk} on disk, want {want}")
        n_mvt = spark.read.parquet(os.path.join(res["out_dir"], "mvt")).count()
        want = inp["expected"][self.zoom]
        c.op("mvt", n_mvt == want, f"{n_mvt} MVT tiles, want {want}")
        return c


class Tiles:
    """Both tile products in one pass: the extract's city trees, then the
    world pyramid and its vector tiles."""

    name = "tiles"
    # a reduced warm-up pass would cost about as much as the cold pass
    # it saves; the one timed pass includes the JIT warm-up
    warm_passes = 0
    passes = 1
    keep = {
        "operators.ways_in_rect": ("way_id",),
        "raster.ops.render": ("tile_x", "tile_y", "n_ways", "way_sum"),
        "raster.sink": ("n_bytes",),
    }

    def __init__(self):
        self.osm, self.world = OsmCities(), WorldPyramid()

    def make_inputs(self, spark, seed: int, root: str, reduced: bool = False) -> dict:
        osm = self.osm.make_inputs(spark, seed, root, reduced)
        world = self.world.make_inputs(spark, seed, root, reduced)
        return {"osm": osm, "world": world, "digest": osm["digest"] + world["digest"]}

    def expect(self, inp: dict) -> None:
        self.osm.expect(inp["osm"])
        self.world.expect(inp["world"])

    def patch(self, tracer) -> None:
        import osm_render_spark.operators.ways_in_rect as wir
        import osm_render_spark.raster.mvt as mvt
        import osm_render_spark.raster.ops as ops
        import osm_render_spark.raster.pyramid as pyramid
        import osm_render_spark.raster.sink as sink
        import osm_render_spark.sources.pbf as pbf

        tracer.patch(pbf, "read_pbf", "sources.pbf")
        tracer.patch(wir, "ways_in_rect", "operators.ways_in_rect")
        tracer.patch(ops, "render_slippy_tiles", "raster.ops.render")
        tracer.patch(pyramid, "build_tile_pyramid", "raster.pyramid")
        tracer.patch(sink, "write_tile_tree", "raster.sink")
        tracer.patch(sink, "write_pyramid_tree", "raster.sink")
        tracer.patch(mvt, "vector_tiles", "raster.mvt")

    def run(self, spark, tracer, inp: dict, out_dir: str) -> dict:
        return {
            "osm": self.osm.run(spark, tracer, inp["osm"], os.path.join(out_dir, "cities")),
            "world": self.world.run(spark, tracer, inp["world"], os.path.join(out_dir, "world")),
            "out_dir": out_dir,
        }

    def check(self, spark, inp: dict, res: dict, tracer=None, digests=None) -> Checked:
        c = self.osm.check(spark, inp["osm"], res["osm"], tracer, digests)
        w = self.world.check(spark, inp["world"], res["world"], tracer, digests)
        c.attempted += w.attempted
        c.failed += w.failed
        return c


# ---------------------------------------------------------------------------
# training_curate
# ---------------------------------------------------------------------------

STAGE_LAYERS = {
    "decode_verify": "raster.ops.decode",
    "dedup": "operators.dedup",
    "curate": "operators.text",
    "split": "operators.sampling",
    "pack": "operators.packing",
}
PACK_BUDGET = 64


def traced_store(root: str, tracer):
    """A CheckpointStore whose stages run as spans: the stage's compute
    under its operator's layer (closed on a noop write), then the
    parquet write, the lineage and the read-back as separate
    ``plans.checkpoint.*`` spans."""
    from osm_render_spark.plans.checkpoint import CheckpointStore, stage_key

    class TracedStore(CheckpointStore):
        def run_stage(self, spark, stage, params, compute, partition_col=None, input_token=""):
            key = stage_key(stage, params, input_token)
            path = self._path(stage, key)
            if self._done(path):
                with tracer.span("plans.checkpoint.read"):
                    return spark.read.parquet(path)
            df = tracer.call(STAGE_LAYERS[stage], compute)
            with tracer.span("plans.checkpoint.write"):
                df.write.mode("overwrite").parquet(path)
            with tracer.span("plans.checkpoint.lineage"):
                self._write_lineage(spark, stage, key, params, partition_col)
            with tracer.span("plans.checkpoint.read"):
                return spark.read.parquet(path)

    return TracedStore(root)


class TrainingCurate:
    """Planted-event corpus → ``pipeline.training_data_pipeline`` into a
    cold store, then a timed resume after a kill after ``decode_verify``."""

    name = "training_curate"
    warm_passes = 1  # set-up starts with a reduced pass
    passes = 4  # wall_s is the median of at least four passes after it
    full = {"n_images": 400}
    reduced = {"n_images": 60}
    keep = {
        "raster.ops.decode": ("dims_ok", "phash_ok"),
        "operators.packing": ("bucket", "seq_idx", "seq_fill"),
    }

    def make_inputs(self, spark, seed: int, root: str, reduced: bool = False) -> dict:
        n = (self.reduced if reduced else self.full)["n_images"]
        path = os.path.join(root, "corpus")
        inputs.write_corpus(spark, seed, n, path)
        rows = spark.read.parquet(path).select(
            "image_id", "w", "h", "fmt", "caption", "phash", "bytes"
        ).collect()
        h = hashlib.sha256()
        for r in sorted(rows):
            h.update(repr(tuple(r)).encode())
        return {"corpus": path, "n": n, "base": inputs.corpus_base(seed), "seed": seed,
                "digest": h.hexdigest()}

    def expect(self, inp: dict) -> None:
        ids = range(inp["base"], inp["base"] + inp["n"])
        inp["expected"] = {
            "corrupt": {f"img{i:010d}" for i in ids if i % 17 == 16},
            # (dropped copy, its canonical original)
            "dups": [(f"img{i:010d}", f"img{i - 1:010d}") for i in ids
                     if i > inp["base"] and (i % 10 == 9 or i % 13 == 12)],
        }

    def patch(self, tracer) -> None:
        import osm_render_spark.operators.dedup as dedup

        tracer.patch(dedup, "hamming_near_dups", "operators.dedup.pairs")

    def _pipeline(self, spark, tracer, inp: dict, root: str) -> dict:
        from osm_render_spark.pipeline import training_data_pipeline
        from osm_render_spark.plans.checkpoint import CheckpointStore

        store = CheckpointStore(root) if isinstance(tracer, NullTracer) else traced_store(root, tracer)
        images = spark.read.parquet(inp["corpus"])
        params = {"corpus": "perfbench", "seed": inp["seed"], "n": inp["n"]}
        with tracer.span("pipeline"):
            return training_data_pipeline(spark, images, store, params, pack_budget=PACK_BUDGET)

    def run(self, spark, tracer, inp: dict, out_dir: str) -> dict:
        cold = self._pipeline(spark, tracer, inp, os.path.join(out_dir, "store"))
        return {"cold": cold, "out_dir": out_dir}

    def resume(self, spark, tracer, inp: dict, res: dict) -> tuple[float, dict]:
        """Untimed: restore a store holding only ``decode_verify`` and its
        lineage (a kill right after that stage). Timed: the rerun, which
        must read the decode and recompute dedup → pack."""
        src = os.path.join(res["out_dir"], "store")
        dst = os.path.join(res["out_dir"], "resumed")
        for part in ("decode_verify", os.path.join("_lineage", "decode_verify")):
            shutil.copytree(os.path.join(src, part), os.path.join(dst, part))
        t = time.perf_counter()
        out = self._pipeline(spark, tracer, inp, dst)
        return time.perf_counter() - t, out

    def check(self, spark, inp: dict, res: dict, tracer=None, digests=None) -> Checked:
        c = Checked()
        exp = inp["expected"]
        cold = res["cold"]
        feats = {r["image_id"]: r["dims_ok"] for r in cold["features"].select("image_id", "dims_ok").collect()}
        bad = {k for k, ok in feats.items() if not ok}
        c.op("decode_verify", len(feats) == inp["n"] and bad == exp["corrupt"],
             f"{len(feats)} rows, {len(bad)} dims-corrupt flagged, want {len(exp['corrupt'])}")
        kept = {r["image_id"] for r in cold["kept_ids"].collect()}
        curated = {r["image_id"]: r["n_tokens"] for r in cold["curated"].select("image_id", "n_tokens").collect()}
        survivors = [d for d, orig in exp["dups"] if orig in curated and d in kept]
        c.op("dedup", not survivors, f"planted duplicates survived: {survivors[:3]}")
        c.op("curate", not (exp["corrupt"] & set(curated)) and set(curated) <= kept
             and all(n >= 3 for n in curated.values()), "curated set breaks decode/dedup/token floor")
        splits = {r["image_id"]: r["split"] for r in cold["splits"].select("image_id", "split").collect()}
        c.op("split", set(splits) == set(curated) and set(splits.values()) <= {"train", "val", "test"},
             "split ids or tags wrong")
        packed = sorted(map(tuple, cold["packed"].collect()))
        c.op("pack", _pack_ok(cold["packed"], splits), "packed ids/fill/positions wrong")
        if "resumed" in res:
            again = sorted(map(tuple, res["resumed"]["packed"].collect()))
            c.op("resume", again == packed, "resumed pack differs from the cold pack")
        return c


def _pack_ok(packed_df, splits: dict) -> bool:
    rows = packed_df.select("image_id", "bucket", "seq_idx", "pos_in_seq", "seq_fill").collect()
    if {r["image_id"] for r in rows} != set(splits) or len(rows) != len(splits):
        return False
    seqs = defaultdict(list)
    for r in rows:
        if r["seq_fill"] > PACK_BUDGET or r["bucket"].split("/")[0] != splits[r["image_id"]]:
            return False
        seqs[(r["bucket"], r["seq_idx"])].append(r["pos_in_seq"])
    return all(sorted(p) == list(range(len(p))) for p in seqs.values())


WORKLOADS = {w.name: w for w in (Tiles(), TrainingCurate())}
