"""PBF source (SURVEY.md S1): wire codec round-trips, framed-blob scan,
header bbox probe, and end-to-end parity — ways_in_rect over tables read
from a generated .osm.pbf must equal ways_in_rect over the fixture
tables the file was written from."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest

from osm_render_spark.fixtures.osm import ALL_SCENES
from osm_render_spark.operators.ways_in_rect import ways_in_rect
from osm_render_spark.sources.pbf import (
    blob_index,
    decode_varints,
    header_bbox,
    iter_blobs,
    read_pbf,
    write_pbf,
    zigzag_decode,
    _encode_varint,
    _packed_zz,
)


def test_varint_vectorized_decode_roundtrip():
    vals = [0, 1, 127, 128, 300, 2**21, 2**35 + 17, 2**63, 2**64 - 1]
    buf = np.frombuffer(b"".join(_encode_varint(v) for v in vals), np.uint8)
    got = decode_varints(buf)
    assert [int(g) for g in got] == [v % (1 << 64) for v in vals]


def test_zigzag_delta_roundtrip():
    vals = np.array([0, -1, 1, -2**40, 2**40, 7, -7], dtype=np.int64)
    buf = np.frombuffer(_packed_zz(np.diff(vals, prepend=0)), np.uint8)
    got = np.cumsum(zigzag_decode(decode_varints(buf)))
    assert (got == vals).all()


def _scene_pbf(scene, tmpdir, block_size=8):
    path = os.path.join(tmpdir, f"{scene.name}.osm.pbf")
    write_pbf(
        path,
        [(i, la, lo, t) for i, la, lo, t, _b in scene.nodes],
        scene.ways,
        scene.relations,
        bbox=scene.bbox,
        block_size=block_size,  # small → several OSMData blobs per entity
    )
    return path


def test_blob_framing_and_header_bbox():
    scene = ALL_SCENES["relations"]()
    with tempfile.TemporaryDirectory() as d:
        path = _scene_pbf(scene, d)
        data = open(path, "rb").read()
        idx = blob_index(data)
        assert idx[0][2] == "OSMHeader"
        assert sum(1 for _o, _l, t in idx if t == "OSMData") >= 3
        # index offsets/lengths tile the file exactly
        pos = 0
        for off, length, _t in idx:
            assert off == pos
            pos += length
        assert pos == len(data)
        bb = header_bbox(data)
        assert bb == pytest.approx(scene.bbox, abs=1e-9)
        # every blob inflates
        assert sum(1 for _t, _raw in iter_blobs(data)) == len(idx)


@pytest.mark.parametrize("name", ["minimal", "relations", "coast"])
def test_pbf_roundtrip_entities(spark, name):
    scene = ALL_SCENES[name]()
    with tempfile.TemporaryDirectory() as d:
        nodes, ways, rels = read_pbf(spark, _scene_pbf(scene, d))
        got_nodes = {
            (r["id"], r["lat"], r["lon"], tuple(sorted(r["tags"].items())))
            for r in nodes.collect()
        }
        want_nodes = {
            (i, la, lo, tuple(sorted(t.items()))) for i, la, lo, t, _b in scene.nodes
        }
        assert got_nodes == want_nodes  # exact doubles: nanodegree ints, gran 1
        got_ways = {
            (r["id"], tuple(r["refs"]), tuple(sorted(r["tags"].items())))
            for r in ways.collect()
        }
        want_ways = {
            (i, tuple(refs), tuple(sorted(t.items()))) for i, refs, t in scene.ways
        }
        assert got_ways == want_ways
        got_rels = {
            (
                r["id"],
                tuple((m["type"], m["ref"], m["role"]) for m in r["members"]),
                tuple(sorted(r["tags"].items())),
            )
            for r in rels.collect()
        }
        want_rels = {
            (
                i,
                tuple(
                    (m["type"], m["ref"], m.get("role") or "") for m in members
                ),
                tuple(sorted(t.items())),
            )
            for i, members, t in scene.relations
        }
        assert got_rels == want_rels


def test_plain_node_variant_decodes_identically(spark):
    """Real-world files use either DenseNodes or plain Node messages —
    both must decode to the same rows."""
    scene = ALL_SCENES["minimal"]()
    nodes = [(i, la, lo, t) for i, la, lo, t, _b in scene.nodes]
    with tempfile.TemporaryDirectory() as d:
        pd_ = os.path.join(d, "dense.osm.pbf")
        pp = os.path.join(d, "plain.osm.pbf")
        write_pbf(pd_, nodes, scene.ways, [], block_size=8, dense=True)
        write_pbf(pp, nodes, scene.ways, [], block_size=8, dense=False)
        nd, _w1, _r1 = read_pbf(spark, pd_)
        np_, _w2, _r2 = read_pbf(spark, pp)
        canon = lambda df: {
            (r["id"], r["lat"], r["lon"], tuple(sorted(r["tags"].items())))
            for r in df.collect()
        }
        assert canon(nd) == canon(np_) and len(nodes) == len(canon(nd))


def _entity_sets(nodes, ways, rels):
    n = {
        (r["id"], r["lat"], r["lon"], tuple(sorted(r["tags"].items())), r["block_id"])
        for r in nodes.collect()
    }
    w = {
        (r["id"], tuple(r["refs"]), tuple(sorted(r["tags"].items())))
        for r in ways.collect()
    }
    rl = {
        (
            r["id"],
            tuple((m["type"], m["ref"], m["role"]) for m in r["members"]),
            tuple(sorted(r["tags"].items())),
        )
        for r in rels.collect()
    }
    return n, w, rl


def test_read_pbf_index_path_equals_legacy_and_never_ships_file_bytes(spark):
    """VERDICT r2 #1 (the last scale-killer): the default range-read path
    must (a) produce DataFrames identical to the legacy whole-file path,
    and (b) never put file CONTENT into a Spark row — the binaryFile scan
    reads only `path` metadata and the shuffled index rows are 4-column
    pointers (no binary column anywhere before the decode kernel), so a
    task's peak buffer is one compressed blob regardless of file size."""
    scene = ALL_SCENES["relations"]()
    with tempfile.TemporaryDirectory() as d:
        path = _scene_pbf(scene, d)  # block_size=8 → many blobs
        got = _entity_sets(*read_pbf(spark, path, use_index=True))
        want = _entity_sets(*read_pbf(spark, path, use_index=False))
        assert got == want
        nodes, _w, _r = read_pbf(spark, path, use_index=True)
        plan = nodes._sc._jvm.PythonSQLUtils.explainString(
            nodes._jdf.queryExecution(), "formatted"
        )
        # (b): the file scan's ReadSchema carries only path — content is
        # pruned — and no blob-bytes column (the legacy path's `raw` /
        # binaryFile's `content`) exists anywhere in the plan: the only
        # thing shuffled is the 4-column pointer index
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "path" in read_schema and "content" not in read_schema
        assert "raw#" not in plan and "content#" not in plan
        assert "offset#" in plan and "length#" in plan


def test_resync_finds_every_boundary_from_any_start():
    """Split resynchronization (the parallel planet-index path): from ANY
    byte offset, resync_blob_boundary must land on exactly the next true
    blob boundary — including offsets inside compressed payloads, which
    may contain signature-like byte runs."""
    import io

    from osm_render_spark.sources.pbf import resync_blob_boundary

    scene = ALL_SCENES["coast"]()
    with tempfile.TemporaryDirectory() as d:
        data = open(_scene_pbf(scene, d, block_size=16), "rb").read()
    bounds = [off for off, _ln, _t in blob_index(data)] + [len(data)]
    f = io.BytesIO(data)
    for start in range(0, len(data), 97):  # every 97th offset
        want = min(b for b in bounds if b >= start)
        got = resync_blob_boundary(f, start, len(data))
        want_final = None if want == len(data) else want
        assert got == want_final, f"start={start}: got {got}, want {want_final}"


def test_read_pbf_split_index_equals_unsplit_and_legacy(spark):
    """Byte-range-split indexing (many tiny splits forcing real resyncs)
    must produce DataFrames identical to the unsplit index walk and the
    legacy whole-file path."""
    scene = ALL_SCENES["relations"]()
    with tempfile.TemporaryDirectory() as d:
        path = _scene_pbf(scene, d)  # block_size=8 → many small blobs
        split = _entity_sets(*read_pbf(spark, path, split_bytes=512))
        unsplit = _entity_sets(*read_pbf(spark, path, split_bytes=None))
        legacy = _entity_sets(*read_pbf(spark, path, use_index=False))
        assert split == unsplit == legacy


def test_split_index_tiling_check_catches_corruption(spark):
    """The lazy full-file tiling check: corrupt a mid-file blob length so
    the index cannot tile [0, file_size) and the decode must fail loudly
    (never silently drop or duplicate blobs)."""
    import struct as _struct

    scene = ALL_SCENES["minimal"]()
    with tempfile.TemporaryDirectory() as d:
        path = _scene_pbf(scene, d)
        data = bytearray(open(path, "rb").read())
        # blow up the datasize of a middle blob by rewriting its 4-byte
        # BE BlobHeader length prefix to an absurd value
        idx = blob_index(bytes(data))
        off = idx[len(idx) // 2][0]
        _struct.pack_into(">I", data, off, 0xFFFF)
        bad = os.path.join(d, "bad.osm.pbf")
        open(bad, "wb").write(bytes(data))
        nodes, _w, _r = read_pbf(spark, bad, split_bytes=256)
        with pytest.raises(Exception, match="tiling|resynchron"):
            nodes.count()


def test_unindexable_file_in_directory_fails_loudly(spark):
    """Review finding: a file that contributes ZERO index rows (garbage
    from byte 0, nothing resyncable) is invisible to the row-wise tiling
    checks — the guard must count listed-but-unindexed files so a mixed
    directory read fails instead of silently dropping the bad file."""
    scene = ALL_SCENES["minimal"]()
    with tempfile.TemporaryDirectory() as d:
        _scene_pbf(scene, d)  # a good file
        with open(os.path.join(d, "garbage.osm.pbf"), "wb") as f:
            f.write(b"\x07" * 4096)  # no valid framing anywhere
        nodes, _w, _r = read_pbf(spark, d)
        with pytest.raises(Exception, match="unindexable|tiling"):
            nodes.count()

    # ZERO-byte files never reach either path: Spark's binaryFile source
    # itself omits them from the listing (verified — not our filter), so
    # the behavior is identical for index and legacy modes and no blob
    # data can be lost (an empty file frames nothing). Pin that both
    # paths agree and succeed.
    with tempfile.TemporaryDirectory() as d:
        path = _scene_pbf(scene, d)
        open(os.path.join(d, "empty.osm.pbf"), "wb").close()
        assert _entity_sets(*read_pbf(spark, d)) == _entity_sets(
            *read_pbf(spark, d, use_index=False)
        )


def test_blob_index_raises_on_corrupt_framing():
    """Direct blob_index callers get a loud error on corrupt framing —
    the walker stops silently (read_pbf's tiling check owns the
    distributed case) so the helper validates coverage itself."""
    import struct as _struct

    scene = ALL_SCENES["minimal"]()
    with tempfile.TemporaryDirectory() as d:
        data = bytearray(open(_scene_pbf(scene, d), "rb").read())
    idx = blob_index(bytes(data))
    _struct.pack_into(">I", data, idx[len(idx) // 2][0], 0xFFFF)
    with pytest.raises(ValueError, match="corrupt blob framing"):
        blob_index(bytes(data))


def test_scan_blob_index_stream_reads_headers_only():
    """The index scan must touch only framing headers: total bytes READ
    (vs seeked past) stay a tiny fraction of the file."""
    import io

    from osm_render_spark.sources.pbf import scan_blob_index_stream

    scene = ALL_SCENES["coast"]()
    with tempfile.TemporaryDirectory() as d:
        data = open(_scene_pbf(scene, d, block_size=16), "rb").read()

        class CountingIO(io.BytesIO):
            read_bytes = 0

            def read(self, n=-1):
                b = super().read(n)
                CountingIO.read_bytes += len(b)
                return b

        f = CountingIO(data)
        idx = list(scan_blob_index_stream(f))
        assert idx == blob_index(data)
        assert CountingIO.read_bytes < len(data) * 0.2
        assert CountingIO.read_bytes < 64 * len(idx)


@pytest.mark.parametrize("codec", ["lzma", "bzip2", "raw", "lz4", "zstd"])
def test_blob_codec_roundtrip(spark, codec):
    """VERDICT r2 #9: lzma/bzip2 (python stdlib) and raw blobs decode;
    each codec round-trips to the same entities as the zlib default."""
    scene = ALL_SCENES["minimal"]()
    with tempfile.TemporaryDirectory() as d:
        pz = os.path.join(d, "z.osm.pbf")
        pc = os.path.join(d, "c.osm.pbf")
        args = (
            [(i, la, lo, t) for i, la, lo, t, _b in scene.nodes],
            scene.ways,
            scene.relations,
        )
        write_pbf(pz, *args, bbox=scene.bbox, block_size=8)
        write_pbf(pc, *args, bbox=scene.bbox, block_size=8, codec=codec)
        assert header_bbox(open(pc, "rb").read()) == pytest.approx(
            scene.bbox, abs=1e-9
        )
        assert _entity_sets(*read_pbf(spark, pc)) == _entity_sets(
            *read_pbf(spark, pz)
        )


def test_unsupported_blob_codec_raises_clearly():
    from osm_render_spark.sources.pbf import (
        _len_field,
        _varint_field,
        _inflate_blob,
    )

    # a Blob with raw_size but NO recognized payload field at all
    payload = _varint_field(2, 5) + _len_field(9, b"mystery")
    with pytest.raises(NotImplementedError, match="zlib"):
        _inflate_blob(payload)


def test_zstd_blob_decodes_via_from_scratch_decoder():
    """fileformat.proto field 7: a zstd blob (compressed by the system
    libzstd) decodes through sources/zstd.py with the raw_size contract
    enforced."""
    import subprocess

    from osm_render_spark.sources.pbf import (
        _len_field,
        _varint_field,
        _inflate_blob,
    )

    raw = b"OSMData payload " * 100
    comp = subprocess.run(
        ["zstd", "-c", "-19"], input=raw, capture_output=True, check=True
    ).stdout
    payload = _varint_field(2, len(raw)) + _len_field(7, comp)
    assert _inflate_blob(payload) == raw
    bad = _varint_field(2, len(raw) + 1) + _len_field(7, comp)
    with pytest.raises(ValueError, match="size"):
        _inflate_blob(bad)


def test_read_pbf_directory_of_files(spark):
    """read_pbf over a directory: every file's blobs decode (binaryFile
    glob — the multi-extract ingest shape)."""
    s1, s2 = ALL_SCENES["minimal"](), ALL_SCENES["coast"]()
    with tempfile.TemporaryDirectory() as d:
        _scene_pbf(s1, d)
        _scene_pbf(s2, d)
        nodes, ways, _rels = read_pbf(spark, d)
        assert nodes.count() == len(s1.nodes) + len(s2.nodes)
        assert ways.count() == len(s1.ways) + len(s2.ways)


def _write_nodes_pbf(path, n):
    write_pbf(path, [(i, 0.001 * i, 0.002 * i, {}) for i in range(1, n + 1)],
              [], [], block_size=50)


@pytest.mark.parametrize("first,second", [(100, 300), (300, 100)])
def test_read_pbf_after_rewrite_sees_new_file(spark, tmp_path, first, second):
    """A read persists its blob index; a later read of the same path must
    never be served that index after the file was rewritten. Growing the
    file used to return the old node count silently; shrinking it made
    the decode read past the new file's end."""
    path = str(tmp_path / "rewritten.osm.pbf")
    _write_nodes_pbf(path, first)
    nodes, _w, _r = read_pbf(spark, path)
    assert nodes.count() == first
    _write_nodes_pbf(path, second)
    nodes, _w, _r = read_pbf(spark, path)
    assert nodes.count() == second
    assert {r["id"] for r in nodes.collect()} == set(range(1, second + 1))


def test_ways_in_rect_over_pbf_matches_fixture_tables(spark):
    """The S1 acceptance check from VERDICT r1 #4: the spatial join over
    PBF-read tables equals the join over the fixture tables byte-for-byte
    (way ids, assembled geometry, merged tags)."""
    scene = ALL_SCENES["relations"]()
    fn, fw, fr = scene.to_spark(spark)
    want = ways_in_rect(fn, fw, fr, scene.bbox).collect()
    with tempfile.TemporaryDirectory() as d:
        pn, pw, pr = read_pbf(spark, _scene_pbf(scene, d))
        got = ways_in_rect(pn, pw, pr, scene.bbox).collect()

    def canon(rows):
        return {
            (
                r["way_id"],
                tuple((p["lon"], p["lat"]) for p in r["geometry"]),
                tuple(sorted(r["tags"].items())),
            )
            for r in rows
        }

    assert canon(got) == canon(want)
    assert len(want) > 0


from hypothesis import example, given, settings
from hypothesis import strategies as st


@given(vals=st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=60))
@settings(max_examples=150, deadline=None)
def test_varint_roundtrip_property(vals):
    buf = np.frombuffer(b"".join(_encode_varint(v) for v in vals), np.uint8)
    assert [int(g) for g in decode_varints(buf)] == vals


@given(vals=st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=80))
@settings(max_examples=150, deadline=None)
@example(vals=[0, 1, 127, 128, 2**63, 2**64 - 1])
def test_encode_varints_roundtrip_property(vals):
    """The vectorized ENCODER agrees with the per-int python encoder and
    round-trips through decode_varints over the full uint64 range."""
    from osm_render_spark.sources.pbf import encode_varints

    arr = np.array(vals, dtype=np.uint64)
    buf = encode_varints(arr)
    assert buf == b"".join(_encode_varint(int(v)) for v in vals)
    assert decode_varints(np.frombuffer(buf, np.uint8)).tolist() == vals


def test_write_dense_pbf_roundtrips_through_read_pbf(spark, tmp_path):
    """The columnar bulk writer produces files the reader decodes back to
    the exact input arrays (ids/coords integer-nanodegree exact)."""
    from osm_render_spark.sources.pbf import write_dense_pbf

    rng = np.random.default_rng(3)
    n = 5000
    ids = np.cumsum(rng.integers(1, 5, n)).astype(np.int64)
    lat = rng.integers(-85_000_000_000, 85_000_000_000, n)
    lon = rng.integers(-180_000_000_000, 180_000_000_000, n)
    path = str(tmp_path / "dense.osm.pbf")
    write_dense_pbf(path, ids, lat, lon, block_size=700, bbox=(-85, -180, 85, 180))
    assert header_bbox(open(path, "rb").read()) == pytest.approx(
        (-85, -180, 85, 180), abs=1e-9
    )
    nodes, _w, _r = read_pbf(spark, path)
    got = {
        r["id"]: (r["lat"], r["lon"], dict(r["tags"]))
        for r in nodes.collect()
    }
    assert len(got) == n
    for i in range(0, n, 617):
        assert got[int(ids[i])] == (
            pytest.approx(lat[i] * 1e-9, abs=0),
            pytest.approx(lon[i] * 1e-9, abs=0),
            {},
        )


def test_batched_small_buffer_decode_matches_per_buffer():
    """The way-block batch decoders (one vectorized pass over all ways'
    concatenated packed fields) must equal the per-buffer decoders on
    mixed tiny buffers, including empties and int64-wrap deltas."""
    from osm_render_spark.sources.pbf import (
        batch_decode_varints,
        batch_zz_cumsum,
        zz_cumsum,
    )

    rng = np.random.default_rng(0)
    bufs_plain, bufs_zz = [], []
    for i in range(300):
        n = int(rng.integers(0, 12))
        vals = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
        bufs_plain.append(b"".join(_encode_varint(int(v)) for v in vals))
        sv = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
        if n:
            sv[0] = [-(2**62), 2**62][i % 2]  # wrap stress
        bufs_zz.append(_packed_zz(np.diff(sv, prepend=np.int64(0))) if n else b"")
    for g, b in zip(batch_decode_varints(bufs_plain), bufs_plain):
        want = decode_varints(np.frombuffer(b, np.uint8)) if b else []
        assert list(g) == list(want)
    for g, b in zip(batch_zz_cumsum(bufs_zz), bufs_zz):
        want = zz_cumsum(b) if b else []
        assert g.tolist() == list(want)


@given(vals=st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=60))
@settings(max_examples=150, deadline=None)
@example(vals=[-(2**62), 2**62])  # int64-wrap regression (hypothesis find)
def test_zz_cumsum_property(vals):
    from osm_render_spark.sources.pbf import zz_cumsum

    arr = np.array(vals, dtype=np.int64)
    buf = _packed_zz(np.diff(arr, prepend=np.int64(0)))
    got = zz_cumsum(buf)
    assert got.tolist() == vals
    # both code paths (python small-buffer fast path + vectorized) agree
    if len(buf):
        vec = np.cumsum(zigzag_decode(decode_varints(np.frombuffer(buf, np.uint8))))
        assert vec.tolist() == vals


def test_render_pbf_end_to_end(spark, tmp_path):
    """The reference-replacement flow: .osm.pbf in → z/x/y PNG tiles out,
    matching a render over the fixture tables of the same scene."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import functions as F

    from osm_render_spark.raster.codec import decode_png
    from tools.render_pbf import render_pbf

    scene = ALL_SCENES["bridges"]()
    path = _scene_pbf(scene, str(tmp_path))
    out = str(tmp_path / "tiles")
    summary = render_pbf(spark, path, scene.bbox, out, zoom=10, tile_px=64)
    assert summary["n_ways"] > 0 and summary["n_tiles"] > 0

    # every written tile decodes and the tile set matches a direct
    # render over the fixture tables
    from osm_render_spark.operators.ways_in_rect import ways_in_rect
    from osm_render_spark.raster.ops import render_slippy_tiles

    fn, fw, fr = scene.to_spark(spark)
    matched = ways_in_rect(fn, fw, fr, scene.bbox)
    from osm_render_spark.functions.predicates import classify_kinds

    sw = matched.select(
        "way_id", F.explode(classify_kinds(F.col("tags"))).alias("kind"), "geometry"
    )
    want = {
        (r["tile_x"], r["tile_y"]): bytes(r["bytes"])
        for r in render_slippy_tiles(sw, zoom=10, tile_px=64).collect()
    }
    import os as _os

    got = {}
    tree = _os.path.join(out, "z10")
    for xdir in _os.listdir(tree):
        for yf in _os.listdir(_os.path.join(tree, xdir)):
            img = open(_os.path.join(tree, xdir, yf), "rb").read()
            decode_png(img)  # valid PNG
            got[(int(xdir[1:]), int(yf[1:-4]))] = img
    assert got == want


def test_render_cities_one_decode_many_scenes(spark, tmp_path):
    """`make images` analog: two cities rendered from ONE extract in one
    call — each city's tree equals its standalone render_pbf output."""
    from tools.render_pbf import render_cities, render_pbf

    s1, s2 = ALL_SCENES["bridges"](), ALL_SCENES["minimal"]()
    # one combined extract holding both scenes' entities. Scene fixtures
    # each allocate node ids from 1000, so the second scene's ids (and
    # its ways' refs) must be OFFSET — colliding ids would be collapsed
    # by dedupe_nodes and neither city would be rendered from its own
    # geometry
    off = 1_000_000
    s2_nodes = [(i + off, la, lo, t) for i, la, lo, t, _b in s2.nodes]
    s2_ways = [
        (wid + off, [r + off for r in refs], t) for wid, refs, t in s2.ways
    ]
    path = os.path.join(str(tmp_path), "both.osm.pbf")
    write_pbf(
        path,
        [(i, la, lo, t) for i, la, lo, t, _b in s1.nodes] + s2_nodes,
        s1.ways + s2_ways,
        s1.relations,
        block_size=16,
    )
    out = str(tmp_path / "cities")
    la0, lo0, la1, lo1 = s2.bbox
    cities = [
        {"name": "bridgetown", "bbox": list(s1.bbox)},
        {"name": "minimalia", "bbox": list(s2.bbox)},
        # P11: inverted corners must normalize, not silently match nothing
        {"name": "swapped", "bbox": [la1, lo1, la0, lo0]},
    ]
    summaries = render_cities(spark, path, cities, out, zoom=10, tile_px=64)
    assert [s["name"] for s in summaries] == ["bridgetown", "minimalia", "swapped"]
    assert all(s["n_ways"] > 0 and s["n_tiles"] > 0 for s in summaries)
    assert summaries[2]["n_tiles"] == summaries[1]["n_tiles"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        render_cities(spark, path, [{"name": "a", "bbox": [0, 0, 1, 1]}] * 2, out)
    with _pytest.raises(ValueError):
        render_cities(spark, path, [{"name": "../esc", "bbox": [0, 0, 1, 1]}], out)

    def tree_bytes(root, zoom=10):
        got = {}
        tz = os.path.join(root, f"z{zoom}")
        for xdir in os.listdir(tz):
            for yf in os.listdir(os.path.join(tz, xdir)):
                got[(xdir, yf)] = open(os.path.join(tz, xdir, yf), "rb").read()
        return got

    for scene, name in ((s1, "bridgetown"), (s2, "minimalia")):
        solo = str(tmp_path / f"solo_{name}")
        render_pbf(spark, path, scene.bbox, solo, zoom=10, tile_px=64)
        assert tree_bytes(os.path.join(out, name)) == tree_bytes(solo)
