"""Multimodal plumbing over opaque binary columns: the input_hint images
table, video frame sampling (stubbed decode), audio features."""

from __future__ import annotations

import pytest

from osm_render_spark.fixtures.images import images_df
from osm_render_spark.raster.ops import (
    audio_features,
    decode_features,
    fake_audio_bytes,
    fake_video_bytes,
    resize_images,
    sample_video_frames,
)


def test_images_table_shape_and_decode(spark):
    imgs = images_df(spark, 40)
    assert imgs.schema.simpleString() == (
        "struct<image_id:string,bytes:binary,w:int,h:int,fmt:string,"
        "caption:string,phash:bigint,lon:double,lat:double>"
    )
    feats = decode_features(imgs).collect()
    assert len(feats) == 40
    for r in feats:
        assert r["dims_ok"], r["image_id"]
        if r["fmt"] == "png":
            assert r["phash_ok"], r["image_id"]  # png rows round-trip exactly


def test_resize_block_mean(spark):
    imgs = images_df(spark, 6)
    thumbs = resize_images(imgs, 16, 16).collect()
    from osm_render_spark.raster.codec import decode_png

    fmts = {r["image_id"]: r["fmt"] for r in imgs.select("image_id", "fmt").collect()}
    for t in thumbs:
        img = decode_png(t["bytes"])
        # real JPEG decodes to 3 channels (no alpha); PNG keeps RGBA
        want_c = 4 if fmts[t["image_id"]] == "png" else 3
        assert img.shape == (16, 16, want_c)


def test_video_frame_sampling(spark):
    vids = spark.createDataFrame(
        [(f"v{i}", bytearray(fake_video_bytes(i, 12))) for i in range(3)],
        "video_id string, bytes binary",
    )
    frames = sample_video_frames(vids, every_n=4).collect()
    # 12 frames sampled every 4 → indices 0,4,8 per video
    per_vid = {}
    for r in frames:
        per_vid.setdefault(r["video_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 4, 8] for v in per_vid.values())


def test_video_decode_stub_raises_on_real_blobs(spark):
    vids = spark.createDataFrame(
        [("vX", bytearray(b"\x00\x00\x01\xba fake mpeg"))], "video_id string, bytes binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        sample_video_frames(vids, 2).collect()


def test_audio_features(spark):
    auds = spark.createDataFrame(
        [(i, bytearray(fake_audio_bytes(i))) for i in range(4)],
        "audio_id long, bytes binary",
    )
    rows = {r["audio_id"]: r for r in audio_features(auds).collect()}
    assert len(rows) == 4
    for aid, r in rows.items():
        assert r["n_frames"] == 20 and r["rate"] == 8000
        # sin mix: rms ≈ sqrt(0.6²/2 + 0.3²/2) ≈ 0.474
        assert 0.3 < r["rms"] < 0.6
        assert 0.6 < r["peak"] <= 1.0  # two-sine peak depends on phase alignment
        assert 0.0 < r["zcr"] < 0.5
    # different ids → different spectra → different features
    assert rows[0]["zcr"] != rows[1]["zcr"]


def test_wav_pcm_real_decode_end_to_end(spark):
    """REAL audio container path (no codec lib needed): a spec-valid PCM
    WAV round-trips through encode_wav -> audio_features, and the
    features match the same math over the raw samples."""
    import numpy as np

    from osm_render_spark.raster.containers import decode_wav, encode_wav
    from osm_render_spark.raster.ops import audio_features

    t = np.arange(8000) / 8000.0
    pcm = np.floor(0.5 * np.sin(2 * np.pi * 440 * t) * 32767 + 0.5).astype(np.int16)
    wav = encode_wav(pcm, 8000)
    x, rate = decode_wav(wav)
    assert rate == 8000 and np.allclose(x, pcm / 32767.0)
    auds = spark.createDataFrame(
        [(7, bytearray(wav))], "audio_id long, bytes binary"
    )
    r = audio_features(auds, frame=400).collect()[0]
    assert r["rate"] == 8000 and r["n_frames"] == 20
    # 0.5-amplitude sine: rms = 0.5/sqrt(2) ≈ 0.3536
    assert abs(r["rms"] - 0.5 / 2**0.5) < 0.01
    assert abs(r["peak"] - 0.5) < 0.01
    # 440 Hz at 8 kHz: 2 crossings per cycle -> zcr ≈ 880/8000 = 0.11
    assert abs(r["zcr"] - 0.11) < 0.01


def test_avi_uncompressed_real_decode_end_to_end(spark):
    """REAL video container path: an uncompressed BI_RGB AVI written by
    encode_avi decodes through sample_video_frames to pixel-exact PNG
    frames; a compressed fourcc raises naming the codec."""
    import struct

    import numpy as np

    from osm_render_spark.raster.codec import decode_png
    from osm_render_spark.raster.containers import encode_avi
    from osm_render_spark.raster.ops import sample_video_frames

    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 255, (16, 20, 4), dtype=np.uint8) for _ in range(6)]
    for f in frames:
        f[:, :, 3] = 255
    avi = encode_avi(frames, fps=5)
    vids = spark.createDataFrame(
        [("vA", bytearray(avi))], "video_id string, bytes binary"
    )
    got = {r["frame_idx"]: bytes(r["png"]) for r in sample_video_frames(vids, 2).collect()}
    assert sorted(got) == [0, 2, 4]
    for k, png in got.items():
        img = decode_png(png)
        assert (img[:, :, :3] == frames[k][:, :, :3]).all()
        assert (img[:, :, 3] == 255).all()

    # a fourcc the engine genuinely can't decode (MJPG now CAN decode —
    # raster/jpeg.py) must still raise naming the codec
    bad = bytearray(avi)
    i = bad.find(b"strf")
    struct.pack_into("<I", bad, i + 8 + 16, int.from_bytes(b"XVID", "little"))
    vids_bad = spark.createDataFrame(
        [("vB", bytearray(bytes(bad)))], "video_id string, bytes binary"
    )
    with pytest.raises(Exception, match="XVID|codec"):
        sample_video_frames(vids_bad, 2).collect()


def test_avi_top_down_rows_decode_unmirrored():
    """Review finding: negative biHeight means TOP-DOWN rows (the other
    legal DIB order) — both row orders must decode to identical,
    unmirrored frames."""
    import numpy as np

    from osm_render_spark.raster.containers import decode_avi_frames, encode_avi

    rng = np.random.default_rng(9)
    frames = [rng.integers(0, 255, (11, 13, 4), dtype=np.uint8) for _ in range(3)]
    for f in frames:
        f[:, :, 3] = 255
    up = decode_avi_frames(encode_avi(frames, top_down=False))
    down = decode_avi_frames(encode_avi(frames, top_down=True))
    for a, b, want in zip(up, down, frames):
        assert (a == b).all()
        assert (a[:, :, :3] == want[:, :, :3]).all()


def test_avi_audio_strl_before_video_decodes():
    """An AVI whose audio strl precedes the video strl is legal stream
    order; the reader must match strf chunks to the preceding strh's
    fccType, not grab the first strf in the file (which would parse
    WAVEFORMATEX bytes as a BITMAPINFOHEADER)."""
    import struct

    import numpy as np

    from osm_render_spark.raster.containers import decode_avi_frames, encode_avi

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 255, (7, 9, 4), dtype=np.uint8) for _ in range(2)]
    for f in frames:
        f[:, :, 3] = 255
    avi = bytearray(encode_avi(frames, fps=5))

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b""
        )

    # audio strl: strh(fccType='auds') + strf(WAVEFORMATEX 18 bytes whose
    # leading fields would read as nonsense width/height if misparsed)
    auds_strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"auds", b"\x00" * 4, 0, 0, 0, 0, 1, 8000, 0, 8000, 1, 0, 0, 0, 0, 0, 0,
    )
    wavefmt = struct.pack("<HHIIHHH", 1, 1, 8000, 16000, 2, 16, 0)
    audio_strl = chunk(b"LIST", b"strl" + chunk(b"strh", auds_strh) + chunk(b"strf", wavefmt))

    # splice the audio strl in as the FIRST child of hdrl, after avih
    hdrl_pos = avi.find(b"hdrl")
    assert hdrl_pos > 0
    avih_size = struct.unpack("<I", avi[hdrl_pos + 8 : hdrl_pos + 12])[0]
    insert_at = hdrl_pos + 4 + 8 + avih_size  # after the avih chunk
    avi[insert_at:insert_at] = audio_strl
    # fix up the two enclosing sizes: hdrl LIST and the RIFF header
    hdrl_size_pos = hdrl_pos - 4
    old_hdrl = struct.unpack("<I", avi[hdrl_size_pos : hdrl_size_pos + 4])[0]
    avi[hdrl_size_pos : hdrl_size_pos + 4] = struct.pack("<I", old_hdrl + len(audio_strl))
    old_riff = struct.unpack("<I", avi[4:8])[0]
    avi[4:8] = struct.pack("<I", old_riff + len(audio_strl))

    decoded = decode_avi_frames(bytes(avi))
    assert len(decoded) == 2
    for got, want in zip(decoded, frames):
        assert (got[:, :, :3] == want[:, :, :3]).all()
