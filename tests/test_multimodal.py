"""Multimodal plumbing over opaque binary columns: the input_hint images
table and audio features."""

from __future__ import annotations

from osm_render_spark.fixtures.images import images_df
from osm_render_spark.raster.ops import (
    audio_features,
    decode_features,
    fake_audio_bytes,
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
