"""GIF codec: a hand-assembled stream decoded against a hand-worked
LZW trace (decoder validated independently of the encoder), lossless
round-trips across palettes/interlace/animation, LZW fuzz incl. the
4096-table overflow, KwKwK, and loud-error cases."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_render_spark.raster import lzw
from osm_render_spark.raster.codec import decode_image, encode_image
from osm_render_spark.raster.geotiff import _LZW as TIFF_LZW
from osm_render_spark.raster.gif import _LZW as GIF_LZW
from osm_render_spark.raster.gif import decode_gif, encode_gif


def _rng(seed=0):
    return np.random.RandomState(seed)


# --- hand-worked LZW ----------------------------------------------------
#
# Pixels [1,1,0,0,1,1], min_code_size 2 (clear=4, eoi=5).  Tracing the
# published algorithm by hand: emit 4(clear); (1,1) miss -> emit 1,
# table[6]=(1,1); (1,0) miss -> emit 1, table[7]; (0,0) miss -> emit 0,
# table[8] and the PRE-increment count 8 == 1<<3 grows the width to 4;
# (0,1) miss -> emit 0 at width 4, table[9]; (1,1) HIT -> prev=6;
# end -> emit 6, emit 5(eoi), both width 4.
# LSB-first packing of [4w3, 1w3, 1w3, 0w3, 0w4, 6w4, 5w4]:
#   byte0 = 100|001|00_1 low bits -> 0b01001100 = 0x4C
#   byte1 = remaining 0-bits      -> 0x00
#   byte2 = 6 in the low nibble, 5 in the high -> 0x56
HAND_LZW = bytes([0x4C, 0x00, 0x56])
HAND_PIXELS = np.array([1, 1, 0, 0, 1, 1], np.uint8)


def test_hand_worked_lzw_decodes():
    assert lzw.decode(HAND_LZW, 6, 2, **GIF_LZW) == HAND_PIXELS.tobytes()


def test_encoder_reproduces_hand_worked_bytes():
    # pins the encoder to the exact conventions the trace was worked
    # with (clear up front, late width change, EOI terminator)
    assert lzw.encode(HAND_PIXELS.tobytes(), 2, **GIF_LZW) == HAND_LZW


def test_hand_assembled_gif_container():
    # full GIF assembled with raw struct calls around the hand-worked
    # LZW stream: 3x2 screen, 4-entry GCT (black, white, red, unused)
    gct = bytes([0, 0, 0, 255, 255, 255, 200, 10, 10, 0, 0, 0])
    buf = b"GIF89a" + struct.pack("<HHBBB", 3, 2, 0x81, 0, 0) + gct
    buf += struct.pack("<BHHHHB", 0x2C, 0, 0, 3, 2, 0)
    buf += bytes([2])                       # LZW min code size
    buf += bytes([len(HAND_LZW)]) + HAND_LZW + b"\x00"
    buf += b"\x3b"
    frames = decode_gif(buf)
    assert len(frames) == 1
    img = frames[0][0]
    expect = np.array(
        [[[255, 255, 255], [255, 255, 255], [0, 0, 0]],
         [[0, 0, 0], [255, 255, 255], [255, 255, 255]]], np.uint8
    )
    assert (img[:, :, :3] == expect).all()
    assert (img[:, :, 3] == 255).all()


def test_kwkwk_case():
    # the classic cScSc pattern forces a reference to a not-yet-defined
    # code (code == next_code): [0,0,0,0,0] emits 0, then 6 (=(0,0))
    # twice-ish — round-trip proves both sides handle it
    seq = np.zeros(64, np.uint8)
    enc = lzw.encode(seq.tobytes(), 2, **GIF_LZW)
    assert lzw.decode(enc, 64, 2, **GIF_LZW) == seq.tobytes()


def test_roundtrips():
    rng = _rng(1)
    pal = rng.randint(0, 256, (37, 3), np.uint8)
    idx = rng.randint(0, 37, (45, 61))
    img = pal[idx]
    for interlace in (False, True):
        out = decode_gif(encode_gif(img, interlace=interlace))[0][0]
        assert (out[:, :, :3] == img).all() and (out[:, :, 3] == 255).all()
    # 2-color (1-bit table) and full 256-color (overflow-clear stress)
    bw = (idx % 2 * 255).astype(np.uint8)[:, :, None].repeat(3, 2)
    assert (decode_gif(encode_gif(bw))[0][0][:, :, :3] == bw).all()
    pal256 = np.array([[i, (i * 7) % 256, (i * 13) % 256]
                       for i in range(256)], np.uint8)
    big = pal256[rng.randint(0, 256, (120, 200))]
    assert (decode_gif(encode_gif(big))[0][0][:, :, :3] == big).all()


def test_animation_and_transparency():
    rng = _rng(2)
    pal = rng.randint(1, 255, (16, 3), np.uint8)
    f1, f2 = pal[rng.randint(0, 16, (20, 20))], pal[rng.randint(0, 16, (20, 20))]
    fr = decode_gif(encode_gif([f1, f2], delays=[5, 12]))
    assert [d for _, d in fr] == [5, 12]
    assert (fr[0][0][:, :, :3] == f1).all() and (fr[1][0][:, :, :3] == f2).all()
    # transparent color: those pixels keep alpha 0 on the first frame
    tc = tuple(int(c) for c in pal[0])
    fr = decode_gif(encode_gif([f1], transparent_color=tc))
    mask = (f1 == pal[0]).all(axis=2)
    assert (fr[0][0][mask, 3] == 0).all()
    assert (fr[0][0][~mask, 3] == 255).all()


def test_loud_errors():
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF" + b"\x00" * 20)
    with pytest.raises(ValueError, match="256 distinct"):
        encode_gif(_rng(3).randint(0, 256, (64, 64, 3), np.uint8))
    # truncated LZW stream must not return short data silently
    good = lzw.encode((np.arange(16, dtype=np.uint8) % 4).tobytes(), 2, **GIF_LZW)
    with pytest.raises(ValueError):
        lzw.decode(good[:1], 16, 2, **GIF_LZW)
    # out-of-range code
    with pytest.raises(ValueError):
        lzw.decode(bytes([0xFF, 0xFF, 0xFF]), 16, 2, **GIF_LZW)
    # frame exceeding the logical screen
    gct = bytes(6)
    buf = b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x80, 0, 0) + gct
    buf += struct.pack("<BHHHHB", 0x2C, 1, 1, 2, 2, 0) + bytes([2, 0]) + b"\x3b"
    with pytest.raises(ValueError, match="logical screen"):
        decode_gif(buf)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(0, 255), min_size=1, max_size=1500),
    st.integers(2, 8),
)
def test_lzw_fuzz(vals, mcs):
    seq = (np.array(vals, np.int64) % (1 << mcs)).astype(np.uint8).tobytes()
    # both formats through the one core; TIFF's min code size is fixed
    for fmt, size in ((GIF_LZW, mcs), (TIFF_LZW, 8)):
        enc = lzw.encode(seq, size, **fmt)
        assert lzw.decode(enc, len(seq), size, **fmt) == seq


def test_codec_dispatch():
    rng = _rng(4)
    pal = rng.randint(0, 256, (12, 3), np.uint8)
    img = pal[rng.randint(0, 12, (24, 24))]
    data = encode_image(img, "gif")
    assert data[:6] == b"GIF89a"
    assert (decode_image(data, "gif") == img).all()


def test_disposal_restore_to_previous():
    # GIF89a 23.c.iv: disposal 3 restores the canvas to its state
    # BEFORE the frame that carries the flag — hand-assembled because
    # our encoder only emits disposal 1. Frame 2 (disposal 3) paints
    # (0,0); frame 3 then paints (1,1), so its canvas must equal the
    # post-frame-1 canvas plus the (1,1) patch. (The former bookkeeping
    # restored the canvas from before the PREVIOUS frame — here the
    # all-transparent pre-frame-1 screen, leaving frame 3 transparent
    # everywhere except its own patch.)
    gct = bytes([10, 10, 10, 20, 200, 20, 200, 20, 20, 20, 20, 200])
    buf = b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x81, 0, 0) + gct

    def image_block(left, top, w, h, pixels):
        data = lzw.encode(np.asarray(pixels, np.uint8).tobytes(), 2, **GIF_LZW)
        return (
            struct.pack("<BHHHHB", 0x2C, left, top, w, h, 0)
            + bytes([2, len(data)]) + data + b"\x00"
        )

    def gce(disposal):
        return (
            b"\x21\xf9" + bytes([4, disposal << 2]) + b"\x00\x00\x00\x00"
        )

    buf += gce(1) + image_block(0, 0, 2, 2, [[1, 1], [1, 1]])   # frame 1
    buf += gce(3) + image_block(0, 0, 1, 1, [[2]])              # frame 2
    buf += image_block(1, 1, 1, 1, [[3]])                       # frame 3
    buf += b"\x3b"

    frames = decode_gif(buf)
    assert len(frames) == 3
    f1, f2, f3 = (f for f, _d in frames)
    assert (f1[:, :, :3] == [20, 200, 20]).all() and (f1[:, :, 3] == 255).all()
    assert (f2[0, 0, :3] == [200, 20, 20]).all()
    assert (f2[0, 1, :3] == [20, 200, 20]).all()
    # frame 3: frame 2's patch is REVERTED, frame 1's canvas is back,
    # and only (1,1) carries frame 3's color
    assert (f3[0, 0, :3] == [20, 200, 20]).all() and f3[0, 0, 3] == 255
    assert (f3[1, 1, :3] == [20, 20, 200]).all()
    assert (f3[0, 1, :3] == [20, 200, 20]).all()
    assert (f3[1, 0, :3] == [20, 200, 20]).all()
