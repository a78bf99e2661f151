"""GeoTIFF codec (raster/geotiff.py): writer↔reader round-trips across
dtypes/compressions/layouts, hand-crafted streams decoded against
spec-derived expectations (the JPEG/FLAC/LZ4/zstd discipline — the
reader must not only agree with the writer), and guard behavior."""

import struct

import numpy as np
import pytest

from osm_render_spark.raster import lzw
from osm_render_spark.raster.geotiff import _LZW as TIFF_LZW
from osm_render_spark.raster.geotiff import (
    GeoRef,
    decode_geotiff,
    encode_geotiff,
    packbits_decode,
    packbits_encode,
)
from osm_render_spark.raster.gif import _LZW as GIF_LZW

RNG = np.random.default_rng(20260817)
LZW_FORMATS = (TIFF_LZW, GIF_LZW)


def _lzw_roundtrip(data: bytes, fmt: dict) -> bytes:
    return lzw.decode(lzw.encode(data, 8, **fmt), len(data), 8, **fmt)


def _img(dt):
    if np.issubdtype(dt, np.floating):
        return (RNG.random((70, 53)) * 100).astype(dt)
    info = np.iinfo(dt)
    return RNG.integers(info.min, info.max, (70, 53), dtype=dt)


@pytest.mark.parametrize("comp", ["none", "deflate", "lzw", "packbits"])
@pytest.mark.parametrize("tile", [None, (16, 16), (32, 48)])
def test_roundtrip_layouts(comp, tile):
    img = _img(np.int32)
    gr = GeoRef(-122.5, 47.7, 0.001, 0.002)
    b = encode_geotiff(
        img, georef=gr, compression=comp, tile=tile,
        predictor=2, rows_per_strip=17,
    )
    dec, g2 = decode_geotiff(b)
    assert (dec == img).all()
    assert g2.scale_x == 0.001 and g2.scale_y == 0.002
    assert g2.to_lonlat(0, 0) == (-122.5, 47.7)
    assert g2.crs == "EPSG:4326"


@pytest.mark.parametrize(
    "dt", [np.uint8, np.uint16, np.int16, np.uint32, np.int32,
           np.float32, np.float64],
)
def test_roundtrip_dtypes(dt):
    img = _img(dt)
    pred = 1 if np.issubdtype(dt, np.floating) else 2
    dec, g = decode_geotiff(
        encode_geotiff(img, compression="deflate", predictor=pred)
    )
    assert dec.dtype.kind == img.dtype.kind and (dec == img).all()
    assert g is None  # no geo tags written


def test_roundtrip_rgb():
    img = RNG.integers(0, 256, (66, 49, 3), dtype=np.uint8)
    dec, _ = decode_geotiff(encode_geotiff(img, compression="lzw"))
    assert dec.shape == (66, 49, 3) and (dec == img).all()


def test_handcrafted_big_endian_strip_tiff():
    """A motorola-order (MM) uncompressed TIFF built field-by-field from
    the TIFF 6.0 spec — fully independent of the writer."""
    w, h = 3, 2
    px = struct.pack(">6H", 10, 20, 30, 40, 50, 60)  # u16 gray
    ifd_off = 8 + len(px)
    entries = [
        (256, 3, 1, 3 << 16),   # ImageWidth (SHORT packed left in BE)
        (257, 3, 1, 2 << 16),
        (258, 3, 1, 16 << 16),
        (259, 3, 1, 1 << 16),   # no compression
        (262, 3, 1, 1 << 16),
        (273, 4, 1, 8),          # strip at offset 8
        (277, 3, 1, 1 << 16),
        (278, 3, 1, 2 << 16),
        (279, 4, 1, len(px)),
    ]
    buf = struct.pack(">2sHI", b"MM", 42, ifd_off) + px
    buf += struct.pack(">H", len(entries))
    for tag, t, n, v in entries:
        buf += struct.pack(">HHII", tag, t, n, v)
    buf += struct.pack(">I", 0)
    dec, g = decode_geotiff(buf)
    assert g is None
    assert dec.tolist() == [[10, 20, 30], [40, 50, 60]]


def test_lzw_handcrafted_stream():
    """MSB-first 9-bit codes for 'AAAA' packed by hand:
    Clear(256) 'A'(65) 258 'A'(65) EOI(257)."""
    codes = [256, 65, 258, 65, 257]
    bits = "".join(f"{c:09b}" for c in codes)
    bits += "0" * (-len(bits) % 8)
    raw = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    assert lzw.decode(raw, 4, 8, **TIFF_LZW) == b"AAAA"
    # and the encoder produces exactly this stream
    assert lzw.encode(b"AAAA", 8, **TIFF_LZW) == raw


def test_lzw_early_change_boundary():
    """Force the table past 9→10 and 10→11 bit widths (the TIFF 'early
    change' off-by-one) and round-trip exactly; a late-change decoder
    would desynchronize at code 511."""
    data = bytes(RNG.integers(0, 256, 4000, dtype=np.uint8))
    runs = b"".join(bytes([i % 251]) * 3 for i in range(3000))
    for fmt in LZW_FORMATS:  # GIF's late change crosses the same widths
        assert _lzw_roundtrip(data, fmt) == data
        assert _lzw_roundtrip(runs, fmt) == runs


def test_lzw_table_reset_roundtrip():
    """Enough distinct material to trip the encoder's 12-bit table reset
    (Clear mid-stream), then continue."""
    data = bytes(RNG.integers(0, 256, 120_000, dtype=np.uint8))
    enc = lzw.encode(data, 8, **TIFF_LZW)
    assert lzw.decode(enc, len(data), 8, **TIFF_LZW) == data


def test_lzw_encoder_bytes_pinned():
    """Encoder output across every width change and several table
    resets, pinned (sha256 prefix) to the bytes the former separate GIF
    and TIFF encoders wrote, so written files do not change."""
    import hashlib

    rng = np.random.default_rng(20260818)
    data = rng.integers(0, 256, 60_000, dtype=np.uint8).tobytes()
    data += bytes(range(256)) * 40
    small = (np.frombuffer(data, np.uint8) % 8).tobytes()
    for raw, size, fmt, n, digest in (
        (data, 8, GIF_LZW, 85171, "448784df3e018227"),
        (data, 8, TIFF_LZW, 85195, "9327fee150fe6286"),
        (small, 3, GIF_LZW, 26960, "1ad0e7fd2c9015b3"),
    ):
        enc = lzw.encode(raw, size, **fmt)
        assert (len(enc), hashlib.sha256(enc).hexdigest()[:16]) == (n, digest)


def test_packbits_spec_example():
    """The canonical Apple TN1023 example from the TIFF 6.0 spec."""
    enc = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    expect = bytes.fromhex(
        "AAAAAA80002AAAAAAAAA80002A22" + "AA" * 10
    )
    assert packbits_decode(enc, len(expect)) == expect
    # our encoder round-trips the same payload (byte choice may differ)
    assert packbits_decode(packbits_encode(expect), len(expect)) == expect


def test_predictor_wraparound():
    """Predictor 2 differences wrap modulo 2^bits per spec — a row whose
    deltas overflow int16 must still round-trip."""
    img = np.array([[-32768, 32767, -32768, 32767]], dtype=np.int16)
    dec, _ = decode_geotiff(encode_geotiff(img, predictor=2))
    assert (dec == img).all()


def test_tile_padding_clipped():
    """Edge tiles are padded to full tile dims in the file but the
    decoded image keeps the true extent."""
    img = _img(np.uint16)[:50, :33]
    dec, _ = decode_geotiff(encode_geotiff(img, tile=(32, 16)))
    assert dec.shape == (50, 33) and (dec == img).all()


def test_geokey_epsg_parse():
    b = encode_geotiff(
        _img(np.int32), georef=GeoRef(0, 0, 1, 1, crs="EPSG:4267")
    )
    _, g = decode_geotiff(b)
    assert g.crs == "EPSG:4267"


def test_guards():
    with pytest.raises(ValueError, match="byte-order"):
        decode_geotiff(b"XX" + b"\0" * 16)
    with pytest.raises(NotImplementedError, match="BigTIFF"):
        decode_geotiff(struct.pack("<2sHI", b"II", 43, 8) + b"\0" * 8)
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_geotiff(_img(np.uint8), tile=(20, 16))
    # malformed headers: ValueError, never struct.error
    good = encode_geotiff(_img(np.int32), georef=GeoRef(0, 0, 1, 1))
    with pytest.raises(ValueError, match="out of bounds"):
        decode_geotiff(good[:-40])  # cuts the out-of-line geo values
    with pytest.raises(ValueError, match="IFD offset out of bounds"):
        decode_geotiff(good[:4] + struct.pack("<I", len(good) + 8) + good[8:])
    bad = bytearray(good)  # ModelPixelScale: 3 doubles, stored out of line
    struct.pack_into("<I", bad, _entry_at(good, 33550) + 8, len(good) + 100)
    with pytest.raises(ValueError, match="value offset out of bounds"):
        decode_geotiff(bytes(bad))


def _entry_at(buf: bytes, tag: int) -> int | None:
    """Position of ``tag``'s 12-byte IFD entry in a little-endian TIFF
    written by encode_geotiff (None when absent)."""
    (ifd,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd)
    for e in range(ifd + 2, ifd + 2 + 12 * n, 12):
        if struct.unpack_from("<H", buf, e)[0] == tag:
            return e
    return None


def with_segment_length(buf: bytes, seg: int, new_length) -> bytes:
    """``buf`` with segment ``seg``'s StripByteCounts/TileByteCounts
    value replaced by ``new_length(old)``: the pixel bytes stay, the
    reader sees a cut (or overlong) segment."""
    e = _entry_at(buf, 279) or _entry_at(buf, 325)
    b = bytearray(buf)
    _tag, _typ, count, value = struct.unpack_from("<HHII", b, e)
    at = e + 8 if count == 1 else value + 4 * seg
    (old,) = struct.unpack_from("<I", b, at)
    struct.pack_into("<I", b, at, new_length(old))
    return bytes(b)


@pytest.mark.parametrize("comp", ["lzw", "packbits", "none"])
def test_truncated_segment_raises(comp):
    """A segment cut in half must not decode to a zero-padded strip;
    neither may a byte range running past the end of the data."""
    img = _img(np.uint16)
    b = encode_geotiff(img, compression=comp, rows_per_strip=16)
    assert (decode_geotiff(with_segment_length(b, 1, lambda n: n))[0] == img).all()
    with pytest.raises(ValueError, match="segment 1: "):
        decode_geotiff(with_segment_length(b, 1, lambda n: n // 2))
    with pytest.raises(ValueError, match="segment 1: .* past the end"):
        decode_geotiff(with_segment_length(b, 1, lambda n: n + len(b)))


def test_georef_bbox():
    g = GeoRef(10.0, 50.0, 0.5, 0.25)
    assert g.bbox(4, 8) == (10.0, 48.0, 12.0, 50.0)


# ------------------------------------------------------- hypothesis fuzz

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=3000))
    def test_lzw_fuzz_roundtrip(data):
        for fmt in LZW_FORMATS:
            assert _lzw_roundtrip(data, fmt) == data

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=3000))
    def test_packbits_fuzz_roundtrip(data):
        assert packbits_decode(packbits_encode(data), len(data)) == data

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 60), st.integers(1, 60),
        st.sampled_from(["none", "deflate", "lzw", "packbits"]),
        st.integers(1, 2),
    )
    def test_tiff_fuzz_roundtrip(h, w, comp, pred):
        img = ((np.arange(h * w, dtype=np.int64) * 2654435761) % 65521
               ).astype(np.int32).reshape(h, w) - 32760
        dec, _ = decode_geotiff(
            encode_geotiff(img, compression=comp, predictor=pred,
                           rows_per_strip=7)
        )
        assert (dec == img).all()
except ImportError:  # pragma: no cover — hypothesis is in the container
    pass
