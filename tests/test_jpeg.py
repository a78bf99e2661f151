"""Baseline JPEG codec (osm_render_spark/raster/jpeg.py): roundtrip
quality, spec-feature coverage (subsampling, restarts, grayscale,
16-bit DQT, MJPEG omitted-DHT) and loud rejection of unsupported
profiles."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from osm_render_spark.raster.codec import psnr
from osm_render_spark.raster.jpeg import (
    HUFF_AC_CHROMA,
    HUFF_AC_LUMA,
    HUFF_DC_CHROMA,
    HUFF_DC_LUMA,
    ZIGZAG,
    _canonical_codes,
    decode_jpeg,
    encode_jpeg,
    encode_progressive_jpeg,
)


def _smooth(w=48, h=48, k=0):
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    base = 128.0 + 90.0 * np.sin((x + 3 * k) / 7.0) * np.cos((y + 2 * k) / 9.0)
    img = np.empty((h, w, 3), np.uint8)
    for c, s in enumerate((1.0, 0.92, 0.84)):
        img[:, :, c] = np.floor(np.clip(base * s, 0.0, 255.0) + 0.5).astype(np.uint8)
    return img


# ---------------------------------------------------------------------------
# table sanity (the one thing a self-roundtrip can't check is pinned
# structurally: canonical Huffman codes must be prefix-valid and ≤16 bits)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "tbl", [HUFF_DC_LUMA, HUFF_DC_CHROMA, HUFF_AC_LUMA, HUFF_AC_CHROMA]
)
def test_standard_tables_are_valid_prefix_codes(tbl):
    codes = _canonical_codes(*tbl)
    assert len(codes) == len(tbl[1])
    seen = set()
    for _sym, code, ln in codes:
        assert 1 <= ln <= 16
        assert code < (1 << ln)
        # prefix property: no code is a prefix of another
        for _s2, c2, l2 in codes:
            if l2 > ln:
                assert (c2 >> (l2 - ln)) != code
        assert (code, ln) not in seen
        seen.add((code, ln))


def test_zigzag_is_a_permutation():
    assert sorted(ZIGZAG.tolist()) == list(range(64))
    # spot-pin the published order
    assert ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]


# ---------------------------------------------------------------------------
# roundtrips
# ---------------------------------------------------------------------------

def test_flat_image_is_lossless():
    img = np.full((24, 24, 3), 128, np.uint8)
    assert (decode_jpeg(encode_jpeg(img, 90)) == img).all()


def test_q100_single_block_is_exact():
    img = (np.arange(64).reshape(8, 8) * 3 + 20).astype(np.uint8)[:, :, None]
    dec = decode_jpeg(encode_jpeg(img, quality=100))
    assert dec.shape == (8, 8, 1)
    assert (dec == img).all()


@pytest.mark.parametrize("sub", ["444", "420"])
@pytest.mark.parametrize("dri", [0, 3])
def test_smooth_roundtrip_psnr(sub, dri):
    img = _smooth()
    dec = decode_jpeg(encode_jpeg(img, 90, sub, dri))
    assert dec.shape == img.shape
    assert psnr(img, dec) >= 27.0, (sub, dri)


@pytest.mark.parametrize("w,h", [(17, 23), (33, 31), (48, 16), (8, 8), (1, 1)])
def test_non_multiple_of_mcu_dimensions(w, h):
    """Edge-padded MCUs must crop back to the exact requested size for
    both subsampling modes (420 pads to 16-pixel MCUs)."""
    img = _smooth(64, 64)[:h, :w]
    for sub in ("444", "420"):
        dec = decode_jpeg(encode_jpeg(img, 90, sub))
        assert dec.shape == (h, w, 3), sub


def test_grayscale_roundtrip():
    g = _smooth()[:, :, :1]
    dec = decode_jpeg(encode_jpeg(g, 92))
    assert dec.shape == g.shape
    assert psnr(g, dec) >= 30.0


def test_decode_is_deterministic():
    data = encode_jpeg(_smooth(), 85, "420", 3)
    a = decode_jpeg(data)
    b = decode_jpeg(bytes(bytearray(data)))
    assert (a == b).all()


def test_restart_markers_present_and_equivalent():
    """DRI output must contain RSTn markers, and decode identically to
    the no-restart encode of the same quantized planes (restarts change
    only DC prediction boundaries, which the decoder must resync)."""
    img = _smooth(40, 40)
    with_rst = encode_jpeg(img, 88, "444", restart_interval=2)
    without = encode_jpeg(img, 88, "444", restart_interval=0)
    assert any(bytes([0xFF, 0xD0 + i]) in with_rst for i in range(8))
    assert (decode_jpeg(with_rst) == decode_jpeg(without)).all()


def test_sixteen_bit_dqt_decodes():
    """Pq=1 (16-bit) quantization tables are legal in extended frames;
    splice the 8-bit DQT payloads into 16-bit form and re-decode."""
    img = _smooth(24, 24)
    data = encode_jpeg(img, 90, "444")
    out = bytearray()
    pos = 0
    baseline = decode_jpeg(data)
    while pos < len(data):
        if data[pos : pos + 2] == b"\xff\xdb":
            (seg_len,) = struct.unpack(">H", data[pos + 2 : pos + 4])
            body = data[pos + 4 : pos + 2 + seg_len]
            tq = body[0] & 15
            wide = bytes([1 << 4 | tq]) + b"".join(
                struct.pack(">H", v) for v in body[1:65]
            )
            out += b"\xff\xdb" + struct.pack(">H", 2 + len(wide)) + wide
            pos += 2 + seg_len
        elif data[pos] == 0xFF and data[pos + 1] == 0xDA:
            out += data[pos:]
            break
        else:
            out.append(data[pos])
            pos += 1
    assert (decode_jpeg(bytes(out)) == baseline).all()


def test_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
    — real-world MJPG frames contain them. Splice runs of 0xFF padding
    before every header segment and re-decode."""
    img = _smooth(24, 24)
    data = encode_jpeg(img, 90, "444")
    baseline = decode_jpeg(data)
    out = bytearray(data[:2])  # SOI
    pos = 2
    while pos < len(data):
        assert data[pos] == 0xFF
        out += b"\xff\xff\xff"  # fill bytes, then the real marker
        if data[pos + 1] == 0xDA:  # SOS: copy the rest verbatim
            out += data[pos:]
            break
        (seg_len,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        out += data[pos : pos + 2 + seg_len]
        pos += 2 + seg_len
    assert (decode_jpeg(bytes(out)) == baseline).all()


# ---------------------------------------------------------------------------
# rejections (loud, named)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# progressive (SOF2)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("sub", ["444", "420"])
@pytest.mark.parametrize("q", [50, 90])
def test_progressive_equals_baseline_bit_exact(sub, q):
    """The default progressive scan script fully refines every
    coefficient, and both decoders share one reconstruction tail — so
    the progressive stream must decode BIT-EXACTLY equal to the
    baseline encoding of the same image."""
    for w, h in ((48, 48), (17, 23)):
        img = _smooth(w, h)
        base = decode_jpeg(encode_jpeg(img, q, sub))
        prog = decode_jpeg(encode_progressive_jpeg(img, q, sub))
        assert (base == prog).all()


def test_progressive_grayscale_and_noise_bit_exact():
    g = _smooth(33, 57)[:, :, 0]
    assert (
        decode_jpeg(encode_jpeg(g, 85)) == decode_jpeg(encode_progressive_jpeg(g, 85))
    ).all()
    # uint8 noise maximizes ZRL / EOB-run / refinement traffic
    rng = np.random.default_rng(7)
    noisy = rng.integers(0, 256, size=(40, 56, 3), dtype=np.uint8)
    assert (
        decode_jpeg(encode_jpeg(noisy, 30, "420"))
        == decode_jpeg(encode_progressive_jpeg(noisy, 30, "420"))
    ).all()


def test_progressive_restart_markers_equivalent():
    img = _smooth(48, 48)
    base = decode_jpeg(encode_progressive_jpeg(img, 85, "420"))
    for dri in (1, 3, 7):
        data = encode_progressive_jpeg(img, 85, "420", restart_interval=dri)
        assert b"\xff\xd0" in data or b"\xff\xd1" in data
        assert (decode_jpeg(data) == base).all()


def test_progressive_prefix_scripts_refine_monotonically():
    """Progressive's point: a stream truncated after any scan still
    reconstructs, and each additional scan only improves fidelity."""
    img = _smooth(48, 48)
    full = decode_jpeg(encode_jpeg(img, 85))
    dc_only = [((0, 1, 2), 0, 0, 0, 1)]
    coarse = dc_only + [
        ((0,), 1, 5, 0, 2),
        ((1,), 1, 63, 0, 1),
        ((2,), 1, 63, 0, 1),
    ]
    p_dc = decode_jpeg(encode_progressive_jpeg(img, 85, scans=dc_only))
    p_co = decode_jpeg(encode_progressive_jpeg(img, 85, scans=coarse))
    p_full = decode_jpeg(encode_progressive_jpeg(img, 85))
    assert p_dc.shape == p_full.shape == img.shape
    s_dc = psnr(img, p_dc)
    s_co = psnr(img, p_co)
    s_full = psnr(img, p_full)
    assert s_dc < s_co < s_full
    assert (p_full == full).all()


def test_hand_crafted_progressive_stream_decodes_bit_exact():
    """Independent-of-our-encoder validation of the progressive entropy
    decoder: a 4-block SOF2 stream crafted by hand per T.81 G.2 — DC
    first scan at Al=1, DC refinement bits, an AC first scan whose EOB
    run spans blocks (EOB2 symbol 0x20, run 4), and an AC refinement
    scan with a correction bit, a newly-significant negative
    coefficient, and an EOBn with an extension bit (run 3) — decoded
    against a textbook IDCT written here from the standard's formula."""
    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    qz = bytes([16 + k for k in range(64)])  # distinct zigzag values
    jpg = (
        bytes([0xFF, 0xD8])
        + seg(0xDB, bytes([0x00]) + qz)
        + seg(0xC2, bytes([8]) + struct.pack(">HH", 8, 32) + bytes([1, 1, 0x11, 0]))
        # DC table 0: '0' -> cat 2, '1' -> cat 0
        + seg(0xC4, bytes([0x00, 2] + [0] * 15 + [2, 0]))
        # scan 1: DC first, Al=1; transformed DCs [2,2,2,2] -> diffs [2,0,0,0]
        # bits: 0 10 | 1 | 1 | 1  -> 01011111
        + seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
        + bytes([0b01011111])
        # scan 2: DC refinement (Ah=1, Al=0): raw bits 1,0,1,0 -> DCs [5,4,5,4]
        + seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
        + bytes([0b10101111])
        # AC table 0 for scan 3: '00' -> 0x01 (sig cat1), '01' -> 0x20 (EOB2)
        + seg(0xC4, bytes([0x10, 0, 2] + [0] * 14 + [0x01, 0x20]))
        # scan 3: AC first, band 1-63, Al=1: block0 zz[1] = +1 (<<1 = 2),
        # then EOB run 4 (0x20 + extra '00') covers rest of all 4 blocks
        # bits: 00 1 01 00 -> 0010100 + pad
        + seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x01]))
        + bytes([0b00101001])
        # AC table 0 for scan 4: '00'->0x00 (EOB1), '01'->0x10 (EOB2..3), '10'->0x11
        + seg(0xC4, bytes([0x10, 0, 3] + [0] * 14 + [0x00, 0x10, 0x11]))
        # scan 4: AC refinement (Ah=1, Al=0):
        #  block0: EOB1 ('00'), tail correction bit '1' on zz[1]: 2 -> 3
        #  block1: 0x11 ('10') r=1 s=1, sign '0' (negative) -> zz[2] = -1,
        #          then 0x10 ('01') + extra '1' -> EOB run 3 (rest + blocks 2,3)
        # bits: 00 1 10 0 01 1 -> 00110001
        + seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10]))
        + bytes([0b00110001])
        + bytes([0xFF, 0xD9])
    )
    dec = decode_jpeg(jpg)
    assert dec.shape == (8, 32, 1)

    # expected coefficients (natural order) per block
    def natural(dc, extras):
        F = np.zeros((8, 8))
        F[0, 0] = dc * 16
        for zz_slot, val in extras:
            # zigzag slot -> natural position
            nat = ZIGZAG[zz_slot]
            F[nat // 8, nat % 8] = val * (16 + zz_slot)
        return F

    blocks_F = [
        natural(5, [(1, 3)]),
        natural(4, [(2, -1)]),
        natural(5, []),
        natural(4, []),
    ]

    def c(u):
        return 1 / np.sqrt(2) if u == 0 else 1.0

    want = np.empty((8, 32))
    for b, F in enumerate(blocks_F):
        for y in range(8):
            for x in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        s += (
                            c(u) * c(v) * F[u, v]
                            * np.cos((2 * y + 1) * u * np.pi / 16)
                            * np.cos((2 * x + 1) * v * np.pi / 16)
                        )
                want[y, 8 * b + x] = s / 4.0 + 128.0
    want = np.clip(np.floor(want + 0.5), 0, 255).astype(np.uint8)
    assert (dec[:, :, 0] == want).all()


def test_arithmetic_coding_rejected_by_name():
    data = bytearray(encode_jpeg(_smooth(16, 16), 90))
    i = data.index(b"\xff\xc0")
    data[i + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(bytes(data))


def test_not_a_jpeg_rejected():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG\r\n\x1a\nnope")


def test_truncated_scan_fails_or_degrades_but_never_hangs():
    """Cutting the scan mid-stream must raise (bad code) or produce a
    partial image from the 1-padded tail — either way terminate."""
    data = encode_jpeg(_smooth(), 85)
    try:
        decode_jpeg(data[: len(data) // 2])
    except ValueError:
        pass


def test_corrupt_restart_structure_raises():
    img = _smooth(40, 40)
    data = bytearray(encode_jpeg(img, 88, "444", restart_interval=2))
    i = data.index(b"\xff\xd0")  # drop the first RST marker
    del data[i : i + 2]
    with pytest.raises(ValueError, match="restart|Huffman|run"):
        decode_jpeg(bytes(data))


# ---------------------------------------------------------------------------
# MJPEG convention: omitted Huffman tables
# ---------------------------------------------------------------------------

def _strip_dht(jpeg: bytes) -> bytes:
    """Remove every DHT (0xFFC4) header segment, as Motion-JPEG frames
    do: they imply the Annex K standard tables."""
    out = bytearray(jpeg[:2])
    pos = 2
    while pos < len(jpeg):
        if jpeg[pos + 1] in (0xD9, 0xDA):
            out += jpeg[pos:]
            break
        (seg_len,) = struct.unpack(">H", jpeg[pos + 2 : pos + 4])
        if jpeg[pos + 1] != 0xC4:
            out += jpeg[pos : pos + 2 + seg_len]
        pos += 2 + seg_len
    return bytes(out)


def test_mjpg_avi_roundtrip_strips_dht_and_decodes():
    """The decoder's omitted-DHT fallback: a baseline stream with its DHT
    segments stripped decodes exactly like the stream that carries them,
    because the encoder writes the Annex K tables the fallback installs."""
    for k in range(3):
        img = _smooth(48, 32, k)
        full = encode_jpeg(img, quality=90, subsampling="420")
        stripped = _strip_dht(full)
        assert b"\xff\xc4" in full
        assert stripped.count(b"\xff\xc4") == 0
        dec = decode_jpeg(stripped)
        assert dec.shape == img.shape
        assert (dec == decode_jpeg(full)).all()
        assert psnr(img, dec) >= 27.0


def test_hand_crafted_stream_decodes_bit_exact():
    """INDEPENDENT-of-our-encoder validation (the dequant double-zigzag
    bug survived every round-trip test because encoder and decoder were
    self-consistent): a JPEG byte stream crafted by hand per T.81 — DQT
    with 64 DISTINCT zigzag-ordered values, hand-built one-code Huffman
    tables, a DC(+2)+one-AC(+1) entropy byte — must decode bit-exactly
    to an 8x8 block computed with a textbook IDCT written here from the
    standard's formula (no shared code with raster/jpeg.py). Any table
    permutation, Huffman, or IDCT convention error mismatches."""
    import struct

    import numpy as np

    from osm_render_spark.raster.jpeg import decode_jpeg

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    qz = bytes([16 + k for k in range(64)])  # zigzag-ordered, all distinct
    jpg = (
        bytes([0xFF, 0xD8])
        + seg(0xDB, bytes([0x00]) + qz)
        + seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
        + seg(0xC4, bytes([0x00, 1] + [0] * 15 + [2]))  # DC: '0' -> cat 2
        + seg(0xC4, bytes([0x10, 0, 2] + [0] * 14 + [0x01, 0x00]))  # AC: '00','01'
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes([0x45])  # 0 10 00 1 01 = DC +2, AC(run0,size1) +1, EOB
        + bytes([0xFF, 0xD9])
    )
    dec = decode_jpeg(jpg)
    assert dec.shape == (8, 8, 1)

    F = np.zeros((8, 8))
    F[0, 0] = 2 * 16  # DC diff +2 x Qz[0]=16
    F[0, 1] = 1 * 17  # zigzag slot 1 -> natural (0,1), Qz[1]=17

    def c(u):
        return 1 / np.sqrt(2) if u == 0 else 1.0

    want = np.empty((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    s += (
                        c(u) * c(v) * F[u, v]
                        * np.cos((2 * y + 1) * u * np.pi / 16)
                        * np.cos((2 * x + 1) * v * np.pi / 16)
                    )
            want[y, x] = s / 4.0 + 128.0
    want = np.clip(np.floor(want + 0.5), 0, 255).astype(np.uint8)
    assert (dec[:, :, 0] == want).all()


def test_optimized_huffman_reserves_all_ones_code():
    """libjpeg jpeg_gen_optimal_table discipline: the dummy 257th symbol
    takes the all-ones codeword, so no REAL symbol can decode from the
    1-bit padding at entropy-segment ends — including the two cases the
    old builder got wrong (all-ones at max length; flat fallback
    saturating a power-of-two alphabet)."""
    from osm_render_spark.raster.jpeg import _build_huffman, _canonical_codes

    fib = [1, 1]
    while len(fib) < 24:
        fib.append(fib[-1] + fib[-2])
    cases = [
        {s: 1 for s in range(16)},       # power-of-two alphabet (flat trap)
        {s: 1 for s in range(256)},      # full 8-bit alphabet
        {0: 1000, 1: 500, 2: 2, 3: 1},   # skewed
        {s: 2 ** (s % 11) for s in range(64)},
        {0: 1, 1: 1},                    # minimal pair
        {7: 5},                          # single symbol
        {i: f for i, f in enumerate(fib)},  # forces >16-bit flat fallback
    ]
    for freqs in cases:
        bits, vals = _build_huffman(freqs)
        assert sorted(vals) == sorted(freqs)
        codes = _canonical_codes(bits, vals)
        assert len(codes) == len(freqs)
        for _, code, ln in codes:
            assert code != (1 << ln) - 1, (freqs, code, ln)
        assert max(ln for _, _, ln in codes) <= 16


@pytest.mark.parametrize("sub", ["444", "420"])
@pytest.mark.parametrize("dri", [0, 2])
def test_multi_scan_baseline_equals_single_scan(sub, dri):
    """T.81 multi-scan sequential (one non-interleaved SOS per
    component): same quantized coefficients as the single interleaved
    scan, so the decode must be BIT-exact — including with restart
    markers (which count component blocks in a non-interleaved scan)
    and with 420's MCU padding blocks absent from the partial scans."""
    from osm_render_spark.raster.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    for (h, w) in [(8, 8), (17, 23), (48, 32)]:
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        one = decode_jpeg(encode_jpeg(img, 85, sub, restart_interval=dri))
        multi = encode_jpeg(img, 85, sub, restart_interval=dri, multi_scan=True)
        assert multi.count(b"\xff\xda") == 3  # three SOS markers
        assert (decode_jpeg(multi) == one).all(), (h, w)


def test_multi_scan_truncated_reconstructs_partial():
    """A multi-scan stream truncated after the Y scan still
    reconstructs (missing chroma scans decode as zero coefficients) —
    the same tolerance the progressive decoder documents."""
    from osm_render_spark.raster.jpeg import decode_jpeg, encode_jpeg

    img = np.full((16, 16, 3), 200, np.uint8)
    data = encode_jpeg(img, 90, multi_scan=True)
    second_sos = data.index(b"\xff\xda", data.index(b"\xff\xda") + 2)
    out = decode_jpeg(data[:second_sos] + b"\xff\xd9")
    assert out.shape == (16, 16, 3)  # luma present, chroma neutral-zero


def test_hand_crafted_multi_scan_stream_decodes_bit_exact():
    """Independent-of-our-encoder validation of the multi-scan path: a
    3-component 8x8 stream crafted by hand per T.81 — three
    non-interleaved scans with their own DC categories and per-scan
    predictors — must decode to the DC-only color block computed here
    from the standard's formulas (no shared code with raster/jpeg.py)."""
    import struct

    from osm_render_spark.raster.jpeg import decode_jpeg

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    jpg = (
        bytes([0xFF, 0xD8])
        + seg(0xDB, bytes([0x00]) + bytes([2] * 64))  # Q0: flat 2
        + seg(0xDB, bytes([0x01]) + bytes([3] * 64))  # Q1: flat 3
        + seg(
            0xC0,
            bytes([8])
            + struct.pack(">HH", 8, 8)
            + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
        + seg(0xC4, bytes([0x00, 1] + [0] * 15 + [2]))  # DC0: '0'->cat 2
        + seg(0xC4, bytes([0x01, 1] + [0] * 15 + [3]))  # DC1: '0'->cat 3
        + seg(0xC4, bytes([0x10, 1] + [0] * 15 + [0x00]))  # AC0: '0'->EOB
        + seg(0xC4, bytes([0x11, 1] + [0] * 15 + [0x00]))  # AC1: '0'->EOB
        # Y scan:  DC '0'+'10' (+2), EOB '0'  -> 0100 pad 1111 = 0x4F
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes([0x4F])
        # Cb scan: DC '0'+'011' (-4), EOB '0' -> 00110 pad 111 = 0x37
        + seg(0xDA, bytes([1, 2, 0x11, 0, 63, 0]))
        + bytes([0x37])
        # Cr scan: DC '0'+'100' (+4), EOB '0' -> 01000 pad 111 = 0x47
        + seg(0xDA, bytes([1, 3, 0x11, 0, 63, 0]))
        + bytes([0x47])
        + bytes([0xFF, 0xD9])
    )
    dec = decode_jpeg(jpg)
    assert dec.shape == (8, 8, 3)

    def plane(dc_coef):  # DC-only IDCT: every pixel = coef/8 + 128
        return float(np.floor(dc_coef / 8.0 + 128.0 + 0.5))

    y, cb, cr = plane(2 * 2), plane(-4 * 3), plane(4 * 3)
    want = [
        int(np.clip(np.floor(y + 1.402 * (cr - 128) + 0.5), 0, 255)),
        int(
            np.clip(
                np.floor(
                    y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
                ),
                0,
                255,
            )
        ),
        int(np.clip(np.floor(y + 1.772 * (cb - 128) + 0.5), 0, 255)),
    ]
    for ch in range(3):
        assert (dec[:, :, ch] == want[ch]).all(), (ch, want, dec[0, 0])


def test_subset_interleaved_partial_scan_rejected_by_name():
    """A 2-of-3-component partial scan (subset-interleaved) is a
    documented gap: clear NotImplementedError, never a wrong decode."""
    import struct

    from osm_render_spark.raster.jpeg import decode_jpeg

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    jpg = (
        bytes([0xFF, 0xD8])
        + seg(0xDB, bytes([0x00]) + bytes([2] * 64))
        + seg(
            0xC0,
            bytes([8])
            + struct.pack(">HH", 8, 8)
            + bytes([3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
        )
        + seg(0xC4, bytes([0x00, 1] + [0] * 15 + [2]))
        + seg(0xC4, bytes([0x10, 1] + [0] * 15 + [0x00]))
        + seg(0xDA, bytes([2, 1, 0x00, 2, 0x00, 0, 63, 0]))
        + bytes([0x4F])
        + bytes([0xFF, 0xD9])
    )
    with pytest.raises(NotImplementedError, match="subset-interleaved"):
        decode_jpeg(jpg)


def _pin_images(h, w, k):
    """Deterministic smooth-plus-noise test image (noise makes q100
    carry large AC coefficients and long ZRL runs)."""
    rng = np.random.default_rng(1000 * h + w + k)
    noise = rng.integers(-40, 41, (h, w, 3))
    rgb = np.clip(_smooth(w, h, k).astype(np.int64) + noise, 0, 255)
    rgb = rgb.astype(np.uint8)
    alpha = rng.integers(0, 256, (h, w, 1)).astype(np.uint8)
    return {1: rgb[:, :, 0], 3: rgb, 4: np.concatenate([rgb, alpha], axis=2)}


_PIN_PREFIX = {
    1: [((0,), 0, 0, 0, 1), ((0,), 1, 63, 0, 2)],
    3: [
        ((0, 1, 2), 0, 0, 0, 1),
        ((0,), 1, 5, 0, 2),
        ((1,), 1, 63, 0, 1),
        ((2,), 1, 63, 0, 1),
    ],
}


def test_jpeg_encoder_bytes_pinned():
    """Encoder output over gray/RGB/RGBA × 4:4:4/4:2:0 × q × restart
    interval × image size, for the single-scan and multi-scan baseline
    writers and the progressive writer (default and a prefix script),
    pinned (sha256 prefix of the concatenated streams) so refactors of
    the shared front-end and scan writers cannot change written bytes."""
    import hashlib

    digests = {}
    for c in (1, 3, 4):
        hs = {k: hashlib.sha256() for k in ("one", "multi", "prog", "prefix")}
        for (h, w) in ((17, 23), (48, 48)):
            img = _pin_images(h, w, c)[c]
            for sub in ("444", "420"):
                for q in (10, 50, 90, 100):
                    for dri in (0, 3):
                        for kind, data in (
                            ("one", encode_jpeg(img, q, sub, dri)),
                            ("multi", encode_jpeg(img, q, sub, dri, True)),
                            ("prog", encode_progressive_jpeg(
                                img, q, sub, restart_interval=dri)),
                            ("prefix", encode_progressive_jpeg(
                                img, q, sub, _PIN_PREFIX[min(c, 3)], dri)),
                        ):
                            hs[kind].update(struct.pack(">I", len(data)))
                            hs[kind].update(data)
        for kind, hsh in hs.items():
            digests[(c, kind)] = hsh.hexdigest()[:16]
    assert digests == {
        (1, "one"): "2cedebb64db32fae",
        (1, "multi"): "2cedebb64db32fae",  # one component: one scan
        (1, "prog"): "b63a80109a44dc93",
        (1, "prefix"): "fec03d53a1ac7d9b",
        (3, "one"): "890b4ce9200a792b",
        (3, "multi"): "e8251f003e9c43ae",
        (3, "prog"): "a69420311f93966a",
        (3, "prefix"): "36882728cccaac41",
        (4, "one"): "405b1a4d4a2f4b1a",
        (4, "multi"): "04e722d8f25f47c8",
        (4, "prog"): "ed1380227abb525b",
        (4, "prefix"): "6dee60626736e458",
    }


@pytest.mark.parametrize(
    "encode,sof",
    [(encode_jpeg, 0xC0), (encode_progressive_jpeg, 0xC2)],
    ids=["SOF0", "SOF2"],
)
def test_one_component_scan_is_non_interleaved(encode, sof):
    """T.81 A.2.2: a scan naming one component is non-interleaved, so it
    walks the component's own block grid whatever its sampling factors.
    A gray frame that declares 2x2 sampling (legal: hmax = vmax = 2)
    codes the same 3x3 blocks as the 1x1 frame, not 2x2 MCUs of four
    blocks each."""
    data = encode(_smooth(23, 17)[:, :, 0], 85)
    at = data.index(bytes([0xFF, sof])) + 11  # SOFn, Lf, P, Y, X, Nf, C1
    assert data[at] == 0x11
    patched = data[:at] + b"\x22" + data[at + 1 :]
    assert (decode_jpeg(patched) == decode_jpeg(data)).all()


@pytest.mark.parametrize("defect", ["table", "component"])
@pytest.mark.parametrize("kind", ["baseline", "multi_scan", "progressive"])
def test_malformed_scan_header_raises_value_error(kind, defect):
    """A scan whose Huffman table selector names an undefined table, or
    whose component id is not in the frame, is malformed input: the
    codec raises ValueError naming it (never KeyError)."""
    img = _smooth(16, 16)
    data = {
        "baseline": lambda: encode_jpeg(img, 85),
        "multi_scan": lambda: encode_jpeg(img, 85, multi_scan=True),
        "progressive": lambda: encode_progressive_jpeg(img, 85),
    }[kind]()
    sos = data.index(b"\xff\xda")  # first scan: FF DA, Ls, Ns, Cs1, TdTa1
    at, new, match = {
        "table": (sos + 6, 0x33, "Huffman table 3"),
        "component": (sos + 5, 9, "component 9"),
    }[defect]
    with pytest.raises(ValueError, match=match):
        decode_jpeg(data[:at] + bytes([new]) + data[at + 1 :])
