"""Baseline-JPEG codec tests (core/jpeg.py — pure T.81 spec, no Pillow).

The encoder is the fixture side: it emits spec-conformant streams with
per-image canonical Huffman tables, so the decoder's marker walk, DHT/DQT
table construction, bit unstuffing, MCU interleave, restart handling,
dequant/IDCT and chroma upsampling are all exercised against
independently-computed pixels."""

from __future__ import annotations

import numpy as np
import pytest

from x5_ner_spark.core.jpeg import (
    _A,
    _extend,
    _magnitude,
    _zigzag_order,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_gray,
)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [np.minimum(yy * 5 + xx * 3, 255), np.minimum(yy * 2 + 40, 255),
         np.minimum(xx * 7 + 10, 255)],
        axis=2,
    ).astype(np.uint8)


def test_zigzag_is_the_spec_walk():
    zz = _zigzag_order()
    # spec anchors: DC first, then (0,1), (1,0), (2,0), (1,1), (0,2), ...
    assert zz[0, 0] == 0 and zz[0, 1] == 1 and zz[1, 0] == 2
    assert zz[2, 0] == 3 and zz[1, 1] == 4 and zz[0, 2] == 5
    assert zz[7, 7] == 63
    assert sorted(zz.reshape(-1).tolist()) == list(range(64))


def test_dct_matrix_orthonormal():
    assert np.allclose(_A @ _A.T, np.eye(8), atol=1e-12)


def test_magnitude_and_extend_are_inverse():
    for v in list(range(-300, 301)) + [1023, -1023]:
        size, bits = _magnitude(v)
        assert _extend(bits, size) == v


def test_roundtrip_444_smooth_image_small_error():
    img = _gradient(24, 20)  # non-multiple-of-8 width -> crop path
    out = decode_jpeg(encode_jpeg(img))
    err = np.abs(out.astype(int) - img.astype(int))
    assert out.shape == img.shape
    assert err.max() <= 8 and err.mean() < 2.5


def test_roundtrip_420_and_restart_markers():
    img = _gradient(24, 20)
    base = decode_jpeg(encode_jpeg(img, subsampling="4:2:0"))
    rst = decode_jpeg(encode_jpeg(img, subsampling="4:2:0", restart_interval=1))
    # restart layout must not change pixels at all
    assert (base == rst).all()
    err = np.abs(base.astype(int) - img.astype(int))
    assert err.max() <= 16 and err.mean() < 4


def test_unit_quant_noise_near_lossless():
    """All-ones quant tables: the only loss left is coefficient rounding +
    color-transform float error — bounded even on pure noise."""
    ones = np.ones((8, 8), dtype=np.uint8)
    rng = np.random.RandomState(0)
    noise = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(noise, quant_luma=ones, quant_chroma=ones))
    assert np.abs(out.astype(int) - noise.astype(int)).max() <= 4


def test_grayscale_single_component():
    g = (np.add.outer(np.arange(24) * 7, np.arange(20) * 5) % 200).astype(np.uint8)
    ones = np.ones((8, 8), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_gray(g, quant=ones))
    assert out.shape == (24, 20, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all() and (out[:, :, 1] == out[:, :, 2]).all()
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 2


def test_flat_block_is_exact_dc_only():
    flat = np.full((8, 8, 3), 128, dtype=np.uint8)
    data = encode_jpeg(flat)
    assert (decode_jpeg(data) == flat).all()
    # a flat 128 block is all-zero coefficients -> tiny stream
    assert len(data) < 400


def test_lossless_and_arithmetic_sofs_rejected():
    img = _gradient(8, 8)
    for sof in (0xC3, 0xC9, 0xCB):  # lossless, arith sequential, arith lossless
        data = bytearray(encode_jpeg(img))
        i = data.find(b"\xff\xc0")
        data[i + 1] = sof
        with pytest.raises(ValueError, match="non-baseline"):
            decode_jpeg(bytes(data))


def test_byte_stuffing_roundtrip():
    """Images whose entropy stream contains 0xFF bytes must unstuff
    correctly — white noise reliably produces them."""
    ones = np.ones((8, 8), dtype=np.uint8)
    rng = np.random.RandomState(123)
    for _ in range(3):
        img = rng.randint(0, 256, (8, 16, 3), dtype=np.uint8)
        data = encode_jpeg(img, quant_luma=ones, quant_chroma=ones)
        out = decode_jpeg(data)
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 4


# ------------------------------------------------------------- progressive


def test_progressive_pixel_identical_to_baseline():
    """Progressive (SOF2: DC first+refine, per-component AC spectral scans
    at Al=1 plus AC refinement to Al=0) carries the SAME quantized
    coefficients as baseline — decoded pixels must match exactly."""
    from x5_ner_spark.core.jpeg import encode_jpeg_progressive

    img = _gradient(24, 20)
    for sub in ("4:4:4", "4:2:0"):
        base = decode_jpeg(encode_jpeg(img, subsampling=sub))
        prog = decode_jpeg(encode_jpeg_progressive(img, subsampling=sub))
        assert (base == prog).all(), sub


def test_progressive_noise_and_used_block_geometry():
    from x5_ner_spark.core.jpeg import encode_jpeg_progressive

    ones = np.ones((8, 8), dtype=np.uint8)
    rng = np.random.RandomState(3)
    # noise stresses every refinement path; 17px width at 4:2:0 makes the
    # luma used-block count (3/row) smaller than its MCU grid (4/row), so
    # non-interleaved AC scans must skip the dummy column (spec A.2.2)
    for shape, sub in (((16, 24), "4:4:4"), ((17, 17), "4:2:0")):
        img = rng.randint(0, 256, (*shape, 3), dtype=np.uint8)
        base = decode_jpeg(encode_jpeg(img, subsampling=sub,
                                       quant_luma=ones, quant_chroma=ones))
        prog = decode_jpeg(encode_jpeg_progressive(img, subsampling=sub,
                                                   quant_luma=ones,
                                                   quant_chroma=ones))
        assert (base == prog).all(), (shape, sub)


def test_ac_refinement_scan_fuzz():
    """Entropy-layer fuzz: AC first scan at Al=1 then refinement to Al=0
    reconstructs arbitrary coefficient blocks exactly (EOB runs, ZRL over
    history coefficients, buffered correction bits)."""
    from x5_ner_spark.core.jpeg import (
        _ac_first,
        _ac_first_block_tokens,
        _ac_refine,
        _ac_refine_block_tokens,
        _BitReader,
        _BitWriter,
        _build_table,
        _canonical_codes,
        _decode_table,
        _flush_eobrun,
    )

    def run_scan(blocks_state, tokens, fn, al):
        freqs: dict = {}
        for t in tokens:
            if t[0] == "sym":
                freqs[t[1]] = freqs.get(t[1], 0) + 1
        bv = _build_table(freqs)
        enc = _canonical_codes(*bv)
        table = _decode_table(*bv)
        bw = _BitWriter()
        for t in tokens:
            if t[0] == "sym":
                c, ln = enc[t[1]]
                bw.write(c, ln)
            else:
                bw.write(t[1], t[2])
        br = _BitReader(bw.flush() + b"\xff\xd9", 0)
        state = {"eobrun": 0}
        for zz in blocks_state:
            fn(br, zz, table, 1, 63, al, state)

    rng = np.random.RandomState(7)
    for _ in range(300):
        blocks = []
        for _ in range(rng.randint(1, 6)):
            zz = np.zeros(64, dtype=np.int64)
            for _ in range(rng.randint(0, 12)):
                zz[rng.randint(1, 64)] = rng.randint(-15, 16)
            blocks.append(zz)
        t1, st = [], {"eobrun": 0, "br": []}
        for zz in blocks:
            _ac_first_block_tokens(zz, 1, 63, 1, t1, st)
        _flush_eobrun(t1, st)
        t2, st = [], {"eobrun": 0, "br": []}
        for zz in blocks:
            _ac_refine_block_tokens(zz, 1, 63, 0, t2, st)
        _flush_eobrun(t2, st)
        out = [np.zeros(64, dtype=np.int64) for _ in blocks]
        run_scan(out, t1, _ac_first, 1)
        run_scan(out, t2, _ac_refine, 0)
        for b, g in zip(blocks, out):
            assert (g[1:] == b[1:]).all()


def test_ac_refine_hand_crafted_bitstream():
    """Decoder semantics pinned against a hand-built refinement stream (no
    encoder involved): history correction + EOB0 with trailing correction
    bit."""
    from x5_ner_spark.core.jpeg import (
        _ac_refine,
        _BitReader,
        _BitWriter,
        _canonical_codes,
        _decode_table,
    )

    # table: symbol 0x01 -> code 0 (len 2), symbol 0x00 (EOB0) -> code 1 (len 2)
    bits = [0, 2] + [0] * 14
    vals = [0x01, 0x00]
    table = _decode_table(bits, vals)
    enc = _canonical_codes(bits, vals)

    # state after a first scan at Al=1: zz[3] = 2 (history)
    zz = np.zeros(64, dtype=np.int64)
    zz[3] = 2
    # stream: (0,1) sym, sign=1 -> newly significant +1 at first zero-history
    # slot (k=1); then correction bit 1 for zz[3] read during the walk?? no —
    # run r=0 places at k=1 immediately; next symbol EOB0, whose tail reads
    # zz[3]'s correction bit (1 -> 2+1=3).
    bw = _BitWriter()
    c, ln = enc[0x01]; bw.write(c, ln)   # (r=0, s=1)
    bw.write(1, 1)                        # sign: positive
    c, ln = enc[0x00]; bw.write(c, ln)   # EOB0
    bw.write(1, 1)                        # correction bit for zz[3]
    br = _BitReader(bw.flush() + b"\xff\xd9", 0)
    state = {"eobrun": 0}
    _ac_refine(br, zz, table, 1, 63, 0, state)
    assert zz[1] == 1 and zz[3] == 3 and state["eobrun"] == 0
