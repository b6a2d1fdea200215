"""Baseline JPEG codec: closed-form DC parity, roundtrip bounds, rejects.

No Spark here — pure codec tests.
"""

from __future__ import annotations

import numpy as np
import pytest

from otlp_cardinality_checker_spark.functions.jpeg import (
    BASE_Q_CHROMA,
    BASE_Q_LUMA,
    decode_jpeg,
    encode_jpeg,
    is_jpeg,
    quality_scale,
    rgb_to_ycbcr,
    solid_tile_decoded_value,
    ycbcr_to_rgb,
    _C,
)


def test_dct_basis_is_orthonormal():
    assert np.allclose(_C @ _C.T, np.eye(8), atol=1e-12)


def test_idct_matches_textbook_double_loop():
    """Cross-implementation check: the einsum IDCT must equal the direct
    spec-formula double loop (independent formulation)."""
    rng = np.random.default_rng(3)
    S = rng.integers(-500, 500, (8, 8)).astype(np.float64)
    fast = np.einsum("ux,uv,vy->xy", _C, S, _C)
    slow = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    acc += (
                        cu * cv / 4.0
                        * S[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            slow[x, y] = acc
    assert np.allclose(fast, slow, atol=1e-9)


@pytest.mark.parametrize("quality", [35, 50, 75, 90])
def test_solid_gray_matches_closed_form(quality):
    q00 = int(quality_scale(BASE_Q_LUMA, quality)[0])
    for v in range(0, 256, 7):
        img = np.full((16, 24), v, dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quality=quality))
        u = np.unique(dec)
        assert len(u) == 1 and u[0] == solid_tile_decoded_value(v, q00)


def test_solid_color_matches_closed_form():
    """Color path: RGB -> YCbCr -> per-channel DC pipeline -> RGB, every
    stage via the module's own public functions."""
    quality = 75
    q_l = int(quality_scale(BASE_Q_LUMA, quality)[0])
    q_c = int(quality_scale(BASE_Q_CHROMA, quality)[0])
    for rgb in [(200, 30, 90), (0, 0, 0), (255, 255, 255), (12, 250, 128)]:
        img = np.zeros((8, 16, 3), dtype=np.uint8)
        img[..., 0], img[..., 1], img[..., 2] = rgb
        dec = decode_jpeg(encode_jpeg(img, quality=quality))
        ycc = rgb_to_ycbcr(img[:1, :1])[0, 0]
        rt = np.array(
            [
                solid_tile_decoded_value(int(ycc[0]), q_l),
                solid_tile_decoded_value(int(ycc[1]), q_c),
                solid_tile_decoded_value(int(ycc[2]), q_c),
            ],
            dtype=np.uint8,
        )
        expect = ycbcr_to_rgb(rt.reshape(1, 1, 3))[0, 0]
        assert np.array_equal(dec.reshape(-1, 3), np.tile(expect, (128, 1)))


def test_random_roundtrip_error_bounds():
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    err90 = np.abs(
        decode_jpeg(encode_jpeg(img, quality=90)).astype(int) - img
    ).max()
    err30 = np.abs(
        decode_jpeg(encode_jpeg(img, quality=30)).astype(int) - img
    ).max()
    assert err90 <= 30  # noise is the worst case for DCT coding
    assert err30 >= err90  # lower quality can't be more faithful


def test_smooth_image_near_lossless_at_high_quality():
    ys, xs = np.mgrid[0:48, 0:64]
    smooth = ((ys + xs) // 2 % 256).astype(np.uint8)
    err95 = np.abs(
        decode_jpeg(encode_jpeg(smooth, quality=95)).astype(int) - smooth
    ).max()
    assert err95 <= 1


def test_odd_dimensions_pad_and_crop():
    rng = np.random.default_rng(1)
    for shape in [(13, 17), (1, 1), (8, 9), (9, 8), (7, 24, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quality=95))
        assert dec.shape == img.shape


def test_restart_interval_parity():
    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    color = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    for img in (gray, color):
        base = decode_jpeg(encode_jpeg(img, quality=80))
        for ri in (1, 2, 5):
            assert np.array_equal(
                decode_jpeg(encode_jpeg(img, quality=80, restart_interval=ri)),
                base,
            )


def test_420_solid_macroblock_matches_closed_form():
    """4:2:0: a uniform 16x16 tile stays uniform through the box
    downsample + replicate upsample, so the 4:4:4 closed form verifies
    the subsampled pipeline unchanged."""
    quality = 75
    q_l = int(quality_scale(BASE_Q_LUMA, quality)[0])
    q_c = int(quality_scale(BASE_Q_CHROMA, quality)[0])
    for rgb in [(200, 30, 90), (5, 250, 125), (0, 0, 0)]:
        img = np.zeros((16, 32, 3), dtype=np.uint8)
        img[..., 0], img[..., 1], img[..., 2] = rgb
        dec = decode_jpeg(encode_jpeg(img, quality=quality,
                                      subsampling="420"))
        ycc = rgb_to_ycbcr(img[:1, :1])[0, 0]
        rt = np.array(
            [
                solid_tile_decoded_value(int(ycc[0]), q_l),
                solid_tile_decoded_value(int(ycc[1]), q_c),
                solid_tile_decoded_value(int(ycc[2]), q_c),
            ],
            dtype=np.uint8,
        )
        expect = ycbcr_to_rgb(rt.reshape(1, 1, 3))[0, 0]
        assert np.array_equal(dec.reshape(-1, 3), np.tile(expect, (512, 1)))


def test_420_roundtrip_and_odd_sizes():
    rng = np.random.default_rng(11)
    ys, xs = np.mgrid[0:48, 0:64]
    smooth = np.stack(
        [((ys + xs) // 2) % 256, ys % 256, xs % 256], axis=-1
    ).astype(np.uint8)
    err = np.abs(
        decode_jpeg(encode_jpeg(smooth, quality=90, subsampling="420"))
        .astype(int) - smooth
    ).max()
    assert err <= 8  # chroma subsampling costs a little even when smooth
    for shape in [(23, 37, 3), (16, 16, 3), (1, 1, 3), (17, 16, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert decode_jpeg(
            encode_jpeg(img, quality=95, subsampling="420")
        ).shape == img.shape


def test_420_restart_interval_parity():
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=80, subsampling="420"))
    for ri in (1, 3):
        assert np.array_equal(
            decode_jpeg(
                encode_jpeg(img, quality=80, subsampling="420",
                            restart_interval=ri)
            ),
            base,
        )


def test_420_luma_fidelity_unaffected_by_subsampling():
    """Subsampling touches chroma only: the decoded LUMA plane of a 420
    stream must equal the 444 stream's (same quant, same DCT path)."""
    rng = np.random.default_rng(17)
    # mid-gamut values: RGB clamping never fires, so luma passes through
    # the color roundtrip undistorted by chroma error
    img = rng.integers(100, 160, (32, 32, 3), dtype=np.uint8)
    a = rgb_to_ycbcr(decode_jpeg(encode_jpeg(img, quality=90)))[..., 0]
    b = rgb_to_ycbcr(
        decode_jpeg(encode_jpeg(img, quality=90, subsampling="420"))
    )[..., 0]
    # YCbCr->RGB->YCbCr roundtrips wobble by ±2; the luma signal itself
    # is identical between the two streams
    assert np.abs(a.astype(int) - b.astype(int)).max() <= 4


def test_encoder_subsampling_validation():
    with pytest.raises(ValueError, match="subsampling"):
        encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8), subsampling="422")


def test_color_conversion_roundtrip_bound():
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (50, 50, 3), dtype=np.uint8)
    back = ycbcr_to_rgb(rgb_to_ycbcr(px))
    assert np.abs(back.astype(int) - px.astype(int)).max() <= 3


def test_rejects_garbage_and_unsupported():
    assert not is_jpeg(b"\x89PNG")
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")
    img = np.zeros((8, 8), dtype=np.uint8)
    data = bytearray(encode_jpeg(img))
    # flip SOF0 (FFC0) to lossless SOF3 (FFC3) — still unsupported
    i = bytes(data).find(b"\xff\xc0")
    data[i + 1] = 0xC3
    with pytest.raises(ValueError, match="SOF"):
        decode_jpeg(bytes(data))
    # SOF2 relabel alone is now caught by progressive scan validation
    # (a progressive DC scan may not carry AC coefficients)
    data[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive DC scan"):
        decode_jpeg(bytes(data))
    # corrupt sampling factor to an unsupported 4:1:1-style layout (0x41)
    data = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    i = bytes(data).find(b"\xff\xc0")
    data[i + 11] = 0x41  # first component sampling byte
    with pytest.raises(ValueError, match="subsampling"):
        decode_jpeg(bytes(data))


def test_encoder_input_validation():
    with pytest.raises(ValueError, match="uint8"):
        encode_jpeg(np.zeros((8, 8), dtype=np.int32))
    with pytest.raises(ValueError, match="quality"):
        encode_jpeg(np.zeros((8, 8), dtype=np.uint8), quality=0)
    with pytest.raises(ValueError, match="grayscale"):
        encode_jpeg(np.zeros((8, 8, 4), dtype=np.uint8))


def test_progressive_equals_baseline_bit_exact():
    """A progressive stream re-orders the SAME quantized coefficients, so
    the decoded image must equal the baseline stream's bit-for-bit —
    this pins the whole Annex-G path (spectral selection, successive
    approximation, EOB runs, correction bits) with no external codec."""
    rng = np.random.default_rng(42)
    cases = [
        (rng.integers(0, 256, (16, 24), dtype=np.uint8), {}),
        (rng.integers(0, 256, (13, 9), dtype=np.uint8), {}),
        (rng.integers(0, 256, (24, 32, 3), dtype=np.uint8), {}),
        (rng.integers(0, 256, (17, 23, 3), dtype=np.uint8), {}),
        (rng.integers(0, 256, (32, 48, 3), dtype=np.uint8),
         {"subsampling": "420"}),
        (rng.integers(0, 256, (23, 37, 3), dtype=np.uint8),
         {"subsampling": "420"}),
        (np.full((16, 16, 3), 130, dtype=np.uint8), {}),
        (rng.integers(0, 256, (1, 1, 3), dtype=np.uint8), {}),
    ]
    for img, kw in cases:
        for q in (35, 75, 90):
            base = decode_jpeg(encode_jpeg(img, quality=q, **kw))
            prog = decode_jpeg(
                encode_jpeg(img, quality=q, progressive=True, **kw)
            )
            assert np.array_equal(base, prog), (img.shape, q, kw)


def test_progressive_restart_markers_parity():
    rng = np.random.default_rng(7)
    for kw in ({}, {"subsampling": "420"}):
        img = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
        base = decode_jpeg(encode_jpeg(img, quality=80, **kw))
        for ri in (1, 2, 5):
            prog = decode_jpeg(
                encode_jpeg(img, quality=80, progressive=True,
                            restart_interval=ri, **kw)
            )
            assert np.array_equal(base, prog), (ri, kw)


def test_progressive_scan_pair_property():
    """Fuzz the AC first/refinement encoder-decoder pair in isolation:
    random coefficient blocks, random bands, 3- and 4-level successive
    approximation ladders — decoded band must equal the input exactly."""
    from otlp_cardinality_checker_spark.functions import jpeg as J

    ac_codes, counts, syms = J._canonical_codes(J._ac_lengths())
    lut = J._HuffLUT(list(counts), list(syms))
    rng = np.random.default_rng(1)
    for trial in range(300):
        n = int(rng.integers(1, 8))
        density = float(rng.uniform(0, 0.5))
        blocks = []
        for _ in range(n):
            b = np.zeros(64, dtype=np.int64)
            mask = rng.random(63) < density
            vals = rng.integers(-200, 201, 63)
            b[1:][mask] = vals[mask]
            blocks.append(b)
        ss = int(rng.integers(1, 10))
        se = int(rng.integers(ss, 64))
        levels = [2, 1, 0] if trial % 2 == 0 else [3, 2, 1, 0]
        dec = [np.zeros(64, dtype=np.int64) for _ in blocks]
        for si, al in enumerate(levels):
            bw = J._BitWriter()
            state = {"eobrun": 0, "bits": []}
            for b in blocks:
                enc = J._enc_ac_first if si == 0 else J._enc_ac_refine
                enc(bw, b, ss, se, al, ac_codes, state)
            J._flush_eobrun(bw, ac_codes, state)
            bw.pad_to_byte()
            br = J._BitReader(bytes(bw.buf))
            eobrun = 0
            for d in dec:
                fn = J._dec_ac_first if si == 0 else J._dec_ac_refine
                eobrun = fn(br, d, lut, ss, se, al, eobrun)
        for b, d in zip(blocks, dec):
            assert np.array_equal(b[ss:se + 1], d[ss:se + 1]), trial


def test_progressive_fuzz_shapes():
    rng = np.random.default_rng(3)
    for t in range(25):
        hh, ww = int(rng.integers(1, 70)), int(rng.integers(1, 70))
        gray = t % 3 == 0
        shape = (hh, ww) if gray else (hh, ww, 3)
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        kw = {"subsampling": "420"} if (not gray and t % 2) else {}
        q = int(rng.integers(1, 101))
        b = decode_jpeg(encode_jpeg(img, quality=q, **kw))
        p = decode_jpeg(encode_jpeg(img, quality=q, progressive=True, **kw))
        assert np.array_equal(b, p), (t, shape, q, kw)
