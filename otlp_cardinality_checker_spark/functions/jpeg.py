"""Pure-stdlib JPEG codec (struct + numpy).

A standalone library module: no query in the registry decodes media.
It implements baseline sequential DCT JPEG (JFIF) end-to-end with no
libraries beyond numpy:

* **encode_jpeg** — grayscale or RGB 4:4:4, quality-scaled Annex-K-style
  quantization, float64 FDCT (exact basis matrix), canonical Huffman
  entropy coding with byte stuffing and optional restart intervals.
* **decode_jpeg** — full marker walk (DQT/SOF0/DHT/SOS/DRI), canonical
  Huffman tables rebuilt FROM THE STREAM (not assumed), LUT-based
  variable-width bit decoding, restart-marker resync, dequantize +
  dezigzag, one vectorized einsum IDCT over all blocks, YCbCr→RGB.

Scope: baseline (SOF0/SOF1) AND progressive (SOF2) DCT, 8-bit, 1 or 3
components, 4:4:4 and 4:2:0 chroma subsampling (2x2-luma MCUs,
box-filter downsample on encode, replicate upsample on decode).
Progressive covers the full ITU T.81 Annex G Huffman path: multi-scan
parsing, spectral selection, successive approximation on DC and AC
(first scans with cross-block EOB runs, refinement scans with
correction bits), restart markers inside any scan.  Arithmetic coding,
hierarchical (SOF3+), and other sampling layouts raise ValueError —
explicitly, not silently.

A progressive stream transmits the SAME quantized coefficients as the
baseline stream, only re-ordered — so decode(progressive encode) must
equal decode(baseline encode) bit-for-bit, which is how the tests pin
the whole Annex-G path without any external codec; the solid-tile
closed form below therefore verifies progressive streams unchanged.

Numeric contract (what makes a lossy codec checkable in closed form): every
rounding step is ``sign(x) * floor(|x| + 0.5 + 1e-9)`` — half-away with a
tie-guard epsilon (see ROUND_EPS), engine-portable, never numpy's
banker's rounding.  For a uniform 8x8 block of value v the FDCT is
DC-only with DC = 8*(v-128), so the decoded block is the closed form

    decoded(v) = clamp(rnd(rnd(8*(v-128)/q00) * q00 / 8 + 128))

with rnd as above — computable with no codec, which is how the tests
verify the decoder bit-for-bit on solid tiles (solid_tile_decoded_value).
RGB adds the standard BT.601 transform on both sides with the same
half-up rounding.
"""

from __future__ import annotations

import struct

import numpy as np

# zig-zag scan order over an 8x8 block (spec figure A.6)
ZIGZAG = np.array(
    [
         0,  1,  8, 16,  9,  2,  3, 10,
        17, 24, 32, 25, 18, 11,  4,  5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13,  6,  7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
UNZIGZAG = np.argsort(ZIGZAG)

# base quantization tables (Annex-K-style values; scaled by quality)
BASE_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
BASE_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Huffman table specs: (symbol, code_length) in canonical order.  The DC
# table is the standard Annex K luminance DC layout; the AC table is a
# custom-but-valid canonical layout (10 common symbols at 4 bits, the
# remaining 152 at 10 bits; Kraft sum 0.773 < 1).  The DECODER never
# assumes these — it rebuilds whatever tables the DHT segments declare.
_DC_LENGTHS = [(0, 2), (1, 3), (2, 3), (3, 3), (4, 3), (5, 3), (6, 4),
               (7, 5), (8, 6), (9, 7), (10, 8), (11, 9)]
_AC_SHORT = [0x00, 0x01, 0x02, 0x03, 0x04, 0x11, 0x21, 0xF0, 0x12, 0x31]


def _ac_lengths() -> list[tuple[int, int]]:
    out = [(s, 4) for s in _AC_SHORT]
    rest = []
    for run in range(16):
        for size in range(0, 11):
            sym = (run << 4) | size
            # size-0 symbols are EOB runs (EOB0..EOB14, used by the
            # progressive path; EOB0 = baseline EOB) and ZRL (0xF0)
            if sym in _AC_SHORT:
                continue
            rest.append(sym)
    out += [(s, 10) for s in rest]
    return out


def _canonical_codes(
    sym_lengths: list[tuple[int, int]],
) -> tuple[dict[int, tuple[int, int]], list[int], list[int]]:
    """Canonical Huffman assignment: returns {symbol: (code, length)} plus
    the DHT wire format (counts-per-length 1..16, symbol list)."""
    # stable canonical order: by length, then order of appearance
    ordered = sorted(sym_lengths, key=lambda t: t[1])
    codes: dict[int, tuple[int, int]] = {}
    counts = [0] * 17
    symbols = []
    code = 0
    prev_len = 0
    for sym, length in ordered:
        code <<= length - prev_len
        codes[sym] = (code, length)
        code += 1
        prev_len = length
        counts[length] += 1
        symbols.append(sym)
    return codes, counts[1:], symbols


def quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG-style quality scaling of a base table (public formula)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255)


def _dct_basis() -> np.ndarray:
    x = np.arange(8)
    u = np.arange(8)[:, None]
    c = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0)
    return 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16.0)


_C = _dct_basis()


# Ties round away from zero. The epsilon absorbs float-DCT noise (~1e-13)
# at EXACT ties — e.g. q00=16 puts every odd (v-128) DC precisely on a .5
# boundary, where cos-sum error would otherwise pick a side at random.
# solid_tile_decoded_value's closed form uses the same rule: sign*floor(
# abs(x) + 0.5 + 1e-9).
ROUND_EPS = 1e-9


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """sign(x) * floor(|x| + 0.5 + eps) — the engine-portable half-away
    rounding every stage of this codec uses (see ROUND_EPS note)."""
    return np.sign(x) * np.floor(np.abs(x) + 0.5 + ROUND_EPS)


def rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = (px[..., 0].astype(np.float64),
               px[..., 1].astype(np.float64),
               px[..., 2].astype(np.float64))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    out = np.stack([y, cb, cr], axis=-1)
    return np.clip(_round_half_up(out), 0, 255).astype(np.uint8)


def ycbcr_to_rgb(px: np.ndarray) -> np.ndarray:
    y, cb, cr = (px[..., 0].astype(np.float64),
                 px[..., 1].astype(np.float64) - 128.0,
                 px[..., 2].astype(np.float64) - 128.0)
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(_round_half_up(out), 0, 255).astype(np.uint8)


def _to_blocks(chan: np.ndarray, mult: int = 8) -> tuple[np.ndarray, int, int]:
    """Pad (edge-replicate) to multiples of ``mult`` and split into 8x8
    blocks (``mult=16`` aligns the luma plane to whole 4:2:0 MCUs)."""
    h, w = chan.shape
    ph, pw = (-h) % mult, (-w) % mult
    padded = np.pad(chan, ((0, ph), (0, pw)), mode="edge")
    hh, ww = padded.shape
    blocks = (
        padded.reshape(hh // 8, 8, ww // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )
    return blocks, hh // 8, ww // 8


def _from_blocks(blocks: np.ndarray, by: int, bx: int, h: int,
                 w: int) -> np.ndarray:
    full = (
        blocks.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(by * 8,
                                                                   bx * 8)
    )
    return full[:h, :w]


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def pad_to_byte(self) -> None:
        if self._n:
            self.write((1 << (8 - self._n)) - 1, 8 - self._n)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: (category size, offset bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(bw: _BitWriter, zz: np.ndarray, prev_dc: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    dc = int(zz[0])
    size, bits = _magnitude(dc - prev_dc)
    code, length = dc_codes[size]
    bw.write(code, length)
    bw.write(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        bw.write(code, length)
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return dc


def _flush_eobrun(bw: _BitWriter, ac_codes: dict, state: dict) -> None:
    """Emit a pending cross-block EOB run (EOBn code + extra bits) and the
    correction bits that ride with it (T.81 G.1.2.2/G.1.2.3)."""
    if state["eobrun"] > 0:
        nbits = state["eobrun"].bit_length() - 1
        code, length = ac_codes[nbits << 4]
        bw.write(code, length)
        if nbits:
            bw.write(state["eobrun"] & ((1 << nbits) - 1), nbits)
        state["eobrun"] = 0
    for b in state["bits"]:
        bw.write(b, 1)
    state["bits"] = []


def _enc_ac_first(bw: _BitWriter, zz: np.ndarray, ss: int, se: int,
                  al: int, ac_codes: dict, state: dict) -> None:
    """One block of an AC first (Ah=0) progressive scan: point-transformed
    sign-magnitude coefficients, zero runs, cross-block EOB runs."""
    r = 0
    emitted = False
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        if not emitted:
            _flush_eobrun(bw, ac_codes, state)
            emitted = True
        while r > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            r -= 16
        size = t.bit_length()
        _, bits = _magnitude(t if v > 0 else -t)
        code, length = ac_codes[(r << 4) | size]
        bw.write(code, length)
        bw.write(bits, size)
        r = 0
    if r > 0 or not emitted:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _flush_eobrun(bw, ac_codes, state)


def _enc_ac_refine(bw: _BitWriter, zz: np.ndarray, ss: int, se: int,
                   al: int, ac_codes: dict, state: dict) -> None:
    """One block of an AC refinement (Ah>0) scan: newly-visible
    coefficients as run/1 codes with a sign bit; one correction bit per
    nonzero-history coefficient, buffered to ride with the next code or
    the EOB run (T.81 G.1.2.3)."""
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob = 0  # 1 + relative index of the last NEWLY-visible coefficient
    for i, t in enumerate(absv):
        if t == 1:
            eob = i + 1
    r = 0
    br_bits: list[int] = []
    for i, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        # ZRLs only when they cannot fold into the EOB run
        while r > 15 and i < eob:
            _flush_eobrun(bw, ac_codes, state)
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            r -= 16
            for b in br_bits:
                bw.write(b, 1)
            br_bits = []
        if t > 1:  # history-nonzero: correction bit only, run unaffected
            br_bits.append(t & 1)
            continue
        _flush_eobrun(bw, ac_codes, state)
        code, length = ac_codes[(r << 4) | 1]
        bw.write(code, length)
        bw.write(1 if int(zz[ss + i]) > 0 else 0, 1)
        for b in br_bits:
            bw.write(b, 1)
        br_bits = []
        r = 0
    if r > 0 or br_bits:
        state["eobrun"] += 1
        state["bits"].extend(br_bits)
        if state["eobrun"] == 0x7FFF or len(state["bits"]) > 1000:
            _flush_eobrun(bw, ac_codes, state)


def _quantize_blocks(chan: np.ndarray, q: np.ndarray,
                     mult: int = 8) -> tuple[np.ndarray, int, int]:
    """FDCT all 8x8 blocks of one channel at once, quantize, zigzag."""
    blocks, by, bx = _to_blocks(chan, mult)
    shifted = blocks.astype(np.float64) - 128.0
    coef = np.einsum("ux,nxy,vy->nuv", _C, shifted, _C)
    zz = _round_half_up(coef / q.reshape(8, 8)).astype(np.int64)
    return zz.reshape(-1, 64)[:, ZIGZAG], by, bx


def _downsample2(chan: np.ndarray) -> np.ndarray:
    """2x2 box downsample with the codec's half-away rounding (the 4:2:0
    chroma reduction; exact on uniform tiles)."""
    h, w = chan.shape
    quad = chan.astype(np.float64).reshape(h // 2, 2, w // 2, 2)
    return np.clip(
        _round_half_up(quad.mean(axis=(1, 3))), 0, 255
    ).astype(np.uint8)


def _mcu_plan_444(n_comp: int, by: int, bx: int):
    """One block per component per MCU; MCU grid == block grid."""
    return [[(ci, m) for ci in range(n_comp)] for m in range(by * bx)]


def _mcu_plan_420(lby: int, lbx: int):
    """2x2 luma blocks + 1 Cb + 1 Cr per MCU (luma grid is 16-aligned)."""
    mby, mbx = lby // 2, lbx // 2
    plan = []
    for my in range(mby):
        for mx in range(mbx):
            plan.append(
                [
                    (0, (2 * my) * lbx + 2 * mx),
                    (0, (2 * my) * lbx + 2 * mx + 1),
                    (0, (2 * my + 1) * lbx + 2 * mx),
                    (0, (2 * my + 1) * lbx + 2 * mx + 1),
                    (1, my * mbx + mx),
                    (2, my * mbx + mx),
                ]
            )
    return plan


def encode_jpeg(px: np.ndarray, quality: int = 75,
                restart_interval: int = 0,
                subsampling: str = "444",
                progressive: bool = False) -> bytes:
    """Baseline (SOF0) or progressive (SOF2) JFIF encode of a (h, w)
    grayscale or (h, w, 3) RGB uint8 array; ``subsampling`` is ``"444"``
    or ``"420"`` (color only), optional restart markers (interval counts
    MCUs / blocks per scan).  The progressive scan script uses spectral
    selection AND successive approximation (DC Al=1→0; luma AC split
    1-5/6-63 at Al=2 then two refinement passes, chroma AC at Al=1 then
    one), exercising every Annex-G Huffman coding mode; the quantized
    coefficients are identical to the baseline stream's by construction."""
    if px.dtype != np.uint8:
        raise ValueError("pixels must be uint8")
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("expected (h,w) grayscale or (h,w,3) RGB")
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be 444 or 420, got {subsampling}")
    sub420 = subsampling == "420" and not gray
    h, w = px.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError(f"bad dimensions {h}x{w}")

    q_luma = quality_scale(BASE_Q_LUMA, quality)
    q_chroma = quality_scale(BASE_Q_CHROMA, quality)

    # component planes -> quantized zigzag blocks + an MCU plan; grid_dims
    # is the (MCU-padded) block grid each comp's blocks are stored on,
    # scan_dims the ceil(samples/8) grid non-interleaved scans cover
    if gray:
        zz, by, bx = _quantize_blocks(px, q_luma)
        comp_zz = [zz]
        plan = _mcu_plan_444(1, by, bx)
        n_comp, samplings = 1, [0x11]
        grid_dims = scan_dims = [(by, bx)]
    else:
        ycc = rgb_to_ycbcr(px)
        if sub420:
            ph, pw = (-h) % 16, (-w) % 16
            ycc = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
            comp_zz = [_quantize_blocks(ycc[..., 0], q_luma)[0]]
            lby = ycc.shape[0] // 8
            lbx = ycc.shape[1] // 8
            for ci in (1, 2):
                comp_zz.append(
                    _quantize_blocks(
                        _downsample2(ycc[..., ci]), q_chroma
                    )[0]
                )
            plan = _mcu_plan_420(lby, lbx)
            n_comp, samplings = 3, [0x22, 0x11, 0x11]
            grid_dims = [(lby, lbx), (lby // 2, lbx // 2),
                         (lby // 2, lbx // 2)]
            ch, cw = (h + 1) // 2, (w + 1) // 2
            scan_dims = [
                ((h + 7) // 8, (w + 7) // 8),
                ((ch + 7) // 8, (cw + 7) // 8),
                ((ch + 7) // 8, (cw + 7) // 8),
            ]
        else:
            comp_zz = []
            by = bx = 0
            for ci in range(3):
                zz, by, bx = _quantize_blocks(
                    ycc[..., ci], q_luma if ci == 0 else q_chroma
                )
                comp_zz.append(zz)
            plan = _mcu_plan_444(3, by, bx)
            n_comp, samplings = 3, [0x11, 0x11, 0x11]
            grid_dims = scan_dims = [(by, bx)] * 3

    dc_codes, dc_counts, dc_syms = _canonical_codes(_DC_LENGTHS)
    ac_codes, ac_counts, ac_syms = _canonical_codes(_ac_lengths())

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
    out += struct.pack(">HHBB", 1, 1, 0, 0)  # density + no thumbnail
    for tid, q in ((0, q_luma), (1, q_chroma)) if not gray else ((0, q_luma),):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid)
        out += bytes(int(v) for v in q[ZIGZAG])
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    out += sof_marker + struct.pack(">HBHHB", 8 + 3 * n_comp, 8, h, w,
                                    n_comp)
    for ci in range(n_comp):
        out += struct.pack(
            ">BBB", ci + 1, samplings[ci], 0 if ci == 0 else 1
        )
    for tclass_tid, counts, syms in ((0x00, dc_counts, dc_syms),
                                     (0x10, ac_counts, ac_syms)):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(syms), tclass_tid)
        out += bytes(counts) + bytes(syms)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        hdr = struct.pack(">HB", 6 + 2 * len(comp_ids), len(comp_ids))
        for cid in comp_ids:
            hdr += struct.pack(">BB", cid + 1, 0x00)  # DC tab 0, AC tab 0
        hdr += struct.pack(">BBB", ss, se, (ah << 4) | al)
        return b"\xff\xda" + hdr

    if not progressive:
        out += sos(list(range(n_comp)), 0, 63, 0, 0)
        bw = _BitWriter()
        prev_dc = [0] * n_comp
        rst = 0
        for mi, mcu in enumerate(plan):
            if restart_interval and mi and mi % restart_interval == 0:
                bw.pad_to_byte()
                bw.buf += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                prev_dc = [0] * n_comp
            for ci, blk in mcu:
                prev_dc[ci] = _encode_block(
                    bw, comp_zz[ci][blk], prev_dc[ci], dc_codes, ac_codes
                )
        bw.pad_to_byte()
        out += bw.buf
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    # --- progressive scan script (T.81 Annex G, Huffman path) ---
    if gray:
        script: list[tuple] = [
            ("dc", 0, 1),          # DC first, Al=1 (point transform)
            ("ac", 0, 1, 63, 0, 1),
            ("dcr", 1, 0),         # DC refinement bit
            ("ac", 0, 1, 63, 1, 0),
        ]
    else:
        script = [
            ("dc", 0, 1),
            ("ac", 0, 1, 5, 0, 2),   # luma low band first
            ("ac", 2, 1, 63, 0, 1),
            ("ac", 1, 1, 63, 0, 1),
            ("ac", 0, 6, 63, 0, 2),  # luma high band
            ("ac", 0, 1, 63, 2, 1),  # luma refine Al 2->1
            ("dcr", 1, 0),
            ("ac", 0, 1, 63, 1, 0),  # final refinements to full precision
            ("ac", 2, 1, 63, 1, 0),
            ("ac", 1, 1, 63, 1, 0),
        ]

    def ac_units(ci: int):
        nby, nbx = scan_dims[ci]
        gbx = grid_dims[ci][1]
        return [r * gbx + c for r in range(nby) for c in range(nbx)]

    for entry in script:
        bw = _BitWriter()
        rst = 0
        if entry[0] in ("dc", "dcr"):
            _kind, ah, al = entry
            out += sos(list(range(n_comp)), 0, 0, ah, al)
            prev_dc = [0] * n_comp
            for mi, mcu in enumerate(plan):
                if restart_interval and mi and mi % restart_interval == 0:
                    bw.pad_to_byte()
                    bw.buf += bytes([0xFF, 0xD0 + (rst & 7)])
                    rst += 1
                    prev_dc = [0] * n_comp
                for ci, blk in mcu:
                    dc = int(comp_zz[ci][blk][0])
                    if ah == 0:
                        v = dc >> al  # arithmetic shift (two's complement)
                        size, bits = _magnitude(v - prev_dc[ci])
                        code, length = dc_codes[size]
                        bw.write(code, length)
                        bw.write(bits, size)
                        prev_dc[ci] = v
                    else:
                        bw.write((dc >> al) & 1, 1)
        else:
            _kind, ci, ss, se, ah, al = entry
            out += sos([ci], ss, se, ah, al)
            state = {"eobrun": 0, "bits": []}
            for bi, blk in enumerate(ac_units(ci)):
                if restart_interval and bi and bi % restart_interval == 0:
                    _flush_eobrun(bw, ac_codes, state)
                    bw.pad_to_byte()
                    bw.buf += bytes([0xFF, 0xD0 + (rst & 7)])
                    rst += 1
                enc = _enc_ac_first if ah == 0 else _enc_ac_refine
                enc(bw, comp_zz[ci][blk], ss, se, al, ac_codes, state)
            _flush_eobrun(bw, ac_codes, state)
        bw.pad_to_byte()
        out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def is_jpeg(data: bytes) -> bool:
    return len(data) >= 3 and data[:3] == b"\xff\xd8\xff"


class _BitReader:
    """MSB-first reader over de-stuffed scan bytes with restart resync."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def _fill(self, need: int) -> None:
        while self._n < need:
            if self.pos >= len(self.data):
                # spec: pad with 1-bits at the end of the scan
                self._acc = (self._acc << 8) | 0xFF
                self._n += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(
                    self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:
                    # RSTn: the entropy segment is 1-padded to the byte
                    # boundary before the marker — serve padding WITHOUT
                    # consuming the marker (sync_restart will). EOI / next
                    # segment: same end-of-scan padding.
                    self._acc = (self._acc << 8) | 0xFF
                    self._n += 8
                    continue
            else:
                self.pos += 1
            self._acc = (self._acc << 8) | b
            self._n += 8

    def peek(self, nbits: int) -> int:
        self._fill(nbits)
        return (self._acc >> (self._n - nbits)) & ((1 << nbits) - 1)

    def take(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        v = self.peek(nbits)
        self._n -= nbits
        self._acc &= (1 << self._n) - 1
        return v

    def sync_restart(self) -> None:
        """Byte-align and consume the RSTn marker at the current position."""
        self._acc = 0
        self._n = 0
        while self.pos + 1 < len(self.data):
            if (self.data[self.pos] == 0xFF
                    and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker, found end of scan")


class _HuffLUT:
    """Flat 2^maxlen lookup built from DHT counts+symbols."""

    def __init__(self, counts: list[int], symbols: list[int]) -> None:
        self.maxlen = max(
            (i + 1 for i, c in enumerate(counts) if c), default=1
        )
        size = 1 << self.maxlen
        self.sym = np.zeros(size, dtype=np.int32)
        self.len = np.zeros(size, dtype=np.int32)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                if code >= (1 << length):
                    raise ValueError("invalid Huffman table (Kraft overflow)")
                lo = code << (self.maxlen - length)
                hi = (code + 1) << (self.maxlen - length)
                self.sym[lo:hi] = symbols[k]
                self.len[lo:hi] = length
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        idx = br.peek(self.maxlen)
        length = int(self.len[idx])
        if length == 0:
            raise ValueError("invalid Huffman code in scan")
        br.take(length)
        return int(self.sym[idx])


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _entropy_end(data: bytes, start: int) -> int:
    """Index of the first non-RST, non-stuffed marker after ``start`` —
    the end of one entropy-coded segment (RSTn markers and 0xFF00
    stuffing belong to the segment; 0xFFFF is fill)."""
    i = start
    n = len(data)
    while i + 1 < n:
        if data[i] == 0xFF:
            nxt = data[i + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                i += 2
                continue
            if nxt == 0xFF:  # fill byte
                i += 1
                continue
            return i
        i += 1
    return n


def _dec_ac_first(br: _BitReader, row: np.ndarray, lut: _HuffLUT,
                  kstart: int, se: int, al: int, eobrun: int) -> int:
    """AC coefficients of one block, first (Ah=0) pass — also the
    baseline AC path (kstart=1, se=63, al=0, where EOB0 == baseline EOB).
    Returns the remaining cross-block EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = kstart
    while k <= se:
        sym = lut.decode(br)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.take(r)
            return eobrun
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        row[k] = _extend(br.take(s), s) << al
        k += 1
    return 0


def _dec_ac_refine(br: _BitReader, row: np.ndarray, lut: _HuffLUT,
                   ss: int, se: int, al: int, eobrun: int) -> int:
    """AC refinement (Ah>0) pass over one block: newly-nonzero
    coefficients arrive as ±1<<Al; every nonzero-history coefficient
    passed over receives one correction bit (T.81 G.1.2.3)."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = lut.decode(br)
            r, s = sym >> 4, sym & 0x0F
            newval = 0
            if s == 0:
                if r < 15:
                    # NOTE: unlike the first-scan decoder this counts the
                    # CURRENT block too — the tail below must still hand
                    # correction bits to the rest of this block's band
                    eobrun = 1 << r
                    if r:
                        eobrun += br.take(r)
                    break
                # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad AC refinement symbol")
                newval = p1 if br.take(1) else m1
            # advance past r zero-history coefficients, handing a
            # correction bit to each nonzero-history one on the way
            while k <= se:
                if row[k] != 0:
                    if br.take(1) and (int(row[k]) & p1) == 0:
                        row[k] += p1 if row[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if k <= se:
                if newval:
                    row[k] = newval
                k += 1
            elif newval:
                raise ValueError("AC refinement run past band end")
    if eobrun > 0:
        while k <= se:
            if row[k] != 0:
                if br.take(1) and (int(row[k]) & p1) == 0:
                    row[k] += p1 if row[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline (SOF0/SOF1) or progressive (SOF2) JPEG, 4:4:4 /
    4:2:0 / grayscale, to (h, w) or (h, w, 3) uint8.

    Raises ValueError on arithmetic-coded, hierarchical, 12-bit, other
    sampling layouts, or malformed streams."""
    if not is_jpeg(data):
        raise ValueError("not a JPEG stream")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffLUT] = {}
    huff_ac: dict[int, _HuffLUT] = {}
    h = w = 0
    progressive = False
    comps: list[tuple[int, int, int]] = []  # (id, sampling, qtab)
    restart_interval = 0
    # one record per SOS: (comp indices, dc luts, ac luts, ss, se, ah, al,
    #                      restart interval in force, entropy bytes)
    scans: list[tuple] = []

    while pos + 1 < len(data):
        while (data[pos] == 0xFF and pos + 1 < len(data)
               and data[pos + 1] == 0xFF):
            pos += 1  # fill bytes before a marker
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        seglen = struct.unpack(">H", data[pos:pos + 2])[0]
        seg = data[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tid = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tab = np.frombuffer(
                    seg[p + 1:p + 65], dtype=np.uint8
                ).astype(np.int64)
                qtabs[tid] = tab[UNZIGZAG]
                p += 65
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported SOF marker 0xFF{marker:02X} "
                "(only baseline SOF0/SOF1 and progressive SOF2)"
            )
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            progressive = marker == 0xC2
            precision, h, w, n_comp = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise ValueError(f"unsupported precision {precision}")
            for ci in range(n_comp):
                cid, samp, qid = seg[6 + 3 * ci:9 + 3 * ci]
                comps.append((cid, samp, qid))
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tclass, tid = seg[p] >> 4, seg[p] & 0x0F
                counts = list(seg[p + 1:p + 17])
                n = sum(counts)
                symbols = list(seg[p + 17:p + 17 + n])
                lut = _HuffLUT(counts, symbols)
                (huff_dc if tclass == 0 else huff_ac)[tid] = lut
                p += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            cids = [c[0] for c in comps]
            sc_idx, sc_dc, sc_ac = [], [], []
            for i in range(ns):
                cid, tabs = seg[1 + 2 * i], seg[2 + 2 * i]
                if cid not in cids:
                    raise ValueError(f"scan references unknown comp {cid}")
                sc_idx.append(cids.index(cid))
                sc_dc.append(huff_dc.get(tabs >> 4))
                sc_ac.append(huff_ac.get(tabs & 0x0F))
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("non-full scan in a baseline frame")
            if progressive and ss == 0 and se != 0:
                raise ValueError("progressive DC scan must have Se=0")
            if progressive and ss > 0 and ns != 1:
                raise ValueError("progressive AC scans must be ns=1")
            end = _entropy_end(data, pos + seglen)
            scans.append((sc_idx, sc_dc, sc_ac, ss, se, ah, al,
                          restart_interval, data[pos + seglen:end]))
            pos = end
            continue
        pos += seglen

    if not scans or not comps:
        raise ValueError("missing SOS/SOF segment")
    n_comp = len(comps)

    samps = [c[1] for c in comps]
    if all(s == 0x11 for s in samps):
        sub420 = False
        by, bx = (h + 7) // 8, (w + 7) // 8
        comp_dims = [(by, bx)] * n_comp
        # non-interleaved (ns=1) scan grids match the MCU grid in 4:4:4
        scan_dims = list(comp_dims)
        plan = _mcu_plan_444(n_comp, by, bx)
    elif n_comp == 3 and samps == [0x22, 0x11, 0x11]:
        sub420 = True
        lby, lbx = 2 * ((h + 15) // 16), 2 * ((w + 15) // 16)
        comp_dims = [(lby, lbx), (lby // 2, lbx // 2), (lby // 2, lbx // 2)]
        # ns=1 scans cover ceil(component samples / 8) data units, NOT the
        # MCU-padded grid (T.81 A.2.2); padded blocks simply stay zero
        ch, cw = (h + 1) // 2, (w + 1) // 2
        scan_dims = [
            ((h + 7) // 8, (w + 7) // 8),
            ((ch + 7) // 8, (cw + 7) // 8),
            ((ch + 7) // 8, (cw + 7) // 8),
        ]
        plan = _mcu_plan_420(lby, lbx)
    else:
        raise ValueError(
            "chroma subsampling unsupported (4:4:4 and 4:2:0 only), got "
            f"sampling bytes {[hex(s) for s in samps]}"
        )

    coef = [
        np.zeros((cby * cbx, 64), dtype=np.int64) for cby, cbx in comp_dims
    ]
    for sc_idx, sc_dc, sc_ac, ss, se, ah, al, ri, entropy in scans:
        if len(sc_idx) > 1:
            if sc_idx != list(range(n_comp)):
                raise ValueError("interleaved scan must cover all comps")
            units = plan
            dc_luts, ac_luts = sc_dc, sc_ac
        else:
            ci = sc_idx[0]
            nby, nbx = scan_dims[ci]
            gridbx = comp_dims[ci][1]
            units = [
                [(ci, r * gridbx + c)]
                for r in range(nby)
                for c in range(nbx)
            ]
            dc_luts = [None] * ci + [sc_dc[0]]
            ac_luts = [None] * ci + [sc_ac[0]]
        if ss == 0 and ah == 0 and any(
            dc_luts[ci] is None for ci, _b in
            (pair for unit in units[:1] for pair in unit)
        ):
            raise ValueError("scan references undefined DC table")
        br = _BitReader(entropy)
        prev_dc = [0] * n_comp
        eobrun = 0
        for ui, unit in enumerate(units):
            if ri and ui and ui % ri == 0:
                br.sync_restart()
                prev_dc = [0] * n_comp
                eobrun = 0
            for ci, blk in unit:
                row = coef[ci][blk]
                if ss == 0:
                    if ah == 0:
                        size = dc_luts[ci].decode(br)
                        prev_dc[ci] += _extend(br.take(size), size)
                        row[0] = prev_dc[ci] << al
                    elif br.take(1):
                        row[0] = int(row[0]) | (1 << al)
                if se == 0:
                    continue  # DC-only progressive scan
                if ac_luts[ci] is None:
                    raise ValueError("scan references undefined AC table")
                if ah == 0:
                    eobrun = _dec_ac_first(
                        br, row, ac_luts[ci], max(ss, 1), se, al, eobrun
                    )
                else:
                    eobrun = _dec_ac_refine(
                        br, row, ac_luts[ci], ss, se, al, eobrun
                    )

    chans = []
    for ci, (cid, _samp, qid) in enumerate(comps):
        q = qtabs[qid]
        cby, cbx = comp_dims[ci]
        deq = (coef[ci][:, UNZIGZAG] * q).reshape(-1, 8, 8).astype(
            np.float64
        )
        spatial = np.einsum("ux,nuv,vy->nxy", _C, deq, _C)
        px = np.clip(_round_half_up(spatial + 128.0), 0, 255).astype(
            np.uint8
        )
        plane = _from_blocks(px, cby, cbx, cby * 8, cbx * 8)
        if sub420 and ci > 0:
            # nearest (replicate) upsample back to luma resolution
            plane = np.repeat(np.repeat(plane, 2, axis=0), 2, axis=1)
        chans.append(plane[:h, :w])
    if n_comp == 1:
        return chans[0]
    if n_comp != 3:
        raise ValueError(f"unsupported component count {n_comp}")
    return ycbcr_to_rgb(np.stack(chans, axis=-1))


def solid_tile_decoded_value(v: int, q00: int) -> int:
    """Closed form for a uniform 8x8 block of value ``v`` through the
    quantize/dequantize/IDCT pipeline with DC quant step ``q00`` — a
    decoder-less formula the tests pin against the real codec."""
    x = 8.0 * (v - 128) / q00
    dc = int(np.sign(x) * np.floor(abs(x) + 0.5 + ROUND_EPS))
    val = dc * q00 / 8.0 + 128.0
    val = int(np.sign(val) * np.floor(abs(val) + 0.5 + ROUND_EPS))
    return int(np.clip(val, 0, 255))
