"""H.264 I_16x16 intra-predicted macroblocks with CAVLC residuals —
the prediction/transform slice of the codec seam (pure Python/numpy).

Round 3 shipped the real NAL/Exp-Golomb/I_PCM layer
(:mod:`operators.h264codec`); every *predicted* macroblock still
classified as ``NotImplementedError``. This module implements the
spec-conformant subset of the prediction+transform stack that a
no-codec-library environment can genuinely host and verify:

* **I_16x16 macroblocks, DC prediction mode (Intra_16x16_DC, spec
  8.3.3)** — each MB's 16x16 luma is predicted from the reconstructed
  bottom row / right column of its top/left neighbours ((sum_top +
  sum_left + 16) >> 5 when both are available, (sum + 8) >> 4 for one,
  128 for none), so predictions CHAIN across the picture and a decoder
  bug anywhere corrupts everything after it — the property the tests
  pin.
* **Chroma DC prediction (mode 0, spec 8.3.4)** with the per-4x4
  corner/edge segment rules.
* **CAVLC residual coding (spec 9.2)** for the Intra16x16DCLevel
  (4x4 luma DC, 16 coeffs) and ChromaDCLevel (2x2, 4 coeffs) blocks:
  coeff_token, trailing-one sign, level_prefix/level_suffix with the
  suffixLength-0 escape rules (prefix 14 -> 4-bit suffix, prefix 15 ->
  12-bit suffix), total_zeros — the real entropy layer, bit-exact both
  directions. The implemented alphabet is TotalCoeff <= 1 per DC block
  (what the DC-only encoder emits): a parsed TotalCoeff >= 2 classifies
  as NotImplementedError, never misdecodes.
* **The standard's integer transform/scaling chain (8.5)**: 4x4
  inverse Hadamard for the luma DC block, 2x2 inverse Hadamard for
  chroma DC, LevelScale dequantization with the qP-dependent
  shift/rounding split (8.5.10 luma DC, 8.5.11 chroma DC), chroma QP
  mapping (Table 8-15), and the DC-only 4x4 reconstruction
  ``(dc + 32) >> 6``.

The encoder approximates each MB by its mean (luma) and per-MB chroma
means — a DC-only transform code. That is lossy exactly like a real
all-I encoder at high QP, so frame-level tests gate plane MEANS within
a tolerance rather than bytes, while the bit layer (CAVLC, transforms,
prediction chain) round-trips exactly and is tested coefficient-by-
coefficient.

Round 4 (cont.) extends the prediction layer to **all four Intra_16x16
luma modes** (0 vertical, 1 horizontal, 2 DC, 3 plane — spec 8.3.3.1-4,
integer-exact incl. the plane mode's (5*H+32)>>6 slope arithmetic) and
**all four chroma modes** (0 DC, 1 horizontal, 2 vertical, 3 plane —
spec 8.3.4, 4:2:0 ChromaArrayType-1 constants). The encoder selects
per-MB modes by residual variance after the optimal uniform shift
(deterministic lowest-mode tie-break), so gradient content engages the
directional/plane predictors and reconstructs them near-exactly. A mode
whose required neighbours are unavailable (e.g. vertical in MB row 0)
is a non-conformant stream and classifies as ``ValueError``, matching
the corruption contract.

Round 4 (cont.): **Intra_4x4 macroblocks now decode too**: all nine
spec-8.3.1.2 prediction modes per 4x4 block, predIntra4x4PredMode
most-probable-mode signalling (8.3.1.1), Z-scan
neighbour availability (6.4.3), Table 9-4 intra coded_block_pattern,
and a per-block DC LumaLevel4x4 residual dequantized through the full
8.5.12 position-dependent LevelScale + inverse-core-transform chain.
Still classified from parsed syntax (the remaining seam): luma AC
residuals (the TotalCoeff>1 CAVLC contexts), chroma AC (cbp chroma 2),
I_8x8 (High profile), P and B slices (inter prediction), and CABAC.

Reference analogue: the pcap backend decodes every packet format its
library supports (/root/reference/backend/pcap.go:17-54); this is the
same completeness pressure applied to the one format the sandbox has
no library for.
"""

from __future__ import annotations

import numpy as np

from flow_indexer_spark.operators.h264codec import (
    _BitReader,
    _BitWriter,
    nal_to_rbsp,
    rbsp_to_nal,
)

# --- quantization tables (spec 8.5.9) ---------------------------------------

#: LevelScale4x4 normAdjust at position (0,0) for qP%6 = 0..5
_LS00 = (10, 11, 13, 14, 16, 18)

#: Table 8-15: qPi -> QPc (identity below 30)
_QPC = {
    30: 29, 31: 30, 32: 31, 33: 32, 34: 32, 35: 33, 36: 34, 37: 34,
    38: 35, 39: 35, 40: 36, 41: 36, 42: 37, 43: 37, 44: 37, 45: 38,
    46: 38, 47: 38, 48: 39, 49: 39, 50: 39, 51: 39,
}


def chroma_qp(qp_y: int, offset: int = 0) -> int:
    qpi = min(51, max(0, qp_y + offset))
    return _QPC.get(qpi, qpi)


#: 4x4 zigzag scan: scan index -> (row, col) (Table 8-13, frame)
_ZIGZAG4 = (
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (3, 1), (2, 2), (1, 3), (2, 3), (3, 2), (3, 3),
)

_H4 = np.array(
    [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
    dtype=np.int64,
)
_H2 = np.array([[1, 1], [1, -1]], dtype=np.int64)


def dequant_luma_dc(f: np.ndarray, qp: int) -> np.ndarray:
    """Spec 8.5.10: scale the inverse-Hadamard'd luma DC block.
    LevelScale4x4 = weightScale (flat 16) * normAdjust — earlier
    rounds omitted the *16 weightScale factor (self-consistent with
    the search-calibrated DC encoders, but 16x below conformant
    scale); fixed when the full-residual path landed so the standard
    MF quantizer pairs with this dequant."""
    ls = 16 * _LS00[qp % 6]
    if qp >= 36:
        return (f * ls) << (qp // 6 - 6)
    return (f * ls + (1 << (5 - qp // 6))) >> (6 - qp // 6)


def dequant_chroma_dc(f: np.ndarray, qpc: int) -> np.ndarray:
    """Spec 8.5.11: scale the inverse-Hadamard'd 2x2 chroma DC block
    (LevelScale = 16 * normAdjust, flat weightScale)."""
    return ((f * 16 * _LS00[qpc % 6]) << (qpc // 6)) >> 5


# --- CAVLC (spec 9.2) — TotalCoeff <= 1 alphabet ----------------------------

#: coeff_token, 0 <= nC < 2 column of Table 9-5, the only luma context
#: this subset reaches (all stored neighbour TotalCoeffs are 0 when
#: CodedBlockPatternLuma == 0, so nC = (0+0+1)>>1 = 0 always)
_CT_LUMA = {(0, 0): "1", (1, 0): "000101", (1, 1): "01"}
#: coeff_token, nC == -1 (ChromaDCLevel) column of Table 9-5
_CT_CHROMA = {(0, 0): "01", (1, 0): "000111", (1, 1): "1"}

#: total_zeros for TotalCoeff == 1 (Table 9-7, maxNumCoeff 16)
_TZ16 = (
    "1", "011", "010", "0011", "0010", "00011", "00010", "000011",
    "000010", "0000011", "0000010", "00000011", "00000010", "000000011",
    "000000010", "000000001",
)
#: total_zeros for TotalCoeff == 1, chroma DC (Table 9-9(a), maxNumCoeff 4)
_TZ4 = ("1", "01", "001", "000")


def _write_bits(w: _BitWriter, bits: str) -> None:
    for b in bits:
        w.u(int(b), 1)


def _read_vlc(r: _BitReader, table: dict, what: str) -> tuple:
    """Read one prefix-free code from a {symbol: bitstring} table."""
    by_code = {v: k for k, v in table.items()}
    maxlen = max(len(v) for v in table.values())
    acc = ""
    while len(acc) <= maxlen:
        acc += str(r.u(1, what))
        if acc in by_code:
            return by_code[acc]
    raise NotImplementedError(
        f"{what}: code {acc!r} outside the TotalCoeff<=1 CAVLC alphabet "
        "(TotalCoeff>=2 residual blocks not implemented)"
    )


def cavlc_encode_dc(w: _BitWriter, coeffs: list[int], chroma: bool) -> None:
    """Encode a DC residual block (16 luma-DC or 4 chroma-DC coeffs in
    scan order) holding AT MOST one nonzero coefficient."""
    nz = [(i, c) for i, c in enumerate(coeffs) if c]
    if len(nz) > 1:
        raise ValueError("DC-only encoder emits at most one coefficient")
    ct = _CT_CHROMA if chroma else _CT_LUMA
    tz_tab = _TZ4 if chroma else _TZ16
    if not nz:
        _write_bits(w, ct[(0, 0)])
        return
    pos, level = nz[0]
    t1 = 1 if abs(level) == 1 else 0
    _write_bits(w, ct[(1, t1)])
    if t1:
        w.u(0 if level > 0 else 1, 1)  # trailing_ones_sign_flag
    else:
        # 9.2.2.1, suffixLength == 0, first coeff with TrailingOnes < 3
        level_code = 2 * (abs(level) - 1) + (0 if level > 0 else 1) - 2
        if level_code < 14:
            _write_bits(w, "0" * level_code + "1")
        elif level_code < 30:
            _write_bits(w, "0" * 14 + "1")
            w.u(level_code - 14, 4)
        elif level_code < 30 + 4096:
            _write_bits(w, "0" * 15 + "1")
            w.u(level_code - 30, 12)
        else:
            raise ValueError(f"level {level} exceeds the suffixLength-0 escape")
    # total_zeros = zeros preceding the (single, last) coefficient
    _write_bits(w, tz_tab[pos])
    # TotalCoeff == 1 -> no run_before elements (9.2.3)


def cavlc_decode_dc(r: _BitReader, chroma: bool) -> list[int]:
    """Decode one DC residual block -> coefficient list in scan order
    (16 luma / 4 chroma). TotalCoeff >= 2 codes classify."""
    n = 4 if chroma else 16
    ct = _CT_CHROMA if chroma else _CT_LUMA
    tz_tab = _TZ4 if chroma else _TZ16
    tc, t1 = _read_vlc(r, ct, "coeff_token")
    out = [0] * n
    if tc == 0:
        return out
    if t1:
        level = 1 if r.u(1, "trailing_ones_sign_flag") == 0 else -1
    else:
        prefix = 0
        while r.u(1, "level_prefix") == 0:
            prefix += 1
            if prefix > 15:
                raise ValueError("oversized level_prefix")
        if prefix < 14:
            level_code = prefix
        elif prefix == 14:
            level_code = 14 + r.u(4, "level_suffix")
        else:
            level_code = 30 + r.u(12, "level_suffix")
        level_code += 2  # undo the TrailingOnes<3 first-coeff adjustment
        level = (level_code // 2) + 1
        if level_code % 2:
            level = -level
    tz = _read_vlc(r, {i: c for i, c in enumerate(tz_tab)}, "total_zeros")
    out[tz] = level
    return out


# --- intra prediction (spec 8.3.3 / 8.3.4) -----------------------------------


def _mb_avail(
    mx: int, my: int, mb_w: int, first_mb: int = 0
) -> tuple[bool, bool, bool, bool]:
    """(A=left, B=top, C=top-right, D=top-left) neighbouring-macroblock
    availability per 6.4.8/6.4.9: a neighbour is available iff it is
    inside the picture AND belongs to the same slice. Slices are
    contiguous raster runs starting at ``first_mb``, and decode order is
    raster, so same-slice == address >= first_mb for every neighbour
    (all four have smaller addresses than the current MB)."""
    addr = my * mb_w + mx
    a = mx > 0 and addr - 1 >= first_mb
    b = my > 0 and addr - mb_w >= first_mb
    c = my > 0 and mx + 1 < mb_w and addr - mb_w + 1 >= first_mb
    d = my > 0 and mx > 0 and addr - mb_w - 1 >= first_mb
    return a, b, c, d


def pred16_dc(recon: np.ndarray, mx: int, my: int, first_mb: int = 0) -> int:
    """Intra_16x16_DC predicted value for the MB at (mx, my) from the
    reconstructed plane (luma)."""
    x, y = 16 * mx, 16 * my
    have_left, have_top, _, _ = _mb_avail(mx, my, recon.shape[1] // 16, first_mb)
    top = recon[y - 1, x : x + 16].astype(np.int64) if have_top else None
    left = recon[y : y + 16, x - 1].astype(np.int64) if have_left else None
    if top is not None and left is not None:
        return int((top.sum() + left.sum() + 16) >> 5)
    if top is not None:
        return int((top.sum() + 8) >> 4)
    if left is not None:
        return int((left.sum() + 8) >> 4)
    return 128


def pred_chroma_dc(
    recon: np.ndarray, mx: int, my: int, first_mb: int = 0
) -> np.ndarray:
    """Chroma DC (mode 0) prediction: 2x2 array of predicted values,
    one per 4x4 chroma block of the MB at (mx, my). Corner rule per
    8.3.4: blocks on the main diagonal average both edges; (4,0)
    prefers its top segment, (0,4) its left segment."""
    x, y = 8 * mx, 8 * my
    have_left, have_top, _, _ = _mb_avail(mx, my, recon.shape[1] // 8, first_mb)
    out = np.empty((2, 2), dtype=np.int64)
    for by in range(2):
        for bx in range(2):
            top = (
                recon[y - 1, x + 4 * bx : x + 4 * bx + 4].astype(np.int64)
                if have_top
                else None
            )
            left = (
                recon[y + 4 * by : y + 4 * by + 4, x - 1].astype(np.int64)
                if have_left
                else None
            )
            if bx == by:  # (0,0) and (4,4): both edges when available
                if top is not None and left is not None:
                    v = (top.sum() + left.sum() + 4) >> 3
                elif top is not None:
                    v = (top.sum() + 2) >> 2
                elif left is not None:
                    v = (left.sum() + 2) >> 2
                else:
                    v = 128
            elif bx == 1:  # (4,0): prefer top
                if top is not None:
                    v = (top.sum() + 2) >> 2
                elif left is not None:
                    v = (left.sum() + 2) >> 2
                else:
                    v = 128
            else:  # (0,4): prefer left
                if left is not None:
                    v = (left.sum() + 2) >> 2
                elif top is not None:
                    v = (top.sum() + 2) >> 2
                else:
                    v = 128
            out[by, bx] = v
    return out


def pred16(
    mode: int, recon: np.ndarray, mx: int, my: int, first_mb: int = 0
) -> np.ndarray:
    """Intra_16x16 luma prediction block (16x16 int64) for the MB at
    (mx, my), spec 8.3.3: mode 0 vertical, 1 horizontal, 2 DC, 3 plane.
    A mode whose required neighbours are outside the picture (or the
    slice, 6.4.8) marks a non-conformant stream (8.3.3 availability)."""
    x, y = 16 * mx, 16 * my
    have_left, have_top, _, _ = _mb_avail(mx, my, recon.shape[1] // 16, first_mb)
    if mode == 2:
        return np.full(
            (16, 16), pred16_dc(recon, mx, my, first_mb), dtype=np.int64
        )
    if mode == 0:
        if not have_top:
            raise ValueError(
                "Intra_16x16_Vertical without a top neighbour: corrupt stream"
            )
        return np.repeat(
            recon[y - 1, x : x + 16].astype(np.int64)[None, :], 16, axis=0
        )
    if mode == 1:
        if not have_left:
            raise ValueError(
                "Intra_16x16_Horizontal without a left neighbour: "
                "corrupt stream"
            )
        return np.repeat(
            recon[y : y + 16, x - 1].astype(np.int64)[:, None], 16, axis=1
        )
    if mode == 3:
        if not (have_top and have_left):
            raise ValueError(
                "Intra_16x16_Plane without top+left neighbours: corrupt stream"
            )
        # p[x', -1] for x' = -1..15 and p[-1, y'] for y' = -1..15
        top = recon[y - 1, x - 1 : x + 16].astype(np.int64)
        left = recon[y - 1 : y + 16, x - 1].astype(np.int64)
        i = np.arange(1, 9, dtype=np.int64)
        h = int((i * (top[8 + i] - top[8 - i])).sum())
        v = int((i * (left[8 + i] - left[8 - i])).sum())
        a = 16 * (int(top[16]) + int(left[16]))  # p[15,-1] + p[-1,15]
        b = (5 * h + 32) >> 6
        c = (5 * v + 32) >> 6
        xs = np.arange(16, dtype=np.int64)
        grid = a + b * (xs[None, :] - 7) + c * (xs[:, None] - 7) + 16
        return np.clip(grid >> 5, 0, 255)
    raise ValueError(f"invalid Intra_16x16 prediction mode {mode}")


def pred_chroma(
    mode: int, recon: np.ndarray, mx: int, my: int, first_mb: int = 0
) -> np.ndarray:
    """Chroma prediction block (8x8 int64) for the MB at (mx, my), spec
    8.3.4 with 4:2:0 (ChromaArrayType 1) constants: mode 0 DC, 1
    horizontal, 2 vertical, 3 plane. Note the chroma mode numbering
    differs from luma (Table 7-16)."""
    x, y = 8 * mx, 8 * my
    have_left, have_top, _, _ = _mb_avail(mx, my, recon.shape[1] // 8, first_mb)
    if mode == 0:
        return (
            pred_chroma_dc(recon, mx, my, first_mb).repeat(4, 0).repeat(4, 1)
        )
    if mode == 1:
        if not have_left:
            raise ValueError(
                "Intra_Chroma_Horizontal without a left neighbour: "
                "corrupt stream"
            )
        return np.repeat(
            recon[y : y + 8, x - 1].astype(np.int64)[:, None], 8, axis=1
        )
    if mode == 2:
        if not have_top:
            raise ValueError(
                "Intra_Chroma_Vertical without a top neighbour: corrupt stream"
            )
        return np.repeat(
            recon[y - 1, x : x + 8].astype(np.int64)[None, :], 8, axis=0
        )
    if mode == 3:
        if not (have_top and have_left):
            raise ValueError(
                "Intra_Chroma_Plane without top+left neighbours: "
                "corrupt stream"
            )
        top = recon[y - 1, x - 1 : x + 8].astype(np.int64)
        left = recon[y - 1 : y + 8, x - 1].astype(np.int64)
        i = np.arange(1, 5, dtype=np.int64)
        h = int((i * (top[4 + i] - top[4 - i])).sum())
        v = int((i * (left[4 + i] - left[4 - i])).sum())
        a = 16 * (int(top[8]) + int(left[8]))  # p[7,-1] + p[-1,7]
        b = (34 * h + 32) >> 6
        c = (34 * v + 32) >> 6
        xs = np.arange(8, dtype=np.int64)
        grid = a + b * (xs[None, :] - 3) + c * (xs[:, None] - 3) + 16
        return np.clip(grid >> 5, 0, 255)
    raise ValueError(f"invalid intra_chroma_pred_mode {mode}")


# --- reconstruction helpers ---------------------------------------------------


def _luma_dc_residual(coeffs: list[int], qp: int) -> np.ndarray:
    """Intra16x16DCLevel coeffs (scan order) -> 4x4 array of per-4x4-
    block sample residuals (uniform within each 4x4 block: DC-only)."""
    c = np.zeros((4, 4), dtype=np.int64)
    for i, v in enumerate(coeffs):
        r_, c_ = _ZIGZAG4[i]
        c[r_, c_] = v
    f = _H4 @ c @ _H4  # inverse Hadamard (8.5.10)
    dc = dequant_luma_dc(f, qp)
    return (dc + 32) >> 6  # DC-only 4x4 inverse transform per block


def _chroma_dc_residual(coeffs: list[int], qpc: int) -> np.ndarray:
    """ChromaDCLevel coeffs (raster order c00,c01,c10,c11) -> 2x2 array
    of per-4x4-block sample residuals."""
    c = np.array(
        [[coeffs[0], coeffs[1]], [coeffs[2], coeffs[3]]], dtype=np.int64
    )
    f = _H2 @ c @ _H2
    dc = dequant_chroma_dc(f, qpc)
    return (dc + 32) >> 6


# --- full-residual transform path (forward 8.5-inverse pairing) --------------

#: forward core transform matrix Cf (the integer DCT approximation whose
#: inverse is the 8.5.12.2 butterfly chain)
_CF4 = np.array(
    [[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]],
    dtype=np.int64,
)

#: quantizer multiplier MF per qP%6 at the three position classes
#: ((0,0)/(2,0)/..., (1,1)/(1,3)/..., other) — the standard pairing with
#: LevelScale = 16*normAdjust: MF * 16V = 2^21 at the corner class, with
#: the 0.8/0.64 inverse-butterfly norm compensation at the mixed classes
_MF = (
    (13107, 5243, 8066),
    (11916, 4660, 7490),
    (10082, 4194, 6554),
    (9362, 3647, 5825),
    (8192, 3355, 5243),
    (7282, 2893, 4559),
)


def fwd4(res: np.ndarray) -> np.ndarray:
    """Forward 4x4 core transform W = Cf @ res @ Cf^T (integer, exact)."""
    return _CF4 @ res.astype(np.int64) @ _CF4.T


def quant4(w: np.ndarray, qp: int, skip_dc: bool = False) -> list[int]:
    """Quantize one transformed 4x4 block -> scan-order levels (16, or
    the 15 AC levels when ``skip_dc`` — I_16x16 / chroma AC blocks).
    Standard intra rounding f = (1 << qbits) / 3."""
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    out = []
    for k in range(16):
        if skip_dc and k == 0:
            continue
        i, j = _ZIGZAG4[k]
        v = int(w[i, j])
        lvl = (abs(v) * _MF[qp % 6][_norm_idx(i, j)] + f) >> qbits
        out.append(-lvl if v < 0 else lvl)
    return out


def quant_dc_luma(wd: np.ndarray, qp: int) -> np.ndarray:
    """Quantize the (already forward-Hadamard'd, >>1-normalized) 4x4
    luma DC block: level = sign * ((|wd|*MF00 + 2f) >> (qbits+1))."""
    qbits = 15 + qp // 6
    f2 = 2 * ((1 << qbits) // 3)
    mag = (np.abs(wd) * _MF[qp % 6][0] + f2) >> (qbits + 1)
    return np.sign(wd) * mag


def quant_dc_chroma(wd: np.ndarray, qpc: int) -> np.ndarray:
    """Quantize the forward-Hadamard'd 2x2 chroma DC block."""
    qbits = 15 + qpc // 6
    f2 = 2 * ((1 << qbits) // 3)
    mag = (np.abs(wd) * _MF[qpc % 6][0] + f2) >> (qbits + 1)
    return np.sign(wd) * mag


def _luma_dc_values(coeffs: list[int], qp: int) -> np.ndarray:
    """Intra16x16DCLevel scan-order coeffs -> (4,4) of dequantized DC
    transform values d00 per 4x4 block (by, bx): the 8.5.10 Hadamard
    path WITHOUT the DC-only (dc+32)>>6 shortcut, for feeding the full
    inverse core transform alongside AC coefficients."""
    c = np.zeros((4, 4), dtype=np.int64)
    for i, v in enumerate(coeffs):
        r_, c_ = _ZIGZAG4[i]
        c[r_, c_] = v
    return dequant_luma_dc(_H4 @ c @ _H4, qp)


def _chroma_dc_values(coeffs: list[int], qpc: int) -> np.ndarray:
    """ChromaDCLevel raster coeffs -> (2,2) of dequantized d00 values."""
    c = np.array(
        [[coeffs[0], coeffs[1]], [coeffs[2], coeffs[3]]], dtype=np.int64
    )
    return dequant_chroma_dc(_H2 @ c @ _H2, qpc)


def recon_i16_luma(
    dc_coeffs: list[int], acs: list[list[int]], qp: int
) -> np.ndarray:
    """I_16x16 luma residual: DC coefficients through the Hadamard/
    8.5.10 path, each 4x4 block's 15 AC levels through 8.5.12 with the
    DC override, inverse core transform per block -> 16x16 spatial
    residual. ``acs`` is in Z-scan block order (_Z4)."""
    dcs = _luma_dc_values(dc_coeffs, qp)
    out = np.zeros((16, 16), dtype=np.int64)
    for z, (bx, by) in enumerate(_Z4):
        blk = luma4_residual([0] + acs[z], qp, dc=int(dcs[by, bx]))
        out[4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4] = blk
    return out


def recon_chroma_comp(
    dc_coeffs: list[int], acs: list[list[int]], qpc: int
) -> np.ndarray:
    """One chroma component's residual: 2x2 Hadamard/8.5.11 DC path +
    per-4x4-block AC levels (raster block order) -> 8x8 spatial
    residual."""
    dcs = _chroma_dc_values(dc_coeffs, qpc)
    out = np.zeros((8, 8), dtype=np.int64)
    for cz, (cbx, cby) in enumerate(((0, 0), (1, 0), (0, 1), (1, 1))):
        blk = luma4_residual([0] + acs[cz], qpc, dc=int(dcs[cby, cbx]))
        out[4 * cby : 4 * cby + 4, 4 * cbx : 4 * cbx + 4] = blk
    return out


class NzcCtx:
    """Per-picture nonzero-coefficient-count planes for the 9.2.1 nC
    neighbour contexts: one entry per 4x4 block (luma grid 4 per MB
    side, chroma grids 2 per MB side per component). Entries hold the
    block's TotalCoeff (AC TotalCoeff for I_16x16 / chroma blocks — DC
    blocks never contribute), 16 for I_PCM macroblocks, 0 for skipped /
    uncoded blocks. Decode and encode walk MBs in raster order, so a
    left/top neighbour inside the picture is always already counted."""

    def __init__(self, mb_w: int, mb_h: int) -> None:
        self.y = np.zeros((4 * mb_h, 4 * mb_w), dtype=np.int16)
        self.cb = np.zeros((2 * mb_h, 2 * mb_w), dtype=np.int16)
        self.cr = np.zeros((2 * mb_h, 2 * mb_w), dtype=np.int16)

    @classmethod
    def for_planes(cls, y: np.ndarray) -> "NzcCtx":
        return cls(y.shape[1] // 16, y.shape[0] // 16)


def _best_level_luma(t: int, qp: int) -> int:
    """Smallest-error Intra16x16DCLevel f00 for a uniform per-sample
    residual target t (exact-chain search around the linear estimate)."""
    ls = 16 * _LS00[qp % 6]
    scale = ls * (1 << (qp // 6 - 6)) if qp >= 36 else ls / (1 << (6 - qp // 6))
    est = int(round(t * 64 / scale))
    best = min(
        range(est - 2, est + 3),
        key=lambda L: abs(int(_luma_dc_residual([L] + [0] * 15, qp)[0, 0]) - t),
    )
    return _clip_level(best)


def _best_level_chroma(t: int, qpc: int) -> int:
    est = int(round(t * 64 / (16 * _LS00[qpc % 6] * (1 << (qpc // 6)) / 32)))
    best = min(
        range(est - 2, est + 3),
        key=lambda L: abs(int(_chroma_dc_residual([L, 0, 0, 0], qpc)[0, 0]) - t),
    )
    return _clip_level(best)


def _clip_level(level: int) -> int:
    """Largest magnitude the suffixLength-0 escape can carry:
    level_code <= 30+4095 = 4125; positive L has code 2L-4 (max L at
    code 4124), negative L has code 2|L|-3 (max |L| at code 4125) —
    both cap at 2064."""
    return max(-2064, min(2064, level))


# --- encoder ------------------------------------------------------------------

_I_PCM = 25

#: encoder mode-name -> spec mode number (luma Table 7-11 / chroma 7-16)
_LUMA_MODES = {"v": 0, "h": 1, "dc": 2, "plane": 3}
_CHROMA_MODES = {"dc": 0, "h": 1, "v": 2, "plane": 3}


def _mode_available(
    mode: int, mx: int, my: int, chroma: bool, mb_w: int = 0, first_mb: int = 0
) -> bool:
    needs_top = mode == (2 if chroma else 0) or mode == 3
    needs_left = mode == 1 or mode == 3
    if first_mb:
        have_left, have_top, _, _ = _mb_avail(mx, my, mb_w, first_mb)
    else:
        have_left, have_top = mx > 0, my > 0
    return (have_top or not needs_top) and (have_left or not needs_left)


def _select_mode(
    blocks: list[tuple[np.ndarray, np.ndarray]],
    mode_nums: list[int],
    recons_mx_my: tuple[int, int],
    chroma: bool,
    first_mb: int = 0,
) -> int:
    """Pick the prediction mode minimizing the summed residual variance
    (SSE after the optimal uniform shift — the only degree of freedom a
    DC-only residual has) over ``blocks`` = [(source, recon_plane)].
    Deterministic lowest-mode tie-break."""
    mx, my = recons_mx_my
    mb_w = blocks[0][1].shape[1] // (8 if chroma else 16)
    best = None
    for m in sorted(mode_nums):
        if not _mode_available(m, mx, my, chroma, mb_w, first_mb):
            continue
        cost = 0.0
        for src, recon in blocks:
            p = (pred_chroma if chroma else pred16)(m, recon, mx, my, first_mb)
            d = src.astype(np.float64) - p
            cost += float(((d - np.round(d.mean())) ** 2).sum())
        if best is None or cost < best[0]:
            best = (cost, m)
    if best is None:
        # none of the requested modes is legal here: DC always is
        return 0 if chroma else 2
    return best[1]


def _slice_starts(n_mbs: int, slices: int) -> list[int]:
    """Slice boundaries for an even split of ``n_mbs`` raster-ordered
    macroblocks into ``slices`` contiguous runs: the first_mb_in_slice
    of each slice. Remainder MBs go to the earliest slices (the 7.4.3
    constraint is only contiguity + coverage)."""
    if not 1 <= slices <= n_mbs:
        raise ValueError(f"slices must be in 1..{n_mbs}, got {slices}")
    base, rem = divmod(n_mbs, slices)
    starts, addr = [], 0
    for k in range(slices):
        starts.append(addr)
        addr += base + (1 if k < rem else 0)
    return starts


def _write_idr_slice_header(
    w: _BitWriter,
    first_mb: int,
    qp: int,
    idr_pic_id: int,
    poc: tuple[int, int] | None,
) -> None:
    """7.3.3 slice header for the all-I IDR slices this module writes
    (slice_type 7 = I, all slices in the picture are I)."""
    w.ue(first_mb)  # first_mb_in_slice
    w.ue(7)  # slice_type: I (all slices in picture)
    w.ue(0)  # pic_parameter_set_id
    w.u(0, 4)  # frame_num
    w.ue(idr_pic_id % 65536)
    if poc is not None:
        w.u(poc[0] % (1 << poc[1]), poc[1])  # pic_order_cnt_lsb
    w.u(0, 1)  # no_output_of_prior_pics_flag
    w.u(0, 1)  # long_term_reference_flag
    w.se(qp - 26)  # slice_qp_delta (pic_init_qp is 26)


def encode_idr_i16(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    qp: int = 12,
    idr_pic_id: int = 0,
    modes: tuple[str, ...] = ("v", "h", "dc", "plane"),
    chroma_modes: tuple[str, ...] = ("dc", "h", "v", "plane"),
    return_recon: bool = False,
    residual: str = "dc",
    poc: tuple[int, int] | None = None,
    slices: int = 1,
) -> bytes | list[bytes] | tuple:
    """Padded planes -> IDR slice NAL(s) of I_16x16 intra-predicted
    macroblocks. ``poc`` = (lsb, n_bits) writes pic_order_cnt_lsb for
    a pic_order_cnt_type-0 SPS (B-frame GOPs); None matches type 2.

    ``slices`` > 1 splits the picture into that many contiguous
    raster-run slices (7.4.3 first_mb_in_slice) and returns a LIST of
    NALs; prediction, predIntra4x4PredMode, and 9.2.1 nC contexts all
    treat cross-slice neighbours as unavailable (6.4.8), so each slice
    decodes independently — the reference's chunked-document analogue
    (flow-indexer indexes each log chunk standalone; a slice is the
    bitstream's chunk). ``slices=1`` returns the single NAL unchanged,
    bit-identical to the historical encoder.

    ``residual="dc"`` (the round-4 code): CAVLC-coded DC residuals only
    (mb_type 5..8 = Intra_16x16_{0..3}_1_0) — each MB picks the luma
    prediction mode (and the shared chroma mode) minimizing residual
    variance, then codes a single DC residual, so flat content codes as
    its mean while gradients engage the directional/plane predictors.
    qp is restricted to 36..51 where the DC-only approximation is the
    rate-matched regime.

    ``residual="full"``: the real transform code — every 4x4 block's
    AC coefficients quantized (standard MF tables) and CAVLC-coded with
    live 9.2.1 nC contexts, luma/chroma DC through the Hadamard paths;
    reconstruction error is bounded by the quantizer step at any
    qp 0..51, like a real all-I encoder.
    """
    if not 0 <= qp <= 51:
        raise ValueError("qp out of range")
    mode_nums = sorted({_LUMA_MODES[m] for m in modes})
    cmode_nums = sorted({_CHROMA_MODES[m] for m in chroma_modes})
    mb_h, mb_w = y.shape[0] // 16, y.shape[1] // 16
    if (
        y.shape != (mb_h * 16, mb_w * 16)
        or cb.shape != (mb_h * 8, mb_w * 8)
        or cr.shape != cb.shape
    ):
        raise ValueError("planes must be macroblock-aligned (16 luma / 8 chroma)")
    qpc = chroma_qp(qp)
    n_mbs = mb_w * mb_h
    starts = _slice_starts(n_mbs, slices)
    ry = np.zeros_like(y)
    rcb = np.zeros_like(cb)
    rcr = np.zeros_like(cr)
    nzc = NzcCtx(mb_w, mb_h)
    nals = []
    for k, first_mb in enumerate(starts):
        end = starts[k + 1] if k + 1 < len(starts) else n_mbs
        w = _BitWriter()
        _write_idr_slice_header(w, first_mb, qp, idr_pic_id, poc)
        for addr in range(first_mb, end):
            my, mx = divmod(addr, mb_w)
            encode_i16_mb(
                w, y, cb, cr, ry, rcb, rcr, mx, my, qp, qpc,
                mode_nums, cmode_nums, nzc=nzc, residual=residual,
                first_mb=first_mb,
            )
        nals.append(rbsp_to_nal(0x65, w.rbsp_trailing()))
    out = nals[0] if slices == 1 else nals
    return (out, (ry, rcb, rcr)) if return_recon else out


def _quant_chroma_full(src, cpred, qpc):
    """One chroma component: residual -> (dc4 levels raster, [ac15 x4
    raster blocks]) through the forward Hadamard/core + MF quant."""
    res = src.astype(np.int64) - cpred
    ws = [
        fwd4(res[4 * cby : 4 * cby + 4, 4 * cbx : 4 * cbx + 4])
        for cbx, cby in _C4
    ]
    dcw = _H2 @ np.array(
        [[ws[0][0, 0], ws[1][0, 0]], [ws[2][0, 0], ws[3][0, 0]]],
        dtype=np.int64,
    ) @ _H2
    dclv = quant_dc_chroma(dcw, qpc)
    dc4 = [int(dclv[0, 0]), int(dclv[0, 1]), int(dclv[1, 0]), int(dclv[1, 1])]
    acs = [quant4(wblk, qpc, skip_dc=True) for wblk in ws]
    return dc4, acs


def _emit_chroma(w, cbp_chroma, cdcs, cacs, mx, my, nzc, first_mb=0) -> None:
    """Write the chroma residual section in the 7.3.5.3.3 order (both
    DC blocks, then both components' AC blocks), mirroring
    :func:`_decode_chroma_coeffs` exactly, incl. nzc updates."""
    from flow_indexer_spark.operators import h264cavlc as cavlc

    for comp in (0, 1):
        if cbp_chroma >= 1:
            cavlc.encode_block(w, cdcs[comp], -1)
    for comp, plane_nzc in ((0, nzc.cb), (1, nzc.cr)):
        for cz, (cbx, cby) in enumerate(_C4):
            gx, gy = 2 * mx + cbx, 2 * my + cby
            if cbp_chroma == 2:
                cavlc.encode_block(
                    w, cacs[comp][cz],
                    cavlc.nc_from_plane(
                        plane_nzc, gx, gy, per_mb=2, first_mb=first_mb
                    ),
                )
                plane_nzc[gy, gx] = sum(1 for c in cacs[comp][cz] if c)
            else:
                plane_nzc[gy, gx] = 0


def _chroma_full_mb(cb, cr, rcb, rcr, cmode, mx, my, qpc, first_mb=0):
    """Quantize both chroma components of one MB -> (cbp_chroma,
    {comp: dc4}, {comp: acs}) with AC zeroed when cbp_chroma < 2 (the
    all-zero-AC case IS cbp_chroma 1) and DC zeroed when 0."""
    cdcs, cacs = {}, {}
    for comp, (plane, recon) in enumerate(((cb, rcb), (cr, rcr))):
        src = plane[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8]
        cpred = pred_chroma(cmode, recon, mx, my, first_mb)
        cdcs[comp], cacs[comp] = _quant_chroma_full(src, cpred, qpc)
    any_ac = any(c for comp in cacs.values() for blk in comp for c in blk)
    any_dc = any(c for comp in cdcs.values() for c in comp)
    if any_ac:
        cbp_chroma = 2
    elif any_dc:
        cbp_chroma = 1
        cacs = {c: [[0] * 15] * 4 for c in cacs}
    else:
        cbp_chroma = 0
        cacs = {c: [[0] * 15] * 4 for c in cacs}
        cdcs = {c: [0, 0, 0, 0] for c in cdcs}
    return cbp_chroma, cdcs, cacs


def encode_i16_mb(
    w, y, cb, cr, ry, rcb, rcr, mx, my, qp, qpc,
    mode_nums=(0, 1, 2, 3), cmode_nums=(0, 1, 2, 3),
    nzc: NzcCtx | None = None, residual: str = "dc", first_mb: int = 0,
) -> None:
    """Encode one Intra_16x16 macroblock layer (mb_type through the
    residuals) at MB (mx, my) and update the recon planes.

    ``residual="dc"`` reproduces the round-4 DC-only code bit-for-bit
    (single mean-matching coefficient per plane, cbp luma 0);
    ``residual="full"`` runs the real transform code: forward 4x4 core
    transform per block, luma DC Hadamard, standard MF quantization,
    all AC levels CAVLC-coded with live nC contexts, and the closed
    loop reconstructed through the DECODER's exact integer path."""
    src_y = y[16 * my : 16 * my + 16, 16 * mx : 16 * mx + 16]
    lmode = _select_mode([(src_y, ry)], mode_nums, (mx, my), False, first_mb)
    src_cb = cb[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8]
    src_cr = cr[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8]
    cmode = _select_mode(
        [(src_cb, rcb), (src_cr, rcr)], cmode_nums, (mx, my), True, first_mb
    )
    if residual == "full":
        from flow_indexer_spark.operators import h264cavlc as cavlc

        if nzc is None:
            nzc = NzcCtx.for_planes(y)
        pred = pred16(lmode, ry, mx, my, first_mb)
        res = src_y.astype(np.int64) - pred
        ws = [
            [fwd4(res[4 * by : 4 * by + 4, 4 * bx : 4 * bx + 4])
             for bx in range(4)]
            for by in range(4)
        ]
        dcw = np.array(
            [[ws[by][bx][0, 0] for bx in range(4)] for by in range(4)],
            dtype=np.int64,
        )
        dclv = quant_dc_luma((_H4 @ dcw @ _H4) >> 1, qp)
        dc_coeffs = [int(dclv[i, j]) for i, j in _ZIGZAG4]
        acs = [quant4(ws[by][bx], qp, skip_dc=True) for bx, by in _Z4]
        cbp_luma = 15 if any(c for blk in acs for c in blk) else 0
        if not cbp_luma:
            acs = [[0] * 15 for _ in range(16)]
        cbp_chroma, cdcs, cacs = _chroma_full_mb(
            cb, cr, rcb, rcr, cmode, mx, my, qpc, first_mb
        )
        w.ue(
            1 + lmode + 4 * cbp_chroma
            + (12 if cbp_luma else 0)
        )
        w.ue(cmode)
        w.se(0)  # mb_qp_delta
        cavlc.encode_block(
            w, dc_coeffs,
            cavlc.nc_from_plane(nzc.y, 4 * mx, 4 * my, first_mb=first_mb),
        )
        for z, (bx, by) in enumerate(_Z4):
            gx, gy = 4 * mx + bx, 4 * my + by
            if cbp_luma:
                cavlc.encode_block(
                    w, acs[z],
                    cavlc.nc_from_plane(nzc.y, gx, gy, first_mb=first_mb),
                )
                nzc.y[gy, gx] = sum(1 for c in acs[z] if c)
            else:
                nzc.y[gy, gx] = 0
        _emit_chroma(w, cbp_chroma, cdcs, cacs, mx, my, nzc, first_mb)
        # closed loop: reconstruct through the decoder's exact path
        ry[16 * my : 16 * my + 16, 16 * mx : 16 * mx + 16] = np.clip(
            pred + recon_i16_luma(dc_coeffs, acs, qp), 0, 255
        )
        _recon_chroma_planes(rcb, rcr, cmode, cdcs, cacs, qpc, mx, my, first_mb)
        return
    if residual != "dc":
        raise ValueError(f"unknown residual mode {residual!r}")
    from flow_indexer_spark.operators import h264cavlc as cavlc

    if nzc is None:
        nzc = NzcCtx.for_planes(y)
    w.ue(1 + lmode + 4)  # mb_type: Intra_16x16_{lmode}_1_0
    w.ue(cmode)  # intra_chroma_pred_mode
    w.se(0)  # mb_qp_delta
    # luma: mode prediction + single-coefficient DC residual. The
    # Intra16x16DCLevel coeff_token table comes from the LIVE 9.2.1
    # neighbour context — inside a residual-coding P slice the
    # neighbours can be coded inter blocks with nC >= 2 (bit-identical
    # to the legacy fixed-table path whenever the neighbourhood is
    # uncoded, i.e. every all-DC picture).
    pred = pred16(lmode, ry, mx, my, first_mb)
    tgt = float((src_y.astype(np.float64) - pred).mean())
    lvl = _best_level_luma(int(round(tgt)), qp)
    coeffs = [lvl] + [0] * 15
    cavlc.encode_block(
        w, coeffs,
        cavlc.nc_from_plane(nzc.y, 4 * mx, 4 * my, first_mb=first_mb),
    )
    nzc.y[4 * my : 4 * my + 4, 4 * mx : 4 * mx + 4] = 0
    nzc.cb[2 * my : 2 * my + 2, 2 * mx : 2 * mx + 2] = 0
    nzc.cr[2 * my : 2 * my + 2, 2 * mx : 2 * mx + 2] = 0
    res = _luma_dc_residual(coeffs, qp)
    blk = np.repeat(np.repeat(res, 4, 0), 4, 1)
    ry[16 * my : 16 * my + 16, 16 * mx : 16 * mx + 16] = np.clip(
        pred + blk, 0, 255
    )
    # chroma: shared mode, per-plane single DC residual
    for plane, recon in ((cb, rcb), (cr, rcr)):
        cpred = pred_chroma(cmode, recon, mx, my, first_mb)
        src = plane[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8]
        tgt = float((src.astype(np.float64) - cpred).mean())
        lvl = _best_level_chroma(int(round(tgt)), qpc)
        ccoeffs = [lvl, 0, 0, 0]
        cavlc_encode_dc(w, ccoeffs, chroma=True)
        cres = _chroma_dc_residual(ccoeffs, qpc)
        cblk = np.repeat(np.repeat(cres, 4, 0), 4, 1)
        recon[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8] = np.clip(
            cpred + cblk, 0, 255
        )


# --- decoder ------------------------------------------------------------------


def decode_idr_any(
    nal: bytes, sps: dict
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Single-slice IDR NAL -> (y, cb, cr) planes. Thin wrapper over
    :func:`decode_idr_picture` for the one-slice-per-picture streams
    this repo's encoders write by default."""
    return decode_idr_picture([nal], sps)


def decode_idr_picture(
    nals: list[bytes], sps: dict
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One IDR picture's coded-slice NALs (decode order) -> (y, cb, cr)
    planes: I_PCM macroblocks decode exactly (h264codec path), I_16x16
    and I_4x4 macroblocks decode through prediction + CAVLC + inverse
    transform; everything else classifies from the parsed syntax
    element that requires it.

    Multi-slice pictures (7.4.3): slices must be contiguous raster runs
    covering the picture — the first slice's first_mb_in_slice is 0 and
    each subsequent slice starts where the previous one ended (each
    slice decodes macroblocks while more_rbsp_data(), spec 7.3.4).
    Prediction and nC contexts never cross a slice boundary (6.4.8),
    matching the encoders' slice-scoped availability."""
    if not nals:
        raise ValueError("picture has no coded-slice NALs")
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    n_mbs = mb_w * mb_h
    total_rbsp = 0
    slices = []  # (first_mb, qp, reader)
    for nal in nals:
        header, rbsp = nal_to_rbsp(nal)
        nal_type = header & 0x1F
        if nal_type == 1:
            raise NotImplementedError(
                "non-IDR slice: needs a reference picture — inter "
                "prediction is not implemented"
            )
        if nal_type != 5:
            raise ValueError(f"not a coded-slice NAL (type {nal_type})")
        r = _BitReader(rbsp)
        first_mb = r.ue("first_mb_in_slice")
        if first_mb >= n_mbs:
            raise ValueError(
                f"first_mb_in_slice {first_mb} outside the "
                f"{mb_w}x{mb_h}-MB picture"
            )
        slice_type = r.ue("slice_type")
        if slice_type % 5 != 2:
            raise NotImplementedError(
                "P/B slice in an IDR NAL: inter prediction is not "
                "implemented"
            )
        r.ue("pic_parameter_set_id")
        r.u(sps["log2_max_frame_num"], "frame_num")
        r.ue("idr_pic_id")
        if sps.get("poc_type", 2) == 0:
            r.u(sps["log2_max_poc_lsb"], "pic_order_cnt_lsb")
        r.u(1, "no_output_of_prior_pics_flag")
        r.u(1, "long_term_reference_flag")
        qp = 26 + r.se("slice_qp_delta")
        if not 0 <= qp <= 51:
            raise ValueError(f"slice QP {qp} out of range")
        total_rbsp += len(rbsp)
        slices.append((first_mb, qp, r))
    if slices[0][0] != 0:
        raise ValueError(
            f"picture's first slice starts at MB {slices[0][0]}, not 0"
        )
    if n_mbs * 8 > max(total_rbsp * 64, 1 << 26):
        # same hostile-SPS allocation gate as decode_idr_ipcm, adapted
        # to coded MBs (>= ~1 bit/MB floor: mb_type + residual tokens)
        raise ValueError(
            f"SPS claims {mb_w}x{mb_h} macroblocks but the picture has "
            f"only {total_rbsp} RBSP bytes: corrupt stream"
        )
    y = np.zeros((mb_h * 16, mb_w * 16), dtype=np.uint8)
    cb = np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)
    cr = np.zeros_like(cb)
    modes = np.full((4 * mb_h, 4 * mb_w), -1, dtype=np.int8)
    nzc = NzcCtx(mb_w, mb_h)
    addr = 0
    for first_mb, qp, r in slices:
        if first_mb != addr:
            raise ValueError(
                f"non-contiguous slices: expected first_mb_in_slice "
                f"{addr}, got {first_mb}"
            )
        while r.more_data():
            if addr >= n_mbs:
                raise ValueError("slice data overruns the picture")
            my, mx = divmod(addr, mb_w)
            mb_type = r.ue("mb_type")
            qp = decode_i_mb(
                r, mb_type, qp, y, cb, cr, mx, my, modes, nzc, first_mb
            )
            addr += 1
    if addr != n_mbs:
        raise ValueError(
            f"picture's slices cover {addr} of {n_mbs} macroblocks"
        )
    return y, cb, cr


#: raster order of the four chroma 4x4 blocks inside the 8x8 component
_C4 = ((0, 0), (1, 0), (0, 1), (1, 1))


def _decode_chroma_coeffs(
    r, cbp_chroma: int, mx: int, my: int, nzc, first_mb: int = 0
):
    """Parse the chroma residual section in the 7.3.5.3.3 order (both
    components' DC blocks, then both components' AC blocks) and update
    the chroma nzc planes. Returns ({comp: dc4}, {comp: [ac15 x4]})."""
    from flow_indexer_spark.operators import h264cavlc as cavlc

    dcs, acs = {}, {}
    for comp in (0, 1):
        if cbp_chroma >= 1:
            dcs[comp] = cavlc.decode_block(r, -1, 4)
        else:
            dcs[comp] = [0, 0, 0, 0]
    for comp, plane_nzc in ((0, nzc.cb), (1, nzc.cr)):
        blocks = []
        for cbx, cby in _C4:
            gx, gy = 2 * mx + cbx, 2 * my + cby
            if cbp_chroma == 2:
                blk = cavlc.decode_block(
                    r,
                    cavlc.nc_from_plane(
                        plane_nzc, gx, gy, per_mb=2, first_mb=first_mb
                    ),
                    15,
                )
                plane_nzc[gy, gx] = sum(1 for c in blk if c)
            else:
                blk = [0] * 15
                plane_nzc[gy, gx] = 0
            blocks.append(blk)
        acs[comp] = blocks
    return dcs, acs


def _recon_chroma_planes(
    cb, cr, chroma_mode, cdcs, cacs, qpc, mx, my, first_mb: int = 0
) -> None:
    for comp, plane in ((0, cb), (1, cr)):
        cpred = pred_chroma(chroma_mode, plane, mx, my, first_mb)
        cres = recon_chroma_comp(cdcs[comp], cacs[comp], qpc)
        plane[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8] = np.clip(
            cpred + cres, 0, 255
        )


def decode_i_mb(
    r, mb_type: int, qp: int, y, cb, cr, mx: int, my: int,
    modes: np.ndarray | None = None, nzc: NzcCtx | None = None,
    first_mb: int = 0,
) -> int:
    """Decode one I-macroblock layer (mb_type per Table 7-11: 0 I_4x4,
    1..24 I_16x16, 25 I_PCM) into the recon planes at MB (mx, my);
    returns the updated slice QP. Shared by the IDR decoder and by
    intra macroblocks inside P slices (Table 7-13 maps P-slice
    mb_type - 5 here). ``modes`` is the picture's 4x4 prediction-mode
    plane (-1 for non-I_4x4 blocks), required to decode mb_type 0;
    ``nzc`` is the picture's nonzero-count context (9.2.1) — picture-
    level callers MUST share one across the slice or nC contexts
    misdecode."""
    from flow_indexer_spark.operators import h264cavlc as cavlc

    if nzc is None:
        nzc = NzcCtx.for_planes(y)
    if mb_type == 0:
        if modes is None:
            # predIntra4x4PredMode needs every earlier block's mode —
            # decoding one MB out of picture context would misdecode
            raise ValueError(
                "I_4x4 decode requires the picture-wide mode plane"
            )
        return decode_i4_mb(r, qp, y, cb, cr, mx, my, modes, nzc, first_mb)
    if mb_type == _I_PCM:
        r.align()
        y[16 * my : 16 * my + 16, 16 * mx : 16 * mx + 16] = np.frombuffer(
            r.raw_bytes(256, "pcm_sample_luma"), dtype=np.uint8
        ).reshape(16, 16)
        cb[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8] = np.frombuffer(
            r.raw_bytes(64, "pcm_sample_chroma cb"), dtype=np.uint8
        ).reshape(8, 8)
        cr[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8] = np.frombuffer(
            r.raw_bytes(64, "pcm_sample_chroma cr"), dtype=np.uint8
        ).reshape(8, 8)
        # spec 9.2.1: I_PCM macroblocks count as TotalCoeff 16
        nzc.y[4 * my : 4 * my + 4, 4 * mx : 4 * mx + 4] = 16
        nzc.cb[2 * my : 2 * my + 2, 2 * mx : 2 * mx + 2] = 16
        nzc.cr[2 * my : 2 * my + 2, 2 * mx : 2 * mx + 2] = 16
        return qp
    if mb_type > _I_PCM:
        raise ValueError(f"invalid I-slice mb_type {mb_type}")
    pred_mode = (mb_type - 1) % 4
    cbp_chroma = ((mb_type - 1) // 4) % 3
    cbp_luma = 15 if mb_type > 12 else 0
    chroma_mode = r.ue("intra_chroma_pred_mode")
    if chroma_mode > 3:
        raise ValueError(f"invalid intra_chroma_pred_mode {chroma_mode}")
    qp = (qp + r.se("mb_qp_delta")) % 52
    qpc = chroma_qp(qp)
    # Intra16x16DCLevel is ALWAYS present for I_16x16; its nC derives
    # from the neighbouring blocks as for luma4x4BlkIdx 0
    dc_coeffs = cavlc.decode_block(
        r, cavlc.nc_from_plane(nzc.y, 4 * mx, 4 * my, first_mb=first_mb), 16
    )
    acs = []
    for bx, by in _Z4:
        gx, gy = 4 * mx + bx, 4 * my + by
        if cbp_luma:
            blk = cavlc.decode_block(
                r, cavlc.nc_from_plane(nzc.y, gx, gy, first_mb=first_mb), 15
            )
            nzc.y[gy, gx] = sum(1 for c in blk if c)
        else:
            blk = [0] * 15
            nzc.y[gy, gx] = 0
        acs.append(blk)
    cdcs, cacs = _decode_chroma_coeffs(r, cbp_chroma, mx, my, nzc, first_mb)
    pred = pred16(pred_mode, y, mx, my, first_mb)
    res = recon_i16_luma(dc_coeffs, acs, qp)
    y[16 * my : 16 * my + 16, 16 * mx : 16 * mx + 16] = np.clip(
        pred + res, 0, 255
    )
    _recon_chroma_planes(cb, cr, chroma_mode, cdcs, cacs, qpc, mx, my, first_mb)
    return qp


# --- Intra_4x4 spatial prediction (spec 8.3.1) --------------------------------

#: 4x4 luma block decode order within a macroblock (the Z scan of
#: spec 6.4.3 inverse 4x4 luma block scanning): (bx, by) pairs
_Z4 = (
    (0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2), (2, 3), (3, 3),
)
_Z4_INDEX = {pos: z for z, pos in enumerate(_Z4)}

#: Table 9-4 codeNum -> coded_block_pattern for Intra_4x4 macroblocks
_CBP_INTRA = (
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
)
_CBP_INTRA_CODE = {cbp: k for k, cbp in enumerate(_CBP_INTRA)}

#: per-mode required neighbours: (needs_left, needs_top, needs_corner)
_I4_NEEDS = {
    0: (False, True, False),   # vertical
    1: (True, False, False),   # horizontal
    2: (False, False, False),  # DC adapts to whatever is available
    3: (False, True, False),   # diagonal down-left (top-right substitutes)
    4: (True, True, True),     # diagonal down-right
    5: (True, True, True),     # vertical-right
    6: (True, True, True),     # horizontal-down
    7: (False, True, False),   # vertical-left (top-right substitutes)
    8: (True, False, False),   # horizontal-up
}


def _avail4(
    mx: int, my: int, bx: int, by: int, mb_w: int, first_mb: int = 0
) -> tuple[bool, bool, bool, bool]:
    """(left, top, top-right, corner) sample availability for 4x4 luma
    block (bx, by) of MB (mx, my): a neighbouring sample is available
    iff its block decodes earlier in MB-raster + within-MB Z order AND
    its macroblock is in the same slice (6.4.8; slices start at
    ``first_mb``). constrained_intra_pred_flag is 0, so any available
    decoded sample predicts."""
    mb_a, mb_b, mb_c, mb_d = _mb_avail(mx, my, mb_w, first_mb)
    left = bx > 0 or mb_a
    top = by > 0 or mb_b
    if bx > 0 and by > 0:
        corner = True  # inside this MB, decoded earlier in Z order
    elif bx > 0:  # by == 0: corner sample sits in the top MB
        corner = mb_b
    elif by > 0:  # bx == 0: corner sample sits in the left MB
        corner = mb_a
    else:  # (0, 0): corner sample sits in the top-left MB
        corner = mb_d
    if by == 0:
        tr = mb_b if bx < 3 else mb_c
    else:
        tr = bx < 3 and _Z4_INDEX[(bx + 1, by - 1)] < _Z4_INDEX[(bx, by)]
    return left, top, tr, corner


def pred4(
    mode: int,
    recon: np.ndarray,
    x0: int,
    y0: int,
    avail: tuple[bool, bool, bool, bool],
) -> np.ndarray:
    """Spec 8.3.1.2 Intra_4x4 prediction block (4x4 int64) for the
    block whose top-left luma sample is (x0, y0). ``avail`` is the
    (left, top, top-right, corner) tuple; a mode whose required
    neighbours are unavailable marks a non-conformant stream ->
    ValueError. Unavailable top-right samples substitute p[3,-1]
    (8.3.1.2: the only sample substitution in Intra_4x4)."""
    have_l, have_t, have_tr, have_c = avail
    need_l, need_t, need_c = _I4_NEEDS[mode]
    if (need_l and not have_l) or (need_t and not have_t) or (
        need_c and not have_c
    ):
        raise ValueError(
            f"Intra_4x4 mode {mode} without its required neighbours"
        )
    t = recon[y0 - 1, x0 : x0 + 4].astype(np.int64) if have_t else None
    le = recon[y0 : y0 + 4, x0 - 1].astype(np.int64) if have_l else None
    c = int(recon[y0 - 1, x0 - 1]) if have_c else None
    if have_t:
        if have_tr:
            tr = recon[y0 - 1, x0 + 4 : x0 + 8].astype(np.int64)
        else:
            tr = np.full(4, t[3], dtype=np.int64)
        tt = np.concatenate([t, tr])  # p[0..7, -1]
    out = np.empty((4, 4), dtype=np.int64)
    if mode == 0:  # vertical
        out[:] = t[None, :]
    elif mode == 1:  # horizontal
        out[:] = le[:, None]
    elif mode == 2:  # DC
        if have_t and have_l:
            v = (int(t.sum()) + int(le.sum()) + 4) >> 3
        elif have_t:
            v = (int(t.sum()) + 2) >> 2
        elif have_l:
            v = (int(le.sum()) + 2) >> 2
        else:
            v = 128
        out[:] = v
    elif mode == 3:  # diagonal down-left
        for yy in range(4):
            for xx in range(4):
                if xx == 3 and yy == 3:
                    out[yy, xx] = (tt[6] + 3 * tt[7] + 2) >> 2
                else:
                    k = xx + yy
                    out[yy, xx] = (tt[k] + 2 * tt[k + 1] + tt[k + 2] + 2) >> 2
    elif mode == 4:  # diagonal down-right
        for yy in range(4):
            for xx in range(4):
                if xx > yy:
                    k = xx - yy
                    a = tt[k - 2] if k >= 2 else c
                    b = tt[k - 1] if k >= 1 else c
                    out[yy, xx] = (a + 2 * b + tt[k] + 2) >> 2
                elif xx < yy:
                    k = yy - xx
                    a = le[k - 2] if k >= 2 else c
                    b = le[k - 1] if k >= 1 else c
                    out[yy, xx] = (a + 2 * b + le[k] + 2) >> 2
                else:
                    out[yy, xx] = (tt[0] + 2 * c + le[0] + 2) >> 2
    elif mode == 5:  # vertical-right
        for yy in range(4):
            for xx in range(4):
                z = 2 * xx - yy
                if z >= 0 and z % 2 == 0:
                    k = xx - (yy >> 1)
                    a = tt[k - 1] if k >= 1 else c
                    out[yy, xx] = (a + tt[k] + 1) >> 1
                elif z >= 0:
                    k = xx - (yy >> 1)
                    a = tt[k - 2] if k >= 2 else c
                    b = tt[k - 1] if k >= 1 else c
                    out[yy, xx] = (a + 2 * b + tt[k] + 2) >> 2
                elif z == -1:
                    out[yy, xx] = (le[0] + 2 * c + tt[0] + 2) >> 2
                else:
                    out[yy, xx] = (
                        le[yy - 1] + 2 * le[yy - 2] + le[yy - 3] + 2
                    ) >> 2
    elif mode == 6:  # horizontal-down
        for yy in range(4):
            for xx in range(4):
                z = 2 * yy - xx
                if z >= 0 and z % 2 == 0:
                    k = yy - (xx >> 1)
                    a = le[k - 1] if k >= 1 else c
                    out[yy, xx] = (a + le[k] + 1) >> 1
                elif z >= 0:
                    k = yy - (xx >> 1)
                    a = le[k - 2] if k >= 2 else c
                    b = le[k - 1] if k >= 1 else c
                    out[yy, xx] = (a + 2 * b + le[k] + 2) >> 2
                elif z == -1:
                    out[yy, xx] = (le[0] + 2 * c + tt[0] + 2) >> 2
                else:
                    out[yy, xx] = (
                        tt[xx - 1] + 2 * tt[xx - 2] + tt[xx - 3] + 2
                    ) >> 2
    elif mode == 7:  # vertical-left
        for yy in range(4):
            for xx in range(4):
                k = xx + (yy >> 1)
                if yy % 2 == 0:
                    out[yy, xx] = (tt[k] + tt[k + 1] + 1) >> 1
                else:
                    out[yy, xx] = (tt[k] + 2 * tt[k + 1] + tt[k + 2] + 2) >> 2
    elif mode == 8:  # horizontal-up
        for yy in range(4):
            for xx in range(4):
                z = xx + 2 * yy
                if z > 5:
                    out[yy, xx] = le[3]
                elif z == 5:
                    out[yy, xx] = (le[2] + 3 * le[3] + 2) >> 2
                elif z % 2 == 0:
                    k = yy + (xx >> 1)
                    out[yy, xx] = (le[k] + le[k + 1] + 1) >> 1
                else:
                    k = yy + (xx >> 1)
                    out[yy, xx] = (le[k] + 2 * le[k + 1] + le[k + 2] + 2) >> 2
    else:
        raise ValueError(f"invalid Intra_4x4 prediction mode {mode}")
    return out


#: 4x4 zig-zag scan (spec 8.5.6): scan index -> (row, col)
_ZIGZAG4 = (
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (3, 1), (2, 2), (1, 3), (2, 3), (3, 2), (3, 3),
)

#: normAdjust4x4(m, idx) (spec 8.5.9): idx 0 for positions
#: {(0,0),(0,2),(2,0),(2,2)}, 1 for {(1,1),(1,3),(3,1),(3,3)}, 2 rest
_NORM_ADJUST = (
    (10, 16, 13), (11, 18, 14), (13, 20, 16),
    (14, 23, 18), (16, 25, 20), (18, 29, 23),
)


def _norm_idx(i: int, j: int) -> int:
    if i % 2 == 0 and j % 2 == 0:
        return 0
    if i % 2 == 1 and j % 2 == 1:
        return 1
    return 2


def luma4_residual(
    coeffs: list[int], qp: int, dc: int | None = None
) -> np.ndarray:
    """LumaLevel4x4 scan-order coefficients -> the 4x4 spatial residual
    (spec 8.5.12): position-dependent LevelScale dequantization
    (16 * normAdjust, flat weightScale) with the qP<24 rounding branch,
    then the inverse core transform (8.5.12.2 butterflies) and the
    final (x + 32) >> 6. ``dc`` (already dequantized through the
    8.5.10/8.5.11 Hadamard path) overrides d[0][0] for I_16x16 /
    chroma blocks, whose scan skips the DC position."""
    d = np.zeros((4, 4), dtype=np.int64)
    shift = qp // 6
    for k, c in enumerate(coeffs):
        if not c:
            continue
        i, j = _ZIGZAG4[k]
        if (i, j) == (0, 0) and dc is not None:
            raise ValueError("DC override given but scan holds a DC coeff")
        ls = 16 * _NORM_ADJUST[qp % 6][_norm_idx(i, j)]
        if shift >= 4:
            d[i, j] = (c * ls) << (shift - 4)
        else:
            d[i, j] = (c * ls + (1 << (3 - shift))) >> (4 - shift)
    if dc is not None:
        d[0, 0] = dc
    # horizontal butterflies (8.5.12.2 eq. 8-338..341)
    e = np.empty_like(d)
    e[:, 0] = d[:, 0] + d[:, 2]
    e[:, 1] = d[:, 0] - d[:, 2]
    e[:, 2] = (d[:, 1] >> 1) - d[:, 3]
    e[:, 3] = d[:, 1] + (d[:, 3] >> 1)
    f = np.empty_like(d)
    f[:, 0] = e[:, 0] + e[:, 3]
    f[:, 1] = e[:, 1] + e[:, 2]
    f[:, 2] = e[:, 1] - e[:, 2]
    f[:, 3] = e[:, 0] - e[:, 3]
    # vertical butterflies
    g = np.empty_like(f)
    g[0, :] = f[0, :] + f[2, :]
    g[1, :] = f[0, :] - f[2, :]
    g[2, :] = (f[1, :] >> 1) - f[3, :]
    g[3, :] = f[1, :] + (f[3, :] >> 1)
    h = np.empty_like(f)
    h[0, :] = g[0, :] + g[3, :]
    h[1, :] = g[1, :] + g[2, :]
    h[2, :] = g[1, :] - g[2, :]
    h[3, :] = g[0, :] - g[3, :]
    return (h + 32) >> 6


def _best_level_luma4(t: int, qp: int) -> int:
    """Level at scan position 0 whose reconstructed uniform shift
    ((c*LS)<<(qp//6-4) through the DC-only inverse transform) is
    nearest to target t; 0 when t rounds to nothing."""
    if t == 0:
        return 0
    ls = 16 * _NORM_ADJUST[qp % 6][0]
    shift = qp // 6

    def _recon(c: int) -> int:
        if shift >= 4:
            d = (c * ls) << (shift - 4)
        else:
            d = (c * ls + (1 << (3 - shift))) >> (4 - shift)
        return (d + 32) >> 6

    # true slope of _recon is ls*2^(shift-4)/64 per level (the integer
    # floors only add a sub-level offset); estimating it from
    # _recon(1)-_recon(0) floors to 1 and under-corrects large
    # residuals by ~40% at qp 36
    if shift >= 4:
        slope = ls * (1 << (shift - 4)) / 64.0
    else:
        slope = ls / (64.0 * (1 << (4 - shift)))
    c = int(round(t / slope))
    best = (abs(t), 0)
    for cand in range(c - 2, c + 3):
        cand = _clip_level(cand)
        if cand == 0:
            continue
        err = abs(t - _recon(cand))
        if err < best[0]:
            best = (err, cand)
    return best[1]


def _pred_mode4(modes: np.ndarray, gx: int, gy: int, first_mb: int = 0) -> int:
    """predIntra4x4PredMode (spec 8.3.1.1): min of the left and top
    neighbour block modes, an unavailable (outside the picture OR the
    slice, 6.4.8) or non-Intra_4x4 neighbour counting as 2 (DC)."""
    if first_mb:
        mb_w = modes.shape[1] // 4

        def _same_slice(nx: int, ny: int) -> bool:
            return (ny // 4) * mb_w + (nx // 4) >= first_mb

        a = int(modes[gy, gx - 1]) if gx > 0 and _same_slice(gx - 1, gy) else -1
        b = int(modes[gy - 1, gx]) if gy > 0 and _same_slice(gx, gy - 1) else -1
    else:
        a = int(modes[gy, gx - 1]) if gx > 0 else -1
        b = int(modes[gy - 1, gx]) if gy > 0 else -1
    return min(a if a >= 0 else 2, b if b >= 0 else 2)


def decode_i4_mb(
    r, qp: int, y, cb, cr, mx: int, my: int, modes: np.ndarray,
    nzc: NzcCtx | None = None, first_mb: int = 0,
) -> int:
    """Decode one I_4x4 macroblock layer (after mb_type): 16 prediction
    modes (mb_pred, spec 7.3.5.1), shared chroma mode,
    coded_block_pattern via the Table 9-4 intra mapping, then the
    residual pass — LumaLevel4x4 blocks through the full CAVLC alphabet
    (:mod:`operators.h264cavlc`) with per-block nC contexts,
    dequantized and inverse-transformed per spec 8.5.12, reconstructed
    in Z order so prediction chains through the residual-corrected
    samples. Chroma DC + AC residuals as in I_16x16. Returns the
    updated slice QP; records block modes in ``modes``."""
    from flow_indexer_spark.operators import h264cavlc as cavlc

    if nzc is None:
        nzc = NzcCtx.for_planes(y)
    mb_w = modes.shape[1] // 4
    mb_modes = []
    for bx, by in _Z4:
        gx, gy = 4 * mx + bx, 4 * my + by
        pm = _pred_mode4(modes, gx, gy, first_mb)
        if r.u(1, "prev_intra4x4_pred_mode_flag"):
            mode = pm
        else:
            rem = r.u(3, "rem_intra4x4_pred_mode")
            mode = rem if rem < pm else rem + 1
        mb_modes.append(mode)
        modes[gy, gx] = mode  # later blocks in this MB predict from it
    chroma_mode = r.ue("intra_chroma_pred_mode")
    if chroma_mode > 3:
        raise ValueError(f"invalid intra_chroma_pred_mode {chroma_mode}")
    code = r.ue("coded_block_pattern")
    if code > 47:
        raise ValueError(f"coded_block_pattern codeNum {code} > 47")
    cbp = _CBP_INTRA[code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp:
        qp = (qp + r.se("mb_qp_delta")) % 52
    qpc = chroma_qp(qp)
    for z, (bx, by) in enumerate(_Z4):
        gx, gy = 4 * mx + bx, 4 * my + by
        avail = _avail4(mx, my, bx, by, mb_w, first_mb)
        blk = pred4(mb_modes[z], y, gx * 4, gy * 4, avail)
        if cbp_luma & (1 << (z // 4)):
            coeffs = cavlc.decode_block(
                r, cavlc.nc_from_plane(nzc.y, gx, gy, first_mb=first_mb), 16
            )
            nzc.y[gy, gx] = sum(1 for c in coeffs if c)
            blk = blk + luma4_residual(coeffs, qp)
        else:
            nzc.y[gy, gx] = 0
        y[gy * 4 : gy * 4 + 4, gx * 4 : gx * 4 + 4] = np.clip(blk, 0, 255)
    cdcs, cacs = _decode_chroma_coeffs(r, cbp_chroma, mx, my, nzc, first_mb)
    _recon_chroma_planes(cb, cr, chroma_mode, cdcs, cacs, qpc, mx, my, first_mb)
    return qp


def encode_i4_mb(
    w, y, cb, cr, ry, rcb, rcr, mx, my, qp, qpc, modes,
    nzc: NzcCtx | None = None, residual: str = "dc", first_mb: int = 0,
) -> None:
    """Encode one I_4x4 macroblock: per-block SSE-best prediction mode
    after the optimal DC correction (ties prefer the predicted mode,
    then the lowest number). ``residual="dc"``: a DC-only LumaLevel4x4
    residual per block (coded_block_pattern 31 = luma 15 | chroma 16)
    and chroma DC residuals — the round-4 code, bit-for-bit.
    ``residual="full"``: every block's 16 coefficients quantized and
    CAVLC-coded with live nC contexts, coded_block_pattern computed
    from the actual nonzero quadrants, chroma DC + AC. The decoder must
    reproduce the recon planes byte-exactly in both modes."""
    if residual == "full":
        from flow_indexer_spark.operators import h264cavlc as cavlc

        if nzc is None:
            nzc = NzcCtx.for_planes(y)
    elif residual != "dc":
        raise ValueError(f"unknown residual mode {residual!r}")
    mb_w = modes.shape[1] // 4
    w.ue(0)  # mb_type: I_4x4
    mode_bits = []
    luma_coeffs = []
    for z, (bx, by) in enumerate(_Z4):
        gx, gy = 4 * mx + bx, 4 * my + by
        src = y[gy * 4 : gy * 4 + 4, gx * 4 : gx * 4 + 4].astype(np.float64)
        pm = _pred_mode4(modes, gx, gy, first_mb)
        avail = _avail4(mx, my, bx, by, mb_w, first_mb)
        best = None
        for m in range(9):
            need_l, need_t, need_c = _I4_NEEDS[m]
            if (
                (need_l and not avail[0])
                or (need_t and not avail[1])
                or (need_c and not avail[3])
            ):
                continue
            p = pred4(m, ry, gx * 4, gy * 4, avail)
            d = src - p
            cost = (
                float(((d - np.round(d.mean())) ** 2).sum()),
                m != pm,
                m,
            )
            if best is None or cost < best[0]:
                best = (cost, m, p)
        _, mode, p = best
        mode_bits.append((mode == pm, mode if mode < pm else mode - 1))
        modes[gy, gx] = mode
        if residual == "full":
            coeffs = quant4(fwd4(src.astype(np.int64) - p), qp)
        else:
            tgt = float((src - p).mean())
            lvl = _best_level_luma4(int(round(tgt)), qp)
            coeffs = [lvl] + [0] * 15
            if nzc is not None:
                # keep the shared context decoder-aligned when DC-only
                # MBs mix with full-residual ones in one picture
                nzc.y[gy, gx] = 1 if lvl else 0
        luma_coeffs.append(coeffs)
        ry[gy * 4 : gy * 4 + 4, gx * 4 : gx * 4 + 4] = np.clip(
            p + luma4_residual(coeffs, qp), 0, 255
        )
    for flag, rem in mode_bits:
        if flag:
            w.u(1, 1)
        else:
            w.u(0, 1)
            w.u(rem, 3)
    src_cb = cb[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8]
    src_cr = cr[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8]
    cmode = _select_mode(
        [(src_cb, rcb), (src_cr, rcr)], [0, 1, 2, 3], (mx, my), True, first_mb
    )
    w.ue(cmode)
    if residual == "full":
        cbp_luma = 0
        for z in range(16):
            if any(luma_coeffs[z]):
                cbp_luma |= 1 << (z // 4)
        cbp_chroma, cdcs, cacs = _chroma_full_mb(
            cb, cr, rcb, rcr, cmode, mx, my, qpc, first_mb
        )
        cbp = cbp_luma | (cbp_chroma << 4)
        w.ue(_CBP_INTRA_CODE[cbp])
        if cbp:
            w.se(0)  # mb_qp_delta
        for z, (bx, by) in enumerate(_Z4):
            gx, gy = 4 * mx + bx, 4 * my + by
            if cbp_luma & (1 << (z // 4)):
                cavlc.encode_block(
                    w, luma_coeffs[z],
                    cavlc.nc_from_plane(nzc.y, gx, gy, first_mb=first_mb),
                )
                nzc.y[gy, gx] = sum(1 for c in luma_coeffs[z] if c)
            else:
                # an uncoded quadrant's blocks are exactly the all-zero
                # ones (cbp derived from the quantizer output)
                nzc.y[gy, gx] = 0
        _emit_chroma(w, cbp_chroma, cdcs, cacs, mx, my, nzc, first_mb)
        _recon_chroma_planes(rcb, rcr, cmode, cdcs, cacs, qpc, mx, my, first_mb)
        return
    w.ue(_CBP_INTRA_CODE[31])  # cbp 31: all luma 8x8 groups + chroma DC
    w.se(0)  # mb_qp_delta
    for coeffs in luma_coeffs:
        cavlc_encode_dc(w, coeffs, chroma=False)
    for plane, recon in ((cb, rcb), (cr, rcr)):
        cpred = pred_chroma(cmode, recon, mx, my, first_mb)
        src = plane[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8]
        tgt = float((src.astype(np.float64) - cpred).mean())
        lvl = _best_level_chroma(int(round(tgt)), qpc)
        ccoeffs = [lvl, 0, 0, 0]
        cavlc_encode_dc(w, ccoeffs, chroma=True)
        cres = _chroma_dc_residual(ccoeffs, qpc)
        cblk = np.repeat(np.repeat(cres, 4, 0), 4, 1)
        recon[8 * my : 8 * my + 8, 8 * mx : 8 * mx + 8] = np.clip(
            cpred + cblk, 0, 255
        )


def encode_idr_i4(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    qp: int = 12,
    idr_pic_id: int = 0,
    return_recon: bool = False,
    residual: str = "dc",
    slices: int = 1,
):
    """Padded planes -> IDR slice NAL(s) of I_4x4 macroblocks: every
    4x4 luma block spatially predicted (all nine 8.3.1 modes searched),
    zero luma residual, chroma DC residuals. Sharper than the I_16x16
    encoder on detailed content because prediction adapts per 4x4
    block; still a prediction-only code for luma. ``residual="full"``
    codes every block's quantized coefficients instead (real lossy
    transform coding at any qp, CBP from actual nonzero quadrants).
    ``slices`` > 1 -> a list of independently-decodable slice NALs
    (see :func:`encode_idr_i16`)."""
    if not 0 <= qp <= 51:
        raise ValueError("qp out of range")
    mb_h, mb_w = y.shape[0] // 16, y.shape[1] // 16
    if (
        y.shape != (mb_h * 16, mb_w * 16)
        or cb.shape != (mb_h * 8, mb_w * 8)
        or cr.shape != cb.shape
    ):
        raise ValueError("planes must be macroblock-aligned (16 luma / 8 chroma)")
    qpc = chroma_qp(qp)
    n_mbs = mb_w * mb_h
    starts = _slice_starts(n_mbs, slices)
    ry = np.zeros_like(y)
    rcb = np.zeros_like(cb)
    rcr = np.zeros_like(cr)
    modes = np.full((4 * mb_h, 4 * mb_w), -1, dtype=np.int8)
    nzc = NzcCtx(mb_w, mb_h)
    nals = []
    for k, first_mb in enumerate(starts):
        end = starts[k + 1] if k + 1 < len(starts) else n_mbs
        w = _BitWriter()
        _write_idr_slice_header(w, first_mb, qp, idr_pic_id, None)
        for addr in range(first_mb, end):
            my, mx = divmod(addr, mb_w)
            encode_i4_mb(
                w, y, cb, cr, ry, rcb, rcr, mx, my, qp, qpc, modes,
                nzc=nzc, residual=residual, first_mb=first_mb,
            )
        nals.append(rbsp_to_nal(0x65, w.rbsp_trailing()))
    out = nals[0] if slices == 1 else nals
    return (out, (ry, rcb, rcr)) if return_recon else out


# --- MP4-sample layer ---------------------------------------------------------


def _nals_to_sample(nals: bytes | list[bytes]) -> bytes:
    if isinstance(nals, bytes):
        nals = [nals]
    return b"".join(len(n).to_bytes(4, "big") + n for n in nals)


def encode_frame_sample_i16(
    px: np.ndarray, idr_pic_id: int = 0, qp: int = 12, slices: int = 1
) -> bytes:
    """RGB frame -> one MP4 sample: length-prefixed IDR NAL(s) of
    I_16x16 intra-predicted macroblocks, per-MB mode-selected (the
    intra-coded twin of h264codec.encode_frame_sample's I_PCM
    sample). ``slices`` > 1 splits the picture into that many
    independently-decodable slice NALs inside the one sample."""
    from flow_indexer_spark.operators.h264codec import frame_to_planes

    y, cb, cr = frame_to_planes(px)
    return _nals_to_sample(
        encode_idr_i16(y, cb, cr, qp=qp, idr_pic_id=idr_pic_id, slices=slices)
    )


def encode_frame_sample_i4(
    px: np.ndarray, idr_pic_id: int = 0, qp: int = 12, slices: int = 1
) -> bytes:
    """RGB frame -> one MP4 sample: length-prefixed IDR NAL(s) of I_4x4
    spatially-predicted macroblocks with per-4x4 DC residuals."""
    from flow_indexer_spark.operators.h264codec import frame_to_planes

    y, cb, cr = frame_to_planes(px)
    return _nals_to_sample(
        encode_idr_i4(y, cb, cr, qp=qp, idr_pic_id=idr_pic_id, slices=slices)
    )


def decode_frame_sample_any(sample: bytes, avcc: bytes) -> np.ndarray:
    """MP4 sample (length-prefixed NALs) + avcC -> RGB pixels, through
    the widest decodable subset: I_PCM macroblocks exactly, I_16x16 and
    I_4x4 (any prediction mode) through prediction + CAVLC + inverse
    transform, single- or multi-slice pictures. Everything narrower
    classifies from the parsed syntax element that needs it."""
    from flow_indexer_spark.operators.h264codec import (
        parse_avcc,
        parse_pps,
        parse_sps,
        planes_to_frame,
    )

    sps_nal, pps_nal = parse_avcc(avcc)
    sps = parse_sps(sps_nal)
    pps = parse_pps(pps_nal)
    coded = []
    p = 0
    while p + 4 <= len(sample):
        ln = int.from_bytes(sample[p : p + 4], "big")
        nal = sample[p + 4 : p + 4 + ln]
        if len(nal) != ln:
            raise ValueError("NAL length prefix overruns sample")
        p += 4 + ln
        nal_type = nal[0] & 0x1F if nal else 0
        if nal_type in (1, 5):
            coded.append(nal)
    if not coded:
        raise ValueError("sample holds no coded-slice NAL")
    if pps.get("cabac"):
        # CABAC route (operators/h264cabac.py): single-slice all-I_PCM
        # IDR pictures decode byte-exactly; anything narrower
        # classifies inside the CABAC decoder itself.
        from flow_indexer_spark.operators.h264cabac import (
            decode_idr_ipcm_cabac,
        )

        if len(coded) > 1:
            raise NotImplementedError("multi-slice CABAC pictures")
        y, cb, cr = decode_idr_ipcm_cabac(
            coded[0], sps, pps.get("pic_init_qp_minus26", 0)
        )
        return planes_to_frame(y, cb, cr, sps["width"], sps["height"])
    y, cb, cr = decode_idr_picture(coded, sps)
    return planes_to_frame(y, cb, cr, sps["width"], sps["height"])
