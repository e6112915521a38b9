"""Real H.264/AVC (ISO/IEC 14496-10) baseline codec — I_PCM profile
subset, pure Python/numpy, no external media library.

Closes the bitstream half of the video seam: rounds 3a/3b made the MP4
CONTAINER real (operators/mp4codec.py) while every H.264 sample raised
``NotImplementedError``. This module implements the spec-compliant
subset a no-codec-library environment can genuinely host: **IDR slices
whose macroblocks are all I_PCM** — raw uncompressed 4:2:0 samples
carried inside a fully real NAL/RBSP bitstream. Everything around the
samples is the true H.264 grammar, written and parsed bit-exactly:

- NAL units with emulation-prevention escaping (00 00 0x -> 00 00 03
  0x) both directions — I_PCM sample bytes are subject to it too, so
  adversarial pixel patterns exercise the escape path for real.
- Exp-Golomb ue(v)/se(v) bit coding for every header field.
- SPS (profile_idc 66 baseline, pic_order_cnt_type 2, frame_mbs_only,
  frame cropping for non-multiple-of-16 dimensions) and PPS (CAVLC,
  single slice group) — generated, parsed, and round-tripped.
- IDR slice headers (first_mb_in_slice, slice_type I, frame_num,
  idr_pic_id, dec_ref_pic_marking, slice_qp_delta) and macroblock
  layer (mb_type ue, pcm alignment bits, raw Y/Cb/Cr samples).
- avcC decoder-configuration records (lengthSizeMinusOne=3, SPS/PPS
  arrays) for MP4 ``avc1`` sample entries.

I_PCM is lossless in the YCbCr domain: decode returns the exact coded
planes, so round-trip tests assert byte equality there; RGB round
trips carry only the 4:2:0 chroma-subsample + color-matrix rounding
(no quantization), tighter than JPEG's gate.

What still raises ``NotImplementedError`` — now CLASSIFIED from real
parsing instead of assumed from the fourcc: AC residual blocks, I_8x8,
P and B slices (inter prediction is not implemented), and CABAC
streams (the intra prediction stack itself lives in
:mod:`operators.h264intra` — I_16x16 all modes + I_4x4 all nine
modes).
Corrupt bitstreams raise ``ValueError`` (classifiable, like the JPEG/
MP4 codecs' ``_need`` guards).

Reference analogue: the pcap backend's per-format packet decode,
/root/reference/backend/pcap.go:17-54.
"""

from __future__ import annotations

import numpy as np

# --- bit I/O ----------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self._bytes = bytearray()
        self._acc = 0
        self._n = 0

    def u(self, value: int, length: int) -> None:
        value = int(value)
        if value < 0 or (length < 32 and value >> length):
            raise ValueError(f"u({length}) cannot hold {value}")
        for i in range(length - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self._bytes.append(self._acc)
                self._acc = self._n = 0

    def ue(self, value: int) -> None:
        value = int(value)
        if value < 0:
            raise ValueError("ue(v) is unsigned")
        code = value + 1
        n_bits = code.bit_length()
        self.u(0, n_bits - 1)
        self.u(code, n_bits)

    def se(self, value: int) -> None:
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    @property
    def bit_aligned(self) -> bool:
        return self._n == 0

    def align_zero(self) -> None:
        while self._n:
            self.u(0, 1)

    def raw_bytes(self, data: bytes) -> None:
        if self._n:
            raise ValueError("raw bytes must start byte-aligned")
        self._bytes.extend(data)

    def rbsp_trailing(self) -> bytes:
        self.u(1, 1)
        self.align_zero()
        return bytes(self._bytes)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self._d = data
        self._pos = 0  # bit position

    def _need(self, nbits: int, what: str) -> None:
        if self._pos + nbits > 8 * len(self._d):
            raise ValueError(f"bitstream truncated reading {what}")

    def u(self, length: int, what: str = "u(n)") -> int:
        self._need(length, what)
        out = 0
        for _ in range(length):
            byte = self._d[self._pos >> 3]
            out = (out << 1) | ((byte >> (7 - (self._pos & 7))) & 1)
            self._pos += 1
        return out

    def ue(self, what: str = "ue(v)") -> int:
        zeros = 0
        while True:
            if self.u(1, what) == 1:
                break
            zeros += 1
            if zeros > 31:
                raise ValueError(f"oversized exp-golomb code in {what}")
        return (1 << zeros) - 1 + (self.u(zeros, what) if zeros else 0)

    def se(self, what: str = "se(v)") -> int:
        k = self.ue(what)
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def align(self) -> None:
        while self._pos & 7:
            if self.u(1, "pcm_alignment_zero_bit") != 0:
                raise ValueError("nonzero pcm alignment bit")

    def raw_bytes(self, n: int, what: str) -> bytes:
        if self._pos & 7:
            raise ValueError(f"{what} read must be byte-aligned")
        self._need(8 * n, what)
        start = self._pos >> 3
        self._pos += 8 * n
        return self._d[start : start + n]

    def more_data(self) -> bool:
        """more_rbsp_data() (spec 7.2): true while the current position
        is before the rbsp_stop_one_bit — the last 1 bit in the RBSP."""
        last = len(self._d) - 1
        while last >= 0 and self._d[last] == 0:
            last -= 1
        if last < 0:
            return False
        b = self._d[last]
        stop_bit = 8 * last + 7 - ((b & -b).bit_length() - 1)
        return self._pos < stop_bit


# --- NAL <-> RBSP (emulation prevention) ------------------------------------


def rbsp_to_nal(nal_header: int, rbsp: bytes) -> bytes:
    """Prefix the NAL header byte and insert emulation-prevention bytes:
    any 00 00 followed by 00..03 gets 03 interposed (spec 7.4.1.1)."""
    out = bytearray([nal_header])
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def nal_to_rbsp(nal: bytes) -> tuple[int, bytes]:
    """Strip the header byte and emulation-prevention bytes."""
    if not nal:
        raise ValueError("empty NAL unit")
    out = bytearray()
    zeros = 0
    for b in nal[1:]:
        if zeros >= 2 and b == 3:
            zeros = 0
            continue  # emulation-prevention byte
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return nal[0], bytes(out)


# --- SPS / PPS --------------------------------------------------------------


def make_sps(width: int, height: int) -> bytes:
    """Baseline SPS NAL for frame_mbs_only 4:2:0 all-IDR video of the
    given display dimensions (even-valued; cropping expresses
    non-multiples of 16 — crop units are 2 luma px in 4:2:0).
    pic_order_cnt_type 2: decode order == output order, and no
    reference frames."""
    if width % 2 or height % 2 or width <= 0 or height <= 0:
        raise ValueError("dimensions must be positive and even")
    mb_w = (width + 15) // 16
    mb_h = (height + 15) // 16
    crop_r = (mb_w * 16 - width) // 2
    crop_b = (mb_h * 16 - height) // 2
    w = _BitWriter()
    w.u(66, 8)  # profile_idc: baseline
    w.u(0, 8)  # constraint flags + reserved
    w.u(30, 8)  # level_idc 3.0
    w.ue(0)  # seq_parameter_set_id
    w.ue(0)  # log2_max_frame_num_minus4 -> frame_num is u(4)
    w.ue(2)  # pic_order_cnt_type (2: no POC syntax)
    w.ue(0)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    w.ue(mb_w - 1)  # pic_width_in_mbs_minus1
    w.ue(mb_h - 1)  # pic_height_in_map_units_minus1
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(0, 1)  # direct_8x8_inference_flag
    if crop_r or crop_b:
        w.u(1, 1)  # frame_cropping_flag
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present_flag
    return rbsp_to_nal(0x67, w.rbsp_trailing())


def parse_sps(nal: bytes) -> dict:
    header, rbsp = nal_to_rbsp(nal)
    if header & 0x1F != 7:
        raise ValueError(f"not an SPS NAL (type {header & 0x1F})")
    r = _BitReader(rbsp)
    profile = r.u(8, "profile_idc")
    r.u(8, "constraint flags")
    level = r.u(8, "level_idc")
    r.ue("seq_parameter_set_id")
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise NotImplementedError("high-profile SPS chroma syntax")
    log2_max_frame_num = r.ue("log2_max_frame_num_minus4") + 4
    poc_type = r.ue("pic_order_cnt_type")
    log2_max_poc_lsb = None
    if poc_type == 0:
        log2_max_poc_lsb = r.ue("log2_max_pic_order_cnt_lsb_minus4") + 4
        if log2_max_poc_lsb > 16:
            raise ValueError("log2_max_pic_order_cnt_lsb > 16")
    elif poc_type != 2:
        raise NotImplementedError("pic_order_cnt_type 1 syntax")
    r.ue("max_num_ref_frames")
    r.u(1, "gaps_in_frame_num_value_allowed_flag")
    mb_w = r.ue("pic_width_in_mbs_minus1") + 1
    mb_h = r.ue("pic_height_in_map_units_minus1") + 1
    if r.u(1, "frame_mbs_only_flag") != 1:
        raise NotImplementedError("interlaced (field) coding")
    r.u(1, "direct_8x8_inference_flag")
    crop = [0, 0, 0, 0]
    if r.u(1, "frame_cropping_flag"):
        crop = [r.ue("frame_crop_offset") for _ in range(4)]
    r.u(1, "vui_parameters_present_flag")
    width = mb_w * 16 - 2 * (crop[0] + crop[1])
    height = mb_h * 16 - 2 * (crop[2] + crop[3])
    if width <= 0 or height <= 0:
        raise ValueError("cropping leaves no picture")
    return {
        "profile_idc": profile,
        "level_idc": level,
        "mb_width": mb_w,
        "mb_height": mb_h,
        "width": width,
        "height": height,
        "crop": crop,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
    }


def make_pps() -> bytes:
    w = _BitWriter()
    w.ue(0)  # pic_parameter_set_id
    w.ue(0)  # seq_parameter_set_id
    w.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred_flag
    w.u(0, 2)  # weighted_bipred_idc
    w.se(0)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(0, 1)  # deblocking_filter_control_present_flag
    w.u(0, 1)  # constrained_intra_pred_flag
    w.u(0, 1)  # redundant_pic_cnt_present_flag
    return rbsp_to_nal(0x68, w.rbsp_trailing())


def parse_pps(nal: bytes) -> dict:
    header, rbsp = nal_to_rbsp(nal)
    if header & 0x1F != 8:
        raise ValueError(f"not a PPS NAL (type {header & 0x1F})")
    r = _BitReader(rbsp)
    pps_id = r.ue("pic_parameter_set_id")
    sps_id = r.ue("seq_parameter_set_id")
    # CABAC is a supported entropy coder now (operators/h264cabac.py
    # decodes I_PCM IDR slices under it): parsing a CABAC PPS succeeds
    # and returns the flag; slice DECODERS that only speak CAVLC
    # classify on it at their own boundary.
    cabac = bool(r.u(1, "entropy_coding_mode_flag"))
    r.u(1, "bottom_field_pic_order_in_frame_present_flag")
    if r.ue("num_slice_groups_minus1") != 0:
        raise NotImplementedError("slice groups (FMO)")
    r.ue("num_ref_idx_l0_default_active_minus1")
    r.ue("num_ref_idx_l1_default_active_minus1")
    weighted_pred = bool(r.u(1, "weighted_pred_flag"))
    weighted_bipred_idc = r.u(2, "weighted_bipred_idc")
    pic_init_qp_minus26 = r.se("pic_init_qp_minus26")
    return {
        "pps_id": pps_id,
        "sps_id": sps_id,
        "cabac": cabac,
        "weighted_pred": weighted_pred,
        "weighted_bipred_idc": weighted_bipred_idc,
        # SliceQP_Y = 26 + this + slice_qp_delta (7.4.2.2); CABAC
        # context init depends on it, so slice decoders must see it
        "pic_init_qp_minus26": pic_init_qp_minus26,
    }


# --- I_PCM IDR slices -------------------------------------------------------

_I_PCM = 25  # mb_type for I_PCM in I slices (table 7-11)


def encode_idr_ipcm(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    idr_pic_id: int = 0,
    poc: tuple[int, int] | None = None,
) -> bytes:
    """Padded planes (luma (16a,16b), chroma (8a,8b) uint8) -> one IDR
    slice NAL whose every macroblock is I_PCM. ``poc`` = (lsb_value,
    n_bits) writes the pic_order_cnt_lsb field for a
    pic_order_cnt_type-0 SPS (B-frame GOPs); None matches the type-2
    SPS (no POC syntax)."""
    mb_h, mb_w = y.shape[0] // 16, y.shape[1] // 16
    if y.shape != (mb_h * 16, mb_w * 16) or cb.shape != (mb_h * 8, mb_w * 8):
        raise ValueError("planes must be macroblock-aligned (16 luma / 8 chroma)")
    w = _BitWriter()
    w.ue(0)  # first_mb_in_slice
    w.ue(7)  # slice_type: I (all slices in picture)
    w.ue(0)  # pic_parameter_set_id
    w.u(0, 4)  # frame_num (log2_max_frame_num == 4)
    w.ue(idr_pic_id % 65536)
    if poc is not None:
        w.u(poc[0] % (1 << poc[1]), poc[1])  # pic_order_cnt_lsb
    w.u(0, 1)  # no_output_of_prior_pics_flag
    w.u(0, 1)  # long_term_reference_flag
    w.se(0)  # slice_qp_delta
    for my in range(mb_h):
        for mx in range(mb_w):
            w.ue(_I_PCM)
            w.align_zero()  # pcm_alignment_zero_bit(s)
            w.raw_bytes(y[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16].tobytes())
            w.raw_bytes(cb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8].tobytes())
            w.raw_bytes(cr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8].tobytes())
    return rbsp_to_nal(0x65, w.rbsp_trailing())


def decode_idr_ipcm(nal: bytes, sps: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """IDR slice NAL -> exact (y, cb, cr) padded planes. Predicted
    macroblocks / non-IDR slices classify as NotImplementedError."""
    header, rbsp = nal_to_rbsp(nal)
    nal_type = header & 0x1F
    if nal_type == 1:
        raise NotImplementedError(
            "non-IDR slice: inter prediction needs motion compensation"
        )
    if nal_type != 5:
        raise ValueError(f"not a coded-slice NAL (type {nal_type})")
    r = _BitReader(rbsp)
    if r.ue("first_mb_in_slice") != 0:
        raise NotImplementedError("multi-slice pictures")
    slice_type = r.ue("slice_type")
    if slice_type % 5 != 2:  # 2/7 = I
        raise NotImplementedError(
            "P/B slice: inter prediction needs motion compensation"
        )
    r.ue("pic_parameter_set_id")
    r.u(sps["log2_max_frame_num"], "frame_num")
    r.ue("idr_pic_id")
    if sps.get("poc_type", 2) == 0:
        r.u(sps["log2_max_poc_lsb"], "pic_order_cnt_lsb")
    r.u(1, "no_output_of_prior_pics_flag")
    r.u(1, "long_term_reference_flag")
    r.se("slice_qp_delta")
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    # Plausibility gate BEFORE allocating: ue(v) admits dimensions up to
    # ~2^32 MBs, so a corrupt/hostile SPS could otherwise demand a
    # multi-TiB np.empty (MemoryError — a raw numpy error escaping the
    # module's "corruption classifies as ValueError" contract, and an
    # executor-OOM vector on arbitrary media tables). Every I_PCM
    # macroblock carries >=384 payload bytes (256 luma + 2x64 chroma),
    # so the slice RBSP itself bounds any picture this decoder could
    # finish decoding. Gate only above a 64 MiB claimed payload: below
    # that the allocation is harmless and per-MB parsing must stay the
    # classifier (a short slice whose first mb_type is I_4x4 is an
    # unsupported-coding-tool stream, not a corrupt one).
    if mb_w * mb_h * 384 > max(len(rbsp), 1 << 26):
        raise ValueError(
            f"SPS claims {mb_w}x{mb_h} macroblocks but the slice has only "
            f"{len(rbsp)} RBSP bytes (< 384/MB I_PCM floor): corrupt stream"
        )
    y = np.empty((mb_h * 16, mb_w * 16), dtype=np.uint8)
    cb = np.empty((mb_h * 8, mb_w * 8), dtype=np.uint8)
    cr = np.empty_like(cb)
    for my in range(mb_h):
        for mx in range(mb_w):
            mb_type = r.ue("mb_type")
            if mb_type != _I_PCM:
                raise NotImplementedError(
                    f"intra-predicted macroblock (mb_type {mb_type}): "
                    "prediction/transform decode not implemented"
                )
            r.align()
            y[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = np.frombuffer(
                r.raw_bytes(256, "pcm_sample_luma"), dtype=np.uint8
            ).reshape(16, 16)
            cb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.frombuffer(
                r.raw_bytes(64, "pcm_sample_chroma cb"), dtype=np.uint8
            ).reshape(8, 8)
            cr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.frombuffer(
                r.raw_bytes(64, "pcm_sample_chroma cr"), dtype=np.uint8
            ).reshape(8, 8)
    return y, cb, cr


# --- frame-level RGB <-> coded planes ---------------------------------------


def _pad_edge(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph, pw = -h % mult, -w % mult
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge") if ph or pw else plane


def frame_to_planes(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(h, w, 3) uint8 RGB -> macroblock-padded (y, cb, cr) 4:2:0 planes
    (JFIF full-range matrix — both ends of this codec agree on it)."""
    from flow_indexer_spark.operators.jpegcodec import _rgb_to_ycbcr

    ycc = np.clip(_rgb_to_ycbcr(px.astype(np.float64)).round(), 0, 255)
    y = _pad_edge(ycc[..., 0].astype(np.uint8), 16)
    cbf = _pad_edge(ycc[..., 1], 2)
    crf = _pad_edge(ycc[..., 2], 2)
    # 2x2 mean subsample, then pad the chroma plane to the 8-px MB grid
    cb = _pad_edge(
        np.clip(
            cbf.reshape(cbf.shape[0] // 2, 2, cbf.shape[1] // 2, 2)
            .mean(axis=(1, 3))
            .round(),
            0,
            255,
        ).astype(np.uint8),
        8,
    )
    cr = _pad_edge(
        np.clip(
            crf.reshape(crf.shape[0] // 2, 2, crf.shape[1] // 2, 2)
            .mean(axis=(1, 3))
            .round(),
            0,
            255,
        ).astype(np.uint8),
        8,
    )
    return y, cb, cr


def planes_to_frame(
    y: np.ndarray, cb: np.ndarray, cr: np.ndarray, width: int, height: int
) -> np.ndarray:
    from flow_indexer_spark.operators.jpegcodec import _ycbcr_to_rgb

    up = np.stack(
        [
            y[:height, :width].astype(np.float64),
            np.repeat(np.repeat(cb, 2, 0), 2, 1)[:height, :width].astype(np.float64),
            np.repeat(np.repeat(cr, 2, 0), 2, 1)[:height, :width].astype(np.float64),
        ],
        axis=-1,
    )
    return np.clip(_ycbcr_to_rgb(up).round(), 0, 255).astype(np.uint8)


# --- avcC decoder configuration record --------------------------------------


def make_avcc(sps: bytes, pps: bytes) -> bytes:
    return (
        bytes([1, sps[1], sps[2], sps[3], 0xFF, 0xE1])
        + len(sps).to_bytes(2, "big")
        + sps
        + bytes([1])
        + len(pps).to_bytes(2, "big")
        + pps
    )


def parse_avcc(buf: bytes) -> tuple[bytes, bytes]:
    if len(buf) < 7 or buf[0] != 1:
        raise ValueError("bad avcC record")
    if (buf[4] & 3) != 3:
        raise ValueError("only 4-byte NAL length prefixes supported")
    n_sps = buf[5] & 0x1F
    if n_sps < 1:
        raise ValueError("avcC carries no SPS")
    p = 6
    sps_len = int.from_bytes(buf[p : p + 2], "big")
    sps = buf[p + 2 : p + 2 + sps_len]
    if len(sps) != sps_len:
        raise ValueError("avcC SPS truncated")
    p += 2 + sps_len
    # skip any further SPS
    for _ in range(n_sps - 1):
        ln = int.from_bytes(buf[p : p + 2], "big")
        p += 2 + ln
    if p >= len(buf):
        raise ValueError("avcC carries no PPS")
    n_pps = buf[p]
    if n_pps < 1:
        raise ValueError("avcC carries no PPS")
    p += 1
    pps_len = int.from_bytes(buf[p : p + 2], "big")
    pps = buf[p + 2 : p + 2 + pps_len]
    if len(pps) != pps_len:
        raise ValueError("avcC PPS truncated")
    return sps, pps


# --- access-unit helpers (length-prefixed sample payloads) ------------------


def encode_frame_sample(px: np.ndarray, idr_pic_id: int = 0) -> bytes:
    """RGB frame -> one MP4 sample: the IDR slice NAL with a 4-byte
    length prefix (avcC lengthSizeMinusOne=3)."""
    y, cb, cr = frame_to_planes(px)
    nal = encode_idr_ipcm(y, cb, cr, idr_pic_id)
    return len(nal).to_bytes(4, "big") + nal


def decode_frame_sample(sample: bytes, avcc: bytes) -> np.ndarray:
    """MP4 sample (length-prefixed NALs) + avcC -> RGB pixels. Decodes
    the first coded-slice NAL; SEI/parameter-set NALs are skipped."""
    sps_nal, pps_nal = parse_avcc(avcc)
    sps = parse_sps(sps_nal)
    pps = parse_pps(pps_nal)
    cabac = pps.get("cabac", False)
    p = 0
    while p + 4 <= len(sample):
        ln = int.from_bytes(sample[p : p + 4], "big")
        nal = sample[p + 4 : p + 4 + ln]
        if len(nal) != ln:
            raise ValueError("NAL length prefix overruns sample")
        p += 4 + ln
        nal_type = nal[0] & 0x1F if nal else 0
        if nal_type in (1, 5):
            if cabac:
                from flow_indexer_spark.operators.h264cabac import (
                    decode_idr_ipcm_cabac,
                )

                y, cb, cr = decode_idr_ipcm_cabac(
                    nal, sps, pps.get("pic_init_qp_minus26", 0)
                )
            else:
                y, cb, cr = decode_idr_ipcm(nal, sps)
            return planes_to_frame(y, cb, cr, sps["width"], sps["height"])
    raise ValueError("sample holds no coded-slice NAL")
