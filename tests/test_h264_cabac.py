"""CABAC I_PCM slices: byte-exact roundtrip, CAVLC-path equality,
classification boundaries, and corrupt-stream fuzz."""

from __future__ import annotations

import numpy as np
import pytest

from flow_indexer_spark.operators import h264codec as H
from flow_indexer_spark.operators.h264cabac import (
    _CabacEncoder,
    decode_idr_ipcm_cabac,
    encode_idr_ipcm_cabac,
    make_pps_cabac,
)


def _planes(mbw, mbh, seed=0):
    rng = np.random.default_rng(seed)
    return (
        rng.integers(0, 256, (mbh * 16, mbw * 16), dtype=np.uint8),
        rng.integers(0, 256, (mbh * 8, mbw * 8), dtype=np.uint8),
        rng.integers(0, 256, (mbh * 8, mbw * 8), dtype=np.uint8),
    )


def _sps(mbw, mbh):
    return H.parse_sps(H.make_sps(mbw * 16, mbh * 16))


def test_roundtrip_byte_exact_multiple_geometries():
    for mbw, mbh, seed in [(1, 1, 1), (2, 1, 2), (1, 2, 3), (4, 3, 4)]:
        y, cb, cr = _planes(mbw, mbh, seed)
        y2, cb2, cr2 = decode_idr_ipcm_cabac(
            encode_idr_ipcm_cabac(y, cb, cr), _sps(mbw, mbh)
        )
        assert (y == y2).all() and (cb == cb2).all() and (cr == cr2).all()


def test_roundtrip_startcode_forging_patterns():
    # all-zero planes and 00 00 01 / 00 00 03 repeats force emulation
    # prevention inside the PCM payload
    for fill in ([0], [0, 0, 1], [0, 0, 3]):
        y = np.resize(np.array(fill, np.uint8), (16, 32))
        cb = np.zeros((8, 16), np.uint8)
        cr = np.zeros((8, 16), np.uint8)
        y2, cb2, cr2 = decode_idr_ipcm_cabac(
            encode_idr_ipcm_cabac(y, cb, cr), _sps(2, 1)
        )
        assert (y == y2).all() and (cb == cb2).all() and (cr == cr2).all()


def test_mp4_cabac_decodes_identical_to_cavlc():
    from flow_indexer_spark.operators.mp4codec import (
        make_h264_bytes,
        make_h264_cabac_bytes,
        mp4_frames,
    )

    cav = {k: px for k, _, px in mp4_frames(make_h264_bytes(5), every_n=2)}
    cab = {k: px for k, _, px in mp4_frames(make_h264_cabac_bytes(5), every_n=2)}
    assert cav.keys() == cab.keys()
    for k in cav:
        assert (cav[k] == cab[k]).all()


def test_pps_cabac_flag():
    pps = H.parse_pps(make_pps_cabac())
    assert pps["cabac"] is True
    assert H.parse_pps(H.make_pps())["cabac"] is False


def _header_writer():
    w = H._BitWriter()
    w.ue(0)  # first_mb_in_slice
    w.ue(7)  # slice_type I
    w.ue(0)  # pps id
    w.u(0, 4)  # frame_num
    w.ue(0)  # idr_pic_id
    w.u(0, 1)
    w.u(0, 1)
    w.se(0)  # slice_qp_delta
    while not w.bit_aligned:
        w.u(1, 1)
    return w


def test_narrower_tools_classify():
    from flow_indexer_spark.operators.h264cabac import _mb_type_ctxs

    # bin0 = 0: I_NxN under CABAC
    w = _header_writer()
    enc = _CabacEncoder(w)
    enc.decision(_mb_type_ctxs()[0], 0)
    enc.terminate(1)
    w.align_zero()
    nal = H.rbsp_to_nal(0x65, bytes(w._bytes) + b"\x00" * 400)
    with pytest.raises(NotImplementedError, match="I_NxN"):
        decode_idr_ipcm_cabac(nal, _sps(1, 1))
    # bin0 = 1, terminate = 0: I_16x16 under CABAC
    w = _header_writer()
    enc = _CabacEncoder(w)
    enc.decision(_mb_type_ctxs()[0], 1)
    enc.terminate(0)
    enc.terminate(1)  # filler flush so the stream is well-formed
    w.align_zero()
    nal = H.rbsp_to_nal(0x65, bytes(w._bytes) + b"\x00" * 400)
    with pytest.raises(NotImplementedError, match="I_16x16"):
        decode_idr_ipcm_cabac(nal, _sps(1, 1))


def test_corruption_classifies_as_valueerror():
    y, cb, cr = _planes(2, 2, 9)
    good = encode_idr_ipcm_cabac(y, cb, cr)
    sps = _sps(2, 2)
    # end_of_slice miscount: decode a 1-MB stream against a 2-MB SPS
    y1, cb1, cr1 = _planes(1, 1, 10)
    one = encode_idr_ipcm_cabac(y1, cb1, cr1)
    with pytest.raises(ValueError, match="end_of_slice"):
        decode_idr_ipcm_cabac(one, _sps(2, 1))
    # truncation fuzz: every prefix classifies, never a raw numpy/index
    for cut in range(2, len(good), 97):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_idr_ipcm_cabac(good[:cut], sps)
    # bad alignment bit: a CAVLC-coded slice read as CABAC trips either
    # the alignment check or the engine's classifiers
    cavlc = H.encode_idr_ipcm(y, cb, cr)
    with pytest.raises((ValueError, NotImplementedError)):
        decode_idr_ipcm_cabac(cavlc, sps)


def test_state_machine_tables_are_consistent():
    from flow_indexer_spark.operators.h264cabac import (
        _RANGE_TAB_LPS,
        _TRANS_IDX_LPS,
    )

    assert len(_RANGE_TAB_LPS) == 64 and len(_TRANS_IDX_LPS) == 64
    for row in _RANGE_TAB_LPS:
        assert len(row) == 4
        assert all(2 <= v <= 240 for v in row)
        assert list(row) == sorted(row)  # LPS grows with the range quarter
    # LPS transitions never increase the state by more than the MPS path
    for s, t in enumerate(_TRANS_IDX_LPS[:-1]):
        assert 0 <= t <= s + 1
    assert _TRANS_IDX_LPS[63] == 63


def test_cabac_nonzero_slice_qp_roundtrips():
    """9.3.1.1 context init depends on SliceQP_Y: a stream coded at
    qp != 26 (nonzero slice_qp_delta) must decode byte-exactly — the
    round-4 ADVICE bug was contexts hardcoded at qp 26, which
    mis-decodes every mb_type bin of a conformant nonzero-delta
    stream.  I_PCM carries no residual, so qp changes only the entropy
    trajectory and the round-trip stays lossless."""
    import numpy as np

    rng = np.random.default_rng(7)
    y = rng.integers(0, 256, (32, 48), dtype=np.uint8)
    cb = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    cr = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    sps = {"mb_width": 3, "mb_height": 2, "log2_max_frame_num": 4,
           "poc_type": 2}
    for qp in (0, 12, 40, 51):
        nal = encode_idr_ipcm_cabac(y, cb, cr, qp=qp)
        y2, cb2, cr2 = decode_idr_ipcm_cabac(nal, sps)
        assert (y2 == y).all() and (cb2 == cb).all() and (cr2 == cr).all()
    # context mismatch is DETECTED, not silently wrong: decoding a qp-0
    # stream against qp-26-initialized contexts derails the bin
    # trajectory and trips a structural guard
    import pytest as _pt

    nal = encode_idr_ipcm_cabac(y, cb, cr, qp=0)
    with _pt.raises((ValueError, NotImplementedError)):
        decode_idr_ipcm_cabac(nal, sps, pic_init_qp_minus26=26)
    # out-of-range SliceQP classifies as corrupt
    with _pt.raises(ValueError, match="out of"):
        encode_idr_ipcm_cabac(y, cb, cr, qp=52)


def test_parse_pps_exposes_pic_init_qp():
    from flow_indexer_spark.operators import h264codec as H

    assert H.parse_pps(H.make_pps())["pic_init_qp_minus26"] == 0
    assert H.parse_pps(make_pps_cabac())["pic_init_qp_minus26"] == 0
