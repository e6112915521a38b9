"""H.264 I_PCM codec (operators/h264codec.py) + avc1-in-MP4 integration.
No SparkSession needed — the codec is plain numpy."""

from __future__ import annotations

import numpy as np
import pytest

from flow_indexer_spark.operators import h264codec as H
from flow_indexer_spark.operators.mp4codec import (
    make_h264_bytes,
    make_mp4_bytes,
    mp4_frames,
    parse_mp4,
    video_params,
)


def _planes(rng, mbw, mbh):
    return (
        rng.integers(0, 256, (mbh * 16, mbw * 16), dtype=np.uint8),
        rng.integers(0, 256, (mbh * 8, mbw * 8), dtype=np.uint8),
        rng.integers(0, 256, (mbh * 8, mbw * 8), dtype=np.uint8),
    )


def test_plane_roundtrip_exact_random():
    rng = np.random.default_rng(11)
    for _ in range(3):
        mbw, mbh = (int(x) for x in rng.integers(1, 4, 2))
        y, cb, cr = _planes(rng, mbw, mbh)
        sps = H.parse_sps(H.make_sps(mbw * 16, mbh * 16))
        y2, cb2, cr2 = H.decode_idr_ipcm(H.encode_idr_ipcm(y, cb, cr), sps)
        assert np.array_equal(y, y2)
        assert np.array_equal(cb, cb2)
        assert np.array_equal(cr, cr2)


def test_emulation_prevention_worst_cases():
    """All-zero planes maximize 00 00 runs; 0/1 stripes forge start-code
    prefixes (00 00 01). Both must survive NAL escaping exactly, and the
    escaped stream must contain no unescaped start codes."""
    sps = H.parse_sps(H.make_sps(32, 16))
    for fill in ("zeros", "startcodes"):
        y = np.zeros((16, 32), dtype=np.uint8)
        cb = np.zeros((8, 16), dtype=np.uint8)
        cr = np.zeros_like(cb)
        if fill == "startcodes":
            y.reshape(-1)[2::3] = 1
        nal = H.encode_idr_ipcm(y, cb, cr)
        assert b"\x00\x00\x00" not in nal and b"\x00\x00\x01" not in nal
        y2, cb2, cr2 = H.decode_idr_ipcm(nal, sps)
        assert np.array_equal(y, y2) and np.array_equal(cb, cb2)
        assert np.array_equal(cr, cr2)


def test_exp_golomb_roundtrip():
    w = H._BitWriter()
    vals = [0, 1, 2, 3, 7, 8, 254, 255, 256, 100000]
    svals = [0, 1, -1, 2, -2, 63, -64]
    for v in vals:
        w.ue(v)
    for v in svals:
        w.se(v)
    r = H._BitReader(w.rbsp_trailing())
    assert [r.ue() for _ in vals] == vals
    assert [r.se() for _ in svals] == svals


def test_sps_cropping_roundtrip():
    for w, h in [(16, 16), (16, 12), (24, 20), (48, 28), (40, 12), (2, 2)]:
        sps = H.parse_sps(H.make_sps(w, h))
        assert (sps["width"], sps["height"]) == (w, h)
    with pytest.raises(ValueError, match="even"):
        H.make_sps(17, 12)


def test_rgb_frame_roundtrip_tolerance():
    """On smooth-chroma content (the gradient fixture family) the only
    loss is 2x2 chroma subsampling + color-matrix rounding: max |err|
    <= 2 per channel — no quantization anywhere. (Random-noise chroma
    is the intrinsic 4:2:0 pathological case for ANY codec and is
    covered by the exact PLANE roundtrip tests instead.)"""
    for w, h in [(16, 12), (24, 20), (48, 28)]:
        px = np.empty((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = 37
        px[:, :, 1] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 2] = np.arange(h, dtype=np.uint8)[:, None]
        avcc = H.make_avcc(H.make_sps(w, h), H.make_pps())
        out = H.decode_frame_sample(H.encode_frame_sample(px), avcc)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 2


def test_classifies_unsupported_coding_tools():
    sps = H.parse_sps(H.make_sps(16, 16))
    # P slice
    w = H._BitWriter()
    w.ue(0)
    w.ue(5)  # slice_type P
    with pytest.raises(NotImplementedError, match="P/B slice"):
        H.decode_idr_ipcm(H.rbsp_to_nal(0x65, w.rbsp_trailing()), sps)
    # non-IDR slice NAL
    with pytest.raises(NotImplementedError, match="non-IDR"):
        H.decode_idr_ipcm(bytes([0x61, 0x88, 0x80]), sps)
    # intra-predicted macroblock (mb_type 0 = I_4x4)
    w = H._BitWriter()
    w.ue(0)
    w.ue(7)
    w.ue(0)
    w.u(0, 4)
    w.ue(0)
    w.u(0, 2)
    w.se(0)
    w.ue(0)  # mb_type I_4x4
    with pytest.raises(NotImplementedError, match="intra-predicted"):
        H.decode_idr_ipcm(H.rbsp_to_nal(0x65, w.rbsp_trailing()), sps)
    # CABAC PPS: parsing now SUCCEEDS (operators/h264cabac.py decodes
    # CABAC I_PCM IDR slices); the flag routes slice decoding, and the
    # CAVLC-only paths classify on it (test_h264_cabac.py pins the
    # decode route)
    assert H.parse_pps(H.make_pps())["cabac"] is False
    cab = H._BitWriter()
    cab.ue(0)
    cab.ue(0)
    cab.u(1, 1)  # entropy_coding_mode_flag = CABAC
    cab.u(0, 1)
    cab.ue(0)
    cab.ue(0)
    cab.ue(0)
    cab.u(0, 1)
    cab.u(0, 2)
    cab.se(0)
    cab.se(0)
    cab.se(0)
    cab.u(0, 3)
    assert H.parse_pps(H.rbsp_to_nal(0x68, cab.rbsp_trailing()))["cabac"] is True


def test_corruption_is_classifiable_valueerror():
    sps = H.parse_sps(H.make_sps(16, 16))
    z16, z8 = np.zeros((16, 16), np.uint8), np.zeros((8, 8), np.uint8)
    good = H.encode_idr_ipcm(z16, z8, z8)
    with pytest.raises(ValueError):
        H.decode_idr_ipcm(good[:10], sps)  # truncated
    with pytest.raises(ValueError):
        H.decode_idr_ipcm(bytes([0x67, 0x42]), sps)  # wrong NAL type
    with pytest.raises(ValueError):
        H.parse_avcc(b"\x02zz")  # bad configurationVersion
    with pytest.raises(ValueError):
        H.parse_sps(H.make_pps())  # PPS fed to SPS parser


def test_hostile_sps_dimensions_classify_before_allocating():
    """A syntactically valid SPS may claim ~2^32 macroblocks; the
    decoder must reject it as ValueError BEFORE np.empty (a
    200000x200000-MB claim is a 9.31 TiB allocation -> MemoryError,
    a raw numpy error escaping the corruption contract and an
    executor-OOM vector on arbitrary media tables)."""
    z16, z8 = np.zeros((16, 16), np.uint8), np.zeros((8, 8), np.uint8)
    slice_nal = H.encode_idr_ipcm(z16, z8, z8)  # 1x1-MB payload
    huge = H.parse_sps(H.make_sps(16, 16))
    for mbs in ((200_000, 200_000), (10_000, 1_000), (1 << 16, 1 << 10)):
        hostile = dict(huge, mb_width=mbs[0], mb_height=mbs[1])
        with pytest.raises(ValueError, match="corrupt stream"):
            H.decode_idr_ipcm(slice_nal, hostile)
    # ...while a frame under the gate still classifies per-MB (here the
    # rbsp trailing bits after MB0 parse as mb_type I_4x4 -> classified
    # unsupported-tool, never a raw numpy/struct error)
    small = dict(huge, mb_width=4, mb_height=4)
    with pytest.raises((ValueError, NotImplementedError)):
        H.decode_idr_ipcm(slice_nal, small)


def test_avcc_roundtrip():
    sps_nal, pps_nal = H.make_sps(48, 28), H.make_pps()
    sps2, pps2 = H.parse_avcc(H.make_avcc(sps_nal, pps_nal))
    assert sps2 == sps_nal and pps2 == pps_nal


# --- container integration --------------------------------------------------

def test_h264_mp4_container_and_sampled_decode():
    for i in (0, 5, 13):
        payload = make_h264_bytes(i)
        info = parse_mp4(payload)
        n, w, h = video_params(i)
        assert info["codec"] == "avc1" and info["avcc"] is not None
        assert (info["n_frames"], info["width"], info["height"]) == (n, w, h)
        seen = []
        for k, t_ms, px in mp4_frames(payload, every_n=2):
            seen.append(k)
            assert t_ms == k * 100
            want_r = (7 * i + 11 * k) % 256
            assert abs(px[:, :, 0].astype(float).mean() - want_r) < 0.75
            assert abs(px[:, :, 1].astype(float).mean() - (w - 1) / 2) < 0.75
            assert abs(px[:, :, 2].astype(float).mean() - (h - 1) / 2) < 0.75
        assert seen == list(range(0, n, 2))


def test_mjpeg_track_unaffected():
    info = parse_mp4(make_mp4_bytes(2))
    assert info["codec"] == "jpeg" and info["avcc"] is None
    assert sum(1 for _ in mp4_frames(make_mp4_bytes(2), every_n=2)) > 0


def test_fuzz_corruption_is_always_classifiable():
    """Random byte mutations of a valid sample (and of its avcC) must
    decode, raise ValueError, or raise NotImplementedError — never a
    raw struct/index/numpy error (the jpegcodec/mp4codec hardening
    contract; a 5000-trial sweep ran clean before this was pinned)."""
    import random

    rng = random.Random(5)
    px = np.empty((12, 16, 3), dtype=np.uint8)
    px[:, :, 0] = 9
    px[:, :, 1] = np.arange(16, dtype=np.uint8)[None, :]
    px[:, :, 2] = np.arange(12, dtype=np.uint8)[:, None]
    avcc = H.make_avcc(H.make_sps(16, 12), H.make_pps())
    sample = H.encode_frame_sample(px)
    for _ in range(400):
        b = bytearray(sample)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            H.decode_frame_sample(bytes(b), avcc)
        except (ValueError, NotImplementedError):
            pass
    for _ in range(300):
        a = bytearray(avcc)
        for _ in range(rng.randint(1, 3)):
            a[rng.randrange(len(a))] = rng.randrange(256)
        try:
            H.decode_frame_sample(sample, bytes(a))
        except (ValueError, NotImplementedError):
            pass
