"""H.264 multi-slice IDR pictures (operators/h264intra.py): spec 7.4.3
first_mb_in_slice slicing with 6.4.8 slice-scoped neighbour
availability — intra prediction, predIntra4x4PredMode, and 9.2.1 nC
contexts never cross a slice boundary, so each slice decodes
independently of the others' CONTENT (the picture decoder still
enforces contiguity + coverage). Reference analogue: flow-indexer
indexes each log chunk standalone (backend/bro.go chunked scan); a
slice is the bitstream's chunk. No SparkSession needed."""

from __future__ import annotations

import random

import numpy as np
import pytest

from flow_indexer_spark.operators import h264codec as H
from flow_indexer_spark.operators import h264intra as I


def _content(mbw: int, mbh: int, seed: int = 17):
    rng = np.random.default_rng(seed)
    y = np.empty((mbh * 16, mbw * 16), dtype=np.uint8)
    y[:, :] = np.arange(mbw * 16, dtype=np.uint8)[None, :]
    half = (mbh * 16) // 2
    y[half:] = rng.integers(0, 256, (mbh * 16 - half, mbw * 16), dtype=np.uint8)
    cb = np.add.outer(np.arange(mbh * 8) * 2, np.arange(mbw * 8) * 3).astype(
        np.uint8
    )
    cr = rng.integers(0, 256, (mbh * 8, mbw * 8), dtype=np.uint8)
    return y, cb, cr


def _sps(mbw: int, mbh: int) -> dict:
    return H.parse_sps(H.make_sps(mbw * 16, mbh * 16))


def test_slice_starts_partition_the_picture():
    assert I._slice_starts(10, 1) == [0]
    assert I._slice_starts(10, 3) == [0, 4, 7]
    assert I._slice_starts(6, 6) == [0, 1, 2, 3, 4, 5]
    with pytest.raises(ValueError):
        I._slice_starts(4, 5)
    with pytest.raises(ValueError):
        I._slice_starts(4, 0)


@pytest.mark.parametrize("residual,qp", [("dc", 40), ("full", 20)])
def test_i16_multislice_roundtrip_bit_faithful(residual, qp):
    """3 slices over a 5x4-MB picture (mid-row boundaries at MBs 7 and
    14): the decoder must reproduce the encoder's closed-loop recon
    byte-exactly, proving both sides share the slice-scoped
    availability view."""
    y, cb, cr = _content(5, 4)
    nals, (ry, rcb, rcr) = I.encode_idr_i16(
        y, cb, cr, qp=qp, residual=residual, slices=3, return_recon=True
    )
    assert isinstance(nals, list) and len(nals) == 3
    dy, dcb, dcr = I.decode_idr_picture(nals, _sps(5, 4))
    assert np.array_equal(dy, ry)
    assert np.array_equal(dcb, rcb)
    assert np.array_equal(dcr, rcr)


@pytest.mark.parametrize("residual,qp", [("dc", 40), ("full", 24)])
def test_i4_multislice_roundtrip_bit_faithful(residual, qp):
    y, cb, cr = _content(4, 3)
    nals, (ry, rcb, rcr) = I.encode_idr_i4(
        y, cb, cr, qp=qp, residual=residual, slices=4, return_recon=True
    )
    assert len(nals) == 4
    dy, dcb, dcr = I.decode_idr_picture(nals, _sps(4, 3))
    assert np.array_equal(dy, ry)
    assert np.array_equal(dcb, rcb)
    assert np.array_equal(dcr, rcr)


def test_single_slice_unchanged_and_boundary_resets_prediction():
    """slices=1 must stay bit-identical to the historical encoder, and
    a slice boundary must change the bitstream (prediction reset) on
    content where cross-boundary prediction used to win."""
    y, cb, cr = _content(5, 4)
    one = I.encode_idr_i16(y, cb, cr, qp=40, slices=1)
    legacy, _ = I.encode_idr_i16(y, cb, cr, qp=40, return_recon=True)
    assert one == legacy
    two = I.encode_idr_i16(y, cb, cr, qp=40, slices=2)
    assert b"".join(two) != one


def test_slices_decode_independently_of_each_others_content():
    """Splice test: encode pictures A and B that share the bottom half
    but differ in the top; with a 2-slice split at the halfway MB, A's
    slice 1 and B's slice 1 are byte-identical (no state crosses the
    boundary), and decoding [A0, B1] yields A's top + the shared
    bottom."""
    ya, cba, cra = _content(4, 4, seed=1)
    yb, cbb, crb = ya.copy(), cba.copy(), cra.copy()
    yb[:32] = 255 - yb[:32]  # differ only inside slice 0 (MBs 0..7)
    cbb[:16] = 255 - cbb[:16]
    a, (ray, racb, racr) = I.encode_idr_i16(
        ya, cba, cra, qp=40, slices=2, return_recon=True
    )
    b, (rby, _, _) = I.encode_idr_i16(
        yb, cbb, crb, qp=40, slices=2, return_recon=True
    )
    assert a[1] == b[1]  # same second slice bit-for-bit
    assert a[0] != b[0]
    dy, dcb, dcr = I.decode_idr_picture([a[0], b[1]], _sps(4, 4))
    assert np.array_equal(dy, ray)
    assert np.array_equal(dcb, racb)
    assert np.array_equal(dcr, racr)
    assert np.array_equal(dy[32:], rby[32:])


def test_contiguity_and_coverage_enforced():
    y, cb, cr = _content(4, 3)
    nals = I.encode_idr_i16(y, cb, cr, qp=40, slices=3)
    sps = _sps(4, 3)
    with pytest.raises(ValueError, match="first slice starts"):
        I.decode_idr_picture(nals[1:], sps)
    with pytest.raises(ValueError, match="non-contiguous"):
        I.decode_idr_picture([nals[0], nals[2]], sps)
    with pytest.raises(ValueError, match="non-contiguous"):
        I.decode_idr_picture([nals[0], nals[2], nals[1]], sps)
    with pytest.raises(ValueError, match="cover"):
        I.decode_idr_picture(nals[:2], sps)
    with pytest.raises(ValueError):
        # duplicate slice: second copy is non-contiguous or overruns
        I.decode_idr_picture([nals[0], nals[1], nals[1]], sps)
    # single slice claiming a start beyond the picture
    with pytest.raises(ValueError):
        I.decode_idr_picture([nals[2]], _sps(1, 1))


def test_sample_layer_accepts_multislice():
    """encode_frame_sample_i16(slices=3) packs three length-prefixed
    NALs into one sample; decode_frame_sample_any must decode it."""
    from flow_indexer_spark.operators.h264codec import (
        frame_to_planes,
        make_avcc,
        planes_to_frame,
    )

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8)
    from flow_indexer_spark.operators.h264codec import make_pps, make_sps

    sample = I.encode_frame_sample_i16(px, qp=40, slices=3)
    avcc = make_avcc(make_sps(64, 48), make_pps())
    out = I.decode_frame_sample_any(sample, avcc)
    y, cb, cr = frame_to_planes(px)
    _, recon = I.encode_idr_i16(y, cb, cr, qp=40, slices=3, return_recon=True)
    expect = planes_to_frame(*recon, 64, 48)
    assert np.array_equal(out, expect)


def test_multislice_fuzz_classifies():
    """Bit mutations across a multi-slice stream must classify as
    ValueError / NotImplementedError, never an uncontrolled numpy or
    index error (the codec module's standing corruption contract)."""
    y, cb, cr = _content(4, 3)
    nals = I.encode_idr_i16(y, cb, cr, qp=40, slices=3)
    sps = _sps(4, 3)
    rnd = random.Random(7)
    for _ in range(60):
        k = rnd.randrange(3)
        buf = bytearray(nals[k])
        pos = rnd.randrange(1, len(buf))
        buf[pos] ^= 1 << rnd.randrange(8)
        mutated = list(nals)
        mutated[k] = bytes(buf)
        try:
            I.decode_idr_picture(mutated, sps)
        except (ValueError, NotImplementedError):
            pass
