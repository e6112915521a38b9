"""ISO BMFF container codec: box-grammar round trip, sample-table
(stts/stsc/stsz/stco) expansion exactness, pushed-down frame sampling,
codec gating, and the Spark frame-feature stage over executor-built
MJPEG files. The container fields are exact; frame pixels are bounded
by the JPEG lossy tolerance, as in test_jpeg."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from flow_indexer_spark.operators.codecs import media_decoder
from flow_indexer_spark.operators.mp4codec import (
    _CHUNK_SAMPLES,
    VIDEO_FPS,
    encode_mp4_mjpeg,
    make_mp4_bytes,
    make_mp4_media,
    mp4_frames,
    parse_mp4,
    video_frame_features,
    video_params,
)


def _theory_frame(i, t, w, h):
    px = np.empty((h, w, 3), dtype=np.uint8)
    px[:, :, 0] = (7 * i + 11 * t) % 256
    px[:, :, 1] = np.arange(w, dtype=np.uint8)[None, :]
    px[:, :, 2] = np.arange(h, dtype=np.uint8)[:, None]
    return px


@pytest.mark.parametrize("i", [0, 1, 5, 7, 14])
def test_container_fields_exact(i):
    info = parse_mp4(make_mp4_bytes(i))
    n, w, h = video_params(i)
    assert info["codec"] == "jpeg"
    assert (info["width"], info["height"]) == (w, h)
    assert info["n_frames"] == n
    assert info["timescale"] == VIDEO_FPS
    assert info["duration_ms"] == n * 1000 // VIDEO_FPS
    assert info["starts"] == list(range(n))


def test_chunk_map_expansion_points_at_jfif_samples():
    """9 frames at 4 samples/chunk -> chunks of 4,4,1 and a two-run
    stsc; every expanded offset must land exactly on a sample's SOI
    marker and extents must tile the mdat payload."""
    i = 1  # n_frames = 9
    buf = make_mp4_bytes(i)
    info = parse_mp4(buf)
    assert info["n_frames"] == 9 and _CHUNK_SAMPLES == 4
    for off, size in zip(info["offsets"], info["sizes"]):
        assert buf[off : off + 2] == b"\xff\xd8"
        assert buf[off + size - 2 : off + size] == b"\xff\xd9"
    for k in range(1, 9):
        assert info["offsets"][k] == info["offsets"][k - 1] + info["sizes"][k - 1]


@pytest.mark.parametrize("every_n", [1, 2, 3])
def test_frame_sampling_indices_and_content(every_n):
    i = 4
    n, w, h = video_params(i)
    out = list(mp4_frames(make_mp4_bytes(i), every_n))
    assert [k for k, _, _ in out] == list(range(0, n, every_n))
    for k, t_ms, px in out:
        assert t_ms == k * 1000 // VIDEO_FPS
        truth = _theory_frame(i, k, w, h).astype(int)
        assert px.shape == (h, w, 3)
        assert np.abs(px.astype(int) - truth).max() <= 3


def test_largesize_and_trailing_box_parse():
    """64-bit largesize boxes after moov walk cleanly."""
    base = make_mp4_bytes(0)
    body = b"\x00" * 8
    free = struct.pack(">I", 1) + b"free" + struct.pack(">Q", 16 + len(body)) + body
    assert parse_mp4(base + free)["n_frames"] == parse_mp4(base)["n_frames"]


def test_truncated_raises_value_error():
    b = make_mp4_bytes(0)
    with pytest.raises(ValueError):
        parse_mp4(b[: len(b) // 2])


def test_unsupported_codec_is_the_documented_seam():
    """An hev1 (HEVC) track: the container still parses (box grammar is
    codec-agnostic) but frame decode raises the documented
    NotImplementedError. An avc1 fourcc WITHOUT its avcC record is a
    malformed file -> ValueError (since round 3c, avc1 I_PCM itself
    decodes for real — tests/test_h264.py)."""
    data = bytearray(make_mp4_bytes(0))
    j = data.rindex(b"stsd")
    assert bytes(data[j + 16 : j + 20]) == b"jpeg"
    data[j + 16 : j + 20] = b"hev1"
    assert parse_mp4(bytes(data))["codec"] == "hev1"
    with pytest.raises(NotImplementedError):
        list(mp4_frames(bytes(data)))
    data[j + 16 : j + 20] = b"avc1"
    with pytest.raises(ValueError, match="without avcC"):
        list(mp4_frames(bytes(data)))


def test_media_decoder_dispatches_ftyp():
    i = 2
    n, w, h = video_params(i)
    d = media_decoder(make_mp4_bytes(i), "video")
    assert d["kind"] == "video"
    assert (d["width"], d["height"], d["n_samples"]) == (w, h, n)
    assert d["duration_ms"] == n * 1000 // VIDEO_FPS
    assert abs(d["mean_r"] - (7 * i) % 256) < 0.75  # first frame


def test_single_frame_video():
    b = encode_mp4_mjpeg([np.full((16, 24, 3), 99, np.uint8)])
    (k, t_ms, px), = list(mp4_frames(b))
    assert (k, t_ms) == (0, 0)
    assert np.array_equal(px, np.full((16, 24, 3), 99, np.uint8))


def test_spark_frame_feature_stage(spark):
    rows = video_frame_features(make_mp4_media(spark, 12), every_n=2).collect()
    expected = sum((video_params(i)[0] + 1) // 2 for i in range(12))
    assert len(rows) == expected
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    for i in range(12):
        n, w, h = video_params(i)
        got = sorted(by_id[f"v{i:05d}"], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == list(range(0, n, 2))
        for r in got:
            assert (r.width, r.height, r.n_frames) == (w, h, n)
            assert r.t_ms == r.frame_idx * 1000 // VIDEO_FPS
            assert abs(r.mean_r - (7 * i + 11 * r.frame_idx) % 256) < 0.75
            assert abs(r.mean_g - (w - 1) / 2) < 0.75
            assert abs(r.mean_b - (h - 1) / 2) < 0.75
            assert abs(r.edge_energy - (0.587 + 0.114)) < 0.15


def test_corrupt_tables_fail_classifiably():
    """Any byte-level corruption must surface as ValueError (an error
    row in decode lineage) or NotImplementedError (profile seam) —
    never a raw struct/index error: sweep a declared-count inflation
    over every sample table plus random single-byte flips."""
    base = bytearray(make_mp4_bytes(3))
    for tbl in (b"stts", b"stsz", b"stsc", b"stco"):
        data = bytearray(base)
        j = data.rindex(tbl)
        # count field sits after the 4-byte version/flags word (stsz:
        # after fixed-size too — inflate whichever u32 drives the loop)
        cnt_at = j + 8 + (4 if tbl == b"stsz" else 0)
        data[cnt_at : cnt_at + 4] = struct.pack(">I", 1 << 24)
        with pytest.raises((ValueError, NotImplementedError)):
            parse_mp4(bytes(data))
    rng = np.random.RandomState(7)
    for _ in range(300):
        data = bytearray(base)
        data[rng.randint(len(data))] = rng.randint(256)
        try:
            info = parse_mp4(bytes(data))
            # parse may legitimately succeed (flip hit a payload byte);
            # sampled decode must then also fail classifiably if at all
            for _ in mp4_frames(bytes(data), every_n=4):
                pass
        except (ValueError, NotImplementedError):
            pass

