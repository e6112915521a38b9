"""Real ISO BMFF (MP4) container codec: box-tree writer/parser plus
MJPEG frame sampling, no external media library.

Closes the container half of the video seam left after round 3's JPEG
work (reference analogue: the pcap backend decodes every packet format
its library supports, /root/reference/backend/pcap.go:17-54; here the
"packet format" is the MP4 box grammar of ISO/IEC 14496-12). What is
and is not real:

- The CONTAINER is fully real both directions: ``encode_mp4_mjpeg``
  writes a spec-shaped ftyp/mdat/moov tree (mvhd, tkhd, mdhd, hdlr,
  vmhd, dinf/dref, and a complete sample table — stsd visual sample
  entry, stts, stsc with multi-sample chunks, stsz, stco), and
  ``parse_mp4`` walks boxes generically (32/64-bit and to-EOF sizes),
  expands the stts timeline and the stsc/stco chunk map into exact
  per-sample byte extents.
- FRAME DECODE is real for codec ``jpeg`` (Motion JPEG: every sample
  is a baseline JFIF image, decoded by :mod:`operators.jpegcodec`) and
  for ``avc1`` across the implemented H.264 subset: I_PCM / Intra_16x16
  / I_4x4 IDR slices, CAVLC or (I_PCM) CABAC
  (:mod:`operators.h264codec` / :mod:`operators.h264intra` /
  :mod:`operators.h264cabac`). Every sample is an independent
  picture. The ``NotImplementedError`` seam is CLASSIFIED from the
  parsed bitstream: P and B slices (inter prediction) and I_8x8 raise
  it, as do other codec fourccs (hev1 etc).
- Frame SAMPLING pushes down into the byte walk: requesting every Nth
  frame touches only those samples' byte ranges; skipped frames are
  never entropy-decoded. At scale that is the difference between
  reading ~1/N of the mdat and decoding all of it — the same
  projection-pushdown argument as a columnar scan.

Spark-side the stage is the usual iterator ``mapInPandas`` (one Arrow
batch resident per task); a 2 GB practical ceiling per payload cell
applies as with all binary columns, so hour-long videos arrive as
pre-split segments — exactly how production video tables store them.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flow_indexer_spark.operators.codecs import _image_features, image_params

VIDEO_FPS = 10
_CHUNK_SAMPLES = 4  # encoder packs <=4 samples per chunk: exercises stsc


# --- box writers ------------------------------------------------------------

def _box(typ: bytes, *payload: bytes) -> bytes:
    body = b"".join(payload)
    return struct.pack(">I", 8 + len(body)) + typ + body


def _full(typ: bytes, version: int, flags: int, *payload: bytes) -> bytes:
    return _box(typ, struct.pack(">I", (version << 24) | flags), *payload)


_UNITY_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def _visual_entry(fourcc: bytes, w: int, h: int, name: bytes, *children: bytes) -> bytes:
    """stsd visual sample entry (the 78-byte body every video codec
    shares) plus codec-specific child boxes (e.g. avcC)."""
    return _box(
        fourcc,
        b"\x00" * 6,
        struct.pack(">H", 1),              # data_reference_index
        b"\x00" * 16,                      # pre_defined / reserved
        struct.pack(">HH", w, h),
        struct.pack(">II", 0x00480000, 0x00480000),  # 72 dpi
        struct.pack(">I", 0),
        struct.pack(">H", 1),              # frame_count per sample
        bytes([len(name)]) + name + b"\x00" * (31 - len(name)),
        struct.pack(">Hh", 24, -1),        # depth, pre_defined
        *children,
    )


def encode_mp4_mjpeg(
    frames: list[np.ndarray], fps: int = VIDEO_FPS, quality: int = 90
) -> bytes:
    """Write (h, w, 3) uint8 frames as a self-contained MJPEG-in-MP4
    file: ftyp, one mdat holding every frame as an independent baseline
    JFIF sample, and a moov whose sample table chunks samples in groups
    of ``_CHUNK_SAMPLES`` (multiple stco entries, a real stsc map — not
    the single-chunk degenerate case)."""
    from flow_indexer_spark.operators.jpegcodec import encode_jpeg

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    samples = [encode_jpeg(f, quality) for f in frames]
    return _encode_mp4(samples, w, h, fps, _visual_entry(b"jpeg", w, h, b"mjpeg"))


def encode_mp4_h264(frames: list[np.ndarray], fps: int = VIDEO_FPS) -> bytes:
    """Write frames as H.264-in-MP4: an ``avc1`` track whose avcC box
    carries the real SPS/PPS and whose samples are length-prefixed IDR
    I_PCM NAL units (operators/h264codec.py) — same container writer,
    different sample entry."""
    from flow_indexer_spark.operators import h264codec as h264

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    samples = [h264.encode_frame_sample(f, k) for k, f in enumerate(frames)]
    avcc = _box(b"avcC", h264.make_avcc(h264.make_sps(w, h), h264.make_pps()))
    return _encode_mp4(
        samples, w, h, fps, _visual_entry(b"avc1", w, h, b"h264 ipcm", avcc)
    )


def encode_mp4_h264_cabac(frames: list, fps: int = VIDEO_FPS) -> bytes:
    """Write frames as CABAC H.264-in-MP4: identical pixel semantics
    to :func:`encode_mp4_h264` (lossless I_PCM IDR samples) but the
    slice layer is arithmetic-coded (operators/h264cabac.py) and the
    avcC carries the entropy_coding_mode_flag=1 PPS."""
    from flow_indexer_spark.operators import h264codec as h264
    from flow_indexer_spark.operators.h264cabac import (
        encode_frame_sample_cabac,
        make_pps_cabac,
    )

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    samples = [encode_frame_sample_cabac(f, k) for k, f in enumerate(frames)]
    avcc = _box(
        b"avcC", h264.make_avcc(h264.make_sps(w, h), make_pps_cabac())
    )
    return _encode_mp4(
        samples, w, h, fps, _visual_entry(b"avc1", w, h, b"h264 cabac", avcc)
    )


def encode_mp4_h264_i16(
    frames: list[np.ndarray], fps: int = VIDEO_FPS, qp: int = 12,
    slices: int = 1,
) -> bytes:
    """Write frames as *intra-predicted* H.264-in-MP4: every macroblock
    is Intra_16x16 DC-mode with CAVLC-coded DC residuals
    (operators/h264intra.py) — a lossy transform code whose predictions
    chain across the picture, unlike the lossless I_PCM samples of
    :func:`encode_mp4_h264`. ``slices`` > 1 splits every picture into
    that many independently-decodable slice NALs (7.4.3
    first_mb_in_slice) packed into the one sample."""
    from flow_indexer_spark.operators import h264codec as h264
    from flow_indexer_spark.operators.h264intra import encode_frame_sample_i16

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    samples = [
        encode_frame_sample_i16(f, idr_pic_id=k, qp=qp, slices=slices)
        for k, f in enumerate(frames)
    ]
    avcc = _box(b"avcC", h264.make_avcc(h264.make_sps(w, h), h264.make_pps()))
    return _encode_mp4(
        samples, w, h, fps, _visual_entry(b"avc1", w, h, b"h264 i16", avcc)
    )


def encode_mp4_h264_i4(
    frames: list[np.ndarray], fps: int = VIDEO_FPS, qp: int = 12
) -> bytes:
    """Write frames as I_4x4 H.264-in-MP4: every macroblock is sixteen
    spatially-predicted 4x4 blocks (all nine 8.3.1 modes searched) with
    per-block DC residuals (operators/h264intra.py) — sharper than the
    Intra_16x16 code on detailed content because prediction adapts per
    4x4 block."""
    from flow_indexer_spark.operators import h264codec as h264
    from flow_indexer_spark.operators.h264intra import encode_frame_sample_i4

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    samples = [
        encode_frame_sample_i4(f, idr_pic_id=k, qp=qp)
        for k, f in enumerate(frames)
    ]
    avcc = _box(b"avcC", h264.make_avcc(h264.make_sps(w, h), h264.make_pps()))
    return _encode_mp4(
        samples, w, h, fps, _visual_entry(b"avc1", w, h, b"h264 i4", avcc)
    )


def _encode_mp4(
    samples: list[bytes],
    w: int,
    h: int,
    fps: int,
    entry: bytes,
) -> bytes:
    sizes = [len(s) for s in samples]
    n = len(samples)

    ftyp = _box(b"ftyp", b"isom", struct.pack(">I", 512), b"isom", b"mp41")
    mdat = _box(b"mdat", *samples)

    # chunk layout: groups of _CHUNK_SAMPLES samples, offsets into mdat
    # payload (which starts 8 bytes into the mdat box, after ftyp)
    base = len(ftyp) + 8
    chunk_offsets, chunk_counts = [], []
    off = base
    for c0 in range(0, n, _CHUNK_SAMPLES):
        chunk_offsets.append(off)
        cnt = min(_CHUNK_SAMPLES, n - c0)
        chunk_counts.append(cnt)
        off += sum(sizes[c0 : c0 + cnt])

    # stsc runs: (first_chunk, samples_per_chunk, sample_desc_index)
    stsc_entries = []
    for ci, cnt in enumerate(chunk_counts, start=1):
        if not stsc_entries or stsc_entries[-1][1] != cnt:
            stsc_entries.append((ci, cnt, 1))

    duration_movie = n * 1000 // fps  # mvhd/tkhd use timescale 1000


    stbl = _box(
        b"stbl",
        _full(b"stsd", 0, 0, struct.pack(">I", 1), entry),
        _full(b"stts", 0, 0, struct.pack(">III", 1, n, 1)),
        _full(
            b"stsc",
            0,
            0,
            struct.pack(">I", len(stsc_entries)),
            *(struct.pack(">III", *e) for e in stsc_entries),
        ),
        _full(
            b"stsz",
            0,
            0,
            struct.pack(">II", 0, n),
            *(struct.pack(">I", s) for s in sizes),
        ),
        _full(
            b"stco",
            0,
            0,
            struct.pack(">I", len(chunk_offsets)),
            *(struct.pack(">I", o) for o in chunk_offsets),
        ),
    )
    minf = _box(
        b"minf",
        _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0)),
        _box(
            b"dinf",
            _full(b"dref", 0, 0, struct.pack(">I", 1), _full(b"url ", 0, 1)),
        ),
        stbl,
    )
    mdia = _box(
        b"mdia",
        _full(
            b"mdhd",
            0,
            0,
            struct.pack(">IIIIHH", 0, 0, fps, n, 0x55C4, 0),  # lang 'und'
        ),
        _full(
            b"hdlr",
            0,
            0,
            struct.pack(">I", 0),
            b"vide",
            b"\x00" * 12,
            b"VideoHandler\x00",
        ),
        minf,
    )
    trak = _box(
        b"trak",
        _full(
            b"tkhd",
            0,
            3,  # enabled | in_movie
            struct.pack(">IIII", 0, 0, 1, 0),   # track_ID 1
            struct.pack(">I", duration_movie),
            b"\x00" * 8,
            struct.pack(">HHHH", 0, 0, 0, 0),
            _UNITY_MATRIX,
            struct.pack(">II", w << 16, h << 16),
        ),
        mdia,
    )
    mvhd = _full(
        b"mvhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, 1000, duration_movie),
        struct.pack(">IHH", 0x00010000, 0x0100, 0),  # rate, volume
        b"\x00" * 8,
        _UNITY_MATRIX,
        b"\x00" * 24,
        struct.pack(">I", 2),  # next_track_ID
    )
    return ftyp + mdat + _box(b"moov", mvhd, trak)


# --- box parser -------------------------------------------------------------

def _boxes(buf: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in [start, end):
    handles 32-bit sizes, 64-bit largesize (size==1) and to-end-of-file
    (size==0)."""
    off = start
    while off + 8 <= end:
        (size,) = struct.unpack_from(">I", buf, off)
        typ = buf[off + 4 : off + 8]
        hdr = 8
        if size == 1:
            if off + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack_from(">Q", buf, off + 8)
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr or off + size > end:
            raise ValueError(f"corrupt box {typ!r} at {off}")
        yield typ, off + hdr, off + size
        off += size
    if off != end:
        raise ValueError("trailing bytes after last box")


def _child(buf: bytes, start: int, end: int, typ: bytes) -> tuple[int, int]:
    for t, s, e in _boxes(buf, start, end):
        if t == typ:
            return s, e
    raise ValueError(f"missing {typ!r} box")


def _full_body(buf: bytes, start: int) -> int:
    """Skip a full box's version+flags word; only version 0 tables are
    emitted here and accepted back (version 1 = 64-bit fields)."""
    if buf[start] != 0:
        raise NotImplementedError("version-1 full boxes unsupported")
    return start + 4


def _need(cond: bool, what: str) -> None:
    """Corrupt payloads must fail CLASSIFIABLY (ValueError -> an error
    row in decode lineage), never as a raw struct/index error."""
    if not cond:
        raise ValueError(f"corrupt sample table: {what}")


def parse_mp4(payload: bytes) -> dict:
    """Parse the container: codec fourcc, dimensions, timescale, and
    exact per-sample (offset, size, start_time) extents from the
    stts/stsc/stsz/stco tables. No frame is decoded here."""
    buf = bytes(payload)
    top = {t: (s, e) for t, s, e in _boxes(buf, 0, len(buf))}
    if b"ftyp" not in top or b"moov" not in top:
        raise ValueError("not an ISO BMFF file")
    moov = top[b"moov"]

    # first video track
    stbl = mdhd = None
    for t, s, e in _boxes(buf, *moov):
        if t != b"trak":
            continue
        mdia = _child(buf, s, e, b"mdia")
        h_s, h_e = _child(buf, *mdia, b"hdlr")
        if buf[_full_body(buf, h_s) + 4 : _full_body(buf, h_s) + 8] != b"vide":
            continue
        mdhd = _child(buf, *mdia, b"mdhd")
        minf = _child(buf, *mdia, b"minf")
        stbl = _child(buf, *minf, b"stbl")
        break
    if stbl is None:
        raise ValueError("no video track")

    p, e = _full_body(buf, mdhd[0]), mdhd[1]
    _need(p + 16 <= e, "mdhd too short")
    timescale, media_duration = struct.unpack_from(">II", buf, p + 8)
    _need(timescale > 0, "zero timescale")

    # stsd: first sample entry carries fourcc + dimensions
    s, e = _child(buf, *stbl, b"stsd")
    p = _full_body(buf, s)
    _need(p + 4 <= e, "stsd too short")
    (n_entries,) = struct.unpack_from(">I", buf, p)
    if n_entries < 1:
        raise ValueError("empty stsd")
    _need(p + 40 <= e, "stsd entry too short")
    codec = buf[p + 8 : p + 12].decode("latin1")
    width, height = struct.unpack_from(">HH", buf, p + 12 + 24)

    # codec-specific sample-entry children (avcC for avc1): the visual
    # entry body is a fixed 78 bytes, children follow inside the entry
    (entry_size,) = struct.unpack_from(">I", buf, p + 4)
    avcc = None
    child_start, child_end = p + 4 + 8 + 78, min(p + 4 + entry_size, e)
    if child_start < child_end:
        for t, cs, ce in _boxes(buf, child_start, child_end):
            if t == b"avcC":
                avcc = buf[cs:ce]

    s, e = _child(buf, *stbl, b"stts")
    p = _full_body(buf, s)
    _need(p + 4 <= e, "stts too short")
    (n_stts,) = struct.unpack_from(">I", buf, p)
    _need(p + 4 + 8 * n_stts <= e, "stts overruns its box")
    stts = [
        struct.unpack_from(">II", buf, p + 4 + 8 * k) for k in range(n_stts)
    ]

    s, e = _child(buf, *stbl, b"stsz")
    p = _full_body(buf, s)
    _need(p + 8 <= e, "stsz too short")
    fixed, n_samples = struct.unpack_from(">II", buf, p)
    if not fixed:
        _need(p + 8 + 4 * n_samples <= e, "stsz overruns its box")
    sizes = (
        [fixed] * n_samples
        if fixed
        else [
            struct.unpack_from(">I", buf, p + 8 + 4 * k)[0]
            for k in range(n_samples)
        ]
    )

    s, e = _child(buf, *stbl, b"stsc")
    p = _full_body(buf, s)
    _need(p + 4 <= e, "stsc too short")
    (n_stsc,) = struct.unpack_from(">I", buf, p)
    _need(p + 4 + 12 * n_stsc <= e, "stsc overruns its box")
    _need(n_stsc >= 1 or n_samples == 0, "empty stsc")
    stsc = [
        struct.unpack_from(">III", buf, p + 4 + 12 * k) for k in range(n_stsc)
    ]

    s, e = _child(buf, *stbl, b"stco")
    p = _full_body(buf, s)
    _need(p + 4 <= e, "stco too short")
    (n_chunks,) = struct.unpack_from(">I", buf, p)
    _need(p + 4 + 4 * n_chunks <= e, "stco overruns its box")
    stco = [
        struct.unpack_from(">I", buf, p + 4 + 4 * k)[0] for k in range(n_chunks)
    ]

    # expand chunk map -> per-sample byte offsets (spec algorithm: each
    # stsc run applies from its first_chunk until the next run's)
    offsets: list[int] = []
    run = 0
    for ci, chunk_off in enumerate(stco, start=1):
        while run + 1 < len(stsc) and stsc[run + 1][0] <= ci:
            run += 1
        off = chunk_off
        for _ in range(stsc[run][1]):
            if len(offsets) >= n_samples:
                break
            offsets.append(off)
            off += sizes[len(offsets) - 1]
    if len(offsets) != n_samples:
        raise ValueError("stsc/stco cover fewer samples than stsz declares")

    # expand stts -> per-sample start times (media timescale units)
    starts: list[int] = []
    t = 0
    for cnt, delta in stts:
        for _ in range(cnt):
            if len(starts) >= n_samples:
                break
            starts.append(t)
            t += delta
    if len(starts) != n_samples:
        raise ValueError("stts covers fewer samples than stsz declares")

    return {
        "codec": codec,
        "width": int(width),
        "height": int(height),
        "timescale": int(timescale),
        "duration_ms": int(round(1000 * media_duration / timescale)),
        "n_frames": n_samples,
        "sizes": sizes,
        "offsets": offsets,
        "starts": starts,
        "avcc": avcc,
    }


def mp4_frames(
    payload: bytes, every_n: int = 1
) -> Iterator[tuple[int, int, np.ndarray]]:
    """Yield (frame_idx, t_ms, pixels) for every Nth frame in decode
    order. Only the needed samples' byte ranges are entropy-decoded —
    the skip is real, not decode-then-drop. Decodable codecs: ``jpeg``
    (Motion JPEG) and ``avc1`` over the implemented H.264 subset —
    I_PCM / Intra_16x16 / I_4x4 IDR slices (operators/h264codec +
    h264intra; the classifier parses the real NAL/slice syntax, so a
    P or B slice raises NotImplementedError from the bitstream itself,
    not the fourcc)."""
    from flow_indexer_spark.operators.jpegcodec import _jpeg_pixels

    info = parse_mp4(payload)
    buf = bytes(payload)
    if info["codec"] == "jpeg":
        decode = _jpeg_pixels
    elif info["codec"] == "avc1":
        from flow_indexer_spark.operators.h264intra import (
            decode_frame_sample_any,
        )

        if info["avcc"] is None:
            raise ValueError("avc1 track without avcC configuration")
        avcc = info["avcc"]
        decode = lambda b: decode_frame_sample_any(b, avcc)  # noqa: E731
    else:
        raise NotImplementedError(
            f"codec {info['codec']!r}: only MJPEG and I_PCM H.264 samples "
            "are decodable here"
        )
    for k in range(0, info["n_frames"], every_n):
        off, size = info["offsets"][k], info["sizes"][k]
        t_ms = round(1000 * info["starts"][k] / info["timescale"])
        yield k, t_ms, decode(buf[off : off + size])


def video_params(i: int) -> tuple[int, int, int]:
    """(n_frames, width, height) for video index i — dimensions shared
    with the image fixtures so the frame-mean theory carries over."""
    w, h, _ = image_params(i)
    return 6 + (i % 3) * 3, w, h


def make_mp4_bytes(i: int, quality: int = 90) -> bytes:
    """A real MJPEG-in-MP4 file: frame t of video i is the gradient
    plane image with R = (7i + 11t) mod 256 (constant per frame — the
    "motion" is a closed-form red drift), G = x, B = y."""
    n, w, h = video_params(i)
    frames = []
    for t in range(n):
        px = np.empty((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = (7 * i + 11 * t) % 256
        px[:, :, 1] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 2] = np.arange(h, dtype=np.uint8)[:, None]
        frames.append(px)
    return encode_mp4_mjpeg(frames, fps=VIDEO_FPS, quality=quality)


def make_h264_bytes(i: int) -> bytes:
    """The same deterministic frame family as :func:`make_mp4_bytes`,
    but coded as real H.264 I_PCM-in-avc1 (operators/h264codec.py) —
    identical pixel theory, different (lossless-luma) bitstream."""
    n, w, h = video_params(i)
    frames = []
    for t in range(n):
        px = np.empty((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = (7 * i + 11 * t) % 256
        px[:, :, 1] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 2] = np.arange(h, dtype=np.uint8)[:, None]
        frames.append(px)
    return encode_mp4_h264(frames, fps=VIDEO_FPS)


def make_h264_cabac_bytes(i: int) -> bytes:
    """The same deterministic frame family as :func:`make_h264_bytes`,
    arithmetic-coded: CABAC I_PCM-in-avc1 (operators/h264cabac.py) —
    identical pixel theory, identical lossless guarantee, different
    entropy layer."""
    n, w, h = video_params(i)
    frames = []
    for t in range(n):
        px = np.empty((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = (7 * i + 11 * t) % 256
        px[:, :, 1] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 2] = np.arange(h, dtype=np.uint8)[:, None]
        frames.append(px)
    return encode_mp4_h264_cabac(frames, fps=VIDEO_FPS)


def make_h264_intra_bytes(i: int, qp: int = 12) -> bytes:
    """The same deterministic frame family, coded as intra-predicted
    I_16x16 DC-mode H.264 (operators/h264intra.py) — a genuinely lossy
    transform code, so frame-level oracles gate MEANS within tolerance
    while the bit layer round-trips exactly in test_h264intra.py."""
    n, w, h = video_params(i)
    frames = []
    for t in range(n):
        px = np.empty((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = (7 * i + 11 * t) % 256
        px[:, :, 1] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 2] = np.arange(h, dtype=np.uint8)[:, None]
        frames.append(px)
    return encode_mp4_h264_i16(frames, fps=VIDEO_FPS, qp=qp)


def make_h264_mslice_bytes(i: int, qp: int = 12) -> bytes:
    """The deterministic frame family coded as MULTI-SLICE Intra_16x16
    H.264: every picture split into min(3, n_macroblocks) contiguous
    raster-run slices (7.4.3 first_mb_in_slice), prediction and nC
    contexts slice-scoped (6.4.8) — the bitstream analogue of
    flow-indexer's standalone-indexed log chunks. Same pixel family as
    make_h264_intra_bytes, so the same mean/flatness oracles apply."""
    n, w, h = video_params(i)
    n_mbs = ((w + 15) // 16) * ((h + 15) // 16)
    frames = []
    for t in range(n):
        px = np.empty((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = (7 * i + 11 * t) % 256
        px[:, :, 1] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 2] = np.arange(h, dtype=np.uint8)[:, None]
        frames.append(px)
    return encode_mp4_h264_i16(
        frames, fps=VIDEO_FPS, qp=qp, slices=min(3, n_mbs)
    )


def make_h264_i4_bytes(i: int, qp: int = 12) -> bytes:
    """The deterministic frame family coded as I_4x4 spatial prediction
    with per-4x4 DC residuals — the sharpest lossy intra code here, so
    its oracle envelope is tighter than the I_16x16 family's."""
    n, w, h = video_params(i)
    frames = []
    for t in range(n):
        px = np.empty((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = (7 * i + 11 * t) % 256
        px[:, :, 1] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 2] = np.arange(h, dtype=np.uint8)[:, None]
        frames.append(px)
    return encode_mp4_h264_i4(frames, fps=VIDEO_FPS, qp=qp)


def _media_gen(spark, n: int, prefix: str, make_bytes) -> DataFrame:
    schema = StructType(
        [
            StructField("media_id", StringType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "media_id": [f"{prefix}{i:05d}" for i in ids],
                    "kind": ["video"] * len(ids),
                    "payload": [make_bytes(i) for i in ids],
                }
            )

    return spark.range(n).repartition(
        max(2, spark.sparkContext.defaultParallelism // 4)
    ).mapInPandas(_gen, schema)


def make_mp4_media(spark, n: int = 24) -> DataFrame:
    """Executor-side synthesis of real MP4 payloads — same mapInPandas
    topology as codecs.make_real_media (bytes never touch the driver)."""
    return _media_gen(spark, n, "v", make_mp4_bytes)


def make_h264_media(spark, n: int = 24) -> DataFrame:
    """Executor-side synthesis of real H.264-in-MP4 payloads."""
    return _media_gen(spark, n, "v", make_h264_bytes)


def make_h264_cabac_media(spark, n: int = 24) -> DataFrame:
    """Executor-side synthesis of CABAC H.264-in-MP4 payloads."""
    return _media_gen(spark, n, "v", make_h264_cabac_bytes)


def make_h264_intra_media(spark, n: int = 24) -> DataFrame:
    """Executor-side synthesis of intra-predicted H.264-in-MP4 payloads."""
    return _media_gen(spark, n, "v", make_h264_intra_bytes)


def make_h264_i4_media(spark, n: int = 24) -> DataFrame:
    """Executor-side synthesis of I_4x4 spatially-predicted payloads."""
    return _media_gen(spark, n, "v", make_h264_i4_bytes)


def make_h264_mslice_media(spark, n: int = 24) -> DataFrame:
    """Executor-side synthesis of multi-slice intra H.264 payloads."""
    return _media_gen(spark, n, "v", make_h264_mslice_bytes)


# --- the Spark stage --------------------------------------------------------

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("codec", StringType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("t_ms", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("mean_r", DoubleType(), False),
        StructField("mean_g", DoubleType(), False),
        StructField("mean_b", DoubleType(), False),
        StructField("luma_std", DoubleType(), False),
        StructField("edge_energy", DoubleType(), False),
    ]
)


def video_frame_features(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Explode (media_id, payload) videos into every-Nth-frame feature
    rows. One video's sampled frames stay inside one task (no shuffle:
    a narrow mapInPandas over however the payload table is already
    partitioned); the per-frame kernel is the shared image feature
    measurement used by every still-image codec."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_mp4(bytes(payload))
                for k, t_ms, px in mp4_frames(bytes(payload), every_n):
                    rows.append(
                        {
                            "media_id": media_id,
                            "codec": info["codec"],
                            "n_frames": info["n_frames"],
                            "duration_ms": info["duration_ms"],
                            "frame_idx": k,
                            "t_ms": t_ms,
                            **_image_features(px),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SCHEMA.fields]
            )

    return df.select("media_id", "payload").mapInPandas(_frames, FRAME_SCHEMA)
