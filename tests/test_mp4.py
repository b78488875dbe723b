"""ISO BMFF (MP4) container tests — fixtures written HERE forward from
the ISO/IEC 14496-12 box layouts (box/FullBox headers, hdlr/mdhd/stsd/
stts/stsc/stsz/stco semantics), independent of sources/mp4.py's
writer. The hand-built files exercise layouts the writer never emits:
multi-sample chunks, co64 64-bit offsets, largesize boxes, fixed-size
stsz, version-1 mdhd, and a non-video track preceding the video one."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from openpolicedata_spark.sources.jpeg import encode_jpeg
from openpolicedata_spark.sources.mp4 import (
    Mp4Error,
    encode_mp4_mjpeg,
    parse_mp4_video_track,
    read_mp4_video,
)

rng = np.random.default_rng(20260814)


def flat_frame(w_tiles: int, h_tiles: int) -> np.ndarray:
    tiles = rng.integers(0, 256, (h_tiles, w_tiles), dtype=np.uint8)
    return tiles.repeat(8, 0).repeat(8, 1)


# ------------------------------------------------ spec-literal builders

def box(t: bytes, body: bytes, largesize: bool = False) -> bytes:
    if largesize:
        return struct.pack(">I", 1) + t + struct.pack(
            ">Q", 16 + len(body)) + body
    return struct.pack(">I", 8 + len(body)) + t + body


def full(t: bytes, body: bytes, version: int = 0,
         flags: int = 0) -> bytes:
    return box(t, bytes([version]) + flags.to_bytes(3, "big") + body)


def video_sample_entry(codec: bytes, w: int, h: int) -> bytes:
    body = (bytes(6) + struct.pack(">H", 1) + bytes(16)
            + struct.pack(">HH", w, h)
            + struct.pack(">II", 0x480000, 0x480000) + bytes(4)
            + struct.pack(">H", 1) + bytes(32)
            + struct.pack(">Hh", 24, -1))
    return struct.pack(">I", 8 + len(body)) + codec + body


def make_stbl(codec: bytes, w: int, h: int, stts_runs, stsc_runs,
              sizes, chunk_offsets, fixed_size: int = 0,
              co64: bool = False) -> bytes:
    stsd = full(b"stsd", struct.pack(">I", 1)
                + video_sample_entry(codec, w, h))
    stts = full(b"stts", struct.pack(">I", len(stts_runs))
                + b"".join(struct.pack(">II", c, d)
                           for c, d in stts_runs))
    stsc = full(b"stsc", struct.pack(">I", len(stsc_runs))
                + b"".join(struct.pack(">III", f, n, 1)
                           for f, n in stsc_runs))
    if fixed_size:
        stsz = full(b"stsz", struct.pack(">II", fixed_size, len(sizes)))
    else:
        stsz = full(b"stsz", struct.pack(">II", 0, len(sizes))
                    + struct.pack(f">{len(sizes)}I", *sizes))
    if co64:
        co = full(b"co64", struct.pack(">I", len(chunk_offsets))
                  + struct.pack(f">{len(chunk_offsets)}Q",
                                *chunk_offsets))
    else:
        co = full(b"stco", struct.pack(">I", len(chunk_offsets))
                  + struct.pack(f">{len(chunk_offsets)}I",
                                *chunk_offsets))
    return box(b"stbl", stsd + stts + stsc + stsz + co)


def make_trak(handler: bytes, stbl: bytes, timescale: int = 1000,
              mdhd_v1: bool = False) -> bytes:
    if mdhd_v1:
        mdhd = full(b"mdhd", struct.pack(">QQIQ", 0, 0, timescale, 0)
                    + struct.pack(">HH", 0x55C4, 0), version=1)
    else:
        mdhd = full(b"mdhd", struct.pack(">IIII", 0, 0, timescale, 0)
                    + struct.pack(">HH", 0x55C4, 0))
    hdlr = full(b"hdlr", struct.pack(">I", 0) + handler + bytes(12)
                + b"t\x00")
    minf = box(b"minf", box(b"dinf", b"") + stbl)
    return box(b"trak", box(b"mdia", mdhd + hdlr + minf))


def make_mp4(traks: list[bytes], mdat: bytes,
             largesize_mdat: bool = False) -> bytes:
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isom")
    moov = box(b"moov", b"".join(traks))
    return ftyp + box(b"mdat", mdat, largesize=largesize_mdat) + moov


def ftyp_len() -> int:
    return len(box(b"ftyp", b"isom\x00\x00\x02\x00isom"))


# ----------------------------------------------------- writer roundtrip

def test_writer_roundtrip_and_delays():
    frames = [flat_frame(2, 2) for _ in range(5)]
    jpegs = [encode_jpeg(f) for f in frames]
    blob = encode_mp4_mjpeg(jpegs, 16, 16, timescale=1000, delta=250)
    out, delays = read_mp4_video(blob)
    assert delays == [25] * 5
    for got, want in zip(out, frames):
        assert np.array_equal(got[..., 0], want)
        assert np.array_equal(got[..., 1], want)
        assert np.array_equal(got[..., 2], want)


def test_writer_track_metadata():
    jpegs = [encode_jpeg(flat_frame(3, 1))]
    tr = parse_mp4_video_track(encode_mp4_mjpeg(jpegs, 24, 8))
    assert (tr["codec"], tr["width"], tr["height"]) == ("jpeg", 24, 8)
    assert len(tr["samples"]) == 1
    off, size, delta = tr["samples"][0]
    assert size == len(jpegs[0])


# ---------------------------------------------- hand-built layout pins

def test_multi_sample_chunks_and_stts_runs():
    """Two chunks: 3 samples then 2; deltas 100,100,100,200,200 —
    samples within a chunk are consecutive from the chunk offset."""
    frames = [flat_frame(1, 1) for _ in range(5)]
    jpegs = [encode_jpeg(f) for f in frames]
    sizes = [len(j) for j in jpegs]
    mdat = b"".join(jpegs)
    base = ftyp_len() + 8
    chunk_offsets = [base, base + sum(sizes[:3])]
    stbl = make_stbl(b"jpeg", 8, 8, [(3, 100), (2, 200)],
                     [(1, 3), (2, 2)], sizes, chunk_offsets)
    blob = make_mp4([make_trak(b"vide", stbl)], mdat)
    out, delays = read_mp4_video(blob)
    assert delays == [10, 10, 10, 20, 20]
    for got, want in zip(out, frames):
        assert np.array_equal(got[..., 0], want)


def test_co64_largesize_and_fixed_stsz():
    f = flat_frame(1, 1)
    j = encode_jpeg(f)
    mdat = j + j  # two identical fixed-size samples
    base = ftyp_len() + 16  # largesize mdat header is 16 bytes
    stbl = make_stbl(b"jpeg", 8, 8, [(2, 500)], [(1, 1)],
                     [len(j)] * 2, [base, base + len(j)],
                     fixed_size=len(j), co64=True)
    blob = make_mp4([make_trak(b"vide", stbl)], mdat,
                    largesize_mdat=True)
    out, delays = read_mp4_video(blob)
    assert len(out) == 2 and delays == [50, 50]
    assert np.array_equal(out[0][..., 0], f)


def test_v1_mdhd_and_audio_track_skipped():
    f = flat_frame(2, 1)
    j = encode_jpeg(f)
    base = ftyp_len() + 8
    stbl = make_stbl(b"jpeg", 16, 8, [(1, 60)], [(1, 1)], [len(j)],
                     [base])
    audio = make_trak(b"soun", make_stbl(b"mp4a", 0, 0, [(1, 1)],
                                         [(1, 1)], [1], [base]))
    video = make_trak(b"vide", stbl, timescale=600, mdhd_v1=True)
    blob = make_mp4([audio, video], j)
    tr = parse_mp4_video_track(blob)
    assert tr["timescale"] == 600 and tr["codec"] == "jpeg"
    out, delays = read_mp4_video(blob)
    assert delays == [10]
    assert np.array_equal(out[0][..., 0], f)


# -------------------------------------------------------------- errors

def test_non_mjpeg_codec_raises_with_name():
    base = ftyp_len() + 8
    stbl = make_stbl(b"avc1", 16, 16, [(1, 1)], [(1, 1)], [4], [base])
    blob = make_mp4([make_trak(b"vide", stbl)], b"\x00" * 4)
    parse_mp4_video_track(blob)  # container parses fine
    with pytest.raises(Mp4Error, match="avc1"):
        read_mp4_video(blob)


def test_structural_errors():
    with pytest.raises(Mp4Error, match="ftyp"):
        parse_mp4_video_track(b"\x00" * 32)
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isom")
    with pytest.raises(Mp4Error, match="moov"):
        parse_mp4_video_track(ftyp)
    with pytest.raises(Mp4Error, match="no video track"):
        parse_mp4_video_track(ftyp + box(b"moov", b""))
    # sample that overruns the file
    stbl = make_stbl(b"jpeg", 8, 8, [(1, 1)], [(1, 1)], [10_000],
                     [ftyp_len() + 8])
    blob = make_mp4([make_trak(b"vide", stbl)], b"\x00" * 8)
    with pytest.raises(Mp4Error, match="overruns"):
        parse_mp4_video_track(blob)


def test_truncation_never_leaks_struct_error():
    """Every truncation either parses or raises Mp4Error/JpegError —
    raw struct.error / IndexError must never escape."""
    jpegs = [encode_jpeg(flat_frame(1, 1)) for _ in range(3)]
    blob = encode_mp4_mjpeg(jpegs, 8, 8)
    from openpolicedata_spark.sources.jpeg import JpegError
    for cut in range(0, len(blob), 3):
        try:
            read_mp4_video(blob[:cut])
        except (Mp4Error, JpegError):
            pass
    # and with box sizes intact but the tail bytes replaced by junk,
    # declared table counts can point past the real data
    corrupt = bytearray(blob)
    corrupt[-40:] = b"\xff" * 40
    try:
        read_mp4_video(bytes(corrupt))
    except (Mp4Error, JpegError):
        pass


def _overcount(table: str) -> bytes:
    """A one-sample file whose `table` claims 2²⁴ entries: the stsz
    count under a fixed sample size, the stts run count, or an stsc
    run ending 2²⁴ chunks past the one real chunk."""
    j = encode_jpeg(flat_frame(1, 1))
    stsc = [(1, 1), (1 << 24, 1)] if table == "stsc" else [(1, 1)]
    stbl = make_stbl(b"jpeg", 8, 8, [(1, 100)], stsc, [len(j)],
                     [ftyp_len() + 8], fixed_size=len(j))
    blob = bytearray(make_mp4([make_trak(b"vide", stbl)], j))
    # count field: after the box type, version/flags and sample size
    # (stsz) or entry count (stts)
    if table in ("stsz", "stts"):
        struct.pack_into(">I", blob, blob.index(table.encode()) + 12,
                         1 << 24)
    return bytes(blob)


@pytest.mark.parametrize("table", ["stsz", "stts", "stsc"])
def test_table_overcount_raises_before_allocating(table):
    import tracemalloc

    blob = _overcount(table)
    tracemalloc.start()
    try:
        with pytest.raises(Mp4Error):
            parse_mp4_video_track(blob)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak


def test_junk_fuzz():
    for seed in range(40):
        r = np.random.default_rng(seed)
        blob = (struct.pack(">I", 24) + b"ftyp"
                + bytes(r.integers(0, 256, size=120, dtype=np.uint8)))
        try:
            parse_mp4_video_track(blob)
        except Mp4Error:
            pass


# ------------------------------------------------------ spark dispatch

def test_decode_video_dispatch_and_frame_sampling():
    from openpolicedata_spark.operators.multimodal import decode_video

    frames = [flat_frame(2, 2) for _ in range(3)]
    blob = encode_mp4_mjpeg([encode_jpeg(f) for f in frames], 16, 16)
    out, delays = decode_video(blob, "video/mp4")
    assert len(out) == 3 and all(f.shape == (16, 16, 3) for f in out)
