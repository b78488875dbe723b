"""GIF codec tests — fixtures built HERE, forward from the GIF89a spec
(LZW grammar, block layout, interlace pass order), independent of
sources/gif.py (the test_png.py/test_jpeg.py/test_wav.py discipline).
The independent LZW encoder below uses the pre-insert widen ordering
(giflib style) while the repo encoder checks post-insert — equivalent
streams, different code paths. Includes hand-bit-packed streams (a
literal run and the canonical KwKwK case) whose bytes are derived in
comments, not by either encoder."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from openpolicedata_spark.sources.gif import (
    GifError,
    decode_gif,
    encode_gif,
)

rng = np.random.default_rng(20260814)


# ------------------------------------------------- independent encoder

class _Packer:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, size: int) -> None:
        self.acc |= code << self.n
        self.n += size
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def done(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def lzw_encode_ref(min_code: int, seq: list[int]) -> bytes:
    """Spec-text LZW: tuple-keyed table, widen checked BETWEEN emit and
    insert (next_code >= 2^size), clear emitted when the table fills."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    p = _Packer()
    size = min_code + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    p.put(clear, size)
    w: tuple = ()
    for v in seq:
        wk = w + (v,)
        if wk in table:
            w = wk
            continue
        p.put(table[w], size)
        if next_code >= (1 << size) and size < 12:
            size += 1
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
        else:
            p.put(clear, size)
            size = min_code + 1
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
        w = (v,)
    if w:
        p.put(table[w], size)
        if next_code >= (1 << size) and size < 12:
            size += 1
    p.put(end, size)
    return p.done()


def subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        c = data[i:i + 255]
        out += bytes([len(c)]) + c
    out += b"\x00"
    return bytes(out)


def gray_palette(n: int) -> np.ndarray:
    steps = np.linspace(0, 255, n).astype(np.uint8)
    return np.stack([steps] * 3, axis=1)


def ident_palette() -> np.ndarray:
    i = np.arange(256, dtype=np.uint8)
    return np.stack([i, i, i], axis=1)


_I_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def interlace_rows(grid: np.ndarray) -> np.ndarray:
    order = []
    for start, step in _I_PASSES:
        order.extend(range(start, grid.shape[0], step))
    return grid[order]


def build_gif(frames, palette, *, sig=b"GIF89a", interlaced=False,
              local_tables=None, gces=None, min_code=None,
              bg_index=0) -> bytes:
    """Forward GIF construction from the spec's block grammar."""
    n = palette.shape[0]
    size_field = n.bit_length() - 2
    h, w = frames[0].shape
    out = bytearray(sig)
    out += struct.pack("<HHBBB", w, h, 0x80 | size_field, bg_index, 0)
    out += palette.tobytes()
    mc = min_code if min_code is not None else max(2, n.bit_length() - 1)
    for fi, frame in enumerate(frames):
        if gces and gces[fi] is not None:
            flags, delay, tidx = gces[fi]
            out += bytes([0x21, 0xF9, 4, flags]) + struct.pack("<H", delay) \
                + bytes([tidx, 0])
        fh, fw = frame.shape
        lct = local_tables[fi] if local_tables else None
        iflags = (0x40 if interlaced else 0)
        if lct is not None:
            iflags |= 0x80 | (lct.shape[0].bit_length() - 2)
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, fw, fh) \
            + bytes([iflags])
        if lct is not None:
            out += lct.tobytes()
        grid = interlace_rows(frame) if interlaced else frame
        out += bytes([mc]) + subblocks(
            lzw_encode_ref(mc, grid.reshape(-1).tolist()))
    out += b"\x3b"
    return bytes(out)


# ------------------------------------------------- hand-packed streams

def test_hand_packed_literal_stream():
    """2x2 frame, pixels [1,2,3,0], min_code 2: stream 4,1,2,3,0,5
    (clear, literals, end). The decoder adds its 3rd mirror entry after
    reading '3' (next_code hits 8 there), so '0' and end are read at 4
    bits: 3-bit 4,1,2,3 then 4-bit 0,5. Bits LSB-first:
    acc = 4 + 1<<3 + 2<<6 + 3<<9 + 0<<12 + 5<<16 = 0x5068C →
    bytes 8C 06 05."""
    pal = gray_palette(4)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 2, 2, 0x80 | 1, 0, 0) + pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2) + b"\x00"
    out += bytes([2]) + subblocks(bytes([0x8C, 0x06, 0x05]))
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    idx = np.array([[1, 2], [3, 0]])
    assert np.array_equal(frames[0], pal[idx])


def test_hand_packed_kwkwk():
    """Pixels [1,1,1] → encoder emits clear,1,6,end where 6 == next_code
    at read time (the KwKwK case). 3-bit codes 4,1,6,5 LSB-first:
    4 + 1<<3 + 6<<6 + 5<<9 = 0xB8C → bytes 8C 0B."""
    pal = gray_palette(4)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 3, 1, 0x80 | 1, 0, 0) + pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 3, 1) + b"\x00"
    out += bytes([2]) + subblocks(bytes([0x8C, 0x0B]))
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    assert np.array_equal(frames[0], pal[np.array([[1, 1, 1]])])


# --------------------------------------------------- round-trip suite

@pytest.mark.parametrize("n_colors,shape", [
    (4, (8, 8)), (16, (16, 16)), (256, (16, 16)),
    (256, (40, 40)),            # crosses several code widths
    (256, (90, 90)),            # 8100 px > 4096: dictionary fills
])
def test_independent_encoder_roundtrip(n_colors, shape):
    grid = rng.integers(0, n_colors, size=shape, dtype=np.uint8)
    pal = gray_palette(n_colors) if n_colors < 256 else ident_palette()
    frames, _ = decode_gif(build_gif([grid], pal))
    assert np.array_equal(frames[0], pal[grid])


def test_gif87a_signature():
    grid = rng.integers(0, 4, size=(5, 7), dtype=np.uint8)
    pal = gray_palette(4)
    frames, delays = decode_gif(build_gif([grid], pal, sig=b"GIF87a"))
    assert np.array_equal(frames[0], pal[grid]) and delays == [0]


def test_interlaced_frame():
    grid = rng.integers(0, 16, size=(13, 9), dtype=np.uint8)
    pal = gray_palette(16)
    frames, _ = decode_gif(build_gif([grid], pal, interlaced=True))
    assert np.array_equal(frames[0], pal[grid])


def test_local_color_table_overrides_global():
    grid = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    gpal = gray_palette(4)
    lpal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]],
                    dtype=np.uint8)
    frames, _ = decode_gif(build_gif([grid], gpal, local_tables=[lpal]))
    assert np.array_equal(frames[0], lpal[grid])


def test_animation_transparency_composites_over_previous():
    pal = gray_palette(4)
    f1 = np.full((4, 4), 1, dtype=np.uint8)
    f2 = np.full((4, 4), 3, dtype=np.uint8)
    f2[1:3, 1:3] = 2  # index 2 marked transparent in frame 2's GCE
    gces = [(0x04, 3, 0), (0x05, 7, 2)]  # f2: disposal 1 + transparency
    frames, delays = decode_gif(build_gif([f1, f2], pal, gces=gces))
    assert delays == [3, 7]
    assert np.array_equal(frames[0], pal[f1])
    expect = pal[f2].copy()
    expect[1:3, 1:3] = pal[1]  # transparent pixels show frame 1
    assert np.array_equal(frames[1], expect)


def test_disposal_restore_background_and_previous():
    pal = np.array([[10, 10, 10], [200, 0, 0], [0, 200, 0], [0, 0, 200]],
                   dtype=np.uint8)
    base = np.zeros((4, 4), dtype=np.uint8)
    stamp = np.full((4, 4), 1, dtype=np.uint8)
    dot = np.full((4, 4), 2, dtype=np.uint8)
    # frame1 disposal=2 (restore bg), frame2 transparent idx 3 so the
    # restored background shows through, frame3 sees frame2 kept
    f2 = np.full((4, 4), 3, dtype=np.uint8)
    f2[0, 0] = 2
    gces = [(0x08, 0, 0), (0x0D, 0, 3), (0x04, 0, 0)]
    frames, _ = decode_gif(build_gif([stamp, f2, dot], pal, gces=gces))
    # after frame1 disposed to bg color (palette[0]), frame2's
    # transparent pixels are bg, except its one opaque dot
    expect1 = np.tile(pal[0], (4, 4, 1))
    expect1[0, 0] = pal[2]
    assert np.array_equal(frames[1], expect1)
    assert np.array_equal(frames[2], pal[dot])


def test_subblock_split_over_255():
    grid = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    blob = build_gif([grid], ident_palette())
    frames, _ = decode_gif(blob)
    assert np.array_equal(frames[0][:, :, 0], grid)


# ------------------------------------------------ in-repo encoder parity

def test_encode_gif_roundtrip_multiframe():
    pal = ident_palette()
    fs = [rng.integers(0, 256, size=(12, 10), dtype=np.uint8)
          for _ in range(3)]
    frames, delays = decode_gif(encode_gif(fs, pal, delays=[2, 4, 6]))
    assert delays == [2, 4, 6]
    for got, want in zip(frames, fs):
        assert np.array_equal(got[:, :, 0], want)


def test_encode_gif_dictionary_fill_clear_path():
    grid = rng.integers(0, 256, size=(128, 128), dtype=np.uint8)
    frames, _ = decode_gif(encode_gif([grid], ident_palette()))
    assert np.array_equal(frames[0][:, :, 0], grid)


def test_encoders_cross_validate():
    grid = rng.integers(0, 16, size=(20, 20), dtype=np.uint8)
    pal = gray_palette(16)
    a, _ = decode_gif(encode_gif([grid], pal))
    b, _ = decode_gif(build_gif([grid], pal))
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[0], pal[grid])


def test_encode_gif_small_palette():
    grid = rng.integers(0, 2, size=(9, 9), dtype=np.uint8)
    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    frames, _ = decode_gif(encode_gif([grid], pal))
    assert np.array_equal(frames[0], pal[grid])


# -------------------------------------------------------------- failures

def test_errors():
    with pytest.raises(GifError, match="signature"):
        decode_gif(b"PNG nope")
    with pytest.raises(GifError, match="truncated"):
        decode_gif(b"GIF89a\x01\x00")
    grid = np.zeros((2, 2), dtype=np.uint8)
    blob = bytearray(build_gif([grid], gray_palette(4)))
    with pytest.raises(GifError, match="trailer|truncated|sub-block"):
        decode_gif(bytes(blob[:-2]))
    # palette index out of range: 2-entry table, index 3 in data
    bad = build_gif([np.full((2, 2), 3, dtype=np.uint8)],
                    np.zeros((2, 3), dtype=np.uint8), min_code=2)
    with pytest.raises(GifError, match="palette index"):
        decode_gif(bad)


def test_junk_fuzz_raises_giferror_only():
    for seed in range(40):
        r = np.random.default_rng(seed)
        blob = b"GIF89a" + bytes(r.integers(0, 256, size=120,
                                            dtype=np.uint8))
        try:
            decode_gif(blob)
        except GifError:
            pass


def test_frame_rect_exceeding_canvas_raises():
    pal = gray_palette(4)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 2, 2, 0x80 | 1, 0, 0) + pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 1, 1, 2, 2) + b"\x00"
    out += bytes([2]) + subblocks(lzw_encode_ref(2, [0, 0, 0, 0]))
    out += b"\x3b"
    with pytest.raises(GifError, match="exceeds canvas"):
        decode_gif(bytes(out))


# (2¹⁶−1)² and one row over the 2²⁸-pixel cap at width 2¹⁴
@pytest.mark.parametrize("width,height", [(65535, 65535),
                                          (1 << 14, (1 << 14) + 1)])
def test_header_over_pixel_cap_raises_before_allocating(width, height):
    """A 1x1 frame under a screen claimed past the cap: no canvas."""
    import tracemalloc

    pal = gray_palette(4)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0, 0, 0)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1) + b"\x81" \
        + pal.tobytes()
    out += bytes([2]) + subblocks(lzw_encode_ref(2, [0])) + b"\x3b"
    tracemalloc.start()
    try:
        with pytest.raises(GifError, match="pixel cap"):
            decode_gif(bytes(out))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak


# -------------------------------------------- multimodal dispatch hooks

def test_decode_video_and_image_dispatch():
    from openpolicedata_spark.operators.multimodal import (
        decode_image,
        decode_video,
    )

    pal = ident_palette()
    fs = [rng.integers(0, 256, size=(6, 6), dtype=np.uint8)
          for _ in range(2)]
    blob = encode_gif(fs, pal, delays=[1, 2])
    frames, delays = decode_video(blob, "image/gif")
    assert delays == [1, 2]
    assert np.array_equal(frames[1][:, :, 0], fs[1])
    # decode_image returns the first frame as a still
    still = decode_image(blob, "mislabeled/jpeg")  # magic wins
    assert np.array_equal(still[:, :, 0], fs[0])
    # MP4 now routes to the real ISO BMFF parser (sources/mp4.py):
    # truncated/garbage boxes fail there, not at the dispatch gate
    from openpolicedata_spark.sources.mp4 import Mp4Error
    with pytest.raises(Mp4Error):
        decode_video(b"\x00\x00\x00\x20ftypisom rest", "video/mp4")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        decode_video(b"\x00unknown container bytes", "video/x-thing")


def test_encode_gif_rejects_out_of_palette_indices():
    pal = gray_palette(4)
    with pytest.raises(GifError, match="outside"):
        encode_gif([np.full((2, 2), 7, dtype=np.uint8)], pal)
