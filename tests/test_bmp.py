"""BMP decoder tests — fixtures written HERE forward from the Windows
DIB spec literals (BITMAPFILEHEADER/BITMAPINFOHEADER layout, BGR order,
4-byte stride, bottom-up rows), independent of sources/bmp.py."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from openpolicedata_spark.sources.bmp import BmpError, decode_bmp

rng = np.random.default_rng(20260814)


def build_bmp(img: np.ndarray, bpp: int = 24,
              palette: np.ndarray | None = None,
              top_down: bool = False, header_size: int = 40,
              compression: int = 0) -> bytes:
    """Forward BMP construction. For bpp<=8, `img` holds palette
    indices; else (H, W, 3) RGB."""
    h, w = img.shape[:2]
    stride = ((w * bpp + 31) // 32) * 4
    rows = bytearray()
    order = range(h) if top_down else range(h - 1, -1, -1)
    for y in order:
        if bpp == 24:
            line = img[y][:, ::-1].tobytes()          # RGB → BGR
        elif bpp == 32:
            bgra = np.zeros((w, 4), dtype=np.uint8)
            bgra[:, :3] = img[y][:, ::-1]
            bgra[:, 3] = 0xAA
            line = bgra.tobytes()
        elif bpp == 8:
            line = img[y].tobytes()
        else:  # 4- or 1-bit packing, MSB first
            bits = []
            for v in img[y]:
                for k in range(bpp - 1, -1, -1):
                    bits.append((int(v) >> k) & 1)
            while len(bits) % 8:
                bits.append(0)
            line = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
        rows += line + b"\x00" * (stride - len(line))
    pal = b""
    if palette is not None:
        for r, g, b in palette:
            pal += bytes([b, g, r, 0])               # BGRX entries
    pixel_off = 14 + header_size + len(pal)
    info = struct.pack("<IiiHHIIiiII", header_size, w,
                       -h if top_down else h, 1, bpp, compression,
                       len(rows), 2835, 2835,
                       0 if palette is None else len(palette), 0)
    info += b"\x00" * (header_size - 40)             # V4/V5 tail zeros
    head = b"BM" + struct.pack("<IHHI", pixel_off + len(rows), 0, 0,
                               pixel_off)
    return head + info + pal + bytes(rows)


def test_24bit_bottom_up_with_stride():
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)  # stride pad
    assert np.array_equal(decode_bmp(build_bmp(img)), img)


def test_24bit_top_down():
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(build_bmp(img, top_down=True)), img)


def test_32bit_alpha_ignored():
    img = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(build_bmp(img, bpp=32)), img)


def test_8bit_palette():
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(6, 7), dtype=np.uint8)
    out = decode_bmp(build_bmp(idx, bpp=8, palette=pal))
    assert np.array_equal(out, pal[idx])


def test_4bit_and_1bit_palette():
    pal4 = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx4 = rng.integers(0, 16, size=(3, 5), dtype=np.uint8)
    assert np.array_equal(decode_bmp(build_bmp(idx4, bpp=4, palette=pal4)),
                          pal4[idx4])
    pal1 = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    idx1 = rng.integers(0, 2, size=(4, 11), dtype=np.uint8)
    assert np.array_equal(decode_bmp(build_bmp(idx1, bpp=1, palette=pal1)),
                          pal1[idx1])


def test_v5_header_accepted():
    img = rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(build_bmp(img, header_size=124)), img)


def test_errors():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    with pytest.raises(BmpError, match="signature"):
        decode_bmp(b"PNG nope")
    with pytest.raises(BmpError, match="compression"):
        decode_bmp(build_bmp(img, compression=3))  # BITFIELDS
    with pytest.raises(BmpError, match="truncated"):
        decode_bmp(build_bmp(img)[:-5])
    blob = bytearray(build_bmp(img))
    struct.pack_into("<H", blob, 28, 13)  # bpp=13
    with pytest.raises(BmpError, match="13-bit"):
        decode_bmp(bytes(blob))


def test_junk_fuzz_raises_bmperror_only():
    for seed in range(40):
        r = np.random.default_rng(seed)
        blob = b"BM" + bytes(r.integers(0, 256, size=100, dtype=np.uint8))
        try:
            decode_bmp(blob)
        except BmpError:
            pass


def test_decode_image_dispatch():
    from openpolicedata_spark.operators.multimodal import decode_image

    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    out = decode_image(build_bmp(img), "mislabeled/gif")  # magic wins
    assert np.array_equal(out, img)


# ------------------------------------------------------------ RLE paths

def rle8_encode(rows: list[list[int]]) -> bytes:
    """Independent BI_RLE8 writer: encoded runs, with an absolute run
    whenever a row has >=3 distinct leading values (to exercise both
    modes), EOL after each row, EOB at the end."""
    out = bytearray()
    for row in rows:
        i = 0
        while i < len(row):
            run = 1
            while i + run < len(row) and row[i + run] == row[i] \
                    and run < 255:
                run += 1
            if run >= 2:
                out += bytes([run, row[i]])
                i += run
            else:
                j = i
                while j < len(row) and (j + 1 >= len(row)
                                        or row[j + 1] != row[j]) \
                        and j - i < 255:
                    j += 1
                chunk = row[i:j]
                if len(chunk) >= 3:
                    out += bytes([0, len(chunk)]) + bytes(chunk)
                    if len(chunk) % 2:
                        out += b"\x00"
                else:
                    for v in chunk:
                        out += bytes([1, v])
                i = j
        out += b"\x00\x00"  # EOL
    out += b"\x00\x01"      # EOB
    return bytes(out)


def build_rle_bmp(idx: np.ndarray, palette: np.ndarray,
                  payload: bytes, compression: int, bpp: int) -> bytes:
    h, w = idx.shape
    pal = b"".join(bytes([b, g, r, 0]) for r, g, b in palette)
    pixel_off = 14 + 40 + len(pal)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, compression,
                       len(payload), 2835, 2835, len(palette), 0)
    head = b"BM" + struct.pack("<IHHI", pixel_off + len(payload), 0, 0,
                               pixel_off)
    return head + info + pal + payload


def test_rle8_runs_absolute_eol():
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = np.array([
        [7, 7, 7, 7, 1, 2, 3, 9],     # run + absolute
        [5, 5, 5, 5, 5, 5, 5, 5],     # one run
        [1, 2, 1, 2, 1, 2, 1, 2],     # absolute-ish singles
    ], dtype=np.uint8)
    payload = rle8_encode([list(r) for r in idx[::-1]])  # stored bottom-up
    blob = build_rle_bmp(idx, pal, payload, compression=1, bpp=8)
    assert np.array_equal(decode_bmp(blob), pal[idx])


def test_rle8_delta_and_early_eob_leave_background():
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[0] = [9, 9, 9]      # background
    pal[4] = [200, 0, 0]
    # stored rows (bottom-up): write 2 px, delta (+3, +1), 2 px, EOB
    payload = bytes([2, 4,                  # two red at (0,0)
                     0, 2, 3, 1,            # delta to x=5, y=1
                     2, 4,                  # two red at (5,1)
                     0, 1])                 # end of bitmap
    idx = np.zeros((3, 8), dtype=np.uint8)
    idx[2, 0:2] = 4          # stored y=0 = display bottom row
    idx[1, 5:7] = 4          # stored y=1
    blob = build_rle_bmp(idx, pal, payload, compression=1, bpp=8)
    assert np.array_equal(decode_bmp(blob), pal[idx])


def test_rle4_nibble_runs():
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    # encoded run of 5 alternating (0xA1 -> 10,1,10,1,10), then EOL/EOB
    payload = bytes([5, 0xA1, 0, 0, 0, 1])
    idx = np.zeros((1, 5), dtype=np.uint8)
    idx[0] = [10, 1, 10, 1, 10]
    blob = build_rle_bmp(idx, pal, payload, compression=2, bpp=4)
    assert np.array_equal(decode_bmp(blob), pal[idx])


def test_rle4_absolute_word_alignment():
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    # absolute run of 5 nibbles = 3 bytes -> padded to 4
    payload = bytes([0, 5, 0x12, 0x34, 0x50, 0x00, 0, 1])
    idx = np.zeros((1, 6), dtype=np.uint8)
    idx[0, :5] = [1, 2, 3, 4, 5]
    blob = build_rle_bmp(idx, pal, payload, compression=2, bpp=4)
    assert np.array_equal(decode_bmp(blob), pal[idx])


def test_rle_truncation_raises():
    pal = np.zeros((256, 3), dtype=np.uint8)
    idx = np.zeros((2, 4), dtype=np.uint8)
    for payload in (bytes([5]), bytes([0, 4, 1, 2]), bytes([0, 2, 3])):
        blob = build_rle_bmp(idx, pal, payload, compression=1, bpp=8)
        with pytest.raises(BmpError, match="truncated RLE|RLE"):
            decode_bmp(blob)


def test_rle_wrong_bpp_combination_raises():
    pal = np.zeros((256, 3), dtype=np.uint8)
    idx = np.zeros((1, 2), dtype=np.uint8)
    blob = build_rle_bmp(idx, pal, bytes([0, 1]), compression=1, bpp=4)
    with pytest.raises(BmpError, match="RLE8 requires"):
        decode_bmp(blob)


def _rle8_claim(width: int, height: int) -> bytes:
    """A tiny RLE8 BMP whose header claims width×height and whose pixel
    data is a lone end-of-bitmap escape."""
    pal = bytes(4 * 256)
    payload = bytes([0, 1])
    pixel_off = 14 + 40 + len(pal)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 8, 1,
                       len(payload), 2835, 2835, 256, 0)
    head = b"BM" + struct.pack("<IHHI", pixel_off + len(payload), 0, 0,
                               pixel_off)
    return head + info + pal + payload


# (2³¹−1)² and one row over the 2²⁸-pixel cap at width 2¹⁴
@pytest.mark.parametrize("width,height", [(2**31 - 1, 2**31 - 1),
                                          (1 << 14, (1 << 14) + 1)])
def test_header_over_pixel_cap_raises_before_allocating(width, height):
    import tracemalloc

    blob = _rle8_claim(width, height)
    tracemalloc.start()
    try:
        with pytest.raises(BmpError, match="pixel cap"):
            decode_bmp(blob)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak
