"""Pure-stdlib/numpy BMP (Windows DIB) decoder.

Completes the still-image codec set (PNG/JPEG/GIF — sources/png.py,
jpeg.py, gif.py): uncompressed BI_RGB device-independent bitmaps are
the last common stills format publishers attach, and they need nothing
beyond ``struct`` + numpy row reshapes.

Coverage (BITMAPINFOHEADER and the later V4/V5 headers):
- 24-bit BGR and 32-bit BGRX/BGRA (alpha ignored)
- 8/4/1-bit palette images (BGRX color table)
- bottom-up (positive height) and top-down (negative height) rows
- 4-byte row stride padding
- BI_RLE8 / BI_RLE4 run-length decompression (encoded + absolute
  runs, end-of-line/bitmap, delta escapes; skipped pixels show the
  background = palette entry 0, the common renderer behavior)
- BITFIELDS/JPEG/PNG compression raises ``BmpError`` clearly

Everything is one ``np.frombuffer`` + reshape per image — memcpy-bound,
no per-pixel Python anywhere (palette/bit-unpack paths are vectorized
indexing), so decode cost inside mapInPandas batches is trivial.
"""

from __future__ import annotations

import struct

import numpy as np

from openpolicedata_spark.sources.pixels import MAX_PIXELS

__all__ = ["BmpError", "decode_bmp", "BMP_SIGNATURE"]

BMP_SIGNATURE = b"BM"


class BmpError(ValueError):
    """Malformed or unsupported BMP payload."""


def _decode_rle(stream: bytes, width: int, height: int,
                four_bit: bool) -> np.ndarray:
    """BI_RLE8 / BI_RLE4 → (height, width) palette-index grid in STORED
    row order (bottom-up; the caller flips). Escapes: 00 00 = end of
    line, 00 01 = end of bitmap, 00 02 dx dy = position delta; 00 n
    (n>=3) = n absolute pixels (word-aligned); c v (c>=1) = run of c.
    Unwritten pixels stay 0 (the background palette entry)."""
    out = np.zeros((height, width), dtype=np.uint8)
    x = y = 0
    pos = 0
    n = len(stream)
    while True:
        if pos + 2 > n:
            raise BmpError("truncated RLE data")
        count, val = stream[pos], stream[pos + 1]
        pos += 2
        if count:  # encoded run
            if y >= height:
                raise BmpError("RLE run past end of bitmap")
            take = min(count, width - x)
            if four_bit:
                pair = [val >> 4, val & 0x0F]
                for i in range(take):
                    out[y, x + i] = pair[i & 1]
            else:
                out[y, x:x + take] = val
            x += take
            continue
        if val == 0:      # end of line
            x, y = 0, y + 1
            continue
        if val == 1:      # end of bitmap
            return out
        if val == 2:      # delta
            if pos + 2 > n:
                raise BmpError("truncated RLE delta")
            x += stream[pos]
            y += stream[pos + 1]
            pos += 2
            if x > width or y > height:
                raise BmpError("RLE delta past end of bitmap")
            continue
        # absolute mode: `val` literal pixels, padded to a word boundary
        cnt = val
        nbytes = (cnt + 1) // 2 if four_bit else cnt
        nbytes += nbytes & 1
        if pos + nbytes > n:
            raise BmpError("truncated RLE absolute run")
        if y >= height:
            raise BmpError("RLE absolute run past end of bitmap")
        take = min(cnt, width - x)
        for i in range(take):
            b = stream[pos + (i // 2 if four_bit else i)]
            out[y, x + i] = ((b >> 4) if i % 2 == 0 else (b & 0x0F)) \
                if four_bit else b
        x += take
        pos += nbytes


def decode_bmp(data: bytes) -> np.ndarray:
    """Decode BMP bytes → (H, W, 3) uint8 RGB."""
    if data[:2] != BMP_SIGNATURE:
        raise BmpError("not a BMP: bad signature")
    if len(data) < 54:
        raise BmpError("truncated BMP header")
    (pixel_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise BmpError(f"BITMAPCOREHEADER (size {hdr_size}) not supported")
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    (clr_used,) = struct.unpack_from("<I", data, 46)
    if planes != 1:
        raise BmpError(f"planes={planes} (must be 1)")
    if compression not in (0, 1, 2):
        raise BmpError(f"compression {compression} not supported "
                       "(BI_RGB and RLE8/RLE4 only)")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise BmpError("bad dimensions")
    if width * height > MAX_PIXELS:
        raise BmpError(f"{width}x{height} exceeds the {MAX_PIXELS}-pixel cap")
    if bpp not in (1, 4, 8, 24, 32):
        raise BmpError(f"{bpp}-bit BMP not supported")

    palette = None
    if bpp <= 8:
        n_colors = clr_used or (1 << bpp)
        pal_off = 14 + hdr_size
        pal_end = pal_off + 4 * n_colors
        if pal_end > len(data):
            raise BmpError("truncated color table")
        pal = np.frombuffer(data[pal_off:pal_end],
                            dtype=np.uint8).reshape(n_colors, 4)
        palette = pal[:, [2, 1, 0]]  # BGRX → RGB

    if compression:  # RLE: decompress to an index grid, then palette
        if (compression, bpp) not in ((1, 8), (2, 4)):
            raise BmpError(
                f"RLE{8 if compression == 1 else 4} requires "
                f"{8 if compression == 1 else 4}-bit pixels, got {bpp}")
        idx = _decode_rle(data[pixel_off:], width, height,
                          four_bit=(compression == 2))
        if not top_down:
            idx = idx[::-1]
        if int(idx.max(initial=0)) >= len(palette):
            raise BmpError("palette index out of range")
        return np.ascontiguousarray(palette[idx].astype(np.uint8))

    stride = ((width * bpp + 31) // 32) * 4
    need = pixel_off + stride * height
    if need > len(data):
        raise BmpError("truncated pixel data")
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * height,
                         offset=pixel_off).reshape(height, stride)
    if not top_down:
        rows = rows[::-1]

    if bpp == 24:
        img = rows[:, :width * 3].reshape(height, width, 3)[:, :, ::-1]
    elif bpp == 32:
        img = rows[:, :width * 4].reshape(height, width, 4)[:, :, 2::-1]
    elif bpp == 8:
        idx = rows[:, :width]
        if int(idx.max(initial=0)) >= len(palette):
            raise BmpError("palette index out of range")
        img = palette[idx]
    else:  # 4- or 1-bit: unpack bits, then palette-index
        bits = np.unpackbits(rows, axis=1)
        vals = bits.reshape(height, -1, bpp)
        weights = 1 << np.arange(bpp - 1, -1, -1)
        idx = (vals * weights).sum(axis=2)[:, :width]
        if int(idx.max(initial=0)) >= len(palette):
            raise BmpError("palette index out of range")
        img = palette[idx]
    return np.ascontiguousarray(img.astype(np.uint8))
