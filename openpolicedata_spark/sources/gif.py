"""Pure-stdlib/numpy GIF codec (GIF87a/GIF89a, CompuServe spec).

Closes the video-ish half of the multimodal codec gate
(operators/multimodal.py): animated GIF is the one multi-frame format
decodable with nothing beyond the stdlib — LZW is specified in the GIF
grammar itself — so ``sample_frames`` / ``decode_video`` can run on
real container bytes instead of the deterministic fake. Same
replace-the-dependency pattern as sources/png.py / jpeg.py / wav.py.

Coverage:
- GIF87a and GIF89a signatures
- global + per-frame local color tables
- full LZW decode: dynamic code width, clear/end codes, the deferred
  clear-code edge, 4095-entry dictionary cap
- interlaced frames (4-pass row scatter)
- Graphic Control Extension: transparency index and disposal methods
  1 (keep), 2 (restore to background), 3 (restore to previous),
  composited into full RGB frames
- sub-block chaining (255-byte splits); unknown extensions skipped
- malformed input raises ``GifError``

GIF is lossless (palette-indexed), so decode(encode(grid)) is exact —
the q132 oracle round trip pins the ENTIRE path (LZW bit packing,
sub-block framing, palette lookup, compositing) against a DuckDB md5
replay. The LZW inner loops are per-code Python over small test-scale
frames; the compositing/palette steps are vectorized numpy.

``encode_gif`` is the minimal GIF89a writer (global palette, optional
per-frame delays/disposal) used for fixtures and the oracle;
tests/test_gif.py builds its fixtures with an INDEPENDENT spec-literal
encoder, including a different LZW emission strategy.
"""

from __future__ import annotations

import struct

import numpy as np

from openpolicedata_spark.sources.pixels import MAX_PIXELS

__all__ = ["GifError", "decode_gif", "encode_gif", "GIF_SIGNATURES"]

GIF_SIGNATURES = (b"GIF87a", b"GIF89a")


class GifError(ValueError):
    """Malformed or unsupported GIF payload."""


def _read_color_table(data: bytes, pos: int, size_field: int):
    n = 2 << size_field  # 2^(size+1) entries
    end = pos + 3 * n
    if end > len(data):
        raise GifError("truncated color table")
    table = np.frombuffer(data[pos:end], dtype=np.uint8).reshape(n, 3)
    return table, end


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    n = len(data)
    while True:
        if pos >= n:
            raise GifError("truncated sub-block chain")
        size = data[pos]
        pos += 1
        if size == 0:
            return bytes(out), pos
        if pos + size > n:
            raise GifError("truncated sub-block")
        out += data[pos:pos + size]
        pos += size


def _lzw_decode(min_code_size: int, data: bytes, expect: int) -> np.ndarray:
    """GIF-variant LZW → palette index array of length ``expect``.

    The dictionary stores full expansions as ``bytes`` objects, so each
    code emits with ONE bytearray extend and each new entry is one C
    concatenation — no per-pixel Python (the old (prefix, suffix) chain
    walk did a numpy scalar read per output byte; this form measured
    ~5x faster on noise frames, more on compressible ones). Total
    dictionary byte volume between clears is bounded by the expanded
    output, so memory stays O(frame)."""
    if not (2 <= min_code_size <= 11):
        raise GifError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()

    code_size = min_code_size + 1
    table = list(roots)
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                code_size = min_code_size + 1
                table = list(roots)
                prev = None
                continue
            if code == end:
                if len(out) != expect:
                    raise GifError(
                        f"LZW ended early: {len(out)}/{expect} pixels")
                return np.frombuffer(bytes(out), dtype=np.uint8)
            nc = len(table)
            # KwKwK case is code == next_code (needs a previous string);
            # anything beyond that is corrupt
            if code > nc or (code == nc and prev is None):
                raise GifError("corrupt LZW code stream")
            if prev is None:
                if code >= clear:
                    raise GifError("first LZW code must be a literal")
                prev = table[code]
                out += prev
            else:
                if code == nc:       # KwKwK
                    s = prev + prev[:1]
                else:
                    s = table[code]
                out += s
                if nc < 4096:
                    table.append(prev + s[:1])
                    if nc + 1 == (1 << code_size) and code_size < 12:
                        code_size += 1
                prev = s
            if len(out) > expect:
                raise GifError("LZW output exceeds frame size")
    if len(out) != expect:
        raise GifError(f"LZW stream exhausted: {len(out)}/{expect} pixels")
    return np.frombuffer(bytes(out), dtype=np.uint8)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        idx = range(start, h, step)
        for y in idx:
            out[y] = rows[src]
            src += 1
    return out


def decode_gif(data: bytes) -> tuple[list[np.ndarray], list[int]]:
    """Decode GIF bytes → (frames, delays_cs). Each frame is the fully
    composited (H, W, 3) uint8 RGB canvas at that point of the
    animation; delays are GCE hundredths of a second (0 when absent)."""
    if data[:6] not in GIF_SIGNATURES:
        raise GifError("not a GIF: bad signature")
    if len(data) < 13:
        raise GifError("truncated logical screen descriptor")
    width, height = struct.unpack_from("<HH", data, 6)
    packed = data[10]
    bg_index = data[11]
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _read_color_table(data, pos, packed & 0x07)

    if width == 0 or height == 0:
        raise GifError("zero canvas dimension")
    if width * height > MAX_PIXELS:
        raise GifError(f"{width}x{height} exceeds the {MAX_PIXELS}-pixel cap")
    # Background color: equals the canvas fill when the GCT covers
    # bg_index, zeros otherwise (matching the canvas's zero-init).
    if gct is not None and bg_index < len(gct):
        bg_rgb = gct[bg_index].copy()
        bg_fill = True
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)
        bg_fill = False
    # The canvas is allocated LAZILY at the first image descriptor: a
    # junk/adversarial header can declare a canvas up to the cap and
    # then fail on its very first block, and materializing + filling
    # height*width*3 bytes before any block is validated measured 19 s
    # and 7.6 GB for one 120-byte fuzz blob. Every valid GIF reaches an
    # image descriptor, where the identical canvas is built.
    canvas: np.ndarray | None = None

    frames: list[np.ndarray] = []
    delays: list[int] = []
    transparent: int | None = None
    disposal = 0
    delay = 0
    n = len(data)
    while True:
        if pos >= n:
            raise GifError("missing trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= n:
                raise GifError("truncated extension")
            label = data[pos]
            pos += 1
            body, pos = _read_subblocks(data, pos)
            if label == 0xF9:  # Graphic Control Extension
                if len(body) < 4:
                    raise GifError("truncated GCE")
                flags = body[0]
                (delay,) = struct.unpack_from("<H", body, 1)
                transparent = body[3] if flags & 0x01 else None
                disposal = (flags >> 2) & 0x07
            continue
        if block != 0x2C:
            raise GifError(f"unknown block introducer 0x{block:02x}")
        # ---- image descriptor ------------------------------------------
        if pos + 9 > n:
            raise GifError("truncated image descriptor")
        left, top, fw, fh = struct.unpack_from("<HHHH", data, pos)
        iflags = data[pos + 8]
        pos += 9
        if left + fw > width or top + fh > height:
            raise GifError("frame rectangle exceeds canvas")
        table = gct
        if iflags & 0x80:
            table, pos = _read_color_table(data, pos, iflags & 0x07)
        if table is None:
            raise GifError("frame has neither local nor global color table")
        if pos >= n:
            raise GifError("missing LZW minimum code size")
        min_code = data[pos]
        pos += 1
        lzw, pos = _read_subblocks(data, pos)
        idx = _lzw_decode(min_code, lzw, fw * fh).reshape(fh, fw)
        if iflags & 0x40:
            idx = _deinterlace(idx)
        if int(idx.max(initial=0)) >= len(table):
            raise GifError("palette index out of range")

        if canvas is None:
            canvas = np.zeros((height, width, 3), dtype=np.uint8)
            if bg_fill:
                canvas[:, :] = bg_rgb
        prev_canvas = canvas.copy() if disposal == 3 else None
        region = canvas[top:top + fh, left:left + fw]
        rgb = table[idx]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = rgb[mask]
        else:
            region[:, :] = rgb
        frames.append(canvas.copy())
        delays.append(delay)
        # dispose for the NEXT frame
        if disposal == 2:
            canvas[top:top + fh, left:left + fw] = bg_rgb
        elif disposal == 3 and prev_canvas is not None:
            canvas = prev_canvas
        transparent = None
        disposal = 0
        delay = 0
    if not frames:
        raise GifError("GIF contains no frames")
    return frames, delays


# --------------------------------------------------------------------------
# Minimal GIF89a writer (fixtures + the q132 oracle round trip).
# --------------------------------------------------------------------------

def _lzw_encode(min_code_size: int, indices: np.ndarray) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    w = b""
    for v in indices.tolist():
        wk = w + bytes([v])
        if wk in table:
            w = wk
            continue
        put(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # widen AFTER the emit that precedes this insert (giflib
            # timing): the decoder adds its mirror entry on the next
            # code it reads, hitting 2^size at the same bit position
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:  # dictionary full: emit clear and restart
            put(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            code_size = min_code_size + 1
        w = bytes([v])
    if w:
        put(table[w])
    put(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(frames: list[np.ndarray], palette: np.ndarray,
               delays: list[int] | None = None) -> bytes:
    """Write a GIF89a from palette-index frames (each (H, W) uint8) and
    a (N, 3) uint8 palette (N a power of two, 2..256). All frames are
    full-canvas; optional per-frame delays in hundredths of a second."""
    if not frames:
        raise GifError("need at least one frame")
    palette = np.asarray(palette, dtype=np.uint8)
    n_colors = palette.shape[0]
    if n_colors & (n_colors - 1) or not (2 <= n_colors <= 256):
        raise GifError("palette size must be a power of two in [2, 256]")
    size_field = n_colors.bit_length() - 2  # 2^(f+1) = n_colors
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0)
    out += palette.tobytes()
    min_code = max(2, n_colors.bit_length() - 1)
    for fi, frame in enumerate(frames):
        if frame.shape != (h, w):
            raise GifError("all frames must share the canvas size")
        if int(frame.max(initial=0)) >= n_colors:
            raise GifError(
                f"frame {fi} uses index {int(frame.max())} outside the "
                f"{n_colors}-entry palette")
        if delays is not None:
            out += bytes([0x21, 0xF9, 4, 0x04])  # GCE, disposal=1
            out += struct.pack("<H", delays[fi] if fi < len(delays) else 0)
            out += bytes([0, 0])  # no transparency; terminator
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += bytes([min_code])
        lzw = _lzw_encode(min_code, frame.reshape(-1))
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
