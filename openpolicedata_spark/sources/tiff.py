"""Pure-stdlib/numpy baseline TIFF decoder (TIFF 6.0).

Completes the stills codec set (PNG/JPEG/GIF/BMP): uncompressed
stripped TIFF is the remaining format public agencies attach (scanner
output, GIS exports), and it needs nothing beyond ``struct`` + numpy.

Coverage (TIFF 6.0 baseline):
- both byte orders (``II`` little-endian, ``MM`` big-endian)
- IFD tag parsing with inline (≤4-byte) and offset-stored values
- Compression 1 (none), 5 (LZW — MSB-first, early code-width change),
  8/32946 (Deflate via zlib), and 32773 (PackBits) over any strip
  layout / RowsPerStrip
- Compression 7 — TIFF-EP "new-style" JPEG-in-TIFF: each strip/tile
  is a JPEG stream decoded by sources/jpeg.py, with abbreviated
  streams sharing the tag-347 JPEGTables prelude (old-style
  compression 6 stays gated)
- PhotometricInterpretation 0/1 (grayscale, both polarities),
  2 (RGB, extra samples e.g. alpha dropped), 3 (palette via ColorMap,
  16-bit entries downscaled to 8), 6 (YCbCr, via the JPEG path)
- BitsPerSample 8 and 16 (16-bit downscales via the high byte to the
  uint8 contract, byte-order aware), plus 1-bit bilevel for
  photometric 0/1
- multi-strip images; only the FIRST IFD (page) is decoded
- tiled layout (§15: TileWidth/TileLength/TileOffsets/TileByteCounts,
  right/bottom edge tiles padded to full tile size and clipped on
  placement)
- planar configuration 2 (per-sample planes, strip or tile chunking:
  the chunk list concatenates plane 0's chunks, then plane 1's, …)

Decoding is ``np.frombuffer`` + reshape per strip/tile — memcpy-bound,
no per-pixel Python (bilevel rows go through vectorized
``unpackbits``).
"""

from __future__ import annotations

import struct

import numpy as np

from openpolicedata_spark.sources.pixels import MAX_PIXELS

__all__ = ["TiffError", "decode_tiff", "TIFF_SIGNATURES"]

TIFF_SIGNATURES = (b"II*\x00", b"MM\x00*")


class TiffError(ValueError):
    """Malformed or unsupported TIFF payload."""


_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
              10: 8, 11: 4, 12: 8}


def _read_values(data: bytes, e: str, typ: int, count: int,
                 raw: bytes) -> list[int]:
    size = _TYPE_SIZE.get(typ)
    if size is None:
        raise TiffError(f"unknown IFD entry type {typ}")
    total = size * count
    if total <= 4:
        buf = raw[:total]
    else:
        (off,) = struct.unpack(f"{e}I", raw)
        if off + total > len(data):
            raise TiffError("IFD value offset out of bounds")
        buf = data[off:off + total]
    if typ in (3, 8):
        return list(struct.unpack(f"{e}{count}H", buf))
    if typ in (4, 9, 11):
        fmt = "I" if typ == 4 else ("i" if typ == 9 else "f")
        return list(struct.unpack(f"{e}{count}{fmt}", buf))
    if typ in (1, 6, 7, 2):
        return list(buf)
    raise TiffError(f"IFD entry type {typ} not supported")


def _unpackbits(raw: bytes, expect: int) -> bytes:
    """TIFF §9 PackBits: n in 0..127 → copy n+1 literals; n in
    -127..-1 → repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    pos = 0
    n = len(raw)
    while pos < n and len(out) < expect:
        c = raw[pos]
        pos += 1
        if c < 128:
            if pos + c + 1 > n:
                raise TiffError("truncated PackBits literal run")
            out += raw[pos:pos + c + 1]
            pos += c + 1
        elif c > 128:
            if pos >= n:
                raise TiffError("truncated PackBits repeat run")
            out += bytes([raw[pos]]) * (257 - c)
            pos += 1
        # c == 128: no-op
    return bytes(out)


def _lzw_decode(raw: bytes, expect: int) -> bytes:
    """TIFF §13 LZW: MSB-first bit packing, 9-bit initial codes,
    Clear=256 / EOI=257, dictionary from 258, and the EARLY code-width
    change (widen when the next entry would be 2^w - 1 — one step
    sooner than GIF)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset() -> None:
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in raw:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                reset()
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                if code >= len(table) or code >= 256:
                    raise TiffError("LZW: first code must be a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]          # KwKwK
            else:
                raise TiffError("corrupt LZW code stream")
            out += entry
            if len(out) > expect:
                raise TiffError("LZW output exceeds strip size")
            if prev is not None:
                table.append(prev + entry[:1])
            # early change: widen when the NEXT code to assign is
            # 2^width - 1
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
            prev = entry
    return bytes(out)


def _decode_jpeg_tiff(data: bytes, tags: dict, one, width: int,
                      height: int, tiled: bool) -> np.ndarray:
    """Compression 7 (TIFF-EP 'new-style' JPEG): every strip/tile is a
    JPEG stream decoded by sources/jpeg.py. Abbreviated streams (SOS
    without tables) splice in the shared tag-347 JPEGTables stream
    (SOI + DQT/DHT + EOI) after their own SOI."""
    from openpolicedata_spark.sources.jpeg import JpegError, decode_jpeg

    jt = tags.get(347)
    tables = bytes(jt) if jt else b""
    if tables and (tables[:2] != b"\xff\xd8" or tables[-2:] != b"\xff\xd9"
                   or len(tables) < 4):
        raise TiffError("malformed JPEGTables stream")

    def decode_chunk(raw: bytes) -> np.ndarray:
        if raw[:2] != b"\xff\xd8":
            raise TiffError("JPEG chunk missing SOI")
        # splice shared tables (if any) between the chunk's SOI and
        # its remaining markers — harmless when the chunk already
        # carries its own tables (later definitions win)
        blob = b"\xff\xd8" + tables[2:-2] + raw[2:] if tables else raw
        try:
            img = decode_jpeg(blob)
        except JpegError as exc:
            raise TiffError(f"bad JPEG chunk: {exc}") from exc
        return img if img.ndim == 3 else img[:, :, None]

    spp = one(277, 1)
    out = np.zeros((height, width, 3 if spp >= 3 else 1),
                   dtype=np.uint8)
    if tiled:
        tw, tl = one(322), one(323)
        offsets, counts = tags.get(324), tags.get(325)
        if not offsets or not counts or len(offsets) != len(counts):
            raise TiffError("missing tile offsets/byte counts")
        if tw == 0 or tl == 0 or tw % 16 or tl % 16:
            raise TiffError("tile size must be a positive multiple of 16")
        across = (width + tw - 1) // tw
        down = (height + tl - 1) // tl
        if len(offsets) != across * down:
            raise TiffError(f"expected {across * down} tiles, "
                            f"IFD lists {len(offsets)}")
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            if off + cnt > len(data):
                raise TiffError("truncated tile data")
            img = decode_chunk(data[off:off + cnt])
            ty, tx = divmod(i, across)
            y0, x0 = ty * tl, tx * tw
            nr = min(tl, height - y0, img.shape[0])
            nc = min(tw, width - x0, img.shape[1])
            out[y0:y0 + nr, x0:x0 + nc] = img[:nr, :nc, :out.shape[2]]
    else:
        offsets, counts = tags.get(273), tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise TiffError("missing strip offsets/byte counts")
        rows_per_strip = one(278, height)
        y = 0
        for off, cnt in zip(offsets, counts):
            if off + cnt > len(data):
                raise TiffError("truncated strip data")
            img = decode_chunk(data[off:off + cnt])
            nr = min(rows_per_strip, height - y, img.shape[0])
            out[y:y + nr, :, :] = img[:nr, :width, :out.shape[2]]
            y += rows_per_strip
        if y < height:
            raise TiffError("strips cover fewer rows than ImageLength")
    return out[:, :, 0] if out.shape[2] == 1 else out


def decode_tiff(data: bytes) -> np.ndarray:
    """Decode the first page of baseline TIFF bytes → uint8 array,
    (H, W) grayscale or (H, W, 3) RGB."""
    if data[:4] not in TIFF_SIGNATURES:
        raise TiffError("not a TIFF: bad signature")
    e = "<" if data[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(f"{e}I", data, 4)
    if ifd_off + 2 > len(data):
        raise TiffError("truncated IFD offset")
    (n_entries,) = struct.unpack_from(f"{e}H", data, ifd_off)
    tags: dict[int, list[int]] = {}
    pos = ifd_off + 2
    if pos + 12 * n_entries > len(data):
        raise TiffError("truncated IFD")
    for _ in range(n_entries):
        tag, typ, count = struct.unpack_from(f"{e}HHI", data, pos)
        tags[tag] = _read_values(data, e, typ, count,
                                 data[pos + 8:pos + 12])
        pos += 12

    def one(tag: int, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise TiffError(f"required TIFF tag {tag} missing")
            return default
        return v[0]

    width = one(256)
    height = one(257)
    if width == 0 or height == 0 or width * height > MAX_PIXELS:
        raise TiffError("bad dimensions")
    compression = one(259, 1)
    if compression not in (1, 5, 7, 8, 32773, 32946):
        raise TiffError(f"compression {compression} not supported "
                        "(uncompressed, LZW, JPEG, Deflate, PackBits)")
    planar = one(284, 1)
    if planar not in (1, 2):
        raise TiffError(f"planar configuration {planar} not supported")
    photometric = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [1 if photometric in (0, 1) else 8])
    if len(set(bits)) != 1:
        raise TiffError("mixed bits-per-sample not supported")
    bps = bits[0]
    tiled = 322 in tags or 323 in tags
    if compression == 7:
        # TIFF-EP JPEG-in-TIFF: chunks are JPEG streams (optionally
        # abbreviated, sharing tag-347 JPEGTables); the JPEG layer owns
        # sample depth and YCbCr conversion
        if planar != 1:
            raise TiffError("JPEG-in-TIFF with planar configuration 2 "
                            "not supported")
        if photometric not in (1, 2, 6):
            raise TiffError(f"JPEG-in-TIFF photometric {photometric} "
                            "not supported")
        return _decode_jpeg_tiff(data, tags, one, width, height, tiled)
    bilevel = bps == 1 and photometric in (0, 1) and spp == 1
    if not bilevel and bps not in (8, 16):
        raise TiffError(f"{bps}-bit samples not supported "
                        "(8/16-bit, or 1-bit bilevel)")
    # samples carried per pixel by one chunk (strip or tile): planar 2
    # stores each sample in its own chunk sequence
    csamp = 1 if planar == 2 else spp
    planes = spp if planar == 2 else 1
    sb = 1 if bilevel else bps // 8   # bytes per sample (1 or 2)

    def _decompress(raw: bytes, need: int) -> bytes:
        if compression == 32773:
            raw = _unpackbits(raw, need)
        elif compression == 5:
            raw = _lzw_decode(raw, need)
        elif compression in (8, 32946):  # Deflate (new + legacy tag)
            import zlib

            try:
                raw = zlib.decompress(raw)
            except zlib.error as exc:
                raise TiffError(f"bad Deflate chunk: {exc}") from exc
        if len(raw) < need:
            raise TiffError("truncated chunk data")
        return raw

    # decode into (planes, H, W*csamp) byte rows; bilevel unpacks later
    if tiled:
        tw = one(322)
        tl = one(323)
        offsets = tags.get(324)
        counts = tags.get(325)
        if not offsets or not counts or len(offsets) != len(counts):
            raise TiffError("missing tile offsets/byte counts")
        if tw == 0 or tl == 0 or tw % 16 or tl % 16:
            raise TiffError("tile size must be a positive multiple of 16")
        across = (width + tw - 1) // tw
        down = (height + tl - 1) // tl
        if len(offsets) != across * down * planes:
            raise TiffError(
                f"expected {across * down * planes} tiles, "
                f"IFD lists {len(offsets)}")
        tile_row_bytes = (tw + 7) // 8 if bilevel else tw * csamp * sb
        need = tl * tile_row_bytes
        if bilevel:
            px = np.empty((1, height, width), dtype=np.uint8)
        else:
            px = np.empty((planes, height, width * csamp * sb),
                          dtype=np.uint8)
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            if off + cnt > len(data):
                raise TiffError("truncated tile data")
            p, t = divmod(i, across * down)
            ty, tx = divmod(t, across)
            y0, x0 = ty * tl, tx * tw
            nr = min(tl, height - y0)
            nc = min(tw, width - x0)
            tile = np.frombuffer(_decompress(data[off:off + cnt], need),
                                 dtype=np.uint8,
                                 count=need).reshape(tl, tile_row_bytes)
            if bilevel:
                tpx = np.unpackbits(tile, axis=1)[:nr, :nc]
                px[0, y0:y0 + nr, x0:x0 + nc] = tpx
            else:
                px[p, y0:y0 + nr,
                   x0 * csamp * sb:(x0 + nc) * csamp * sb] = \
                    tile[:nr, :nc * csamp * sb]
        if bilevel:
            bitsarr = px[0]  # tiles unpacked to 0/1 pixels on placement
    else:
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise TiffError("missing strip offsets/byte counts")
        rows_per_strip = one(278, height)
        per_plane = (height + rows_per_strip - 1) // rows_per_strip
        if len(offsets) != per_plane * planes:
            raise TiffError(
                f"expected {per_plane * planes} strips, "
                f"IFD lists {len(offsets)}")
        row_bytes = (width + 7) // 8 if bilevel else width * csamp * sb
        px = np.empty((planes, height, row_bytes), dtype=np.uint8)
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            if off + cnt > len(data):
                raise TiffError("truncated strip data")
            p, s = divmod(i, per_plane)
            y = s * rows_per_strip
            n_rows = min(rows_per_strip, height - y)
            need = n_rows * row_bytes
            raw = _decompress(data[off:off + cnt], need)
            px[p, y:y + n_rows] = np.frombuffer(
                raw, dtype=np.uint8, count=need).reshape(n_rows, row_bytes)
        if bilevel:
            bitsarr = np.unpackbits(px[0], axis=1)[:, :width]

    if bilevel:
        img = (bitsarr * 255).astype(np.uint8)
        if photometric == 0:  # WhiteIsZero: 0 = white
            img = 255 - img
        return img
    if sb == 2:
        # 16-bit samples: byte-order-aware view, then the standard
        # high-byte downscale to the uint8 contract
        wide = px.reshape(planes * height, -1).tobytes()
        arr = np.frombuffer(wide, dtype=f"{e}u2").reshape(
            planes, height, width * csamp)
        px = (arr >> 8).astype(np.uint8)
    if photometric in (0, 1):
        if spp != 1:
            raise TiffError("grayscale with extra samples not supported")
        img = px[0].reshape(height, width)
        return (255 - img) if photometric == 0 else img.copy()
    if photometric == 2:
        if spp < 3:
            raise TiffError("RGB needs SamplesPerPixel >= 3")
        if planar == 2:
            return np.stack([px[p].reshape(height, width)
                             for p in range(3)], axis=-1)
        rgb = px[0].reshape(height, width, spp)
        return np.ascontiguousarray(rgb[:, :, :3])  # drop alpha/extras
    if photometric == 3:
        if bps != 8:
            raise TiffError("palette images require 8-bit indices")
        cmap = tags.get(320)
        if not cmap or len(cmap) != 3 * (1 << bps):
            raise TiffError("palette image without a full ColorMap")
        n = 1 << bps
        # ColorMap entries are 16-bit [0, 65535]: downscale via the
        # standard high-byte transform
        pal = (np.array(cmap, dtype=np.uint32).reshape(3, n).T
               >> 8).astype(np.uint8)
        idx = px[0].reshape(height, width)
        return pal[idx]
    raise TiffError(f"photometric interpretation {photometric} "
                    "not supported")
