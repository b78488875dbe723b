"""Baseline JPEG decoder tests — the encoder below is written HERE,
forward from ITU-T T.81 spec literals (A.3.3 FDCT, C.2 canonical code
assignment, F.1.2 entropy coding, B.2 marker syntax), independent of
sources/jpeg.py (the same construction discipline as test_png.py /
test_xls_rc4.py). It even uses DIFFERENT Huffman tables (all emitted
symbols at one code length) so nothing but the file format is shared.
Reference analog: openpolicedata loaders parse real file bytes end to
end (data_loaders.py)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from openpolicedata_spark.sources.jpeg import (
    JpegError,
    decode_jpeg,
    encode_jpeg,
)

rng = np.random.default_rng(20260814)

# Zigzag written as the spec's literal 8x8 index table (T.81 Figure A.6),
# NOT generated — so a generation bug in the codec can't be mirrored here.
_ZZ_TABLE = [
    [0, 1, 5, 6, 14, 15, 27, 28],
    [2, 4, 7, 13, 16, 26, 29, 42],
    [3, 8, 12, 17, 25, 30, 41, 43],
    [9, 11, 18, 24, 31, 40, 44, 53],
    [10, 19, 23, 32, 39, 45, 52, 54],
    [20, 22, 33, 38, 46, 51, 55, 60],
    [21, 34, 37, 47, 50, 56, 59, 61],
    [35, 36, 48, 49, 57, 58, 62, 63],
]
# order[k] = (row, col) of the k-th zigzag coefficient
_ZZ_ORDER = [None] * 64
for _r in range(8):
    for _c in range(8):
        _ZZ_ORDER[_ZZ_TABLE[_r][_c]] = (_r, _c)


def spec_fdct(block: np.ndarray) -> np.ndarray:
    """T.81 A.3.3 verbatim: S[v][u] = 1/4 C(u) C(v) sum_x sum_y s[y][x]
    cos((2x+1)u pi/16) cos((2y+1)v pi/16)."""
    out = np.zeros((8, 8))
    for v in range(8):
        for u in range(8):
            cu = 1 / math.sqrt(2) if u == 0 else 1.0
            cv = 1 / math.sqrt(2) if v == 0 else 1.0
            acc = 0.0
            for y in range(8):
                for x in range(8):
                    acc += (block[y][x]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16))
            out[v][u] = 0.25 * cu * cv * acc
    return out


class Bits:
    def __init__(self):
        self.buf = bytearray()
        self.cur = 0
        self.n = 0

    def put(self, val: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.cur = (self.cur << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.cur)
                if self.cur == 0xFF:
                    self.buf.append(0x00)  # B.1.1.5 stuffing
                self.cur = 0
                self.n = 0

    def pad_align(self) -> None:
        while self.n:
            self.put(1, 1)  # F.1.2.3: pad with 1-bits


def make_table(symbols: list[int]) -> tuple[bytes, bytes, dict]:
    """All symbols at code length 9 (valid as long as <511 codes and the
    all-ones prefix stays reserved) — deliberately unlike Annex K."""
    syms = sorted(set(symbols))
    assert len(syms) < 500
    counts = bytearray(16)
    counts[8] = len(syms)  # length 9
    enc = {}
    code = 0
    for s in syms:
        enc[s] = (code, 9)
        code += 1
    return bytes(counts), bytes(syms), enc


def mag_cat(v: int) -> int:
    return abs(v).bit_length()


def mag_bits(v: int, s: int) -> int:
    return v if v >= 0 else v + (1 << s) - 1


def encode_component_block(bits: Bits, zz: list[int], pred: int,
                           dc_enc, ac_enc) -> int:
    diff = zz[0] - pred
    s = mag_cat(diff)
    bits.put(*dc_enc[s])
    if s:
        bits.put(mag_bits(diff, s), s)
    run = 0
    nz = [k for k in range(1, 64) if zz[k]]
    last = nz[-1] if nz else 0
    k = 1
    while k <= last:
        if zz[k] == 0:
            run += 1
            k += 1
            continue
        while run > 15:
            bits.put(*ac_enc[0xF0])
            run -= 16
        s = mag_cat(zz[k])
        bits.put(*ac_enc[(run << 4) | s])
        bits.put(mag_bits(zz[k], s), s)
        run = 0
        k += 1
    if last < 63:
        bits.put(*ac_enc[0x00])
    return zz[0]


def spec_encode(planes: list[np.ndarray], width: int, height: int,
                sampling: list[tuple[int, int]] | None = None,
                quant: np.ndarray | None = None,
                dri: int = 0, dqt16: bool = False) -> bytes:
    """Forward baseline encoder from T.81 spec literals. `planes` are
    already-subsampled component planes (Y or Y,Cb,Cr)."""
    ncomp = len(planes)
    sampling = sampling or [(1, 1)] * ncomp
    if quant is None:
        quant = np.ones((8, 8), dtype=int)
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)

    # quantized zigzag blocks per component, padded to MCU grid
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    comp_blocks = []
    for ci, plane in enumerate(planes):
        h, v = sampling[ci]
        bx, by = mcux * h, mcuy * v
        padded = np.full((by * 8, bx * 8), 128.0)
        padded[:plane.shape[0], :plane.shape[1]] = plane
        blocks = {}
        for r in range(by):
            for c in range(bx):
                blk = padded[r * 8:r * 8 + 8, c * 8:c * 8 + 8] - 128.0
                spec = spec_fdct(blk)
                q = np.rint(spec / quant).astype(int)
                blocks[(r, c)] = [int(q[rr][cc]) for rr, cc in _ZZ_ORDER]
        comp_blocks.append(blocks)

    # one shared DC + AC table over every symbol we will emit
    dc_syms, ac_syms = set(), set()
    for ci in range(ncomp):
        pred = 0
        order = []
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            h, v = sampling[ci]
            for r in range(v):
                for c in range(h):
                    order.append((my * v + r, mx * h + c))
        if dri:
            # predictors reset each interval — recompute symbol set
            pred = 0
            for i, rc in enumerate(order):
                if i and (i // (sampling[ci][0] * sampling[ci][1])) \
                        % max(dri, 1) == 0:
                    pass  # symbol superset below covers resets anyway
        pred = 0
        for rc in order:
            zz = comp_blocks[ci][rc]
            dc_syms.add(mag_cat(zz[0] - pred))
            dc_syms.add(mag_cat(zz[0]))  # restart-reset variant
            pred = zz[0]
            run = 0
            nz = [k for k in range(1, 64) if zz[k]]
            last = nz[-1] if nz else 0
            for k in range(1, last + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_syms.add(0xF0)
                    run -= 16
                ac_syms.add((run << 4) | mag_cat(zz[k]))
                run = 0
            ac_syms.add(0x00)
    dc_counts, dc_vals, dc_enc = make_table(sorted(dc_syms))
    ac_counts, ac_vals, ac_enc = make_table(sorted(ac_syms))

    out = bytearray(b"\xff\xd8")
    # APP0 JFIF (decoder must skip it)
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    # DQT
    zzq = [int(quant[r][c]) for r, c in _ZZ_ORDER]
    if dqt16:
        out += b"\xff\xdb" + struct.pack(">H", 3 + 128) + b"\x10" \
            + b"".join(struct.pack(">H", q) for q in zzq)
    else:
        out += b"\xff\xdb" + struct.pack(">H", 3 + 64) + b"\x00" \
            + bytes(zzq)
    # SOF0
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for ci in range(ncomp):
        h, v = sampling[ci]
        sof += struct.pack(">BBB", ci + 1, (h << 4) | v, 0)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT (two tables in ONE segment — exercises the multi-table loop)
    dht = bytes([0x00]) + dc_counts + dc_vals \
        + bytes([0x10]) + ac_counts + ac_vals
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    # SOS
    sos = bytes([ncomp]) + b"".join(
        struct.pack(">BB", ci + 1, 0x00) for ci in range(ncomp)) \
        + bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    # entropy-coded data, MCU-interleaved
    bits = Bits()
    preds = [0] * ncomp
    rst = 0
    for m in range(mcux * mcuy):
        if dri and m and m % dri == 0:
            bits.pad_align()
            out += bits.buf
            bits = Bits()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) & 7
            preds = [0] * ncomp
        my, mx = divmod(m, mcux)
        for ci in range(ncomp):
            h, v = sampling[ci]
            for r in range(v):
                for c in range(h):
                    zz = comp_blocks[ci][(my * v + r, mx * h + c)]
                    preds[ci] = encode_component_block(
                        bits, zz, preds[ci], dc_enc, ac_enc)
    bits.pad_align()
    out += bits.buf
    out += b"\xff\xd9"
    return bytes(out)


def box_down(plane: np.ndarray, fy: int, fx: int) -> np.ndarray:
    h, w = plane.shape
    return plane.reshape(h // fy, fy, w // fx, fx).mean(axis=(1, 3))


def ycbcr_to_rgb_ref(y, cb, cr):
    """JFIF color transform, computed here from the spec formula."""
    y = y.astype(float)
    cb = cb.astype(float) - 128
    cr = cr.astype(float) - 128
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def flat_block_plane(h: int, w: int, seed: int) -> np.ndarray:
    """Every 8x8 tile constant → DC-only spectra → bit-exact round trip."""
    r = np.random.default_rng(seed)
    tiles = r.integers(0, 256, size=(-(-h // 8), -(-w // 8)))
    return tiles.repeat(8, axis=0).repeat(8, axis=1)[:h, :w].astype(
        np.uint8)


# ------------------------------------------------------------------ tests

def test_single_flat_block_hand_computed():
    """Spec-literal pin: a flat 8x8 gray block decodes to exactly
    round(S00 * Q / 8) + 128 (IDCT of a DC-only spectrum is S00/8)."""
    img = np.full((8, 8), 200, dtype=np.uint8)
    data = spec_encode([img.astype(float)], 8, 8)
    out = decode_jpeg(data)
    assert out.shape == (8, 8)
    # S00 = 8 * (200 - 128) = 576 exactly; 576/8 + 128 = 200
    assert np.array_equal(out, img)


def test_gray_roundtrip_unit_quant_tolerance():
    img = rng.integers(0, 256, size=(32, 40), dtype=np.uint8)
    out = decode_jpeg(spec_encode([img.astype(float)], 40, 32))
    assert out.shape == (32, 40)
    diff = np.abs(out.astype(int) - img.astype(int))
    assert diff.max() <= 2 and diff.mean() < 0.6


def test_gray_flat_blocks_bit_exact():
    img = flat_block_plane(24, 32, seed=7)
    out = decode_jpeg(spec_encode([img.astype(float)], 32, 24))
    assert np.array_equal(out, img)


def test_odd_dimensions_cropped():
    img = rng.integers(0, 256, size=(13, 10), dtype=np.uint8)
    out = decode_jpeg(spec_encode([img.astype(float)], 10, 13))
    assert out.shape == (13, 10)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_color_444_flat_blocks_exact_color_transform():
    y = flat_block_plane(16, 16, 1).astype(float)
    cb = flat_block_plane(16, 16, 2).astype(float)
    cr = flat_block_plane(16, 16, 3).astype(float)
    out = decode_jpeg(spec_encode([y, cb, cr], 16, 16))
    assert out.shape == (16, 16, 3)
    assert np.array_equal(out, ycbcr_to_rgb_ref(y, cb, cr))


def test_color_420_subsampled():
    """4:2:0: chroma flat per 16x16 MCU, luma flat per 8x8 → exact."""
    y = flat_block_plane(32, 32, 4).astype(float)
    cb_full = flat_block_plane(2, 2, 5).repeat(16, 0).repeat(16, 1) \
        .astype(float)
    cr_full = flat_block_plane(2, 2, 6).repeat(16, 0).repeat(16, 1) \
        .astype(float)
    data = spec_encode(
        [y, box_down(cb_full, 2, 2), box_down(cr_full, 2, 2)],
        32, 32, sampling=[(2, 2), (1, 1), (1, 1)])
    out = decode_jpeg(data)
    assert out.shape == (32, 32, 3)
    assert np.array_equal(out, ycbcr_to_rgb_ref(y, cb_full, cr_full))


def test_422_subsampling():
    y = flat_block_plane(16, 32, 8).astype(float)
    cb_full = flat_block_plane(2, 2, 9).repeat(8, 0).repeat(16, 1) \
        .astype(float)
    cr_full = np.full((16, 32), 128.0)
    data = spec_encode(
        [y, box_down(cb_full, 1, 2), box_down(cr_full, 1, 2)],
        32, 16, sampling=[(2, 1), (1, 1), (1, 1)])
    out = decode_jpeg(data)
    assert np.array_equal(out, ycbcr_to_rgb_ref(y, cb_full, cr_full))


def test_restart_intervals():
    img = flat_block_plane(16, 80, 10)  # 20 MCUs, restart every 3
    out = decode_jpeg(spec_encode([img.astype(float)], 80, 16, dri=3))
    assert np.array_equal(out, img)


def test_restart_intervals_wrap_past_rst7():
    img = flat_block_plane(8, 8 * 30, 11)  # 30 MCUs, DRI 1 → RST wraps
    out = decode_jpeg(spec_encode([img.astype(float)], 8 * 30, 8, dri=1))
    assert np.array_equal(out, img)


def test_16bit_dqt():
    img = np.full((8, 8), 200, dtype=np.uint8)
    q = np.ones((8, 8), dtype=int)
    q[0][0] = 300  # needs 16-bit precision
    data = spec_encode([img.astype(float)], 8, 8, quant=q, dqt16=True)
    out = decode_jpeg(data)
    # S00 = 8*(200-128) = 576; 576/300 = 1.92 -> coef 2; 2*300/8 = 75
    # exactly (no rounding tie); 75 + 128 = 203
    assert np.array_equal(out, np.full((8, 8), 203, dtype=np.uint8))


def test_nonuniform_quant_roundtrip():
    # Annex K.1 luminance table (spec literal) at "quality 100"-ish use
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    q = np.array([
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99]])
    out = decode_jpeg(spec_encode([img.astype(float)], 16, 16, quant=q))
    # lossy: just bounded error and no structural failure
    assert out.shape == (16, 16)
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 30


def test_byte_stuffing_roundtrip():
    """An image engineered to emit 0xFF entropy bytes (dense random data
    makes them statistically certain across 100 blocks)."""
    img = rng.integers(0, 256, size=(40, 160), dtype=np.uint8)
    data = spec_encode([img.astype(float)], 160, 40)
    assert b"\xff\x00" in data  # stuffing actually present
    out = decode_jpeg(data)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


# ------------------------------------------------ in-repo encoder parity

def test_encode_jpeg_flat_blocks_bit_exact_gray():
    img = flat_block_plane(24, 24, 13)
    assert np.array_equal(decode_jpeg(encode_jpeg(img)), img)


def test_encode_jpeg_random_gray_tolerance():
    img = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_encode_jpeg_rgb_roundtrip():
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == (16, 16, 3)
    # color transform is lossy (subsample-free, so just rounding)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 6


def test_encoders_cross_validate():
    """The repo encoder's bytes and the spec encoder's bytes decode to
    identical pixels on a flat-block image (both exact)."""
    img = flat_block_plane(16, 16, 14)
    a = decode_jpeg(encode_jpeg(img))
    b = decode_jpeg(spec_encode([img.astype(float)], 16, 16))
    assert np.array_equal(a, b) and np.array_equal(a, img)


# -------------------------------------------------------------- failures

def test_not_a_jpeg():
    with pytest.raises(JpegError, match="SOI"):
        decode_jpeg(b"\x89PNG\r\n\x1a\nrest")


def test_sof2_with_sequential_scan_shape_raises():
    """SOF2 demands progressive scan headers: a full 0-63 'scan' under
    a progressive frame is malformed (a DC scan must have Se=0)."""
    img = flat_block_plane(8, 8, 15)
    data = bytearray(spec_encode([img.astype(float)], 8, 8))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2
    with pytest.raises(JpegError, match="Se=0"):
        decode_jpeg(bytes(data))


def test_12bit_precision_raises():
    img = flat_block_plane(8, 8, 16)
    data = bytearray(spec_encode([img.astype(float)], 8, 8))
    i = data.find(b"\xff\xc0")
    data[i + 4] = 12  # precision byte
    with pytest.raises(JpegError, match="precision"):
        decode_jpeg(bytes(data))


def test_truncation_raises_jpeg_error_everywhere():
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    data = spec_encode([img.astype(float)], 16, 16)
    for cut in range(2, len(data), 7):
        try:
            decode_jpeg(data[:cut])
        except JpegError:
            pass  # the documented contract
        # success is fine too (cut inside trailing EOI)


def test_junk_bytes_raise_jpeg_error():
    for seed in range(30):
        r = np.random.default_rng(seed)
        blob = b"\xff\xd8" + bytes(r.integers(0, 256, size=200,
                                              dtype=np.uint8))
        try:
            decode_jpeg(blob)
        except JpegError:
            pass


def test_missing_sos_raises():
    with pytest.raises(JpegError, match="no SOS"):
        decode_jpeg(b"\xff\xd8\xff\xd9")


# (2¹⁶−1)² and one row over the 2²⁸-pixel cap at width 2¹⁴
@pytest.mark.parametrize("width,height", [(65535, 65535),
                                          (1 << 14, (1 << 14) + 1)])
def test_header_over_pixel_cap_raises_before_allocating(width, height):
    """SOF claims past the cap, then an SOS: no coefficient blocks."""
    import tracemalloc

    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    blob = (b"\xff\xd8"
            + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
            + b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
            + b"\x00" * 16 + b"\xff\xd9")
    tracemalloc.start()
    try:
        with pytest.raises(JpegError, match="pixel cap"):
            decode_jpeg(blob)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak


# -------------------------------------------------- decode_image dispatch

def test_decode_image_magic_dispatch_jpeg():
    from openpolicedata_spark.operators.multimodal import decode_image

    img = flat_block_plane(16, 16, 17)
    out = decode_image(encode_jpeg(img), "image/jpeg")
    assert out.shape == (16, 16, 3)  # gray promoted to RGB
    assert np.array_equal(out[..., 0], img)
    rgb = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    out = decode_image(encode_jpeg(rgb), "mislabeled/png")  # magic wins
    assert out.shape == (8, 8, 3)


def test_empty_sos_body_raises_jpeg_error():
    img = flat_block_plane(8, 8, 18)
    data = bytearray(spec_encode([img.astype(float)], 8, 8))
    i = data.find(b"\xff\xda")
    # replace the SOS segment with a zero-payload one (length=2)
    out = bytes(data[:i]) + b"\xff\xda\x00\x02" + bytes(data[i:])[2:]
    with pytest.raises(JpegError, match="truncated SOS"):
        decode_jpeg(out)


# ================================================== progressive (Annex G)
# Forward progressive encoder from T.81 Annex G literals, independent of
# sources/jpeg.py encode_jpeg_progressive: different Huffman code
# assignment (make_table's sorted 9-bit codes), SPLIT spectral bands
# (1-5 then 6-63), a THREE-level DC successive approximation (Al=2→1→0),
# and cross-block EOB runs carried across the band. G.1.2.1: DC first
# sends diff-coded (DC >> Al), DC refine one raw low bit per block.
# G.1.2.2: AC first run-length-codes (|v| >> Al, re-signed) with EOBn =
# (1 << n) + ext-bits block runs. G.1.2.3: AC refine emits one
# correction bit per already-nonzero coefficient crossed, newly-nonzero
# values at magnitude 1 with a sign bit.

def _prog_tables():
    dc_counts, dc_vals, dc_enc = make_table(list(range(12)))
    ac_all = sorted(set(
        [r << 4 for r in range(15)] + [0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]))
    ac_counts, ac_vals, ac_enc = make_table(ac_all)
    return (dc_counts, dc_vals, dc_enc), (ac_counts, ac_vals, ac_enc)


def spec_encode_progressive(planes, width, height, sampling=None,
                            quant=None, dc_als=(2, 1, 0),
                            ac_bands=((1, 5), (6, 63))) -> bytes:
    """T.81 Annex G forward encoder: interleaved DC scans over the MCU
    grid, per-component AC scans over the component's OWN block grid
    (G.1: non-interleaved scans are not MCU-padded)."""
    ncomp = len(planes)
    sampling = sampling or [(1, 1)] * ncomp
    if quant is None:
        quant = np.ones((8, 8), dtype=int)
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    comp_blocks = []
    for ci, plane in enumerate(planes):
        h, v = sampling[ci]
        bx, by = mcux * h, mcuy * v
        padded = np.full((by * 8, bx * 8), 128.0)
        padded[:plane.shape[0], :plane.shape[1]] = plane
        blocks = {}
        for r in range(by):
            for c in range(bx):
                blk = padded[r * 8:r * 8 + 8, c * 8:c * 8 + 8] - 128.0
                q = np.rint(spec_fdct(blk) / quant).astype(int)
                blocks[(r, c)] = [int(q[rr][cc]) for rr, cc in _ZZ_ORDER]
        comp_blocks.append(blocks)

    (dc_counts, dc_vals, dc_enc), (ac_counts, ac_vals, ac_enc) = \
        _prog_tables()

    out = bytearray(b"\xff\xd8")
    zzq = [int(quant[r][c]) for r, c in _ZZ_ORDER]
    out += b"\xff\xdb" + struct.pack(">H", 3 + 64) + b"\x00" + bytes(zzq)
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for ci in range(ncomp):
        h, v = sampling[ci]
        sof += struct.pack(">BBB", ci + 1, (h << 4) | v, 0)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    dht = bytes([0x00]) + dc_counts + dc_vals \
        + bytes([0x10]) + ac_counts + ac_vals
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht

    def sos_hdr(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)]) + b"".join(
            struct.pack(">BB", cid, 0x00) for cid in comp_ids)
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    mcu_order = []
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci in range(ncomp):
            h, v = sampling[ci]
            for r in range(v):
                for c in range(h):
                    mcu_order.append((ci, (my * v + r, mx * h + c)))

    # ---- DC scans: first at dc_als[0], then one refine per later level
    out += sos_hdr(list(range(1, ncomp + 1)), 0, 0, 0, dc_als[0])
    bits = Bits()
    preds = [0] * ncomp
    for ci, rc in mcu_order:
        v = comp_blocks[ci][rc][0] >> dc_als[0]
        diff = v - preds[ci]
        preds[ci] = v
        s = mag_cat(diff)
        bits.put(*dc_enc[s])
        if s:
            bits.put(mag_bits(diff, s), s)
    bits.pad_align()
    out += bits.buf
    for ah, al in zip(dc_als, dc_als[1:]):
        out += sos_hdr(list(range(1, ncomp + 1)), 0, 0, ah, al)
        bits = Bits()
        for ci, rc in mcu_order:
            bits.put((comp_blocks[ci][rc][0] >> al) & 1, 1)
        bits.pad_align()
        out += bits.buf

    # ---- AC scans: per component, split bands, first then refine
    for ss, se in ac_bands:
        for ci in range(ncomp):
            h, v = sampling[ci]
            cw = -(-width * h // hmax)
            ch = -(-height * v // vmax)
            nbx, nby = -(-cw // 8), -(-ch // 8)
            grid = [(r, c) for r in range(nby) for c in range(nbx)]

            # first (Al=1)
            out += sos_hdr([ci + 1], ss, se, 0, 1)
            bits = Bits()
            eobrun = 0

            def flush_eob(bits):
                nonlocal eobrun
                if eobrun:
                    n = eobrun.bit_length() - 1
                    bits.put(*ac_enc[n << 4])
                    if n:
                        bits.put(eobrun - (1 << n), n)
                    eobrun = 0

            for rc in grid:
                zz = comp_blocks[ci][rc]
                band = [(k, abs(zz[k]) >> 1, zz[k] > 0)
                        for k in range(ss, se + 1)]
                nz = [k for k, t, _ in band if t]
                if not nz:
                    eobrun += 1
                    continue
                flush_eob(bits)
                run = 0
                for k, t, pos in band:
                    if k > nz[-1]:
                        break
                    if t == 0:
                        run += 1
                        continue
                    while run > 15:
                        bits.put(*ac_enc[0xF0])
                        run -= 16
                    s = mag_cat(t)
                    bits.put(*ac_enc[(run << 4) | s])
                    bits.put(mag_bits(t if pos else -t, s), s)
                    run = 0
                if nz[-1] < se:
                    eobrun += 1
            flush_eob(bits)
            bits.pad_align()
            out += bits.buf

            # refine (Ah=1, Al=0): per-block flush with buffered
            # correction bits (G.1.2.3)
            out += sos_hdr([ci + 1], ss, se, 1, 0)
            bits = Bits()
            for rc in grid:
                zz = comp_blocks[ci][rc]
                newly = [k for k in range(ss, se + 1) if abs(zz[k]) == 1]
                eob = newly[-1] if newly else 0
                run = 0
                corr = []
                for k in range(ss, se + 1):
                    a = abs(zz[k])
                    if a == 0:
                        run += 1
                        continue
                    while run > 15 and k <= eob:
                        bits.put(*ac_enc[0xF0])
                        run -= 16
                        for b in corr:
                            bits.put(b, 1)
                        corr = []
                    if a > 1:
                        corr.append(a & 1)
                        continue
                    bits.put(*ac_enc[(run << 4) | 1])
                    bits.put(1 if zz[k] > 0 else 0, 1)
                    for b in corr:
                        bits.put(b, 1)
                    corr = []
                    run = 0
                if run or corr:
                    bits.put(*ac_enc[0x00])
                    for b in corr:
                        bits.put(b, 1)
            bits.pad_align()
            out += bits.buf

    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_flat_blocks_bit_exact():
    img = flat_block_plane(24, 16, 40)
    out = decode_jpeg(spec_encode_progressive([img.astype(float)], 16, 24))
    assert np.array_equal(out, img)


def test_progressive_equals_sequential_decode_gray():
    """Same coefficients through the Annex G scan script must decode to
    exactly the pixels of the Annex F (sequential) script."""
    for seed in (1, 2, 3):
        r = np.random.default_rng(seed)
        h, w = int(r.integers(8, 40)), int(r.integers(8, 40))
        img = r.integers(0, 256, size=(h, w)).astype(float)
        seq = decode_jpeg(spec_encode([img], w, h))
        prog = decode_jpeg(spec_encode_progressive([img], w, h))
        assert np.array_equal(seq, prog), (seed, h, w)


def test_progressive_color_420_non_interleaved_grid():
    """4:2:0 color, width chosen so the luma's OWN block grid (3 wide)
    differs from its MCU-padded grid (4 wide) — a decoder that walks
    non-interleaved AC scans over the padded grid desyncs here."""
    r = np.random.default_rng(7)
    h, w = 24, 24
    rgb = r.integers(0, 256, size=(h, w, 3)).astype(float)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] \
        + 0.5 * rgb[..., 2] + 128
    cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] \
        - 0.081312 * rgb[..., 2] + 128
    planes = [y, box_down(cb, 2, 2), box_down(cr, 2, 2)]
    sampling = [(2, 2), (1, 1), (1, 1)]
    seq = decode_jpeg(spec_encode(planes, w, h, sampling=sampling))
    prog = decode_jpeg(
        spec_encode_progressive(planes, w, h, sampling=sampling))
    assert np.array_equal(seq, prog)


def test_progressive_eob_runs_across_blocks():
    """A mostly-flat image makes most blocks DC-only: every AC band is
    one long cross-block EOBn run with extension bits."""
    img = np.full((64, 64), 77.0)
    img[0:8, 0:8] = np.arange(64).reshape(8, 8)  # one busy block
    blob = spec_encode_progressive([img], 64, 64)
    seq = decode_jpeg(spec_encode([img], 64, 64))
    assert np.array_equal(decode_jpeg(blob), seq)


def test_progressive_quantized_history_bits():
    """quant=3 forces multi-bit AC magnitudes, so refinement scans carry
    correction bits for already-nonzero history coefficients."""
    q = np.full((8, 8), 3, dtype=int)
    r = np.random.default_rng(9)
    img = r.integers(0, 256, size=(24, 17)).astype(float)
    seq = decode_jpeg(spec_encode([img], 17, 24, quant=q))
    prog = decode_jpeg(spec_encode_progressive([img], 17, 24, quant=q))
    assert np.array_equal(seq, prog)


def test_repo_progressive_encoder_cross_validates():
    """decode(encode_jpeg_progressive(x)) == decode(encode_jpeg(x)) —
    and both equal the spec-literal encoders' decodes."""
    from openpolicedata_spark.sources.jpeg import encode_jpeg_progressive

    r = np.random.default_rng(11)
    # odd size: repo baseline vs repo progressive (same edge replicate)
    odd = r.integers(0, 256, size=(19, 23), dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(odd)),
                          decode_jpeg(encode_jpeg_progressive(odd)))
    # flat blocks: exact for every encoder, so all four must agree
    # (random images hit FDCT-rounding ties between the repo's einsum
    # DCT and the spec-literal double-loop DCT — same reason
    # test_encoders_cross_validate pins flat blocks)
    img = flat_block_plane(16, 24, 43)
    base = decode_jpeg(encode_jpeg(img))
    assert np.array_equal(base[..., 0] if base.ndim == 3 else base, img)
    assert np.array_equal(base, decode_jpeg(encode_jpeg_progressive(img)))
    assert np.array_equal(
        base, decode_jpeg(spec_encode([img.astype(float)], 24, 16)))
    assert np.array_equal(
        base,
        decode_jpeg(spec_encode_progressive([img.astype(float)], 24, 16)))
    rgb = r.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(rgb)),
                          decode_jpeg(encode_jpeg_progressive(rgb)))


def test_progressive_interleaved_ac_scan_raises():
    """An AC scan naming two components is malformed (G.1: progressive
    AC scans are non-interleaved)."""
    r = np.random.default_rng(13)
    img = r.integers(0, 256, size=(8, 8, 3)).astype(float)
    planes = [img[..., 0], img[..., 1], img[..., 2]]
    blob = bytearray(spec_encode_progressive(planes, 8, 8))
    # find the first AC SOS (Ss=1) and claim 2 components in it
    i = 0
    while True:
        i = blob.find(b"\xff\xda", i + 1)
        ns = blob[i + 4]
        ss = blob[i + 5 + 2 * ns]
        if ss == 1:
            break
    patched = (bytes(blob[:i]) + b"\xff\xda"
               + struct.pack(">H", 2 + 1 + 4 + 3) + bytes([2])
               + bytes([1, 0x00, 2, 0x00]) + bytes([1, 63, 0x01])
               + bytes(blob[i + 2 + int.from_bytes(blob[i+2:i+4]):]))
    with pytest.raises(JpegError, match="non-interleaved"):
        decode_jpeg(patched)


def test_progressive_truncation_raises_everywhere():
    img = flat_block_plane(16, 16, 41)
    data = spec_encode_progressive([img.astype(float)], 16, 16)
    for cut in range(2, len(data), 11):
        try:
            decode_jpeg(data[:cut])
        except JpegError:
            pass  # the documented contract


def test_progressive_decode_image_dispatch():
    from openpolicedata_spark.operators.multimodal import decode_image
    from openpolicedata_spark.sources.jpeg import encode_jpeg_progressive

    img = flat_block_plane(16, 16, 42)
    out = decode_image(encode_jpeg_progressive(img), "image/jpeg")
    assert out.shape == (16, 16, 3)
    assert np.array_equal(out[..., 0], img)
