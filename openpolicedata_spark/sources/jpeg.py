"""Pure-stdlib/numpy baseline JPEG codec (ITU-T T.81 / ISO 10918-1).

Closes the JPEG half of the multimodal codec gate
(operators/multimodal.py): ``decode_image`` previously decoded PNG only
and raised for JPEG because no DCT library ships in this container.
Baseline sequential JPEG needs nothing beyond ``struct`` and numpy —
the same replace-the-dependency pattern as sources/png.py (Pillow),
sources/xlsx.py (openpyxl), and sources/htmltable.py (lxml).

Reference analog: the reference's loaders parse real file bytes end to
end (openpolicedata data_loaders.py); this gives the JPEG image path
the same property.

Coverage (T.81 baseline + progressive Huffman processes):
- SOF0 (baseline), SOF1 (extended sequential, 8-bit), and SOF2
  (progressive) frames — progressive with spectral selection,
  successive approximation (DC first/refine, AC first/refine with
  EOBn block runs and correction bits, T.81 Annex G), interleaved
  and non-interleaved scans, multi-scan sequential files, and DHT
  redefinition between scans
- grayscale (1 component) and YCbCr (3 components, JFIF color
  transform); arbitrary sampling factors incl. 4:4:4, 4:2:2, 4:2:0
  (chroma upsampled by pixel replication)
- DQT 8- and 16-bit precision tables, multi-table segments
- DHT multi-table segments, DC + AC classes
- DRI restart intervals (RST0-7 resync + DC predictor / EOB-run reset)
- 0xFF00 byte stuffing; fill bytes before markers
- arithmetic coding, 12-bit precision, lossless, and hierarchical
  processes raise ``JpegError`` clearly

The entropy (Huffman) loop is per-symbol Python — fine for the
mapInPandas hot path where each Arrow batch decodes hundreds of small
images per task; dequantization, the 2-D IDCT (one einsum over ALL
blocks of a component), upsampling, and the color transform are
vectorized numpy.

``encode_jpeg`` is the minimal baseline writer used to build
real-bytes fixtures and the q130 oracle round trip: with flat 8x8
blocks and unit quantization the decode(encode(x)) composition is
bit-exact (DC-only spectra are integers and the IDCT of a DC-only
block is an exact float division by 8), so the full marker + Huffman +
dequant + IDCT path pins against a DuckDB md5 replay the same way
q129 pins the PNG codec. Decoder correctness independent of the
in-repo encoder is established by tests/test_jpeg.py, whose fixture
encoder is written forward from T.81 Annex C/F/K spec literals.
"""

from __future__ import annotations

import functools
import struct
from typing import Optional

import numpy as np

from openpolicedata_spark.sources.pixels import MAX_PIXELS

__all__ = ["JpegError", "decode_jpeg", "encode_jpeg",
           "encode_jpeg_progressive", "JPEG_SIGNATURE"]

JPEG_SIGNATURE = b"\xff\xd8"


class JpegError(ValueError):
    """Malformed or unsupported JPEG payload."""


# Zigzag scan order: _ZIGZAG[k] = (row, col) flat index of coefficient k.
def _zigzag_order() -> np.ndarray:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1],
                        rc[0] if (rc[0] + rc[1]) % 2 else rc[1]),
    )
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


_ZIGZAG = _zigzag_order()

# Orthonormal-style DCT basis with JPEG's normalization:
# S[u,v] = sum_xy C[u,x] C[v,y] s[x,y], s[x,y] = sum_uv C[u,x] C[v,y] S[u,v]
# where C[u,x] = 1/2 * c(u) * cos((2x+1) u pi / 16), c(0) = 1/sqrt(2).
def _dct_basis() -> np.ndarray:
    x = np.arange(8)
    u = np.arange(8)[:, None]
    C = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    C[0] /= np.sqrt(2.0)
    return C


_C = _dct_basis()


class _Huff:
    """Canonical Huffman table compiled to a 16-bit-lookahead LUT:
    lut[next16bits] = (symbol << 8) | code_length, 0 = invalid. One
    list index replaces the old bit-at-a-time dict walk (~6× faster
    decode on megapixel images). The 65536-entry build costs ~0.5 ms,
    which dominates tiny thumbnails — and real corpora reuse the same
    handful of tables (Annex K, libjpeg defaults) across every file, so
    the compiled LUT is memoized per worker on the raw DHT bytes. The
    bound is small (each cached list is ~2.4 MB): a corpus of
    per-image-table JPEGs (mozjpeg-optimized) just misses and pays the
    old per-image build, never unbounded worker memory."""

    def __init__(self, counts: bytes, symbols: bytes):
        if len(counts) != 16 or len(symbols) != sum(counts):
            raise JpegError("malformed DHT table")
        self.lut = _compile_huff_lut(bytes(counts), bytes(symbols))


@functools.lru_cache(maxsize=8)
def _compile_huff_lut(counts: bytes, symbols: bytes) -> list:
    lut = np.zeros(1 << 16, dtype=np.uint32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if code >= (1 << length):
                raise JpegError("overfull Huffman table")
            span = 1 << (16 - length)
            lo = code << (16 - length)
            lut[lo:lo + span] = (symbols[k] << 8) | length
            code += 1
            k += 1
        code <<= 1
    return lut.tolist()      # plain-list indexing beats numpy scalars


class _BitReader:
    """Entropy-coded-segment bit reader. The constructor pre-scans the
    scan's entropy data ONCE at C speed (bytes.find / bytes.replace):
    it splits on RSTn markers, un-stuffs 0xFF00, and records where the
    terminating real marker sits (`self.pos`). Decoding then runs on
    clean byte buffers — no per-byte stuffing checks — and `decode`
    resolves whole codes via the table's 16-bit LUT."""

    def __init__(self, data: bytes, pos: int):
        n = len(data)
        segs: list[tuple[bytes, Optional[int]]] = []
        start = p = pos
        marker_pos = n
        while True:
            q = data.find(b"\xff", p)
            if q < 0 or q + 1 >= n:
                segs.append((data[start:n], None))
                break
            nxt = data[q + 1]
            if nxt == 0x00:          # stuffed data byte
                p = q + 2
                continue
            r = q                    # skip fill bytes to the marker id
            while r + 1 < n and data[r + 1] == 0xFF:
                r += 1
            nxt = data[r + 1] if r + 1 < n else 0x00
            if 0xD0 <= nxt <= 0xD7:  # restart boundary
                segs.append((data[start:q], nxt - 0xD0))
                start = p = r + 2
                continue
            segs.append((data[start:q], None))
            marker_pos = q
            break
        self.segs = [(s.replace(b"\xff\x00", b"\xff"), t) for s, t in segs]
        self.pos = marker_pos        # where the marker loop resumes
        self.si = 0
        self.buf, self.term = self.segs[0]
        self.i = 0
        self.bits = 0
        self.nbits = 0

    def _fill(self) -> None:
        i = self.i
        take = self.buf[i:i + 4]
        if not take:
            raise JpegError("entropy data exhausted (hit marker)")
        self.bits = (self.bits << (8 * len(take))) \
            | int.from_bytes(take, "big")
        self.nbits += 8 * len(take)
        self.i = i + len(take)

    def get_bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.bits >> self.nbits) & ((1 << n) - 1)
        self.bits &= (1 << self.nbits) - 1
        return v

    def decode(self, table: _Huff) -> int:
        nb = self.nbits
        if nb < 16:
            i = self.i
            take = self.buf[i:i + 4]
            if take:
                self.bits = (self.bits << (8 * len(take))) \
                    | int.from_bytes(take, "big")
                nb = self.nbits = nb + 8 * len(take)
                self.i = i + len(take)
        if nb >= 16:
            idx = (self.bits >> (nb - 16)) & 0xFFFF
        else:                        # segment tail: pad lookahead with 1s
            idx = ((self.bits << (16 - nb)) | ((1 << (16 - nb)) - 1)) \
                & 0xFFFF
        e = table.lut[idx]
        ln = e & 0xFF
        if ln == 0:
            raise JpegError("invalid Huffman code in entropy data")
        if ln > nb:
            raise JpegError("entropy data exhausted (hit marker)")
        self.nbits = nb - ln
        self.bits &= (1 << self.nbits) - 1
        return e >> 8

    def restart(self, expect: int) -> None:
        """Byte-align and consume the RSTn marker at a restart boundary."""
        if self.term != expect or self.si + 1 >= len(self.segs):
            raise JpegError(f"expected RST{expect} at restart boundary")
        self.si += 1
        self.buf, self.term = self.segs[self.si]
        self.i = 0
        self.bits = 0
        self.nbits = 0


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


class _Component:
    __slots__ = ("cid", "h", "v", "tq", "td", "ta", "blocks",
                 "blocks_x", "blocks_y", "pred")

    def __init__(self, cid: int, h: int, v: int, tq: int):
        self.cid, self.h, self.v, self.tq = cid, h, v, tq
        self.pred = 0


_ZIGZAG_L = _ZIGZAG.tolist()


def _decode_sequential_block(reader: _BitReader, c: _Component,
                             dtab: _Huff, atab: _Huff, row: int) -> None:
    """One full DC+AC block of a sequential (baseline) scan — T.81 F.2.

    The hot path of every baseline decode: reader state lives in LOCALS
    for the whole block (attribute round-trips per symbol measured ~2×
    the total decode cost), Huffman codes resolve via the 16-bit LUT,
    and the coefficient row is written back as one 64-list assignment
    instead of 63 numpy scalar stores."""
    bits = reader.bits
    nbits = reader.nbits
    buf = reader.buf
    i = reader.i
    dlut = dtab.lut
    alut = atab.lut
    zig = _ZIGZAG_L
    out = [0] * 64

    # -- DC: one symbol (magnitude category) + diff bits
    if nbits < 16:
        take = buf[i:i + 8]
        lt = len(take)
        if lt:
            bits = (bits << (8 * lt)) | int.from_bytes(take, "big")
            nbits += 8 * lt
            i += lt
    if nbits >= 16:
        idx = (bits >> (nbits - 16)) & 0xFFFF
    else:
        idx = ((bits << (16 - nbits)) | ((1 << (16 - nbits)) - 1)) & 0xFFFF
    e = dlut[idx]
    ln = e & 0xFF
    if ln == 0:
        raise JpegError("invalid Huffman code in entropy data")
    if ln > nbits:
        raise JpegError("entropy data exhausted (hit marker)")
    nbits -= ln
    bits &= (1 << nbits) - 1
    s = e >> 8
    if s > 11:
        raise JpegError("DC magnitude category > 11")
    if s:
        while nbits < s:
            take = buf[i:i + 8]
            lt = len(take)
            if not lt:
                raise JpegError("entropy data exhausted (hit marker)")
            bits = (bits << (8 * lt)) | int.from_bytes(take, "big")
            nbits += 8 * lt
            i += lt
        nbits -= s
        v = (bits >> nbits) & ((1 << s) - 1)
        bits &= (1 << nbits) - 1
        if v < (1 << (s - 1)):
            v += 1 - (1 << s)
        c.pred += v
    out[0] = c.pred

    # -- AC run: (run, size) symbols to EOB / coefficient 63
    k = 1
    while k < 64:
        if nbits < 16:
            take = buf[i:i + 8]
            lt = len(take)
            if lt:
                bits = (bits << (8 * lt)) | int.from_bytes(take, "big")
                nbits += 8 * lt
                i += lt
        if nbits >= 16:
            idx = (bits >> (nbits - 16)) & 0xFFFF
        else:
            idx = ((bits << (16 - nbits)) | ((1 << (16 - nbits)) - 1)) \
                & 0xFFFF
        e = alut[idx]
        ln = e & 0xFF
        if ln == 0:
            raise JpegError("invalid Huffman code in entropy data")
        if ln > nbits:
            raise JpegError("entropy data exhausted (hit marker)")
        nbits -= ln
        bits &= (1 << nbits) - 1
        sym = e >> 8
        s = sym & 0x0F
        if s == 0:
            if sym == 0xF0:          # ZRL
                k += 16
                continue
            break                    # EOB
        k += sym >> 4
        if k > 63:
            raise JpegError("AC run past end of block")
        while nbits < s:
            take = buf[i:i + 8]
            lt = len(take)
            if not lt:
                raise JpegError("entropy data exhausted (hit marker)")
            bits = (bits << (8 * lt)) | int.from_bytes(take, "big")
            nbits += 8 * lt
            i += lt
        nbits -= s
        v = (bits >> nbits) & ((1 << s) - 1)
        bits &= (1 << nbits) - 1
        if v < (1 << (s - 1)):
            v += 1 - (1 << s)
        out[zig[k]] = v
        k += 1

    c.blocks[row] = out
    reader.bits = bits
    reader.nbits = nbits
    reader.i = i


class _Scan:
    """One SOS scan's decode state + per-block decoders (T.81 F/G).

    Sequential scans (ss=0, se=63, ah=al=0) decode full blocks;
    progressive scans (SOF2) decode a spectral band at one bit of
    successive approximation: DC-first shifts the diff-coded value by
    Al, DC-refine appends one bit per block, AC-first run-length-codes
    the band with EOBn block runs, AC-refine walks the band emitting
    correction bits for already-nonzero coefficients (G.1.2.3 —
    the algorithm libjpeg's decode_mcu_AC_refine implements)."""

    def __init__(self, reader, scan, dc, ac, ss, se, ah, al, progressive):
        self.reader = reader
        self.scan = scan
        self.ss, self.se, self.ah, self.al = ss, se, ah, al
        self.eobrun = 0
        if progressive:
            if ss == 0:
                if se != 0:
                    raise JpegError(
                        "progressive DC scan must have Se=0")
                self.block = (self._dc_refine if ah else self._dc_first)
            else:
                if len(scan) != 1:
                    raise JpegError(
                        "progressive AC scan must be non-interleaved")
                if not ss <= se <= 63:
                    raise JpegError("bad spectral selection range")
                self.block = (self._ac_refine if ah else self._ac_first)
        else:
            if (ss, se, ah, al) != (0, 63, 0, 0):
                raise JpegError(
                    "sequential scan must cover the full 0-63 band")
            self.block = self._sequential
        # resolve tables per scan component, per what this scan ACTUALLY
        # reads: DC-refine reads raw bits (no table at all), AC scans
        # read only the AC table, DC/sequential need DC (+AC) tables
        self.tabs: dict[int, tuple] = {}
        for c in scan:
            dtab = dc.get(c.td)
            atab = ac.get(c.ta)
            # NB: bound-method access builds a fresh object each time, so
            # compare with == (same func+instance), never `is`
            if self.block == self._sequential and (dtab is None
                                                   or atab is None):
                raise JpegError("scan references missing DHT")
            if self.block == self._dc_first and dtab is None:
                raise JpegError("DC scan references missing DC DHT")
            if self.block in (self._ac_first, self._ac_refine) \
                    and atab is None:
                raise JpegError("AC scan references missing AC DHT")
            self.tabs[id(c)] = (dtab, atab)

    def reset(self) -> None:
        for c in self.scan:
            c.pred = 0
        self.eobrun = 0

    def _sequential(self, c: _Component, row: int) -> None:
        dtab, atab = self.tabs[id(c)]
        _decode_sequential_block(self.reader, c, dtab, atab, row)

    def _dc_first(self, c: _Component, row: int) -> None:
        dtab, _ = self.tabs[id(c)]
        s = self.reader.decode(dtab)
        if s > 11:
            raise JpegError("DC magnitude category > 11")
        c.pred += _extend(self.reader.get_bits(s), s)
        c.blocks[row, 0] = c.pred << self.al

    def _dc_refine(self, c: _Component, row: int) -> None:
        if self.reader.get_bits(1):
            c.blocks[row, 0] |= 1 << self.al

    def _ac_first(self, c: _Component, row: int) -> None:
        if self.eobrun > 0:
            self.eobrun -= 1
            return
        reader = self.reader
        _, atab = self.tabs[id(c)]
        coef = c.blocks[row]
        k = self.ss
        while k <= self.se:
            rs = reader.decode(atab)
            r, size = rs >> 4, rs & 0x0F
            if size == 0:
                if r != 15:          # EOBn: this block + (eobrun) more
                    self.eobrun = (1 << r) - 1
                    if r:
                        self.eobrun += reader.get_bits(r)
                    break
                k += 16              # ZRL
                continue
            k += r
            if k > self.se:
                raise JpegError("AC run past end of spectral band")
            coef[_ZIGZAG[k]] = _extend(reader.get_bits(size),
                                       size) << self.al
            k += 1

    def _ac_refine(self, c: _Component, row: int) -> None:
        reader = self.reader
        _, atab = self.tabs[id(c)]
        coef = c.blocks[row]
        p1 = 1 << self.al
        m1 = -1 << self.al
        k = self.ss
        if self.eobrun == 0:
            while k <= self.se:
                rs = reader.decode(atab)
                r, size = rs >> 4, rs & 0x0F
                val = 0
                if size == 0:
                    if r != 15:      # EOBn
                        self.eobrun = (1 << r)
                        if r:
                            self.eobrun += reader.get_bits(r)
                        break
                    # ZRL: skip 16 zero-HISTORY coefficients below
                else:
                    if size != 1:
                        raise JpegError(
                            "AC refinement symbol with size != 1")
                    val = p1 if reader.get_bits(1) else m1
                # advance past `r` zero-history coefficients, emitting
                # correction bits for every nonzero one crossed
                while k <= self.se:
                    z = _ZIGZAG[k]
                    if coef[z] != 0:
                        if reader.get_bits(1) and not (coef[z] & p1):
                            coef[z] += p1 if coef[z] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= self.se:
                    coef[_ZIGZAG[k]] = val
                k += 1
        if self.eobrun > 0:
            # EOB block: still owes correction bits for nonzero coeffs
            while k <= self.se:
                z = _ZIGZAG[k]
                if coef[z] != 0:
                    if reader.get_bits(1) and not (coef[z] & p1):
                        coef[z] += p1 if coef[z] >= 0 else m1
                k += 1
            self.eobrun -= 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode JPEG bytes → uint8 array, (H, W) for grayscale or
    (H, W, 3) RGB for YCbCr. Handles baseline/extended-sequential
    (SOF0/SOF1, single- or multi-scan) and progressive (SOF2: spectral
    selection + successive approximation, DC and AC first + refinement
    scans, EOB runs, restarts). Raises ``JpegError`` on malformed or
    unsupported input."""
    if data[:2] != JPEG_SIGNATURE:
        raise JpegError("not a JPEG: missing SOI")
    qt: dict[int, np.ndarray] = {}
    dc: dict[int, _Huff] = {}
    ac: dict[int, _Huff] = {}
    comps: list[_Component] = []
    width = height = 0
    restart_interval = 0
    progressive = False
    scans_done = 0
    sized = False
    pos = 2
    n = len(data)

    def need(k: int) -> None:
        if pos + k > n:
            raise JpegError("truncated JPEG stream")

    while True:
        need(2)
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at {pos}, "
                            f"got 0x{data[pos]:02X}")
        while pos < n and data[pos] == 0xFF and pos + 1 < n \
                and data[pos + 1] == 0xFF:
            pos += 1                 # fill bytes
        need(2)
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:           # EOI
            if scans_done == 0:
                raise JpegError("no SOS scan before EOI")
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue                 # TEM / stray RST: no payload
        need(2)
        (seglen,) = struct.unpack_from(">H", data, pos)
        if seglen < 2:
            raise JpegError("marker segment length < 2")
        need(seglen)
        body = data[pos + 2:pos + seglen]
        pos += seglen

        if marker in (0xC0, 0xC1, 0xC2):   # SOF0 / SOF1 / SOF2
            if comps:
                raise JpegError("multiple SOF frames")
            progressive = marker == 0xC2
            if len(body) < 6:
                raise JpegError("truncated SOF")
            prec, height, width, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise JpegError(f"{prec}-bit precision not supported "
                                "(baseline is 8)")
            if ncomp not in (1, 3):
                raise JpegError(f"{ncomp}-component images not supported "
                                "(grayscale or YCbCr)")
            if width == 0 or height == 0:
                raise JpegError("zero image dimension")
            if width * height > MAX_PIXELS:
                raise JpegError(
                    f"{width}x{height} exceeds the {MAX_PIXELS}-pixel cap")
            if len(body) < 6 + 3 * ncomp:
                raise JpegError("truncated SOF component specs")
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                h, v = hv >> 4, hv & 0x0F
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    raise JpegError(f"bad sampling factors {h}x{v}")
                comps.append(_Component(cid, h, v, tq))
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise JpegError(f"SOF marker 0xFF{marker:02X} process "
                            "not supported (sequential or progressive "
                            "Huffman only)")
        elif marker == 0xC4:         # DHT
            b = 0
            while b < len(body):
                if b + 17 > len(body):
                    raise JpegError("truncated DHT")
                tc_th = body[b]
                counts = body[b + 1:b + 17]
                nsym = sum(counts)
                if b + 17 + nsym > len(body):
                    raise JpegError("truncated DHT symbols")
                table = _Huff(counts, body[b + 17:b + 17 + nsym])
                (dc if tc_th >> 4 == 0 else ac)[tc_th & 0x0F] = table
                b += 17 + nsym
        elif marker == 0xDB:         # DQT
            b = 0
            while b < len(body):
                pq_tq = body[b]
                pq, tq_id = pq_tq >> 4, pq_tq & 0x0F
                step = 1 + 64 * (2 if pq else 1)
                if b + step > len(body):
                    raise JpegError("truncated DQT")
                if pq:
                    vals = np.frombuffer(
                        body[b + 1:b + 129], dtype=">u2").astype(np.int64)
                else:
                    vals = np.frombuffer(
                        body[b + 1:b + 65], dtype=np.uint8).astype(np.int64)
                table = np.zeros(64, dtype=np.int64)
                table[_ZIGZAG] = vals
                qt[tq_id] = table.reshape(8, 8)
                b += step
        elif marker == 0xDD:         # DRI
            if len(body) < 2:
                raise JpegError("truncated DRI")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:         # SOS: decode one scan, keep parsing
            if not comps:
                raise JpegError("SOS before SOF")
            if not body or len(body) < 1 + 2 * body[0] + 3:
                raise JpegError("truncated SOS")
            ns = body[0]
            by_id = {c.cid: c for c in comps}
            scan: list[_Component] = []
            for i in range(ns):
                cid, tables = body[1 + 2 * i], body[2 + 2 * i]
                c = by_id.get(cid)
                if c is None:
                    raise JpegError(f"SOS references unknown component "
                                    f"{cid}")
                c.td, c.ta = tables >> 4, tables & 0x0F
                scan.append(c)
            if not scan:
                raise JpegError("SOS with zero components")
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            a = body[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F

            hmax = max(c.h for c in comps)
            vmax = max(c.v for c in comps)
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            if not sized:
                for c in comps:
                    c.blocks_x = mcux * c.h
                    c.blocks_y = mcuy * c.v
                    c.blocks = np.zeros(
                        (c.blocks_y * c.blocks_x, 64), dtype=np.int64)
                    if c.tq not in qt:
                        raise JpegError(
                            f"component references missing DQT {c.tq}")
                sized = True

            reader = _BitReader(data, pos)
            st = _Scan(reader, scan, dc, ac, ss, se, ah, al, progressive)
            st.reset()
            rst = 0
            if len(scan) == 1 and (progressive or len(comps) > 1):
                # non-interleaved: MCU = one block, over the
                # component's OWN block grid (not the MCU-padded one)
                c = scan[0]
                cw = -(-width * c.h // hmax)
                ch = -(-height * c.v // vmax)
                nbx, nby = -(-cw // 8), -(-ch // 8)
                for m in range(nbx * nby):
                    if restart_interval and m \
                            and m % restart_interval == 0:
                        reader.restart(rst)
                        rst = (rst + 1) & 7
                        st.reset()
                    y, x = divmod(m, nbx)
                    st.block(c, y * c.blocks_x + x)
            else:
                for m in range(mcux * mcuy):
                    if restart_interval and m \
                            and m % restart_interval == 0:
                        reader.restart(rst)
                        rst = (rst + 1) & 7
                        st.reset()
                    my, mx = divmod(m, mcux)
                    for c in scan:
                        for by in range(c.v):
                            for bx in range(c.h):
                                st.block(c, (my * c.v + by) * c.blocks_x
                                         + (mx * c.h + bx))
            scans_done += 1
            pos = reader.pos
            # skip any stray padding up to the next marker byte
            while pos < n and data[pos] != 0xFF:
                pos += 1
        # APPn / COM / DNL / anything else: skipped

    if not sized:
        raise JpegError("no frame decoded")  # pragma: no cover

    # Dequantize + one batched IDCT per component, then assemble planes.
    planes: list[np.ndarray] = []
    for c in comps:
        spec = (c.blocks.reshape(-1, 8, 8)
                * qt[c.tq][None, :, :]).astype(np.float64)
        pix = np.einsum("ux,nuv,vy->nxy", _C, spec, _C)
        pix = np.clip(np.rint(pix) + 128, 0, 255).astype(np.uint8)
        plane = (pix.reshape(c.blocks_y, c.blocks_x, 8, 8)
                 .transpose(0, 2, 1, 3)
                 .reshape(c.blocks_y * 8, c.blocks_x * 8))
        cw = -(-width * c.h // hmax)
        ch = -(-height * c.v // vmax)
        plane = plane[:ch, :cw]
        if c.h != hmax or c.v != vmax:
            plane = plane.repeat(vmax // c.v, axis=0) \
                         .repeat(hmax // c.h, axis=1)
        planes.append(plane[:height, :width])

    if len(planes) == 1:
        return planes[0]
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# Minimal baseline writer (fixtures + the q130 oracle round trip). Encodes
# grayscale or RGB (4:4:4 YCbCr) with caller-supplied or unit quantization.
# --------------------------------------------------------------------------

def _build_huff_spec(counts: bytes, symbols: bytes):
    """(symbol -> (code, length)) for the encoder side."""
    enc: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            enc[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc

# T.81 Annex K.3 typical Huffman tables (spec literals).
_K_DC_LUMA = (bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]),
              bytes(range(12)))
_K_AC_LUMA_COUNTS = bytes([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1,
                           0x7D])
_K_AC_LUMA_SYMS = bytes([
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


# Progressive AC scans additionally need EOBn symbols (0x10..0xE0),
# which Annex K's baseline table does not contain (real progressive
# encoders emit Huffman-optimized tables). A flat 9-bit canonical table
# over every symbol a progressive AC scan can code (EOB0..EOB14, ZRL,
# all (run, size) pairs with size 1..10) is valid (176 codes < 511,
# all-ones code unused) and trivially correct.
_PROG_AC_SYMS = bytes(
    [0x00] + [r << 4 for r in range(1, 15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)])
_PROG_AC_COUNTS = bytes([0] * 8 + [len(_PROG_AC_SYMS)] + [0] * 7)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nacc += length
        while self.nacc >= 8:
            self.nacc -= 8
            b = (self.acc >> self.nacc) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.acc &= (1 << self.nacc) - 1

    def flush(self) -> None:
        if self.nacc:
            self.put((1 << (8 - self.nacc)) - 1, 8 - self.nacc)  # 1-pad


def _encode_block(w: _BitWriter, coef: np.ndarray, pred: int,
                  dc_enc, ac_enc) -> int:
    zz = coef.reshape(64)[_ZIGZAG]
    diff = int(zz[0]) - pred
    s = int(diff).bit_length() if diff else 0
    code, ln = dc_enc[s]
    w.put(code, ln)
    if s:
        w.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if k > last:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]
            w.put(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_enc[(run << 4) | s]
        w.put(code, ln)
        w.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = ac_enc[0x00]
        w.put(code, ln)
    return int(zz[0])


def _planes_for_encode(img: np.ndarray) -> list[np.ndarray]:
    if img.ndim == 2:
        return [img.astype(np.float64)]
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    return [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]


def _zz_block(plane: np.ndarray, my: int, mx: int,
              quant: np.ndarray) -> np.ndarray:
    """Quantized coefficients of one 8x8 tile, zigzag order (edge
    tiles replicate so partial tiles stay flat-block exact)."""
    blk = np.full((8, 8), 128.0)
    ys, xs = my * 8, mx * 8
    tile = plane[ys:ys + 8, xs:xs + 8]
    blk[:tile.shape[0], :tile.shape[1]] = tile
    if tile.shape[0] < 8:
        blk[tile.shape[0]:, :] = blk[tile.shape[0] - 1, :]
    if tile.shape[1] < 8:
        blk[:, tile.shape[1]:] = blk[:, tile.shape[1] - 1][:, None]
    spec = _C @ (blk - 128.0) @ _C.T
    return np.rint(spec / quant).astype(np.int64).reshape(64)[_ZIGZAG]


def encode_jpeg(img: np.ndarray, quant: np.ndarray | None = None) -> bytes:
    """Encode a uint8 (H, W) grayscale or (H, W, 3) RGB array as baseline
    JPEG (4:4:4, Annex K Huffman tables). ``quant`` is an 8x8 table
    applied to every component; default all-ones (near-lossless: exact
    for flat 8x8 blocks, the q130 oracle's construction)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    if quant is None:
        quant = np.ones((8, 8), dtype=np.int64)
    quant = np.asarray(quant, dtype=np.int64).reshape(8, 8)
    planes = _planes_for_encode(img)
    ncomp = len(planes)

    out = bytearray(b"\xff\xd8")
    zz_q = quant.reshape(64)[_ZIGZAG].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(zz_q)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i in range(ncomp):
        sof += struct.pack(">BBB", i + 1, 0x11, 0)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    dc_counts, dc_syms = _K_DC_LUMA
    dht = bytes([0x00]) + dc_counts + dc_syms \
        + bytes([0x10]) + _K_AC_LUMA_COUNTS + _K_AC_LUMA_SYMS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    sos = bytes([ncomp]) + b"".join(
        struct.pack(">BB", i + 1, 0x00) for i in range(ncomp)) \
        + bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_enc = _build_huff_spec(*_K_DC_LUMA)
    ac_enc = _build_huff_spec(_K_AC_LUMA_COUNTS, _K_AC_LUMA_SYMS)
    bw = h // 8 + (1 if h % 8 else 0)
    bh_ = w // 8 + (1 if w % 8 else 0)
    writer = _BitWriter()
    preds = [0] * ncomp
    for my in range(bw):
        for mx in range(bh_):
            for ci, plane in enumerate(planes):
                zz = _zz_block(plane, my, mx, quant)
                coef = np.zeros(64, dtype=np.int64)
                coef[_ZIGZAG] = zz
                preds[ci] = _encode_block(writer, coef.reshape(8, 8),
                                          preds[ci], dc_enc, ac_enc)
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(img: np.ndarray,
                            quant: np.ndarray | None = None) -> bytes:
    """Encode a uint8 (H, W) grayscale or (H, W, 3) RGB array as a
    PROGRESSIVE JPEG (SOF2, 4:4:4, Annex K Huffman tables) that
    exercises every progressive scan type the decoder implements:

      1. DC first      — interleaved, Ss=Se=0, Ah=0, Al=1
      2. DC refine     — interleaved, Ss=Se=0, Ah=1, Al=0 (raw bits)
      3. AC first      — per component, Ss=1, Se=63, Ah=0, Al=1,
                         cross-block EOBn runs
      4. AC refine     — per component, Ss=1, Se=63, Ah=1, Al=0,
                         correction bits + per-block EOB flush

    Successive approximation is value-preserving (DC: arithmetic
    shift + low-bit refine; AC: magnitude shift + correction bit), so
    the decoded coefficients equal the baseline writer's exactly —
    decode(encode_jpeg_progressive(x)) == decode(encode_jpeg(x)) for
    every image, and with flat 8x8 blocks + unit quantization the
    round trip is bit-exact (the q142 oracle's construction, same
    trick as q130)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    if quant is None:
        quant = np.ones((8, 8), dtype=np.int64)
    quant = np.asarray(quant, dtype=np.int64).reshape(8, 8)
    planes = _planes_for_encode(img)
    ncomp = len(planes)
    nby = -(-h // 8)
    nbx = -(-w // 8)
    # all coefficients up front (zigzag order), per component
    zzs = [
        [_zz_block(p, my, mx, quant)
         for my in range(nby) for mx in range(nbx)]
        for p in planes
    ]

    out = bytearray(b"\xff\xd8")
    zz_q = quant.reshape(64)[_ZIGZAG].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(zz_q)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i in range(ncomp):
        sof += struct.pack(">BBB", i + 1, 0x11, 0)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    dc_counts, dc_syms = _K_DC_LUMA
    dht = bytes([0x00]) + dc_counts + dc_syms \
        + bytes([0x10]) + _PROG_AC_COUNTS + _PROG_AC_SYMS
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    dc_enc = _build_huff_spec(*_K_DC_LUMA)
    ac_enc = _build_huff_spec(_PROG_AC_COUNTS, _PROG_AC_SYMS)

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int,
            td: int = 0, ta: int = 0) -> bytes:
        body = bytes([len(comp_ids)]) + b"".join(
            struct.pack(">BB", cid, (td << 4) | ta) for cid in comp_ids)
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    # -- scan 1: DC first (interleaved, Al=1) ------------------------------
    out += sos(list(range(1, ncomp + 1)), 0, 0, 0, 1)
    wtr = _BitWriter()
    preds = [0] * ncomp
    for m in range(nby * nbx):
        for ci in range(ncomp):
            v = int(zzs[ci][m][0]) >> 1          # arithmetic shift
            diff = v - preds[ci]
            preds[ci] = v
            s = abs(diff).bit_length()
            code, ln = dc_enc[s]
            wtr.put(code, ln)
            if s:
                wtr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    wtr.flush()
    out += wtr.out

    # -- scan 2: DC refine (interleaved, Al=0, raw bits) --------------------
    out += sos(list(range(1, ncomp + 1)), 0, 0, 1, 0)
    wtr = _BitWriter()
    for m in range(nby * nbx):
        for ci in range(ncomp):
            wtr.put(int(zzs[ci][m][0]) & 1, 1)
    wtr.flush()
    out += wtr.out

    # -- per-component AC scans ---------------------------------------------
    for ci in range(ncomp):
        # AC first (Ss=1..63, Al=1): magnitude-shifted values,
        # cross-block EOBn runs
        out += sos([ci + 1], 1, 63, 0, 1)
        wtr = _BitWriter()
        eobrun = 0

        def flush_eob(wtr=None):
            nonlocal eobrun
            if not eobrun:
                return
            r = eobrun.bit_length() - 1
            code, ln = ac_enc[r << 4]
            wtr.put(code, ln)
            if r:
                wtr.put(eobrun - (1 << r), r)
            eobrun = 0

        for m in range(nby * nbx):
            zz = zzs[ci][m]
            temps = [abs(int(zz[k])) >> 1 for k in range(64)]
            last = max((k for k in range(1, 64) if temps[k]), default=0)
            if last == 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob(wtr)
                continue
            flush_eob(wtr)
            run = 0
            for k in range(1, last + 1):
                t = temps[k]
                if t == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_enc[0xF0]
                    wtr.put(code, ln)
                    run -= 16
                s = t.bit_length()
                code, ln = ac_enc[(run << 4) | s]
                wtr.put(code, ln)
                v = t if zz[k] > 0 else -t
                wtr.put(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
            if last < 63:
                eobrun += 1
        flush_eob(wtr)
        wtr.flush()
        out += wtr.out

        # AC refine (Ss=1..63, Ah=1, Al=0): correction bits for
        # already-nonzero coefficients, newly-nonzero at magnitude 1,
        # per-block EOB(1) flush carrying the buffered correction bits
        out += sos([ci + 1], 1, 63, 1, 0)
        wtr = _BitWriter()
        for m in range(nby * nbx):
            zz = zzs[ci][m]
            temps = [abs(int(zz[k])) for k in range(64)]
            eob = max((k for k in range(1, 64) if temps[k] == 1),
                      default=0)
            run = 0
            br: list[int] = []
            for k in range(1, 64):
                t = temps[k]
                if t == 0:
                    run += 1
                    continue
                # flush ZRLs at EVERY nonzero (incl. history) so each
                # ZRL's buffered correction bits are exactly the >1
                # coefficients the decoder crosses in that span
                while run > 15 and k <= eob:
                    code, ln = ac_enc[0xF0]
                    wtr.put(code, ln)
                    run -= 16
                    for bit in br:
                        wtr.put(bit, 1)
                    br = []
                if t > 1:               # history: buffer the low bit
                    br.append(t & 1)
                    continue
                code, ln = ac_enc[(run << 4) | 1]
                wtr.put(code, ln)
                wtr.put(1 if zz[k] > 0 else 0, 1)
                for bit in br:
                    wtr.put(bit, 1)
                br = []
                run = 0
            if run > 0 or br:
                code, ln = ac_enc[0x00]   # EOB(1) terminates the block
                wtr.put(code, ln)
                for bit in br:
                    wtr.put(bit, 1)
        wtr.flush()
        out += wtr.out

    out += b"\xff\xd9"
    return bytes(out)
