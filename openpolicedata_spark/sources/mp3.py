"""MPEG audio (mp3-family) FRAME WALKER — metadata only, no PCM.

PCM decode is blocked offline (FIXTURES.md §F10: the Annex-B Huffman
tables, the 512-tap synthesis window, and the scalefactor-band layouts
are irreducible spec DATA that cannot be recalled or derived with
confidence, and a self round-trip would not validate them). What F10
explicitly leaves UNBLOCKED is the container layer, which is pure
formula: the 32-bit frame header, the bitrate/sample-rate ladders, the
frame-size arithmetic, and the ID3v2 syncsafe skip. That layer is what
a corpus-prep pipeline needs for metadata-only scans — duration,
bitrate profile, VBR detection, frame counts — the ffprobe/mp3val use
case (reference has no media handling at all; beyond-reference
LLM-pipeline coverage).

Round 9 widens the walker from MPEG-1 Layer III to ALL version/layer
combinations (MPEG-1 / MPEG-2 / MPEG-2.5 × Layer I/II/III) — real
speech scrapes mix in 22.05 kHz MPEG-2 and 8-16 kHz MPEG-2.5 files,
which previously inventoried as null stats. The extension is the same
confidence class as the original path (short recalled FORMULAS and
ladders, not the F10-blocked spec data): samples/frame is 384 for
Layer I, 1152 for Layer II everywhere and MPEG-1 Layer III, 576 for
MPEG-2/2.5 Layer III; frame size is ``(spf/8)*bitrate//rate + pad``
with a 4-byte slot for Layer I (``(12*bitrate//rate + pad) * 4``).
Round 10 adds FREE-FORMAT streams (bitrate index 0): their frame size
is a stream property, derived by scanning from the first frame to the
next sync word whose header matches the stream's (version, layer,
rate) and is itself free-format — pure stream arithmetic, no spec
data, so it stays inside the F10 determination (the round-9 verdict's
"one unblocked sliver"). The spec fixes free format to a constant
bitrate, so the derived base size walks the whole stream with only
the per-frame padding slot varying; the reported bitrate_kbps is the
FLOOR inverse of the frame-size formula (free-format bitrates need
not be whole kbit/s — pinned convention, replayed by q187's oracle).
Reserved version/layer/rate fields still raise loudly. PCM decode
requests keep raising in `multimodal.decode_audio`.
"""

from __future__ import annotations

# Bitrate ladders (kbit/s), indexed by the 4-bit bitrate field; index
# 0 = free-format (gated), index 15 = invalid. Keyed by (version
# class, layer) where version class 1 = MPEG-1 and 2 = MPEG-2/2.5
# (which share ladders), layer in {1, 2, 3}.
MP3_BITRATE_LADDERS = {
    (1, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448),
    (1, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384),
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320),
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
    (2, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
}
MP3_BITRATES_KBPS = MP3_BITRATE_LADDERS[(1, 3)]

# sampling_frequency field (2 bits; 3 = reserved), keyed by the raw
# 2-bit version field: 3 = MPEG-1, 2 = MPEG-2, 0 = MPEG-2.5 (exact
# halving/quartering of the MPEG-1 rates). All nine rates are
# DISTINCT, so a stream's sample rate pins its version.
MP3_SAMPLE_RATES_BY_VERSION = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}
MP3_SAMPLE_RATES = MP3_SAMPLE_RATES_BY_VERSION[3]


class Mp3Error(ValueError):
    pass


def id3v2_size(data: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 when absent): 10-byte
    header + syncsafe 28-bit size (+10 for the footer when flag 0x10
    is set). Syncsafe = 7 payload bits per byte, MSB clear."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    flags = data[5]
    if any(b & 0x80 for b in data[6:10]):
        raise Mp3Error("corrupt ID3v2 header: non-syncsafe size byte")
    size = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
    return 10 + size + (10 if flags & 0x10 else 0)


def _header_fields(data: bytes, pos: int) -> tuple:
    """Raw header fields at `pos` → (version, layer, vclass, br_idx,
    sr_idx, padding, rate, spf, slot). Validates sync and reserved
    fields but does NOT resolve the bitrate — free-format (br_idx 0)
    is legal here and resolved by the walker's stream-level scan."""
    if pos + 4 > len(data):
        raise Mp3Error("truncated frame header")
    b0, b1, b2, _b3 = data[pos:pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        raise Mp3Error(f"lost sync at byte {pos}")
    version = (b1 >> 3) & 0x3   # 3=MPEG-1, 2=MPEG-2, 1=reserved, 0=MPEG-2.5
    layer_bits = (b1 >> 1) & 0x3  # 1=Layer III, 2=Layer II, 3=Layer I
    if version == 1:
        raise Mp3Error("reserved MPEG version field")
    if layer_bits == 0:
        raise Mp3Error("reserved layer field")
    layer = 4 - layer_bits        # 1 = Layer I, 2 = II, 3 = III
    vclass = 1 if version == 3 else 2
    br_idx = (b2 >> 4) & 0xF
    if br_idx == 15:
        raise Mp3Error("invalid bitrate index 15")
    sr_idx = (b2 >> 2) & 0x3
    if sr_idx == 3:
        raise Mp3Error("reserved sampling-frequency index 3")
    rate = MP3_SAMPLE_RATES_BY_VERSION[version][sr_idx]
    padding = (b2 >> 1) & 1
    spf = 384 if layer == 1 else (576 if (layer == 3 and vclass == 2)
                                  else 1152)
    slot = 4 if layer == 1 else 1
    return version, layer, vclass, br_idx, sr_idx, padding, rate, spf, slot


def parse_frame_header(
        data: bytes, pos: int) -> tuple[int, int, int, int, int]:
    """Parse one FIXED-BITRATE frame header at `pos` → (frame_size,
    bitrate_kbps, sample_rate, padding, samples_per_frame). Covers
    every MPEG version (1 / 2 / 2.5) × layer (I / II / III)
    combination; raises Mp3Error naming the variant for reserved
    version/layer/sample-rate fields — and for free-format bitrate,
    whose frame size is a STREAM property, not a header property
    (`walk_frames` handles it by scanning to the next sync word).

    Frame-size formulas (public header spec, pure arithmetic):
      Layer I:          (12  * bitrate // rate + padding) * 4
      Layer II:          144 * bitrate // rate + padding
      Layer III MPEG-1:  144 * bitrate // rate + padding
      Layer III v2/2.5:   72 * bitrate // rate + padding
    i.e. (spf/8) * bitrate // rate in slot units, slot = 4 bytes for
    Layer I (so its padding bit adds 4 bytes), 1 byte otherwise."""
    (version, layer, vclass, br_idx, sr_idx, padding, rate, spf,
     _slot) = _header_fields(data, pos)
    if br_idx == 0:
        raise Mp3Error("free-format bitrate: frame size is a stream "
                       "property — use walk_frames, not the "
                       "single-header parser")
    bitrate = MP3_BITRATE_LADDERS[(vclass, layer)][br_idx]
    if layer == 1:
        size = (12 * bitrate * 1000 // rate + padding) * 4
    else:
        size = (spf // 8) * bitrate * 1000 // rate + padding
    return size, bitrate, rate, padding, spf


def _free_frame_base(data: bytes, pos: int, first_b1: int, sr_idx: int,
                     padding: int, slot: int) -> int:
    """Padding-less frame size of a FREE-FORMAT stream (round 10,
    verdict item 4 — the one unblocked F10 sliver): scan from the
    first frame's payload to the next sync word whose header matches
    the stream's (version, layer, sample-rate) AND is itself
    free-format — 13 matching bits; the protection/private/channel
    bits may differ frame to frame, so they are masked out. The
    distance minus the first frame's padding slot is the constant
    base size (the spec fixes free-format to one bitrate, so frames
    vary only by the padding slot). Pure stream arithmetic — no spec
    DATA involved, the F10 confidence class. The first matching
    candidate wins; a false sync inside payload bytes would derail
    the walk on the very next frame (lost-sync raise), so corruption
    surfaces rather than silently misparsing."""
    n = len(data)
    off = data.find(b"\xff", pos + 4)
    while 0 <= off <= n - 4:
        b1, b2 = data[off + 1], data[off + 2]
        # bits 7..1 of b1: sync+version+layer (protection masked);
        # top 6 bits of b2: br_idx (must be 0) + sr_idx
        if (b1 >> 1) == (first_b1 >> 1) and (b2 >> 2) == sr_idx:
            base = (off - pos) - padding * slot
            # frame sizes are whole SLOTS (4 bytes in Layer I): a
            # candidate that is not slot-aligned is a false sync in
            # payload bytes, not the next frame — keep scanning
            # (round-10 review)
            if base >= 4 and base % slot == 0:
                return base
        off = data.find(b"\xff", off + 1)
    raise Mp3Error(
        "free-format bitrate: no second matching sync word to derive "
        "the frame size (a single-frame free-format stream is "
        "underdetermined)")


def _free_bitrate_kbps(base: int, rate: int, spf: int, layer: int) -> int:
    """Derived kbit/s of a free-format stream from its padding-less
    frame size — the FLOOR inverse of the frame-size formula (pinned:
    free-format bitrates need not be whole kbit/s; the floor is the
    documented convention and what the q187 oracle replays)."""
    if layer == 1:
        return (base // 4) * rate // 12000
    return base * rate // ((spf // 8) * 1000)


def walk_frames(data: bytes) -> list[tuple[int, int, int, int, int]]:
    """Walk every frame after an optional ID3v2 tag →
    [(offset, size, bitrate_kbps, sample_rate, samples_per_frame), ...].

    Trailing-bytes policy (exactly this, nothing more): after at least
    one decoded frame, the walk STOPS cleanly when the remainder is
    (a) shorter than a 4-byte header, (b) a 'TAG'-prefixed remainder
    of AT MOST 355 bytes — ID3v1 (128, whole or truncated) or the
    227-byte extended 'TAG+' stacked with ID3v1 (227+128; an
    UNBOUNDED TAG arm would silently swallow further valid frames
    hidden behind a stray 'TAG', review pass 3), or (c) 'APETAGEX'
    (APEv2) / 'LYRICSBEGIN' (Lyrics3) at the remainder start —
    inherently variable-size tag bodies behind specific magics.
    Anything else that is not a sync word raises — a walker that
    silently RESYNCS mid-stream would hide corruption the pipeline
    should surface, while refusing a fully-valid file over a stray
    pad byte or a stacked trailer would misreport it as unparseable
    (review findings, all passes)."""
    pos = id3v2_size(data)
    out = []
    n = len(data)
    free_sig = None   # (b1 >> 1, sr_idx) of a free-format stream
    free_base = None  # its constant padding-less frame size
    while pos < n:
        rem = n - pos
        if out and (rem < 4
                    or (data[pos:pos + 3] == b"TAG" and rem <= 355)
                    or data[pos:pos + 8] == b"APETAGEX"
                    or data[pos:pos + 11] == b"LYRICSBEGIN"):
            break
        (_version, layer, _vclass, br_idx, sr_idx, padding, rate, spf,
         slot) = _header_fields(data, pos)
        if br_idx == 0:
            # free-format: constant base size derived ONCE from the
            # sync-word distance, then walked like any other stream;
            # mixing free and fixed frames (or changing version/layer/
            # rate mid-stream) is corruption and raises (round 10)
            if free_base is None:
                if out:
                    raise Mp3Error("free-format frame after "
                                   "fixed-bitrate frames")
                free_sig = (data[pos + 1] >> 1, sr_idx)
                free_base = _free_frame_base(
                    data, pos, data[pos + 1], sr_idx, padding, slot)
            elif (data[pos + 1] >> 1, sr_idx) != free_sig:
                raise Mp3Error("free-format stream changed version/"
                               "layer/rate mid-stream")
            size = free_base + padding * slot
            bitrate = _free_bitrate_kbps(free_base, rate, spf, layer)
        else:
            if free_base is not None:
                raise Mp3Error("fixed-bitrate frame in a free-format "
                               "stream")
            size, bitrate, rate, _pad, spf = parse_frame_header(data, pos)
        if pos + size > n:
            raise Mp3Error(f"truncated final frame at byte {pos} "
                           f"(needs {size} bytes, {n - pos} left)")
        out.append((pos, size, bitrate, rate, spf))
        pos += size
    if not out:
        raise Mp3Error("no MPEG frames found")
    return out


def mp3_stats(data: bytes) -> dict:
    """Metadata-only scan: frame count, duration on the sample clock
    (integer floor ms), byte totals, bitrate profile, VBR flag. All
    integers except none — replayable by a SQL engine that knows the
    generative parameters (q172's oracle replays the construction,
    Spark parses the BYTES; agreement pins the walker)."""
    frames = walk_frames(data)
    rates = {f[3] for f in frames}
    if len(rates) > 1:
        raise Mp3Error(f"mixed sample rates {sorted(rates)}")
    rate = frames[0][3]
    brs = [f[2] for f in frames]
    # duration sums PER-FRAME samples: exact even if layers mix within
    # one stream (same rate pins the version, but Layer I frames carry
    # 384 samples vs 1152/576); for a uniform MPEG-1 Layer III stream
    # this equals the round-8 n_frames*1152 formula bit-for-bit
    return {
        "n_frames": len(frames),
        "sample_rate": rate,
        "duration_ms": sum(f[4] for f in frames) * 1000 // rate,
        "audio_bytes": sum(f[1] for f in frames),
        "first_frame_offset": frames[0][0],
        "bitrate_min_kbps": min(brs),
        "bitrate_max_kbps": max(brs),
        "bitrate_sum_kbps": sum(brs),
        "is_vbr": min(brs) != max(brs),
    }
