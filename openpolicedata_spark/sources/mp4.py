"""Pure-stdlib ISO BMFF (MP4 / QuickTime MOV) container reader +
writer for Motion-JPEG video tracks.

The container layer is codec-agnostic sample plumbing (ISO/IEC
14496-12): box walk, track selection via ``hdlr`` = 'vide', and the
sample-table math — ``stts`` (decode deltas), ``stsc``
(samples-per-chunk runs), ``stsz`` (sizes), ``stco``/``co64`` (chunk
offsets) — that turns table rows into absolute (offset, size, delta)
triples. ``read_mp4_video`` then decodes each sample payload:

- codec '``jpeg``' / '``mjpa``' (Motion-JPEG): every sample is a
  standalone baseline/progressive JPEG — decoded frame-by-frame with
  the in-repo sources/jpeg.py, so MP4 video is REAL end-to-end with
  no new entropy code.
- anything else ('avc1'/'hev1'/'vp09'/'av01'…) raises with the codec
  name — the documented gate (an H.264+ decoder is out of scope).

``encode_mp4_mjpeg`` writes a spec-conformant single-track file
(ftyp isom, mdat of JPEG samples, moov with mvhd/tkhd/mdia/minf/stbl,
one sample per chunk) for fixtures and the q144 oracle.

64-bit ``largesize`` boxes and ``co64`` offsets are handled; only the
first video track is decoded. Timestamps convert through the ``mdhd``
timescale.

Reference parity note: openpolicedata decodes no media; this exists
for the multimodal pipeline operators (frame sampling / video dedup)
to run on real container bytes.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["Mp4Error", "parse_mp4_video_track", "parse_mp4_audio_track",
           "read_mp4_video", "read_mp4_audio",
           "encode_mp4_mjpeg", "encode_mp4_audio", "looks_like_mp4"]


class Mp4Error(ValueError):
    """Malformed or unsupported MP4/MOV payload."""


def looks_like_mp4(data: bytes) -> bool:
    return len(data) >= 12 and data[4:8] == b"ftyp"


def _boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for the boxes in a span."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        btype = data[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error("truncated largesize box")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise Mp4Error(f"box {btype!r} overruns its container")
        yield btype, body, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, btype: bytes):
    for t, b, e in _boxes(data, start, end):
        if t == btype:
            return b, e
    return None


def _full(data: bytes, pos: int) -> tuple[int, int]:
    """FullBox header → (version, body offset after version+flags)."""
    if pos + 4 > len(data):
        raise Mp4Error("truncated FullBox header")
    return data[pos], pos + 4


def parse_mp4_video_track(data: bytes) -> dict:
    """First 'vide' track → {codec, width, height, timescale,
    samples: [(offset, size, delta), ...]}. Declared-length lies
    (table counts past the real bytes) surface as Mp4Error, never raw
    struct.error/IndexError."""
    try:
        return _parse_track(data, b"vide")
    except (struct.error, IndexError) as e:
        raise Mp4Error(f"malformed box structure: {e}") from e


def parse_mp4_audio_track(data: bytes) -> dict:
    """First 'soun' track → {codec, channels, sample_size, timescale,
    samples, dfla} (dfla = the FLACSpecificBox body for 'fLaC'
    entries, else None)."""
    try:
        return _parse_track(data, b"soun")
    except (struct.error, IndexError) as e:
        raise Mp4Error(f"malformed box structure: {e}") from e


def _parse_track(data: bytes, handler: bytes) -> dict:
    if not looks_like_mp4(data):
        raise Mp4Error("not ISO BMFF: no ftyp box")
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise Mp4Error("no moov box")
    kind = "video" if handler == b"vide" else "audio"
    for t, b, e in _boxes(data, *moov):
        if t != b"trak":
            continue
        mdia = _find(data, b, e, b"mdia")
        if mdia is None:
            continue
        hdlr = _find(data, *mdia, b"hdlr")
        if hdlr is None:
            continue
        _, hb = _full(data, hdlr[0])
        if data[hb + 4:hb + 8] != handler:
            continue
        mdhd = _find(data, *mdia, b"mdhd")
        if mdhd is None:
            raise Mp4Error(f"{kind} track missing mdhd")
        ver, mb = _full(data, mdhd[0])
        timescale = struct.unpack_from(
            ">I", data, mb + (16 if ver == 1 else 8))[0]
        if timescale == 0:
            raise Mp4Error("mdhd timescale 0")
        minf = _find(data, *mdia, b"minf")
        stbl = _find(data, *minf, b"stbl") if minf else None
        if stbl is None:
            raise Mp4Error(f"{kind} track missing stbl")
        return _parse_stbl(data, stbl[0], stbl[1], timescale, handler)
    raise Mp4Error(f"no {kind} track")


def _parse_stbl(data: bytes, b: int, e: int, timescale: int,
                handler: bytes = b"vide") -> dict:
    stsd = _find(data, b, e, b"stsd")
    if stsd is None:
        raise Mp4Error("missing stsd")
    _, p = _full(data, stsd[0])
    (n_desc,) = struct.unpack_from(">I", data, p)
    if n_desc < 1:
        raise Mp4Error("empty stsd")
    entry = p + 4
    (esize,) = struct.unpack_from(">I", data, entry)
    codec = data[entry + 4:entry + 8].decode("latin-1")
    extra: dict = {}
    if handler == b"vide":
        # VisualSampleEntry: 6 reserved + 2 dref idx + 16 pre_defined/
        # reserved + width(2) + height(2)
        width, height = struct.unpack_from(">HH", data, entry + 32)
        extra = {"width": width, "height": height}
    else:
        # AudioSampleEntry: 6 reserved + 2 dref idx + version(2) +
        # revision(2) + vendor(4) + channels(2) + samplesize(2) +
        # 4 reserved + samplerate (16.16); QT v1 adds 16 bytes before
        # any extension boxes (e.g. the dfLa FLACSpecificBox)
        qt_ver, = struct.unpack_from(">H", data, entry + 16)
        channels, sample_size = struct.unpack_from(">HH", data,
                                                   entry + 24)
        ext_off = entry + 36 + (16 if qt_ver == 1 else 0)
        dfla = None
        for t2, b2, e2 in _boxes(data, ext_off,
                                 min(entry + esize, e)):
            if t2 == b"dfLa":
                dfla = data[b2 + 4:e2]   # skip FullBox version/flags
        extra = {"channels": channels, "sample_size": sample_size,
                 "dfla": dfla}

    def table(btype: bytes, required: bool = True):
        box = _find(data, b, e, btype)
        if box is None:
            if required:
                raise Mp4Error(f"missing {btype.decode()}")
            return None
        return box

    ver, p = _full(data, table(b"stts")[0])
    (n_stts,) = struct.unpack_from(">I", data, p)
    stts = [struct.unpack_from(">II", data, p + 4 + 8 * i)
            for i in range(n_stts)]

    _, p = _full(data, table(b"stsz")[0])
    fixed_size, n_samples = struct.unpack_from(">II", data, p)
    # every table count is checked against the file before a list is
    # sized by it: a patched count must not allocate gigabytes
    if n_samples * max(1, fixed_size) > len(data):
        raise Mp4Error(f"stsz claims {n_samples} samples, more than "
                       f"the {len(data)}-byte file holds")
    if sum(count for count, _ in stts) != n_samples:
        raise Mp4Error("stts does not cover the sample list")
    if fixed_size:
        sizes = [fixed_size] * n_samples
    else:
        sizes = list(struct.unpack_from(f">{n_samples}I", data, p + 8))

    _, p = _full(data, table(b"stsc")[0])
    (n_stsc,) = struct.unpack_from(">I", data, p)
    stsc = [struct.unpack_from(">III", data, p + 4 + 12 * i)
            for i in range(n_stsc)]
    if not stsc:
        raise Mp4Error("empty stsc")

    co = _find(data, b, e, b"stco")
    if co is not None:
        _, p = _full(data, co[0])
        (n_chunks,) = struct.unpack_from(">I", data, p)
        offsets = list(struct.unpack_from(f">{n_chunks}I", data, p + 4))
    else:
        co = _find(data, b, e, b"co64")
        if co is None:
            raise Mp4Error("missing stco/co64")
        _, p = _full(data, co[0])
        (n_chunks,) = struct.unpack_from(">I", data, p)
        offsets = list(struct.unpack_from(f">{n_chunks}Q", data, p + 4))

    # expand stsc runs → samples-per-chunk for every chunk
    spc = []
    for i, (first, per, _desc) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else n_chunks
        if first < 1 or first > last + 1 or last > n_chunks:
            raise Mp4Error("bad stsc chunk run")
        spc.extend([per] * (last - first + 1))
    if len(spc) != n_chunks:
        raise Mp4Error("stsc runs do not cover the chunk list")

    # expand stts runs → per-sample deltas
    deltas = []
    for count, delta in stts:
        deltas.extend([delta] * count)

    samples = []
    si = 0
    for ci, chunk_off in enumerate(offsets):
        off = chunk_off
        for _ in range(spc[ci]):
            if si >= n_samples:
                break
            size = sizes[si]
            if off + size > len(data):
                raise Mp4Error("sample overruns file")
            samples.append((off, size, deltas[si]))
            off += size
            si += 1
    if si != n_samples:
        raise Mp4Error("chunk layout does not cover every sample")
    out = {"codec": codec, "timescale": timescale, "samples": samples}
    out.update(extra)
    return out


_MJPEG_CODECS = ("jpeg", "mjpa", "MJPG")


def read_mp4_video(data: bytes) -> tuple[list["np.ndarray"], list[int]]:
    """Decode a Motion-JPEG MP4/MOV → (frames as (H, W, 3) uint8,
    per-frame delays in centiseconds) — the decode_video contract."""
    from openpolicedata_spark.sources.jpeg import decode_jpeg

    track = parse_mp4_video_track(data)
    if track["codec"] not in _MJPEG_CODECS:
        raise Mp4Error(
            f"codec {track['codec']!r} needs a real video decoder "
            "(ffmpeg); only Motion-JPEG tracks decode in-repo")
    frames = []
    delays = []
    ts = track["timescale"]
    for off, size, delta in track["samples"]:
        img = decode_jpeg(data[off:off + size])
        if img.ndim == 2:
            img = np.stack([img] * 3, axis=-1)
        frames.append(img)
        delays.append(round(delta * 100 / ts))
    if not frames:
        raise Mp4Error("video track has no samples")
    return frames, delays


_PCM_CODECS = {"sowt": ("<i2", 16), "twos": (">i2", 16),
               "raw ": ("u1", 8)}


def read_mp4_audio(data: bytes) -> tuple[int, int, "np.ndarray"]:
    """Decode an MP4/MOV/M4A audio track → (rate, bits_per_sample,
    int32 samples shaped (n, channels)) — the read_flac contract.

    QuickTime PCM entries decode directly ('sowt' LE / 'twos' BE
    int16, 'raw ' offset-binary uint8 → signed); 'fLaC' (ISO
    FLAC-in-MP4) rebuilds the native stream from the dfLa
    FLACSpecificBox + per-sample frames and decodes via
    sources/flac.py. 'mp4a' (AAC) and friends raise with the name."""
    from openpolicedata_spark.sources.flac import read_flac

    track = parse_mp4_audio_track(data)
    codec = track["codec"]
    rate = track["timescale"]
    payload = b"".join(data[off:off + size]
                       for off, size, _ in track["samples"])
    if codec in _PCM_CODECS:
        dtype, bps = _PCM_CODECS[codec]
        nch = track["channels"] or 1
        arr = np.frombuffer(payload, dtype=dtype)
        if arr.size % nch:
            raise Mp4Error("PCM payload not divisible by channels")
        arr = arr.reshape(-1, nch).astype(np.int32)
        if codec == "raw ":
            arr = arr - 128           # offset-binary → signed
        return rate, bps, arr
    if codec == "fLaC":
        dfla = track.get("dfla")
        if not dfla or len(dfla) < 4:
            raise Mp4Error("fLaC entry missing dfLa FLACSpecificBox")
        info = bytearray(dfla)
        info[0] |= 0x80               # force last-metadata-block
        # keep only the STREAMINFO block (trailing blocks skippable)
        blen = int.from_bytes(info[1:4], "big")
        return read_flac(b"fLaC" + bytes(info[:4 + blen]) + payload)
    raise Mp4Error(
        f"codec {codec!r} needs a real audio decoder (ffmpeg); "
        "PCM (sowt/twos/raw) and FLAC-in-MP4 decode in-repo")


# --------------------------------------------------------------- writer

def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _fullbox(btype: bytes, body: bytes, version: int = 0,
             flags: int = 0) -> bytes:
    return _box(btype, struct.pack(">I", (version << 24) | flags) + body)


_IDENTITY_MATRIX = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0,
                               0, 0, 0x40000000)


def encode_mp4_mjpeg(jpegs: list[bytes], width: int, height: int,
                     timescale: int = 600,
                     delta: int = 60) -> bytes:
    """Write a single-video-track Motion-JPEG MP4: one chunk per
    sample, constant frame duration `delta` (in `timescale` units)."""
    if not jpegs:
        raise Mp4Error("no samples")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
                + b"isom" + b"iso2" + b"mp41")
    mdat_body = b"".join(jpegs)
    # sample offsets are absolute: ftyp + mdat header precede the data
    base = len(ftyp) + 8
    offsets = []
    pos = base
    for j in jpegs:
        offsets.append(pos)
        pos += len(j)
    n = len(jpegs)
    duration = n * delta

    entry_body = (bytes(6) + struct.pack(">H", 1)
                  + bytes(16)
                  + struct.pack(">HH", width, height)
                  + struct.pack(">II", 0x480000, 0x480000)
                  + bytes(4) + struct.pack(">H", 1)
                  + bytes(32)
                  + struct.pack(">Hh", 24, -1))
    stsd_entry = (struct.pack(">I", 8 + len(entry_body)) + b"jpeg"
                  + entry_body)
    stsd = _fullbox(b"stsd", struct.pack(">I", 1) + stsd_entry)
    stts = _fullbox(b"stts", struct.pack(">III", 1, n, delta))
    stsc = _fullbox(b"stsc", struct.pack(">IIII", 1, 1, 1, 1))
    stsz = _fullbox(b"stsz", struct.pack(">II", 0, n)
                    + struct.pack(f">{n}I", *[len(j) for j in jpegs]))
    stco = _fullbox(b"stco", struct.pack(">I", n)
                    + struct.pack(f">{n}I", *offsets))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _fullbox(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
    dref = _fullbox(b"dref", struct.pack(">I", 1)
                    + _fullbox(b"url ", b"", flags=1))
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    hdlr = _fullbox(b"hdlr", struct.pack(">I", 0) + b"vide"
                    + bytes(12) + b"Motion-JPEG\x00")
    mdhd = _fullbox(b"mdhd", struct.pack(">IIII", 0, 0, timescale,
                                         duration)
                    + struct.pack(">HH", 0x55C4, 0))  # 'und' language
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _fullbox(b"tkhd", struct.pack(">IIII", 0, 0, 1, 0)
                    + struct.pack(">I", duration) + bytes(8)
                    + struct.pack(">HHHH", 0, 0, 0, 0)
                    + _IDENTITY_MATRIX
                    + struct.pack(">II", width << 16, height << 16),
                    flags=7)
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _fullbox(b"mvhd", struct.pack(">IIII", 0, 0, timescale,
                                         duration)
                    + struct.pack(">IHH", 0x00010000, 0x0100, 0)
                    + bytes(8) + _IDENTITY_MATRIX + bytes(24)
                    + struct.pack(">I", 2))
    moov = _box(b"moov", mvhd + trak)
    return ftyp + _box(b"mdat", mdat_body) + moov


def _audio_sample_entry(codec: bytes, channels: int, bps: int,
                        rate: int, extension: bytes = b"") -> bytes:
    body = (bytes(6) + struct.pack(">H", 1)        # dref index
            + struct.pack(">HH", 0, 0) + bytes(4)  # version/rev/vendor
            + struct.pack(">HH", channels, bps)
            + bytes(4)
            + struct.pack(">I", (rate & 0xFFFF) << 16 if rate >= 0x10000
                          else rate << 16)
            + extension)
    return struct.pack(">I", 8 + len(body)) + codec + body


def encode_mp4_audio(samples: "np.ndarray", rate: int,
                     codec: str = "sowt") -> bytes:
    """Write a single-audio-track MP4/MOV: QuickTime PCM ('sowt' LE /
    'twos' BE int16) in one chunk per 4096-frame sample, or 'fLaC'
    (ISO FLAC-in-MP4: dfLa box carries STREAMINFO, one FLAC frame per
    sample). The mdhd timescale equals the sample rate."""
    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    n, nch = a.shape
    if n == 0:
        raise Mp4Error("no samples")
    block = 4096
    if codec in ("sowt", "twos"):
        dt = "<i2" if codec == "sowt" else ">i2"
        payloads = [a[i:i + block].astype(dt).tobytes()
                    for i in range(0, n, block)]
        deltas = [min(block, n - i) for i in range(0, n, block)]
        entry = _audio_sample_entry(codec.encode(), nch, 16, rate)
    elif codec == "fLaC":
        from openpolicedata_spark.sources.flac import encode_flac_parts

        info_block, frames = encode_flac_parts(a, rate, 16)
        dfla = struct.pack(">I", 12 + len(info_block)) + b"dfLa"             + bytes(4) + info_block
        payloads = list(frames)
        deltas = [min(block, n - i * block)
                  for i in range(len(frames))]
        entry = _audio_sample_entry(b"fLaC", nch, 16, rate, dfla)
    else:
        raise Mp4Error(f"writer supports sowt/twos/fLaC, not {codec!r}")

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
                + b"isom" + b"iso2" + b"mp41")
    base = len(ftyp) + 8
    offsets = []
    pos = base
    for pl in payloads:
        offsets.append(pos)
        pos += len(pl)
    k = len(payloads)
    duration = n

    stsd = _fullbox(b"stsd", struct.pack(">I", 1) + entry)
    stts_runs = bytearray()
    runs = []
    for d in deltas:
        if runs and runs[-1][1] == d:
            runs[-1][0] += 1
        else:
            runs.append([1, d])
    for cnt, d in runs:
        stts_runs += struct.pack(">II", cnt, d)
    stts = _fullbox(b"stts", struct.pack(">I", len(runs))
                    + bytes(stts_runs))
    stsc = _fullbox(b"stsc", struct.pack(">IIII", 1, 1, 1, 1))
    stsz = _fullbox(b"stsz", struct.pack(">II", 0, k)
                    + struct.pack(f">{k}I",
                                  *[len(pl) for pl in payloads]))
    stco = _fullbox(b"stco", struct.pack(">I", k)
                    + struct.pack(f">{k}I", *offsets))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    smhd = _fullbox(b"smhd", struct.pack(">HH", 0, 0))
    dref = _fullbox(b"dref", struct.pack(">I", 1)
                    + _fullbox(b"url ", b"", flags=1))
    minf = _box(b"minf", smhd + _box(b"dinf", dref) + stbl)
    hdlr = _fullbox(b"hdlr", struct.pack(">I", 0) + b"soun"
                    + bytes(12) + b"Audio\x00")
    mdhd = _fullbox(b"mdhd", struct.pack(">IIII", 0, 0, rate, duration)
                    + struct.pack(">HH", 0x55C4, 0))
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _fullbox(b"tkhd", struct.pack(">IIII", 0, 0, 1, 0)
                    + struct.pack(">I", duration) + bytes(8)
                    + struct.pack(">HHHH", 0, 0, 0x0100, 0)
                    + _IDENTITY_MATRIX + struct.pack(">II", 0, 0),
                    flags=7)
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _fullbox(b"mvhd", struct.pack(">IIII", 0, 0, rate, duration)
                    + struct.pack(">IHH", 0x00010000, 0x0100, 0)
                    + bytes(8) + _IDENTITY_MATRIX + bytes(24)
                    + struct.pack(">I", 2))
    moov = _box(b"moov", mvhd + trak)
    return ftyp + _box(b"mdat", b"".join(payloads)) + moov
