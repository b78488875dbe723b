"""Multimodal (image/audio/video) column plumbing for training-data
pipelines — beyond the reference (BASELINE.json north star).

Design for 100 TB: media rides as an opaque ``binary`` column plus a typed
metadata struct; all per-item work (decode, feature extraction, resize,
hashing) runs through ``map_rows``, the package's one per-row Python
pass, so bytes stream through in Arrow batches and never materialize on
the driver. Kernels that work on a whole batch at once use
``mapInArrow`` instead.

Codecs: every decoder is in-repo and dispatches by magic bytes, not the
mime hint. ``decode_image`` decodes PNG, JPEG (baseline and
progressive), GIF, BMP and TIFF; ``decode_audio`` decodes WAV, FLAC,
Ogg-FLAC and MP4/MOV PCM+FLAC tracks; ``decode_video`` decodes animated
GIF and Motion-JPEG MP4/AVI/Matroska. WebP, mp3 PCM and inter-frame
video codecs raise. ``fake_decode`` stays as the deterministic stand-in
for tests that only exercise the Spark-side plumbing — schema, batch
shape, partitioning — independent of any codec.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DataType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Canonical media-table schema: content is opaque bytes; metadata is typed.
MEDIA_META_SCHEMA = StructType([
    StructField("mime", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("sample_rate", IntegerType()),
])

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("content", BinaryType()),
    StructField("meta", MEDIA_META_SCHEMA),
])


def attach_payload(df: DataFrame, src_col: str, media_id_col: str,
                   mime: str = "application/octet-stream",
                   sample_rate: int | None = None) -> DataFrame:
    """Wrap an existing column as an opaque binary payload + metadata struct
    (how a real pipeline ingests raw fetched bytes)."""
    return df.select(
        F.col(media_id_col).cast("long").alias("media_id"),
        F.col(src_col).cast("binary").alias("content"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit(sample_rate).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]],
             schema: "str | StructType") -> DataFrame:
    """The package's one per-row Python pass. The first column of `df`
    is the row key. ``fn(*row_values)`` gets each row's values, key
    first, and returns that row's output tuples — zero or more, without
    the key. Every output row leads with its input row's key, under the
    key's own name and type from `df.schema`; `schema` (DDL or
    StructType) lists only the output fields, and each batch's frame is
    built from those names. Output values reach Arrow as Python objects,
    so a long beside a NULL stays exact (a float64 column would round it
    above 2**53)."""
    key = df.schema.fields[0]
    out = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    names = out.fieldNames()

    def run(batches):
        for pdf in batches:
            rows = [list(fn(*vals))
                    for vals in pdf.itertuples(index=False, name=None)]
            keys = pdf.iloc[:, 0].repeat([len(r) for r in rows])
            cols = list(zip(*(t for r in rows for t in r))) \
                or [()] * len(names)
            frame = {key.name: keys.reset_index(drop=True)}
            frame.update((n, pd.Series(c, dtype=object))
                         for n, c in zip(names, cols))
            yield pd.DataFrame(frame)

    return df.mapInPandas(run, StructType(
        [StructField(key.name, key.dataType, True)] + out.fields))


def decode_image(content: bytes, mime: str) -> "np.ndarray":
    """REAL image decode → HxWx3 uint8.

    PNG decodes fully in-repo via the stdlib codec (sources/png.py —
    zlib inflate + filter reconstruction; all color types, Adam7),
    baseline and progressive JPEG via the numpy DCT codec
    (sources/jpeg.py — Huffman entropy decode + batched IDCT + chroma
    upsampling), and GIF (first frame), BMP and TIFF via their in-repo
    codecs — the same replace-the-dependency pattern as the xlsx/html
    readers. WebP/…
    would need codecs not expressible over the stdlib and still
    raise — clearly-marked gate, not a silent fallback. Dispatch is
    by magic bytes, not the mime hint, so a mislabeled payload can't
    route to the wrong parser."""
    from openpolicedata_spark.sources import bmp as _bmp
    from openpolicedata_spark.sources import gif as _gif
    from openpolicedata_spark.sources import jpeg as _jpeg
    from openpolicedata_spark.sources import png as _png
    from openpolicedata_spark.sources import tiff as _tiff

    b = bytes(content)
    if b[:8] == _png.PNG_SIGNATURE:
        return _png.to_rgb(_png.decode_png(b))
    if b[:2] == _jpeg.JPEG_SIGNATURE:
        img = _jpeg.decode_jpeg(b)
        if img.ndim == 2:
            img = np.stack([img] * 3, axis=-1)
        return img
    if b[:6] in _gif.GIF_SIGNATURES:
        return _gif.decode_gif(b)[0][0]  # first frame as the still
    if b[:2] == _bmp.BMP_SIGNATURE:
        return _bmp.decode_bmp(b)
    if b[:4] in _tiff.TIFF_SIGNATURES:
        img = _tiff.decode_tiff(b)
        if img.ndim == 2:
            img = np.stack([img] * 3, axis=-1)
        return img
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        # name the inner codec: VP8 (lossy), VP8L (lossless), VP8X
        # (extended container). The VP8L spec's 120-entry 2D distance
        # map can't be reproduced offline with confidence, so all
        # three stay gated rather than risking silent wrong pixels.
        variant = b[12:16].rstrip(b" ").decode("latin-1", "replace")
        raise NotImplementedError(
            f"WebP ({variant or 'unknown'} chunk) needs a real codec "
            "(Pillow/cv2); the VP8L distance-map table is not "
            "offline-reproducible")
    raise NotImplementedError(
        f"no stdlib codec for {mime!r} (magic {b[:4]!r}); PNG, "
        "JPEG (baseline+progressive), GIF, BMP, and TIFF are "
        "supported natively, other formats need Pillow/cv2")


def decode_video(content: bytes,
                 mime: str) -> "tuple[list[np.ndarray], list[int]]":
    """REAL multi-frame decode → (frames, delays_cs); each frame is the
    composited (H, W, 3) uint8 canvas.

    Animated GIF decodes fully in-repo (sources/gif.py — LZW +
    disposal/transparency compositing), as do Motion-JPEG MP4/MOV
    tracks (sources/mp4.py walks the ISO BMFF sample tables and feeds
    each sample through the in-repo JPEG decoder), so the
    frame-sampling path (``sample_frames``) runs on real container
    bytes. mp4 with a real inter-frame codec (h264/vp9/av1) and webm
    would need ffmpeg (not in this container) and still raise —
    clearly-marked gate. Dispatch is by magic bytes, not the mime
    hint."""
    from openpolicedata_spark.sources import avi as _avi
    from openpolicedata_spark.sources import gif as _gif
    from openpolicedata_spark.sources import mp4 as _mp4
    from openpolicedata_spark.sources import webm as _webm

    b = bytes(content)
    if b[:6] in _gif.GIF_SIGNATURES:
        return _gif.decode_gif(b)
    if _mp4.looks_like_mp4(b):
        return _mp4.read_mp4_video(b)
    if _avi.looks_like_avi(b):
        return _avi.read_avi_video(b)
    if _webm.looks_like_webm(b):
        return _webm.read_webm_video(b)
    raise NotImplementedError(
        f"no stdlib codec for {mime!r} (magic {b[:4]!r}); animated GIF "
        "and Motion-JPEG MP4/AVI/Matroska are supported natively, "
        "inter-frame codecs (h264/vp8/vp9/av1) need ffmpeg")


def box_resize(img: "np.ndarray", h: int, w: int) -> "np.ndarray":
    """Exact area-average resize (H,W,3)→(h,w,3) via a summed-area table —
    pure numpy, no codec. Downscale averages each source box; upscale
    degenerates to nearest-neighbor (each target bin clamped to ≥1 source
    pixel). This is the resample behind the perceptual ahash grid."""
    H, W = img.shape[:2]
    x = img.astype(np.float64)

    def edges(n: int, m: int):
        e = (np.arange(m + 1) * n) // m
        lo = np.minimum(e[:-1], n - 1)
        hi = np.minimum(np.maximum(e[1:], lo + 1), n)
        return lo, hi

    ylo, yhi = edges(H, h)
    xlo, xhi = edges(W, w)
    sat = np.zeros((H + 1, W + 1) + x.shape[2:], dtype=np.float64)
    sat[1:, 1:] = x.cumsum(axis=0).cumsum(axis=1)
    s = (sat[yhi][:, xhi] - sat[ylo][:, xhi]
         - sat[yhi][:, xlo] + sat[ylo][:, xlo])
    area = ((yhi - ylo)[:, None] * (xhi - xlo)[None, :]).astype(np.float64)
    if x.ndim == 3:
        area = area[..., None]
    return np.clip(np.rint(s / area), 0, 255).astype(np.uint8)


def real_decode(content: bytes, h: int = 8, w: int = 8) -> "np.ndarray":
    """Drop-in for `fake_decode` backed by the real codecs: decode the
    actual pixels through `decode_image` (any still format it reads,
    chosen by magic bytes), then area-resize to (h, w). Pass as the
    `decode=` arg of image_ahash / image_dup_pairs to run the perceptual
    near-dup family on real image bytes."""
    return box_resize(decode_image(content, "image/*"), h, w)


def fake_decode(content: bytes, h: int = 8, w: int = 8) -> "np.ndarray":
    """Deterministic stand-in decoder: pseudo-pixels derived from the md5
    stream of the bytes. Same contract as decode_image (HxWx3 uint8)."""
    need = h * w * 3
    out = bytearray()
    counter = 0
    while len(out) < need:
        out += hashlib.md5(content + counter.to_bytes(4, "big")).digest()
        counter += 1
    return np.frombuffer(bytes(out[:need]), dtype=np.uint8).reshape(h, w, 3)


BINARY_FEATURES_SCHEMA = "byte_len long, digest string, mean_pixel double"


def binary_features(df: DataFrame, content_col: str = "content",
                    id_col: str = "media_id",
                    with_decode: bool = True) -> DataFrame:
    """Per-item features over the binary payload via `map_rows`: exact
    byte length + md5 digest (both independently
    computable by the SQL oracle) + mean pseudo-pixel from the fake decode
    (exercises the decode→ndarray→feature path).

    ``with_decode=False`` skips the fake-decode mean_pixel column
    entirely (r13 optimization): Catalyst cannot prune INSIDE a
    Python map function, so a caller that only wants byte_len/digest
    (q34) would otherwise pay the per-row decode→ndarray→mean for a
    column it immediately drops — guide §4.1's don't-compute-what-you-
    throw-away applied at the UDF boundary (measured 1.50x on q34 at
    sf0.1). With the decode gone, NOTHING left in the function needs
    Python: byte_len IS ``octet_length`` and digest IS ``md5`` (both
    NULL-propagating built-ins with identical semantics), so the
    no-decode path skips the JVM↔Python boundary entirely (guide §4.1:
    prefer built-ins; r13 session 4, measured 2.02× on q34 at sf0.1,
    interleaved; plan: MapInPandas node removed). The Python pass
    remains for ``with_decode=True``, where the codec work is genuinely
    Python. Both paths keep the caller's key name and type."""
    if not with_decode:
        return df.select(
            F.col(id_col),
            F.octet_length(F.col(content_col)).cast("long").alias("byte_len"),
            F.md5(F.col(content_col)).alias("digest"),
        )

    def features(_key, b):
        # NULL content → NULL length (SQL octet_length semantics; an
        # empty-but-present payload is byte_len 0, a missing one is
        # NULL — pcm_features makes the same distinction)
        if b is None:
            return [(None, None, None)]
        return [(len(b), hashlib.md5(b).hexdigest(),
                 float(fake_decode(bytes(b)).mean()))]

    return map_rows(df.select(id_col, content_col), features,
                    BINARY_FEATURES_SCHEMA)


RESIZE_SCHEMA = "height int, width int, pixels binary"


def resize_images(df: DataFrame, h: int, w: int, content_col: str = "content",
                  id_col: str = "media_id") -> DataFrame:
    """Decode → resize → re-emit pixel buffers (fake decode backend).
    Batch shape and output schema match what a real Pillow-backed version
    would produce; only the codec is substituted. A NULL payload has
    no image, so all three outputs are NULL."""

    def resize(_key, b):
        if b is None:
            return [(None, None, None)]
        return [(h, w, fake_decode(bytes(b), h, w).tobytes())]

    return map_rows(df.select(id_col, content_col), resize, RESIZE_SCHEMA)


def decode_audio(content: bytes, mime: str) -> "tuple[int, np.ndarray]":
    """REAL audio decode → (sample_rate, float64 samples in [-1, 1],
    shaped (n_frames, n_channels)).

    WAV (RIFF PCM / IEEE float, incl. WAVE_FORMAT_EXTENSIBLE) and FLAC
    (sources/flac.py — full subframe/Rice/stereo-decorrelation
    decoder), Ogg-FLAC and MP4/MOV PCM+FLAC tracks decode fully in-repo
    via the stdlib codecs. mp3/vorbis/opus/aac PCM would need a real
    audio codec (soundfile/ffmpeg) and still raises. Dispatch is by
    magic bytes, not the mime hint. Raw codec-free PCM (audio/L16)
    bypasses this entirely via pcm_features."""
    from openpolicedata_spark.sources import wav as _wav

    b = bytes(content)
    if b[:4] == _wav.WAV_SIGNATURE:
        rate, samples = _wav.read_wav(b)
        if samples.dtype == np.uint8:
            norm = (samples.astype(np.float64) - 128.0) / 128.0
        elif samples.dtype == np.int16:
            norm = samples.astype(np.float64) / 32768.0
        elif samples.dtype == np.int32:
            norm = samples.astype(np.float64) / 2147483648.0
        else:  # float32 / float64 are already nominal [-1, 1]
            norm = samples.astype(np.float64)
        return rate, norm
    from openpolicedata_spark.sources import flac as _flac
    from openpolicedata_spark.sources import ogg as _ogg

    if b[:4] == _flac.FLAC_SIGNATURE:
        rate, bps, samples = _flac.read_flac(b)
        return rate, samples.astype(np.float64) / float(1 << (bps - 1))
    if _ogg.looks_like_ogg(b):
        rate, bps, samples = _ogg.read_ogg_audio(b)
        return rate, samples.astype(np.float64) / float(1 << (bps - 1))
    from openpolicedata_spark.sources import mp4 as _mp4

    if _mp4.looks_like_mp4(b):
        rate, bps, samples = _mp4.read_mp4_audio(b)
        return rate, samples.astype(np.float64) / float(1 << (bps - 1))
    raise NotImplementedError(
        f"no stdlib codec for {mime!r} (magic {b[:4]!r}); WAV, FLAC, "
        "Ogg-FLAC, and MP4/MOV PCM+FLAC tracks are supported "
        "natively, mp3/vorbis/opus/aac PCM needs soundfile/ffmpeg "
        "(mp3 METADATA scans work via mp3_scan — FIXTURES.md F10); "
        "raw PCM (audio/L16) is handled codec-free by pcm_features")


PCM_FEATURES_SCHEMA = ("n_samples long, duration_s double, rms double, "
                       "peak int, n_frames int")


def pcm_features(df: DataFrame, frame_ms: int = 25,
                 content_col: str = "content",
                 id_col: str = "media_id",
                 sample_rate_col: str = "meta.sample_rate") -> DataFrame:
    """Audio feature extraction over raw 16-bit little-endian PCM — REAL
    math (no codec involved): per-item sample count, duration, global RMS,
    peak amplitude, and the number of `frame_ms` analysis frames. Arrow
    batches → numpy int16 views, vectorized per payload; the compressed
    formats would route through decode_audio (stubbed) first."""

    def features(_key, buf, sr):
        # Arrow→pandas renders a nullable int sample_rate as float64
        # NaN — `is None` never fires, use pd.isna. Null content →
        # all-null metrics (matches SQL NULL propagation, e.g.
        # octet_length(encode(NULL))).
        if buf is None:
            return [(None, None, None, None, None)]
        x = np.frombuffer(bytes(buf)[: (len(buf) // 2) * 2],
                          dtype="<i2").astype(np.float64)
        n = x.size
        rms = float(np.sqrt(np.mean(x * x))) if n else None
        peak = int(np.abs(x).max()) if n else None
        if sr is None or pd.isna(sr) or sr <= 0:
            # rms/peak need no clock; duration/frames do
            return [(n, None, rms, peak, None)]
        frame = max(int(sr * frame_ms / 1000), 1)
        return [(n, n / sr, rms, peak, -(-n // frame) if n else 0)]

    return map_rows(
        df.select(id_col, content_col, F.col(sample_rate_col)),
        features, PCM_FEATURES_SCHEMA)


VAD_STATS_SCHEMA = ("n_frames long, n_speech long, first_speech long, "
                    "last_speech long, total_energy long")


def _frame_energies(buf: bytes,
                    frame_samples: int) -> "tuple[int, np.ndarray]":
    """The ONE integer-energy convention both VAD operators (and both
    DuckDB oracles, q164/q171) share: decode any supported container,
    fold to mono int64 (sum // n_channels), frame on the fixed grid
    (trailing partial frame dropped), exact Σv² per frame. Returns
    (sample_rate, int64 energies)."""
    rate, norm = decode_audio(buf, "audio/*")
    v = np.rint(norm * 32768.0).astype(np.int64)
    mono = v.sum(axis=1) // v.shape[1]
    nf = mono.shape[0] // frame_samples
    fr = mono[:nf * frame_samples].reshape(nf, frame_samples)
    return rate, (fr * fr).sum(axis=1)


def vad_stats(df: DataFrame, frame_samples: int = 80,
              energy_threshold: int = 1_000_000_000,
              content_col: str = "content",
              id_col: str = "media_id") -> DataFrame:
    """Energy-based voice-activity segmentation — the first filter a
    speech-corpus pipeline runs after decode (silence/dead-air trimming
    before expensive ASR or dedup). Decodes ANY supported container
    via `decode_audio` (WAV incl. G.711/ADPCM, FLAC, Ogg, MP4), folds
    to mono int16, frames at `frame_samples`, and marks a frame as
    speech when its INTEGER energy sum (Σ v², exact in int64) exceeds
    `energy_threshold`. Emits per item: frame count, speech-frame
    count, 1-based first/last speech frame (0 = none), and the total
    energy — all integers, so a SQL engine can replay them exactly
    (q164). The trailing partial frame is dropped (a fixed analysis
    grid, the standard VAD convention). One `map_rows` pass; bytes never
    leave the executor."""

    def stats(_key, buf):
        if buf is None:
            return [(None, None, None, None, None)]
        _rate, energy = _frame_energies(bytes(buf), frame_samples)
        speech = energy > energy_threshold
        idx = np.flatnonzero(speech)
        return [(energy.shape[0], int(speech.sum()),
                 int(idx[0]) + 1 if idx.size else 0,
                 int(idx[-1]) + 1 if idx.size else 0,
                 int(energy.sum()))]

    return map_rows(df.select(id_col, content_col), stats, VAD_STATS_SCHEMA)


VAD_SEGMENTS_SCHEMA = ("seg_idx long, start_frame long, end_frame long, "
                       "n_frames long, start_ms long, end_ms long, "
                       "seg_energy long")


def vad_segments(df: DataFrame, frame_samples: int = 80,
                 energy_threshold: int = 1_000_000_000,
                 min_frames: int = 1,
                 content_col: str = "content",
                 id_col: str = "media_id") -> DataFrame:
    """Per-SEGMENT VAD emission — the operator an ASR-prep pipeline
    actually calls between decode and transcription (round-7 verdict
    item 5): `vad_stats` summarizes a clip, this emits one row per
    maximal run of consecutive speech frames so segments can feed
    chunking/dedup/transcription like the text chunkers do. Same
    decode/framing/threshold as `vad_stats` (exact int64 energies);
    runs shorter than `min_frames` are dropped (the hangover-free
    version of webrtcvad's min-duration), and `seg_idx` is 1-based
    over EMITTED segments. Frame indices are 1-based inclusive
    (matching q164's first/last convention); start_ms/end_ms are the
    segment's [start, end) sample positions on the decoded clock in
    integer floor milliseconds — all-integer outputs, so a SQL engine
    replays the whole gaps-and-islands computation exactly (q171).
    One `map_rows` pass; bytes never leave the executor, a NULL
    payload emits nothing, and a clip emits at most
    n_frames/min_frames rows."""

    def segments(_key, buf):
        if buf is None:
            return
        rate, energy = _frame_energies(bytes(buf), frame_samples)
        idx = np.flatnonzero(energy > energy_threshold)
        if not idx.size:
            return
        brk = np.flatnonzero(np.diff(idx) > 1)
        starts = np.concatenate(([idx[0]], idx[brk + 1]))
        ends = np.concatenate((idx[brk], [idx[-1]]))
        cs = np.concatenate(([0], np.cumsum(energy)))
        seg = 0
        for s0, e0 in zip(starts.tolist(), ends.tolist()):
            if e0 - s0 + 1 < min_frames:
                continue
            seg += 1
            yield (seg, s0 + 1, e0 + 1, e0 - s0 + 1,
                   s0 * frame_samples * 1000 // rate,
                   (e0 + 1) * frame_samples * 1000 // rate,
                   int(cs[e0 + 1] - cs[s0]))

    return map_rows(df.select(id_col, content_col), segments,
                    VAD_SEGMENTS_SCHEMA)


MP3_SCAN_SCHEMA = ("n_frames long, sample_rate long, duration_ms long, "
                   "audio_bytes long, first_frame_offset long, "
                   "bitrate_min_kbps long, bitrate_max_kbps long, "
                   "bitrate_sum_kbps long, is_vbr boolean")


def mp3_scan(df: DataFrame, content_col: str = "content",
             id_col: str = "media_id") -> DataFrame:
    """Metadata-only mp3 scan (`sources.mp3.mp3_stats` — ID3v2 skip +
    frame walk over every MPEG version x layer combination, round-9
    widened): duration on the sample clock, frame
    count, bitrate profile, VBR flag — the ffprobe-style pass a speech
    corpus runs to inventory/stratify audio BEFORE committing decode
    compute. PCM decode stays gated (FIXTURES.md §F10: the Annex-B
    Huffman tables / synthesis window are not offline-reproducible);
    the container arithmetic here is pure recalled FORMULA
    (144*bitrate//rate + padding, syncsafe sizes), pinned by
    hand-computed fixtures and q172's parse-vs-generative-replay
    oracle. One `map_rows` pass; NULL and unparseable payloads yield
    null stats rather than failing the scan (the walker itself raises
    loudly when called directly)."""
    from openpolicedata_spark.sources.mp3 import Mp3Error, mp3_stats

    schema = DataType.fromDDL(MP3_SCAN_SCHEMA)
    cols = schema.fieldNames()

    def scan(_key, buf):
        if buf is not None:
            try:
                st = mp3_stats(bytes(buf))
            except Mp3Error:
                pass
            else:
                return [tuple(st[c] for c in cols)]
        return [(None,) * len(cols)]

    return map_rows(df.select(id_col, content_col), scan, schema)


def sample_frames(df: DataFrame, every_n: int = 10, content_col: str = "content",
                  id_col: str = "media_id",
                  n_frames_col: str = "meta.n_frames") -> DataFrame:
    """Video frame sampling: one output row per kept frame index. The frame
    *indices* are computed from metadata JVM-side (explode of a sequence —
    no Python in the hot path); only the per-frame decode would call a
    codec, stubbed like decode_image."""
    n = F.coalesce(F.col(n_frames_col), F.lit(0))
    return (
        df.select(
            F.col(id_col),
            F.explode(
                F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(every_n)))
                .otherwise(F.array())
            ).alias("frame_index"),
        )
    )


def image_ahash(df: DataFrame, content_col: str = "content",
                id_col: str = "media_id", grid: int = 8,
                decode=None) -> DataFrame:
    """Perceptual average-hash per image: decode → grayscale `grid`×`grid`
    → threshold each cell against the image mean → 64-bit hash. Visually
    near-identical images (re-encodes, small crops/edits with a real
    decoder) land within a few hamming bits; `image_dup_pairs` below
    turns that into a blocked near-dup join.

    One `map_rows` pass (numpy per payload); `decode` is injectable —
    defaults to `fake_decode` (the md5 stand-in: only byte-identical
    payloads collide) so the plumbing is testable without codecs, and a
    Pillow-backed decoder drops in unchanged.

    The hash has exactly `grid*grid` bits, stored in one signed long —
    grid > 8 would need more than 64 bits and raises rather than
    silently hashing only the first 64 cells."""
    nbits = grid * grid
    if nbits > 64:
        raise ValueError(
            f"grid={grid} needs {nbits} hash bits but the hash is one "
            "64-bit long; use grid <= 8")
    dec = decode or fake_decode

    def ahash(_key, b):
        return [(None if b is None
                 else ahash_of_pixels(dec(bytes(b), grid, grid), nbits),)]

    return map_rows(df.select(id_col, content_col), ahash, "ahash long")


def ahash_of_pixels(px: "np.ndarray", nbits: int = 64) -> int:
    """The average-hash bit math shared by `image_ahash` and the
    video frame-signature path (q139): channel-mean each cell,
    threshold against the image mean (strict >), pack bits low-to-high
    in raveled cell order, return a SIGNED 64-bit value. When channels
    are equal and cells are integers the mean is an exact /nbits, so
    the hash replays bit-identically in an external SQL oracle."""
    g = px.astype(np.float64).mean(axis=2).ravel()[:nbits]
    bits = g > g.mean()
    v = 0
    for i, bit in enumerate(bits):
        if bit:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def video_frame_hashes(content: bytes, decode=None) -> "list[int]":
    """One container's frame signatures, in frame order: decode it
    (`decode_video`'s magic-byte dispatch, or an injectable
    ``decode(bytes) -> frames`` stand-in) and `ahash_of_pixels` each
    frame. `video_dup_pairs` blocks on these hashes."""
    b = bytes(content)
    frames = decode(b) if decode is not None else decode_video(b, "video/*")[0]
    return [ahash_of_pixels(fr) for fr in frames]


def ahash_chunk_exprs(n_chunks: int, nbits: int = 64,
                      col: str = "ahash") -> list[Column]:
    """Pigeonhole chunk expressions over a 64-bit perceptual hash: any
    pair within `n_chunks - 1` hamming bits shares at least one exact
    chunk. Shared by `image_dup_pairs` and `streaming.media_dedup_sink`
    so batch and stream block identically."""
    width = nbits // n_chunks
    if width < 1:
        raise ValueError(
            f"{n_chunks} chunks need at least {n_chunks} bits but the "
            f"hash has only {nbits}")
    if n_chunks == 1 and nbits == 64:
        # exact-hash equality; the full 64-bit "chunk" is the hash
        # itself (a (1<<64)-1 mask would overflow a long literal)
        return [F.col(col)]
    mask = (1 << width) - 1
    return [
        F.shiftrightunsigned(F.col(col), k * width).bitwiseAND(F.lit(mask))
        for k in range(n_chunks)
    ]


def image_dup_pairs(df: DataFrame, max_hamming: int = 3,
                    content_col: str = "content",
                    id_col: str = "media_id", grid: int = 8,
                    decode=None,
                    max_bucket_size: Optional[int] = None,
                    hashes: Optional[DataFrame] = None) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash hamming distance —
    the image face of the text near-dedup family. Pigeonhole blocking
    (same shape as `dedup.simhash_dup_pairs`): split the `grid*grid`-bit
    hash into `max_hamming + 1` chunks — any pair within the distance
    budget shares at least one exact chunk — bucket on (chunk_id, chunk),
    generate i<j pairs in-bucket, verify with bit_count(xor). The hash
    UDF runs once; the shuffle carries (chunk, id, hash) longs, never
    pixels.

    `max_bucket_size`: skew guard (same contract as
    `dedup.minhash_lsh_dup_pairs`) — a bucket of B images emits B(B-1)/2
    candidate pairs on one task, and corpora dominated by one template
    (letterheads, thumbnails of a default image) collapse into few
    chunks; oversized buckets are dropped rather than stalling the
    stage."""
    n_chunks = max_hamming + 1
    nbits = grid * grid
    width = nbits // n_chunks
    if width < 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_chunks} chunks but the "
            f"hash has only {nbits} bits")
    # `hashes` lets a caller that already paid the decode (e.g.
    # streaming.media_dedup_sink, which also indexes the hash) pass the
    # (id, ahash) frame instead of decoding every payload twice
    ah = (hashes if hashes is not None
          else image_ahash(df, content_col, id_col, grid, decode))
    chunk_exprs = ahash_chunk_exprs(n_chunks, nbits)
    chunks = ah.select(
        id_col, "ahash",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_id", "chunk"),
    )
    buckets = (
        chunks.groupBy("chunk_id", "chunk")
        .agg(F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "ahash"))
        ).alias("ms"))
        .where(F.size("ms") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ms") <= max_bucket_size)
    from openpolicedata_spark.operators.dedup import bucket_pairs

    cand = bucket_pairs(
        buckets, "ms",
        lambda x, y: F.struct(
            x["id"].alias("id_a"), y["id"].alias("id_b"),
            x["ahash"].alias("ha"), y["ahash"].alias("hb")))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cand.withColumn("hamming", ham)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# One bit per block: the shared pigeonhole blocking chunks a full 64-bit
# hash, and a shorter hash would make the always-zero high chunks a
# corpus-wide degenerate bucket.
AUDIO_HASH_BLOCKS = 64


def audio_energy_hash(samples: "np.ndarray") -> int:
    """Integer-exact audio fingerprint — the audio face of
    `ahash_of_pixels`: fold channels by summing PER-CHANNEL
    magnitudes (|L| + |R|, not |L + R| — an out-of-phase stereo pair
    hashes as loud, not as silence), split into `AUDIO_HASH_BLOCKS`
    equal blocks (trailing remainder dropped), sum |sample| per block,
    and set bit j when ``block_sum * AUDIO_HASH_BLOCKS > total_sum``
    (strict). All arithmetic is integer, so every bit replays in an
    external SQL oracle (q150), and re-encodes through any LOSSLESS
    audio chain (WAV/FLAC/Ogg-FLAC/MP4-PCM) hash identically. Returns
    a SIGNED 64-bit value like the image/video hashes."""
    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    mono = np.abs(a.astype(np.int64)).sum(axis=1)
    n = (len(mono) // AUDIO_HASH_BLOCKS) * AUDIO_HASH_BLOCKS
    if n == 0:
        return 0
    blocks = mono[:n].reshape(AUDIO_HASH_BLOCKS, -1).sum(axis=1)
    total = int(blocks.sum())
    v = 0
    for j, b in enumerate(blocks):
        if int(b) * AUDIO_HASH_BLOCKS > total:
            v |= 1 << j
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def audio_ahash(df: DataFrame, content_col: str = "content",
                id_col: str = "media_id", decode=None) -> DataFrame:
    """Energy fingerprint per audio payload: decode (real codecs via
    `decode_audio`'s magic dispatch, or an injectable
    ``decode(bytes) -> int array`` stand-in), de-normalize to int16,
    hash with `audio_energy_hash`. One `map_rows` pass; bytes never
    leave the executor, the output is (id, ahash) and a NULL payload
    hashes to NULL, as in `image_ahash`."""

    def ahash(_key, blob):
        if blob is None:
            return [(None,)]
        if decode is not None:
            samples = np.asarray(decode(bytes(blob)))
        else:
            _rate, norm = decode_audio(bytes(blob), "audio/*")
            samples = np.rint(norm * 32768.0).astype(np.int64)
        return [(audio_energy_hash(samples),)]

    return map_rows(df.select(id_col, content_col), ahash, "ahash long")


def audio_dup_pairs(df: DataFrame, max_hamming: int = 3,
                    content_col: str = "content",
                    id_col: str = "media_id", decode=None,
                    max_bucket_size: Optional[int] = None) -> DataFrame:
    """Near-duplicate audio pairs — the audio face of the blocked
    near-dedup family. The energy hash decodes once; the pigeonhole
    hamming join is SHARED with the image path (`image_dup_pairs`
    blocks purely on the 64-bit hash via ``hashes=``), so the shuffle
    carries longs, never samples, and the `max_bucket_size` skew guard
    applies identically (a corpus full of silence collapses into one
    bucket — the degenerate signature case)."""
    hashes = audio_ahash(df, content_col, id_col, decode)
    return image_dup_pairs(df, max_hamming=max_hamming,
                           content_col=content_col, id_col=id_col,
                           max_bucket_size=max_bucket_size,
                           hashes=hashes)


def video_dup_pairs(frame_hashes: DataFrame, id_col: str = "doc_id",
                    hash_col: str = "fhash", min_shared: int = 3,
                    max_bucket_size: Optional[int] = None) -> DataFrame:
    """Video near-dup pairs from per-frame perceptual signatures — the
    video face of the blocked near-dedup family. Input is the
    (video_id, frame_hash) frame produced by `video_frame_hashes`; two
    videos are near-dups when they share at least `min_shared` exact
    frame hashes. The blocking key IS the frame hash: bucket on it,
    generate i<j pairs in-bucket, then count distinct shared hashes per
    pair. The shuffle carries (hash, id) longs, never frames.

    `max_bucket_size` is the family-standard skew guard
    (`dedup.minhash_lsh_dup_pairs` contract): real video corpora are
    exactly where degenerate signatures live — an all-black or title
    frame shared by a whole corpus collapses into ONE bucket whose
    pair explosion is quadratic on a single task. Oversized buckets are
    dropped rather than stalling the stage; a hash that common carries
    no near-dup signal anyway (it is the stopword of frames).

    Output: (id_a, id_b, shared_frames), id_a < id_b."""
    vids = (frame_hashes
            .select(F.col(id_col).alias("id"),
                    F.col(hash_col).alias("fh"))
            .distinct())
    buckets = (vids.groupBy("fh")
               .agg(F.sort_array(F.collect_list("id")).alias("ms"))
               .where(F.size("ms") > 1))
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ms") <= max_bucket_size)
    from openpolicedata_spark.operators.dedup import bucket_pairs

    # the pair struct keeps the bucketing hash: bucket_pairs dedups the
    # exploded structs, and (fh, id_a, id_b) triples are already unique
    # (vids is distinct), so the downstream count sees every shared
    # frame exactly once
    cand = bucket_pairs(
        buckets.withColumn(
            "ms", F.transform(
                F.col("ms"),
                lambda x: F.struct(x.alias("id"), F.col("fh")))),
        "ms",
        lambda x, y: F.struct(
            x["fh"].alias("fh"), x["id"].alias("id_a"),
            y["id"].alias("id_b")))
    return (cand.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_frames"))
            .where(F.col("shared_frames") >= min_shared))
