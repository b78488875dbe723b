"""Streaming (batch↔stream equivalence), multimodal plumbing, and
language-ID tests."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from openpolicedata_spark.operators.multimodal import (
    attach_payload,
    binary_features,
    decode_image,
    fake_decode,
    resize_images,
    sample_frames,
)
from openpolicedata_spark.streaming import (
    read_events_stream,
    run_available_now,
    sessionize,
    windowed_event_counts,
)


# -- streaming ---------------------------------------------------------------

def _events_path(sf_dir):
    return f"{sf_dir}/events.parquet"


def _events_batch(spark, sf_dir):
    from openpolicedata_spark.sources.file import read_parquet_repaired

    return read_parquet_repaired(spark, _events_path(sf_dir))


def test_stream_windowed_agg_equals_batch(spark, sf_dir):
    """The SAME expression computed incrementally (availableNow stream with
    watermark) must equal the batch aggregation."""
    batch = _events_batch(spark, sf_dir)
    expected = {
        (r.w_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_event_counts(batch, window="6 hours").collect()
    }
    stream = read_events_stream(spark, _events_path(sf_dir))
    assert stream.isStreaming
    got_df = run_available_now(
        windowed_event_counts(stream, window="6 hours"), "win_counts")
    got = {(r.w_start, r.event_type): (r.n_events, r.sum_value)
           for r in got_df.collect()}
    assert got == expected and len(got) > 0


def test_stream_sessionize_equals_batch(spark, sf_dir):
    batch = _events_batch(spark, sf_dir)
    expected = {(r.user_id, r.session_start): (r.session_end, r.n_events)
                for r in sessionize(batch, gap="30 minutes").collect()}
    stream = read_events_stream(spark, _events_path(sf_dir))
    got_df = run_available_now(sessionize(stream, gap="30 minutes"), "sessions")
    got = {(r.user_id, r.session_start): (r.session_end, r.n_events)
           for r in got_df.collect()}
    assert got == expected and len(got) > 0


# -- multimodal --------------------------------------------------------------

def test_attach_payload_and_features(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "spark at scale"), (3, None)],
        "media_id long, text string")
    media = attach_payload(df, "text", "media_id", mime="text/plain")
    assert [f.name for f in media.schema.fields] == ["media_id", "content", "meta"]
    assert media.schema["content"].dataType.simpleString() == "binary"
    feats = {r.media_id: r for r in binary_features(media).collect()}
    assert feats[1].byte_len == len(b"hello world")
    assert feats[1].digest == hashlib.md5(b"hello world").hexdigest()
    assert feats[1].mean_pixel == pytest.approx(
        float(fake_decode(b"hello world").mean()))
    # NULL payload → NULL everywhere (SQL octet_length semantics); a
    # present-but-empty payload would be byte_len 0 with a real digest
    assert feats[3].byte_len is None and feats[3].digest is None


def test_binary_features_without_decode(spark):
    """r13: with_decode=False must drop mean_pixel from the OUTPUT
    SCHEMA (so the per-row fake decode never runs — Catalyst cannot
    prune inside mapInPandas) while byte_len/digest stay identical to
    the full path, including the NULL-payload row."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "spark at scale"), (3, None)],
        "media_id long, text string")
    media = attach_payload(df, "text", "media_id", mime="text/plain")
    slim = binary_features(media, with_decode=False)
    assert [f.name for f in slim.schema.fields] == [
        "media_id", "byte_len", "digest"]
    want = {r.media_id: (r.byte_len, r.digest)
            for r in binary_features(media).collect()}
    got = {r.media_id: (r.byte_len, r.digest) for r in slim.collect()}
    assert got == want
    # r13 session 4: with the decode gone, byte_len/digest are computed
    # by JVM built-ins (octet_length/md5) — the no-decode path must have
    # NO Python boundary at all (guide §4.1), while the full path keeps
    # its mapInPandas stage for the codec work
    from openpolicedata_spark.plans import summarize_plan
    assert summarize_plan(slim).n_python_eval == 0
    assert summarize_plan(binary_features(media)).n_python_eval == 1


def test_resize_images_batch_shape(spark):
    df = spark.createDataFrame([(1, bytearray(b"imgbytes"))],
                               "media_id long, content binary")
    out = resize_images(df, h=4, w=6).collect()[0]
    assert (out.height, out.width) == (4, 6)
    assert len(out.pixels) == 4 * 6 * 3
    assert bytes(out.pixels) == fake_decode(b"imgbytes", 4, 6).tobytes()


def test_sample_frames_jvm_side(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"v"), ("video/mp4", None, None, 25, None)),
         (2, bytearray(b"w"), ("video/mp4", None, None, 0, None))],
        "media_id long, content binary, "
        "meta struct<mime:string,width:int,height:int,n_frames:int,sample_rate:int>")
    got = sample_frames(df, every_n=10).collect()
    assert [(r.media_id, r.frame_index) for r in got] == [(1, 0), (1, 10), (1, 20)]


def test_decode_image_unknown_magic_gated():
    # PNG/JPEG/GIF/BMP decode for real now; unknown magic stays a gate
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_image(b"x", "image/png")


# -- language id -------------------------------------------------------------

def test_language_id_expr(spark):
    from openpolicedata_spark.functions.text import language_id_expr

    df = spark.createDataFrame(
        [(1, "the cat and the dog is in that house"),
         (2, "el perro y la casa es que un dia"),
         (3, "der hund und die katze ist nicht ein"),
         (4, "zzz qqq xxx"),
         (5, "le chat est un animal de la maison pas")],
        "id long, text string")
    got = {r.id: r.lang for r in
           df.select("id", language_id_expr(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und", 5: "fr"}


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    """applyInPandasWithState custom operator: a single availableNow drain
    must equal the batch groupBy (same rounding)."""
    from openpolicedata_spark.streaming import running_user_totals

    batch = _events_batch(spark, sf_dir)
    expected = {r.user_id: (r.n_events, r.total_value)
                for r in running_user_totals(batch).collect()}
    stream = read_events_stream(spark, _events_path(sf_dir))
    got_df = run_available_now(running_user_totals(stream), "user_totals")
    got = {r.user_id: (r.n_events, r.total_value) for r in got_df.collect()}
    assert set(got) == set(expected) and len(got) > 0
    for u, (n, t) in expected.items():
        gn, gt = got[u]
        assert gn == n and abs(gt - t) < 0.05, (u, (n, t), (gn, gt))


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """At-least-once delivery simulated by duplicating the events file in
    the watched directory; dedup_events must restore exactly-once (same
    result as batch dropDuplicates on the single copy)."""
    import shutil

    from openpolicedata_spark.streaming import dedup_events

    watch = tmp_path / "events_dup"
    watch.mkdir()
    shutil.copy(_events_path(sf_dir), watch / "a.parquet")
    shutil.copy(_events_path(sf_dir), watch / "b.parquet")

    batch = _events_batch(spark, sf_dir)
    n_expected = dedup_events(batch).count()
    assert n_expected == batch.count()  # event_id unique in the source

    stream = read_events_stream(spark, str(watch))
    out = run_available_now(dedup_events(stream), "dedup_events")
    assert out.count() == n_expected
    # every event survives exactly once
    assert out.select("event_id").distinct().count() == n_expected


def test_stream_stream_window_join_equals_batch(spark, sf_dir):
    """Stream-stream time-bounded join (watermarks + range condition, the
    streaming-legal as-of substitute) must equal the batch range join."""
    from openpolicedata_spark.streaming import enrich_within_window

    batch = _events_batch(spark, sf_dir)
    purchases = batch.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id")
    clicks = batch.where(F.col("event_type") == "click") \
        .select("user_id", "ts", "event_id")
    expected = {(r.event_id, r.r_event_id) for r in enrich_within_window(
        purchases, clicks, window="30 minutes").collect()}

    s = read_events_stream(spark, _events_path(sf_dir))
    sp = s.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id")
    sc = s.where(F.col("event_type") == "click") \
        .select("user_id", "ts", "event_id")
    got_df = run_available_now(
        enrich_within_window(sp, sc, window="30 minutes"), "ss_join")
    got = {(r.event_id, r.r_event_id) for r in got_df.collect()}
    assert got == expected and len(got) > 0


def test_stream_stream_left_outer_join_equals_batch(spark, sf_dir,
                                                    tmp_path):
    """Round 12: the OUTER stream-stream class — unmatched left rows
    must emit with NULL right columns once the join watermark passes
    their window (a far-future heartbeat on BOTH sides flushes the
    tail), equaling the batch left range join exactly."""
    import shutil

    from openpolicedata_spark.streaming import enrich_within_window

    watch = tmp_path / "ev"
    watch.mkdir()
    shutil.copy(_events_path(sf_dir), str(watch / "a.parquet"))
    batch = _events_batch(spark, sf_dir)
    ts_t = dict(batch.dtypes)["ts"]
    # the click heartbeat must SURVIVE the right side's user_id % 3
    # filter or the right watermark never advances (the join watermark
    # is the MIN of both sides') — and Spark's % is sign-following, so
    # -1 % 3 = -1: use -3 (-3 % 3 = 0). Distinct keys keep the two
    # heartbeats from matching each other or any real row.
    hb = (spark.createDataFrame(
        [(10**9, "2030-01-01 00:00:00", -1, "purchase", 0.0, "{}"),
         (10**9 + 1, "2030-01-01 00:00:00", -3, "click", 0.0, "{}")],
        "event_id long, t string, user_id long, event_type string, "
        "value double, props string")
        .withColumn("ts", F.col("t").cast(ts_t)).drop("t")
        .select(*batch.columns))
    # the file source does NOT recurse into subdirectories: land the
    # heartbeat as a plain FILE next to a.parquet, not a parquet dir
    import glob as _glob

    hbdir = tmp_path / "hb_stage"
    hb.coalesce(1).write.parquet(str(hbdir))
    shutil.move(_glob.glob(str(hbdir / "part-*.parquet"))[0],
                str(watch / "b.parquet"))

    def sides(df):
        l = (df.where(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id"))
        r = (df.where((F.col("event_type") == "click")
                      & (F.col("user_id") % 3 == 0))
             .select("user_id", "ts", "event_id"))
        return l, r

    lb, rb = sides(batch.unionByName(hb))
    expected = {(r.event_id, r.r_event_id) for r in enrich_within_window(
        lb, rb, window="30 minutes", how="left").collect()
        if r.event_id < 10**9}
    assert any(re is None for _, re in expected)   # real unmatched rows
    assert any(re is not None for _, re in expected)

    s = read_events_stream(spark, str(watch))
    ls, rs = sides(s)
    got_df = run_available_now(
        enrich_within_window(ls, rs, window="30 minutes", how="left"),
        "ss_left_join")
    got = {(r.event_id, r.r_event_id) for r in got_df.collect()
           if r.event_id < 10**9}
    assert got == expected

    import pytest as _pytest

    with _pytest.raises(ValueError, match="how"):
        enrich_within_window(lb, rb, how="cross")


def test_stream_stream_semi_join_equals_batch(spark, sf_dir):
    """Round 13: `how='left_semi'` — the existence-filter class (keep
    left rows with at least one in-window right row, NO right columns,
    NO row multiplication on multi-match) must equal the batch semi
    join. Matched rows emit on match, so no heartbeat flush is needed
    for the matched set."""
    from openpolicedata_spark.streaming import enrich_within_window

    batch = _events_batch(spark, sf_dir)
    purchases = batch.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id")
    clicks = batch.where(F.col("event_type") == "click") \
        .select("user_id", "ts", "event_id")
    sem = enrich_within_window(purchases, clicks, window="6 hours",
                               how="left_semi")
    assert sem.columns == ["user_id", "ts", "event_id"]  # no right cols
    expected = {r.event_id for r in sem.collect()}
    inner_ids = [r.event_id for r in enrich_within_window(
        purchases, clicks, window="6 hours").collect()]
    # semi = DISTINCT left side of inner; multi-match rows collapse
    assert expected == set(inner_ids) and len(inner_ids) > len(expected)

    s = read_events_stream(spark, _events_path(sf_dir))
    sp = s.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id")
    sc = s.where(F.col("event_type") == "click") \
        .select("user_id", "ts", "event_id")
    got_df = run_available_now(
        enrich_within_window(sp, sc, window="6 hours",
                             how="left_semi"), "ss_semi_join")
    got = {r.event_id for r in got_df.collect()}
    assert got == expected and len(got) > 0


def test_stream_stream_full_outer_join_equals_batch(spark, sf_dir,
                                                    tmp_path):
    """Round 13: `how='full'` — unmatched rows from BOTH sides must
    emit with NULLs on the other side once the join watermark passes
    their window (two-sided heartbeat flush, as in the left-outer
    test), equaling the batch full range join; the output key is
    coalesced so right-only rows keep their user_id."""
    import glob as _glob
    import shutil

    from openpolicedata_spark.streaming import enrich_within_window

    watch = tmp_path / "ev"
    watch.mkdir()
    shutil.copy(_events_path(sf_dir), str(watch / "a.parquet"))
    batch = _events_batch(spark, sf_dir)
    ts_t = dict(batch.dtypes)["ts"]
    # heartbeats must survive each side's filter (user_id % 3 == 0 on
    # the right; Spark's % is sign-following, so -3 not -1) and never
    # match a real row or each other
    hb = (spark.createDataFrame(
        [(10**9, "2030-01-01 00:00:00", -1, "purchase", 0.0, "{}"),
         (10**9 + 1, "2030-01-01 00:00:00", -3, "click", 0.0, "{}")],
        "event_id long, t string, user_id long, event_type string, "
        "value double, props string")
        .withColumn("ts", F.col("t").cast(ts_t)).drop("t")
        .select(*batch.columns))
    hbdir = tmp_path / "hb_stage"
    hb.coalesce(1).write.parquet(str(hbdir))
    shutil.move(_glob.glob(str(hbdir / "part-*.parquet"))[0],
                str(watch / "b.parquet"))

    def sides(df):
        l = (df.where(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id"))
        r = (df.where((F.col("event_type") == "click")
                      & (F.col("user_id") % 3 == 0))
             .select("user_id", "ts", "event_id"))
        return l, r

    def keyset(rows):
        out = set()
        for r in rows:
            le, re = r.event_id, r.r_event_id
            if (le is not None and le >= 10**9) or \
                    (re is not None and re >= 10**9):
                continue   # heartbeat rows
            out.add((r.user_id, le, re))
        return out

    lb, rb = sides(batch.unionByName(hb))
    full_b = enrich_within_window(lb, rb, window="30 minutes",
                                  how="full")
    expected = keyset(full_b.collect())
    # all three populations are real: matched, left-only, right-only —
    # and right-only rows carry their coalesced user_id
    assert any(le is None and u is not None for u, le, _ in expected)
    assert any(re is None for _, _, re in expected)
    assert any(le is not None and re is not None
               for _, le, re in expected)

    s = read_events_stream(spark, str(watch))
    ls, rs = sides(s)
    got_df = run_available_now(
        enrich_within_window(ls, rs, window="30 minutes", how="full"),
        "ss_full_join")
    got = keyset(got_df.collect())
    assert got == expected


def test_pcm_features_exact(spark):
    """Raw-PCM audio features are REAL math: a known int16 buffer yields
    the analytically-computed sample count, duration, RMS, and peak."""
    import struct

    import numpy as np

    from openpolicedata_spark.operators.multimodal import (
        attach_payload,
        pcm_features,
    )

    samples = [0, 1000, -1000, 2000, -2000, 30000, -30000, 0]
    buf = struct.pack(f"<{len(samples)}h", *samples)
    df = spark.createDataFrame([(1, bytearray(buf))], "id long, raw binary")
    media = attach_payload(df, "raw", "id", mime="audio/L16",
                           sample_rate=8000)
    row = pcm_features(media, frame_ms=25).first()
    x = np.array(samples, dtype=np.float64)
    assert row.n_samples == 8
    assert row.duration_s == 8 / 8000
    assert row.rms == float(np.sqrt(np.mean(x * x)))
    assert row.peak == 30000
    assert row.n_frames == 1  # 25ms @ 8kHz = 200-sample frames, 8 samples


def test_decode_audio_compressed_gated():
    # WAV decodes for real now; mp3/flac/ogg stay a gate
    import pytest as _pytest

    from openpolicedata_spark.operators.multimodal import decode_audio

    with _pytest.raises(NotImplementedError):
        decode_audio(b"\x00", "audio/mpeg")


def test_streaming_standardize_equals_batch(spark, tmp_path):
    """standardize(stream, sample_df=batch): identification runs on the
    bounded batch sample, the compiled plan applies incrementally to the
    stream — results must equal batch standardization row-for-row."""
    from openpolicedata_spark.streaming import run_available_now
    from openpolicedata_spark.standardize import standardize

    rows = [(i, f"2021-0{1 + i % 9}-1{i % 8}", ["WHITE", "BLACK", "W", "ASIAN"][i % 4],
             ["M", "F"][i % 2], 20 + i % 50)
            for i in range(200)]
    schema = ("incident_id int, incident_date string, subject_race string, "
              "sex string, subject_age int")
    batch = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "stops_parquet")
    batch.write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)

    want_df, want_tf = standardize(batch, table_type="STOPS")
    want = {r.incident_id: (r.DATE, r.SUBJECT_RACE, r["OFFICER/SUBJECT_GENDER"],
                            r.SUBJECT_AGE) for r in want_df.collect()}

    stream = spark.readStream.schema(batch.schema).parquet(src)
    assert stream.isStreaming
    with pytest.raises(ValueError, match="sample_df"):
        standardize(stream, table_type="STOPS")
    got_df, got_tf = standardize(stream, table_type="STOPS", sample_df=batch)
    out = run_available_now(got_df, "std_stream")
    got = {r.incident_id: (r.DATE, r.SUBJECT_RACE, r["OFFICER/SUBJECT_GENDER"],
                           r.SUBJECT_AGE) for r in out.collect()}
    assert got == want and len(got) == 200
    assert [t.new_column_name for t in got_tf] == \
        [t.new_column_name for t in want_tf]


def test_stream_content_dedup(spark, tmp_path):
    """Streaming exact-text dedup keeps one row per distinct normalized
    text across duplicated deliveries (whitespace variants collapse)."""
    import datetime as dt

    from openpolicedata_spark.streaming import dedup_by_content

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base, ["alpha beta", "ALPHA  beta", "gamma", "delta"][i % 4])
            for i in range(40)]
    batch = spark.createDataFrame(rows, "doc_id long, ts timestamp, text string")
    src = str(tmp_path / "docs_stream")
    batch.write.mode("overwrite").parquet(src)

    n_batch = dedup_by_content(spark.read.parquet(src)).count()
    assert n_batch == 3  # 'alpha beta' and 'ALPHA  beta' are one content

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = run_available_now(dedup_by_content(stream), "content_dedup")
    assert out.count() == n_batch
    assert "__fp__" not in out.columns


def test_pcm_features_null_content_and_null_rate(spark):
    """Null content → all-null metrics (SQL NULL propagation); null
    sample_rate (arrives as NaN through Arrow) → clockless metrics only."""
    import struct

    from openpolicedata_spark.operators.multimodal import (
        attach_payload,
        pcm_features,
    )

    buf = struct.pack("<4h", 0, 100, -100, 200)
    df = spark.createDataFrame(
        [(1, bytearray(buf)), (2, None)], "id long, raw binary")
    # default attach_payload: sample_rate stays null
    out = {r.media_id: r for r in
           pcm_features(attach_payload(df, "raw", "id")).collect()}
    assert out[1].n_samples == 4 and out[1].peak == 200
    assert out[1].duration_s is None and out[1].n_frames is None
    assert out[2].n_samples is None and out[2].rms is None


def test_vad_stats_speech_silence_and_cross_codec(spark):
    """vad_stats marks loud frames only, uses the fixed analysis grid
    (trailing partial frame dropped), folds stereo to integer mono, and
    produces identical stats for the same samples through WAV and FLAC
    (decode_audio dispatch); null content → all-null row."""
    import numpy as np

    from openpolicedata_spark.operators.multimodal import vad_stats
    from openpolicedata_spark.sources.flac import encode_flac
    from openpolicedata_spark.sources.wav import encode_wav

    # 4 frames of 4 samples + 2 leftover samples (dropped): frames
    # 1 and 3 loud, 2 and 4 quiet
    loud, quiet = 20000, 10
    pcm = np.array([loud] * 4 + [quiet] * 4 + [-loud] * 4 + [quiet] * 4
                   + [loud, loud], dtype=np.int16)
    thr = 4 * quiet * quiet  # quiet frames score exactly 4*q^2 -> not >
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(pcm, 8000))),
         (2, bytearray(encode_flac(pcm, 8000))),
         (3, None)],
        "media_id long, content binary")
    out = {r.media_id: r for r in
           vad_stats(df, frame_samples=4, energy_threshold=thr).collect()}
    for mid in (1, 2):  # WAV and FLAC agree exactly
        r = out[mid]
        assert (r.n_frames, r.n_speech, r.first_speech, r.last_speech) \
            == (4, 2, 1, 3)
        assert r.total_energy == 2 * 4 * loud * loud + 2 * 4 * quiet * quiet
    assert out[3].n_frames is None and out[3].total_energy is None

    # stereo folds to integer mono before framing
    st = np.stack([pcm, np.zeros_like(pcm)], axis=1)
    half = {r.media_id: r for r in vad_stats(
        spark.createDataFrame([(9, bytearray(encode_wav(st, 8000)))],
                              "media_id long, content binary"),
        frame_samples=4, energy_threshold=thr).collect()}[9]
    assert half.total_energy == out[1].total_energy // 4  # (v/2)^2


def test_vad_segments_runs_minframes_and_ms_clock(spark):
    """vad_segments emits one row per maximal consecutive speech run:
    boundaries, per-segment exact energies, the min_frames filter
    applied BEFORE seg_idx renumbering, and [start_ms, end_ms) on the
    decoded clock. Pinned against a hand-computed layout and against
    vad_stats totals; null content emits nothing."""
    import numpy as np

    from openpolicedata_spark.operators.multimodal import (
        vad_segments,
        vad_stats,
    )
    from openpolicedata_spark.sources.wav import encode_wav

    loud, quiet = 20000, 10
    # frame pattern (4 samples each): L L q L q q L -> runs [1,2], [4],
    # [7]; min_frames=2 keeps only frames 1-2 as seg_idx 1
    pat = [loud, loud, quiet, loud, quiet, quiet, loud]
    pcm = np.array(sum(([v] * 4 for v in pat), []), dtype=np.int16)
    thr = 4 * quiet * quiet
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(pcm, 8000))), (2, None)],
        "media_id long, content binary")

    segs = vad_segments(df, frame_samples=4, energy_threshold=thr,
                        min_frames=2).collect()
    assert len(segs) == 1
    r = segs[0]
    assert (r.media_id, r.seg_idx, r.start_frame, r.end_frame,
            r.n_frames) == (1, 1, 1, 2, 2)
    # 4 samples @8kHz = 0.5ms/frame, floor-ms: [0, 1)
    assert (r.start_ms, r.end_ms) == (0, 1)
    assert r.seg_energy == 2 * 4 * loud * loud

    # min_frames=1 emits all three runs, renumbered 1..3, and their
    # energies sum to vad_stats' speech share of total
    all3 = vad_segments(df, frame_samples=4, energy_threshold=thr,
                        min_frames=1).collect()
    assert [(s.seg_idx, s.start_frame, s.end_frame) for s in all3] \
        == [(1, 1, 2), (2, 4, 4), (3, 7, 7)]
    stats = vad_stats(df, frame_samples=4, energy_threshold=thr).collect()
    st = next(s for s in stats if s.media_id == 1)
    assert sum(s.seg_energy for s in all3) \
        == st.n_speech * 4 * loud * loud
    assert st.first_speech == 1 and st.last_speech == 7


def test_streaming_standardize_rejects_streaming_sample(spark, tmp_path):
    from openpolicedata_spark.standardize import standardize

    batch = spark.createDataFrame([(1, "2021-01-01")],
                                  "incident_id int, incident_date string")
    src = str(tmp_path / "p")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    with pytest.raises(ValueError, match="sample_df must be a batch"):
        standardize(stream, table_type="STOPS", sample_df=stream)


def test_upsert_sink_merges_batches_last_writer_wins(spark, tmp_path):
    """foreachBatch upsert: two micro-batches with overlapping keys must
    leave exactly one row per key in the sink, last writer (by ts) wins —
    including across batches and on redelivered rows within a batch."""
    from openpolicedata_spark.operators.sampling import latest_per_key
    from openpolicedata_spark.streaming import upsert_sink

    src = tmp_path / "src"
    src.mkdir()
    schema = "k long, v string, ts timestamp"
    b1 = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"), (2, "b", "2024-01-01 01:00:00"),
         (2, "b2", "2024-01-01 02:00:00")],
        "k long, v string, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [(2, "c", "2024-01-02 00:00:00"), (3, "d", "2024-01-02 01:00:00"),
         (1, "stale", "2023-12-31 00:00:00")],
        "k long, v string, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/*/"))
    out = str(tmp_path / "sink")
    upsert_sink(stream, out, key_cols=("k",), order_cols=("ts", "v"))

    got = {r.k: (r.v, r.ts) for r in spark.read.parquet(out).collect()}
    want = {r.k: (r.v, r.ts) for r in latest_per_key(
        b1.unionByName(b2), ["k"], ["ts", "v"]).collect()}
    assert got == want
    assert got[1][0] == "a" and got[2][0] == "c" and got[3][0] == "d"


def test_near_dedup_sink_drops_cross_batch_near_dups(spark, tmp_path):
    """Streaming LSH dedup: a batch-2 document that is a near-copy of a
    batch-1 document (one word changed) must be dropped via the
    persisted band index; fresh content must survive; within-batch
    near-copies keep the smallest id."""
    from openpolicedata_spark.streaming import near_dedup_sink

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the cat watches from the warm windowsill every day")
    near = base.replace("warm", "cold")          # near-dup of base
    fresh = ("completely different content about spark partitions and "
             "shuffle boundaries with nothing shared at the shingle level "
             "beyond stopwords maybe")

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame([(1, base), (2, fresh)], schema)
    # 3 = near-dup of 1 (cross-batch); 4 = brand new; 5 = near-dup of 4
    # (within-batch, larger id loses)
    fresh2 = ("yet another unrelated document listing parquet row groups "
              "footers statistics and column chunk encodings in detail "
              "for the reader")
    b2 = spark.createDataFrame(
        [(3, near), (4, fresh2), (5, fresh2 + " extra")], schema)
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/*/"))
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    near_dedup_sink(stream, out, idx, num_hashes=32, bands=8, shingle_k=3)

    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 4], kept
    # the index holds bands only for survivors
    n_idx = spark.read.parquet(idx).count()
    assert n_idx == 3 * 8


# -- perceptual image hashing -------------------------------------------------

def _payload_decoder():
    """Build a test decoder where payload bytes ARE the pixel intensities
    (tiled), so controlled byte edits produce controlled pixel/hash
    changes. Defined as a nested closure: cloudpickle ships it by VALUE —
    a module-level function would be pickled by reference and fail to
    import on executors (the tests package is not on their PYTHONPATH)."""
    def decode(b, h, w):
        import numpy as np

        need = h * w * 3
        buf = (b * (need // len(b) + 1))[:need]
        return np.frombuffer(bytes(buf), dtype=np.uint8).reshape(h, w, 3)
    return decode


def test_image_ahash_deterministic_and_payload_sensitive(spark):
    from openpolicedata_spark.operators.multimodal import image_ahash

    rows = [(1, bytes([10] * 32 + [200] * 32)),
            (2, bytes([10] * 32 + [200] * 32)),   # identical
            (3, bytes([200] * 32 + [10] * 32))]   # inverted
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r.ahash for r in
           image_ahash(df, decode=_payload_decoder()).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_image_dup_pairs_finds_near_but_not_far(spark):
    from openpolicedata_spark.operators.multimodal import (
        image_ahash,
        image_dup_pairs,
    )

    base = bytes(range(0, 256, 4)) * 3          # 192 bytes, varied pixels
    near = bytearray(base)
    near[0] = 255                                # flip a few cells' worth
    far = bytes(reversed(base))
    df = spark.createDataFrame(
        [(1, base), (2, bytes(near)), (3, far), (4, base)],
        "media_id long, content binary")

    pairs = {(r.id_a, r.id_b): r.hamming for r in image_dup_pairs(
        df, max_hamming=6, decode=_payload_decoder()).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 0       # exact copy
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6       # near copy
    assert (1, 3) not in pairs and (3, 4) not in pairs  # far apart

    # blocking is exact w.r.t. brute force at this budget
    hs = {r.media_id: r.ahash for r in
          image_ahash(df, decode=_payload_decoder()).collect()}
    mask = (1 << 64) - 1
    brute = {(a, b) for a in hs for b in hs if a < b
             and bin((hs[a] ^ hs[b]) & mask).count("1") <= 6}
    assert set(pairs) == brute


def test_image_ahash_respects_custom_id_col(spark):
    from openpolicedata_spark.operators.multimodal import (
        image_ahash,
        image_dup_pairs,
    )

    df = spark.createDataFrame(
        [(7, bytes(range(64))), (8, bytes(range(64)))],
        "img_id long, content binary")
    got = image_ahash(df, id_col="img_id").collect()
    assert {r.img_id for r in got} == {7, 8}
    pairs = image_dup_pairs(df, id_col="img_id", max_hamming=0).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(7, 8, 0)]


def test_countmin_sink_stream_equals_batch_sketch(spark, tmp_path):
    """Micro-batched CMS merge must equal the one-shot batch sketch —
    cell-wise addition is the merge law the sink relies on. With a
    PERSISTENT checkpoint, re-invoking after new data arrives merges
    only the new files (offsets + the high-water marker row), never
    double-counting the old ones."""
    from openpolicedata_spark.operators.sketch import (
        countmin_lookup,
        countmin_table,
    )
    from openpolicedata_spark.streaming import countmin_sink

    rows = ([("a",)] * 30 + [("b",)] * 12 + [("c",)] * 4
            + [(chr(ord("d") + i),) for i in range(8)])
    full = spark.createDataFrame(rows, "token string")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # first wave: two files -> two micro-batches with maxFilesPerTrigger=1
    full.where(F.col("token") == "a").coalesce(1).write.parquet(
        src, mode="append")
    full.where((F.col("token") != "a") & (F.col("token") != "b")) \
        .coalesce(1).write.parquet(src, mode="append")
    sketch_path = str(tmp_path / "cms")

    def drain():
        stream = (spark.readStream.schema(full.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        countmin_sink(stream, "token", sketch_path, depth=3, width=256,
                      checkpoint_dir=ckpt)

    drain()
    wave1 = full.where(F.col("token") != "b")
    expected1 = countmin_table(wave1, "token", depth=3, width=256)
    raw1 = spark.read.parquet(sketch_path)
    # ONE high-water marker (row = -1) rides inside the swapped table
    # so it commits atomically with the counts it describes
    assert raw1.where(F.col("row") == -1).count() == 1
    merged1 = raw1.where(F.col("row") >= 0)
    assert (merged1.exceptAll(expected1).count() == 0
            and expected1.exceptAll(merged1).count() == 0)

    # second wave: new file appears; re-invocation with the SAME
    # checkpoint merges it exactly once on top
    full.where(F.col("token") == "b").coalesce(1).write.parquet(
        src, mode="append")
    drain()
    raw2 = spark.read.parquet(sketch_path)
    assert raw2.where(F.col("row") == -1).count() == 1
    merged2 = raw2.where(F.col("row") >= 0)
    expected2 = countmin_table(full, "token", depth=3, width=256)
    assert (merged2.exceptAll(expected2).count() == 0
            and expected2.exceptAll(merged2).count() == 0)

    # estimates read the RAW persisted table: lookups probe rows
    # 0..depth-1 only, so the markers are invisible to them
    est = {r["token"]: r["cm_est"]
           for r in countmin_lookup(raw2, full.distinct(), "token",
                                    depth=3, width=256).collect()}
    assert est["a"] == 30 and est["b"] == 12 and est["c"] == 4


def test_countmin_sink_per_batch_markers_keep_guarding(spark, tmp_path):
    """A sketch table that still holds one marker row per applied batch
    (the guard's earlier layout) keeps guarding: their max is the
    high-water mark. A fresh checkpoint redelivers ids 0-2, which are
    skipped; id 3 folds, and the markers collapse to one row."""
    from openpolicedata_spark.operators.sketch import countmin_table
    from openpolicedata_spark.streaming import countmin_sink

    schema = "token string"
    files = [[("a",)], [("b",)], [("c",)], [("d",), ("a",)]]
    src = tmp_path / "src"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(src / f"f{i}"))
    sketch = lambda rows: countmin_table(  # noqa: E731
        spark.createDataFrame(rows, schema), "token", depth=2, width=64)
    path = str(tmp_path / "cms")
    # files 0-2 already applied as batches 0-2, one marker each
    sketch([r for f in files[:3] for r in f]).unionByName(
        spark.createDataFrame([(-1, b, 0) for b in range(3)],
                              "row int, bucket long, cnt long")
    ).write.parquet(path)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/*/"))
    countmin_sink(stream, "token", path, depth=2, width=64,
                  checkpoint_dir=str(tmp_path / "ckpt"))
    raw = spark.read.parquet(path)
    assert [tuple(r) for r in raw.where(F.col("row") == -1).collect()] \
        == [(-1, 3, 0)]
    merged = raw.where(F.col("row") >= 0)
    expected = sketch([r for f in files for r in f])
    assert (merged.exceptAll(expected).count() == 0
            and expected.exceptAll(merged).count() == 0)


def test_swap_dir_crash_recovery(tmp_path):
    """If a crash lands between the two swap renames (table moved aside,
    replacement not in place), recover restores the .__old__ copy."""
    import os

    from openpolicedata_spark.publish import aside_of, recover

    path = str(tmp_path / "table")
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "w") as f:
        f.write("v1")
    # simulate the crash window: path renamed aside, new copy never landed
    os.rename(path, path + ".__old__")
    recover(path, aside_of(path))
    assert os.path.isdir(path)
    assert open(os.path.join(path, "part-0")).read() == "v1"
    # no-op when the table is healthy
    recover(path, aside_of(path))
    assert os.path.isdir(path)


def test_bloom_sink_stream_equals_batch_filter(spark, tmp_path):
    """Micro-batched Bloom union must equal the one-shot batch filter
    (set union is the merge law — idempotent, so replays need no
    guard), and the persisted positions table must serve bloom_probe."""
    from openpolicedata_spark.operators.sketch import bloom_build, bloom_probe
    from openpolicedata_spark.streaming import bloom_sink

    rows = [(f"k{i}",) for i in range(40)]
    full = spark.createDataFrame(rows, "key string")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    full.where(F.col("key") < "k2").coalesce(1).write.parquet(
        src, mode="append")
    full.where(F.col("key") >= "k2").coalesce(1).write.parquet(
        src, mode="append")
    bloom_path = str(tmp_path / "bloom")

    def drain():
        stream = (spark.readStream.schema(full.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        bloom_sink(stream, "key", bloom_path, k=3, m=4096,
                   checkpoint_dir=ckpt)

    drain()
    got = spark.read.parquet(bloom_path)
    want = bloom_build(full, "key", k=3, m=4096)
    assert (got.exceptAll(want).count() == 0
            and want.exceptAll(got).count() == 0)

    # re-invocation with nothing new is a no-op (idempotent union +
    # offset tracking)
    drain()
    again = spark.read.parquet(bloom_path)
    assert again.count() == got.count()

    # the persisted table serves probes: members all hit
    probe = bloom_probe(again, full, "key", k=3, m=4096)
    assert probe.where(~F.col("bloom_hit")).count() == 0


def test_compiled_model_scorer_stream_equals_batch(spark, tmp_path, sf_dir):
    """The mlfilter compiled scoring expression is stateless, so the
    same column scores a STREAM identically to the batch pass — the
    live-scoring half of model-based filtering (train offline, score
    the firehose)."""
    from openpolicedata_spark.operators.mlfilter import (
        quality_score_model_expr,
        train_quality_filter,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    lab = docs.withColumn("label", (F.col("doc_id") % 3 == 0).cast("int"))
    model = train_quality_filter(lab.limit(120))
    src = str(tmp_path / "docs")
    docs.coalesce(2).write.parquet(src)
    want = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id", quality_score_model_expr(model).alias("s")).collect()}

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.select("doc_id", quality_score_model_expr(model).alias("s"))
         .writeStream.format("memory").queryName("mscore")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in time"
    got = {r["doc_id"]: r["s"] for r in spark.sql(
        "SELECT * FROM mscore").collect()}
    assert got == want


def test_semantic_dedup_sink_cross_batch(spark, tmp_path):
    """Streaming SemDeDup: within-batch near-dups collapse, and later
    batches never re-admit vectors semantically near the index."""
    from openpolicedata_spark.streaming import semantic_dedup_sink

    CENTS = [[1.0, 0.0], [0.0, 1.0]]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [1.0, 0.01]),   # near-dups, 1 survives
         (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    b2 = spark.createDataFrame(
        [(10, [1.0, 0.012]),                    # ~dup of admitted 1
         (11, [1.0, -0.9])],                    # same cluster, far: novel
        "vec_id long, embedding array<double>")
    b1.coalesce(1).write.parquet(src, mode="append")
    import time as _time

    _time.sleep(1.1)   # distinct mtimes: b1 must be micro-batch 1
    b2.coalesce(1).write.parquet(src, mode="append")

    semantic_dedup_sink(
        (spark.readStream.schema("vec_id long, embedding array<double>")
         .option("maxFilesPerTrigger", 1).parquet(src)),
        out, idx, CENTS, threshold=0.95)

    admitted = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert 3 in admitted and 11 in admitted
    assert (1 in admitted) != (2 in admitted)   # exactly one of the pair
    assert 10 not in admitted                    # caught by the index
    assert sorted(r["vec_id"] for r in
                  spark.read.parquet(idx).collect()) == admitted


def test_semantic_dedup_sink_zero_norm_not_readmitted(spark, tmp_path):
    """ADVICE r3: cosine is undefined for zero-norm vectors, and the
    clamped form scores 0 against everything — so an indexed zero-norm
    doc would be re-admitted by every later batch (and every replay).
    Zero-norm must dedupe against zero-norm reps."""
    from openpolicedata_spark.streaming import semantic_dedup_sink

    CENTS = [[1.0, 0.0], [0.0, 1.0]]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    b1 = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    b2 = spark.createDataFrame(
        [(10, [0.0, 0.0]),   # zero-norm again → matches the indexed rep
         (11, [0.0, 1.0])],  # other cluster: novel
        "vec_id long, embedding array<double>")
    b1.coalesce(1).write.parquet(src, mode="append")
    import time as _time

    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(src, mode="append")

    semantic_dedup_sink(
        (spark.readStream.schema("vec_id long, embedding array<double>")
         .option("maxFilesPerTrigger", 1).parquet(src)),
        out, idx, CENTS, threshold=0.95)

    admitted = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert 10 not in admitted, "zero-norm re-admitted across batches"
    assert 1 in admitted and 2 in admitted and 11 in admitted


def test_media_dedup_sink_real_codec_cross_batch(spark, tmp_path):
    """Streaming perceptual media dedup on REAL PNG bytes: a batch-2
    image within the hamming budget of a batch-1 image is dropped via
    the persisted ahash index; fresh content survives; within-batch
    near-copies keep the smallest id; a FULL replay re-admits nothing
    (every admitted item matches its own indexed hash at hamming 0)."""
    import numpy as np

    from openpolicedata_spark.operators.multimodal import real_decode
    from openpolicedata_spark.sources.png import encode_png
    from openpolicedata_spark.streaming import media_dedup_sink

    def img(pattern):
        v = np.array(pattern, dtype=np.uint8).reshape(8, 8)
        return encode_png(np.stack([v] * 3, axis=-1))

    check = [[100, 200] * 4, [200, 100] * 4] * 4  # checkerboard
    base = [x for row in check for x in row]
    near = list(base)
    near[0] = 200                          # exactly one ahash bit flips
    far = [300 - x for x in base]          # inverted: ~64 bits away
    # horizontal stripes: hamming 32 from both checkerboard phases
    new = [x for row in ([[90] * 8, [210] * 8] * 4) for x in row]
    near_new = list(new)
    near_new[5] = 210

    schema = "media_id long, content binary"
    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, img(base)), (2, img(far))], schema)
    b2 = spark.createDataFrame(
        [(3, img(near)), (4, img(new)), (5, img(near_new))], schema)
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(f"{src}/*/"))
        media_dedup_sink(stream, out, idx, max_hamming=3,
                         decode=real_decode)

    run()
    kept = sorted(r.media_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 4], kept
    assert spark.read.parquet(idx).count() == 3
    # full replay (fresh ephemeral checkpoint): nothing re-admitted
    run()
    assert sorted(r.media_id
                  for r in spark.read.parquet(out).collect()) == [1, 2, 4]
    assert spark.read.parquet(idx).count() == 3


def test_media_dedup_sink_batch_stream_parity(spark, tmp_path):
    """The sink's keep-set equals the batch-mode formulation
    (image_dup_pairs + dup_clusters over ALL rows at once) when
    everything arrives in one batch."""
    import numpy as np

    from openpolicedata_spark.operators.dedup import dup_clusters
    from openpolicedata_spark.operators.multimodal import (
        image_dup_pairs,
        real_decode,
    )
    from openpolicedata_spark.sources.png import encode_png
    from openpolicedata_spark.streaming import media_dedup_sink

    rng = np.random.default_rng(11)
    rows = []
    for i in range(12):
        v = rng.integers(0, 2, size=(8, 8)).astype(np.uint8) * 180 + 40
        if i % 3 == 2:
            # near-copy of the previous image
            v = rows[-1][2].copy()
            v[0, 0] = 255 - v[0, 0]
        rows.append((i, encode_png(np.stack([v] * 3, -1)), v))
    schema = "media_id long, content binary"
    df = spark.createDataFrame([(i, b) for i, b, _ in rows], schema)

    pairs = image_dup_pairs(df, max_hamming=3, decode=real_decode)
    clusters = dup_clusters(pairs)
    dropped = {r.doc_id for r in clusters.where(
        F.col("doc_id") != F.col("cluster_id")).collect()}
    batch_keep = sorted(set(range(12)) - dropped)

    src = tmp_path / "src2"
    src.mkdir()
    df.coalesce(1).write.parquet(str(src / "all"))
    stream = (spark.readStream.schema(schema).parquet(f"{src}/*/"))
    out, idx = str(tmp_path / "out2"), str(tmp_path / "idx2")
    media_dedup_sink(stream, out, idx, max_hamming=3, decode=real_decode)
    stream_keep = sorted(r.media_id
                         for r in spark.read.parquet(out).collect())
    assert stream_keep == batch_keep


def test_attach_payload_matches_canonical_media_schema(spark):
    """MEDIA_SCHEMA is the documented contract for media frames;
    attach_payload must produce exactly it."""
    from openpolicedata_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        attach_payload,
    )

    df = spark.createDataFrame([(1, b"bytes")], "doc_id long, raw binary")
    media = attach_payload(df, "raw", "doc_id", mime="image/png")
    # simpleString compares names+types; nullability legitimately
    # differs (struct-of-literals planning marks meta non-nullable)
    assert media.schema.simpleString() == MEDIA_SCHEMA.simpleString()


def test_video_dedup_sink_cross_batch_and_replay(spark, tmp_path):
    """Streaming video near-dup on REAL container bytes (GIF in batch
    1, the same frames as Motion-JPEG MP4 in batch 2): the cross-batch
    frame-signature index drops the re-containered duplicate; fresh
    content survives; a FULL replay re-admits nothing — including a
    short clip with fewer distinct frame hashes than min_shared (the
    least(min_shared, n_own) rule)."""
    import hashlib

    import numpy as np

    from openpolicedata_spark.sources.gif import encode_gif
    from openpolicedata_spark.sources.jpeg import encode_jpeg
    from openpolicedata_spark.sources.mp4 import encode_mp4_mjpeg
    from openpolicedata_spark.streaming import video_dedup_sink

    pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)

    def grids(tag, n=3):
        out = []
        for f in range(n):
            raw = hashlib.md5(f"{tag}:{f}".encode()).digest()
            out.append(np.frombuffer(raw, np.uint8).reshape(4, 4)
                       .repeat(8, 0).repeat(8, 1))
        return out

    fam_a, fam_b = grids("famA"), grids("famB")
    short = grids("short", n=1)  # 1 distinct frame hash < min_shared

    b1 = spark.createDataFrame(
        [(1, encode_gif(fam_a, pal)),
         (2, encode_gif(short, pal))],
        "media_id long, content binary")
    b2 = spark.createDataFrame(
        [(3, encode_mp4_mjpeg([encode_jpeg(g) for g in fam_a], 32, 32)),
         (4, encode_gif(fam_b, pal))],
        "media_id long, content binary")

    src = tmp_path / "src"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")

    def run():
        stream = (spark.readStream
                  .schema("media_id long, content binary")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(f"{src}/*/"))
        video_dedup_sink(stream, out, idx, min_shared=3)

    run()
    kept = sorted(r.media_id for r in spark.read.parquet(out).collect())
    # 3 is the MP4 re-container of family A -> dropped cross-batch
    assert kept == [1, 2, 4], kept
    n_idx = spark.read.parquet(idx).count()
    # full replay (fresh ephemeral checkpoint): nothing re-admitted,
    # not even the single-frame clip (id 2)
    run()
    assert sorted(r.media_id
                  for r in spark.read.parquet(out).collect()) == [1, 2, 4]
    assert spark.read.parquet(idx).count() == n_idx


def test_video_dedup_sink_batch_equals_stream(spark, tmp_path):
    """One batch through the sink == the same rows deduped with the
    batch operators (within-batch blocking identity)."""
    import hashlib

    import numpy as np

    from openpolicedata_spark.sources.gif import encode_gif
    from openpolicedata_spark.streaming import video_dedup_sink

    pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)

    rows = []
    for vid in range(8):
        fam = vid % 3
        gs = []
        for f in range(3):
            raw = hashlib.md5(f"bs:{fam}:{f}".encode()).digest()
            gs.append(np.frombuffer(raw, np.uint8).reshape(4, 4)
                      .repeat(8, 0).repeat(8, 1))
        rows.append((vid, encode_gif(gs, pal)))
    df = spark.createDataFrame(rows, "media_id long, content binary")

    src = tmp_path / "src"
    src.mkdir()
    df.coalesce(1).write.parquet(str(src / "f1"))
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    stream = (spark.readStream.schema("media_id long, content binary")
              .parquet(f"{src}/*/"))
    video_dedup_sink(stream, out, idx, min_shared=3)
    kept = sorted(r.media_id for r in spark.read.parquet(out).collect())
    # smallest id per family survives: families 0,1,2 -> ids 0,1,2
    assert kept == [0, 1, 2], kept


def test_video_dedup_sink_binaryfile_ingestion(spark, tmp_path):
    """Real ingestion shape: raw .gif/.mp4 FILES on disk read with the
    binaryFile streaming source (path/length/content columns), the id
    derived from the filename — the closest local analog of a media
    bucket listing at 100 TB."""
    import hashlib

    import numpy as np

    from openpolicedata_spark.sources.gif import encode_gif
    from openpolicedata_spark.sources.jpeg import encode_jpeg
    from openpolicedata_spark.sources.mp4 import encode_mp4_mjpeg
    from openpolicedata_spark.streaming import video_dedup_sink

    pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)

    def grids(tag):
        out = []
        for f in range(3):
            raw = hashlib.md5(f"bf:{tag}:{f}".encode()).digest()
            out.append(np.frombuffer(raw, np.uint8).reshape(4, 4)
                       .repeat(8, 0).repeat(8, 1))
        return out

    media = tmp_path / "media"
    media.mkdir()
    fam = grids("x")
    (media / "00001.gif").write_bytes(encode_gif(fam, pal))
    (media / "00002.mp4").write_bytes(
        encode_mp4_mjpeg([encode_jpeg(g) for g in fam], 32, 32))
    (media / "00003.gif").write_bytes(encode_gif(grids("y"), pal))

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    schema = ("path string, modificationTime timestamp, "
              "length long, content binary")
    stream = (spark.readStream.format("binaryFile")
              .schema(schema)
              .load(str(media))
              .select(
                  F.regexp_extract(F.col("path"), r"(\d+)\.\w+$", 1)
                  .cast("long").alias("media_id"),
                  F.col("content")))
    # these frames yield 2 distinct hashes per video (video_dup_pairs
    # counts DISTINCT shared values), so the threshold is 2
    video_dedup_sink(stream, out, idx, min_shared=2)
    kept = sorted(r.media_id for r in spark.read.parquet(out).collect())
    # 2 is the MP4 re-mux of 1's frames -> deduped; 3 is fresh
    assert kept == [1, 3], kept


def test_audio_energy_hash_properties():
    """Integer-exact audio fingerprint: stable through every lossless
    chain, stereo mixes by sum, remainder samples drop, tiny inputs
    hash to 0."""
    import numpy as np

    from openpolicedata_spark.operators.multimodal import (
        audio_energy_hash,
        decode_audio,
    )
    from openpolicedata_spark.sources.flac import encode_flac
    from openpolicedata_spark.sources.mp4 import encode_mp4_audio
    from openpolicedata_spark.sources.ogg import encode_ogg_flac
    from openpolicedata_spark.sources.wav import encode_wav

    rng = np.random.default_rng(3)
    a = rng.integers(-2000, 2000, size=256, dtype=np.int16)
    h0 = audio_energy_hash(a)
    assert h0 != 0
    for enc in (lambda s: encode_wav(s, 8000),
                lambda s: encode_flac(s, 8000),
                lambda s: encode_ogg_flac(s, 8000),
                lambda s: encode_mp4_audio(s, 8000, codec="sowt")):
        _r, norm = decode_audio(enc(a), "audio/*")
        back = np.rint(norm * 32768.0).astype(np.int64)
        assert audio_energy_hash(back) == h0, enc
    # stereo with mirrored magnitude mixes to the same |sum| profile
    st = np.stack([a, a], axis=1)
    assert audio_energy_hash(st) == audio_energy_hash(
        np.abs(a.astype(np.int64)) * 2)
    # 258 samples: the 2 trailing samples are dropped (256-aligned)
    assert audio_energy_hash(np.concatenate([a, a[:2]])) == h0
    assert audio_energy_hash(np.array([5], dtype=np.int16)) == 0


def test_audio_dup_pairs_families_and_skew_guard(spark):
    """Planted clip families survive the FLAC chain into hamming
    pairs; a degenerate corpus (one shared clip) trips the
    max_bucket_size guard instead of exploding one bucket."""
    import hashlib

    import numpy as np
    import pandas as pd

    from openpolicedata_spark.operators.multimodal import audio_dup_pairs
    from openpolicedata_spark.sources.flac import encode_flac

    rows = []
    for i in range(30):
        seed = f"fam:{i % 5}"
        raw = b"".join(hashlib.md5((seed + str(k)).encode()).digest()
                       for k in range(16))
        s = np.frombuffer(raw, np.uint8).astype(np.int16).copy()
        if i % 3:
            b = i % 64
            s[b * 4:(b + 1) * 4] = 4096
        rows.append((i, encode_flac(s, 8000)))
    df = spark.createDataFrame(rows, "media_id long, content binary")
    pairs = audio_dup_pairs(df, max_hamming=3).collect()
    assert pairs and all(r.id_a % 5 == r.id_b % 5 for r in pairs)

    same = [(i, rows[0][1]) for i in range(12)]  # all-identical corpus
    dfs = spark.createDataFrame(same, "media_id long, content binary")
    n_uncapped = len(audio_dup_pairs(dfs, max_hamming=3).collect())
    assert n_uncapped == 12 * 11 // 2
    capped = audio_dup_pairs(dfs, max_hamming=3, max_bucket_size=4)
    assert len(capped.collect()) == 0  # all buckets oversized, dropped


def test_audio_dedup_sink_cross_codec_and_replay(spark, tmp_path):
    """Streaming perceptual audio dedup on REAL codec bytes: batch 2's
    FLAC re-encode of batch 1's WAV clip is dropped via the persisted
    energy-hash index (lossless chains hash identically); fresh content
    survives; a FULL replay re-admits nothing."""
    import hashlib

    import numpy as np

    from openpolicedata_spark.sources.flac import encode_flac
    from openpolicedata_spark.sources.wav import encode_wav
    from openpolicedata_spark.streaming import audio_dedup_sink

    def clip(tag):
        raw = b"".join(hashlib.md5((tag + str(k)).encode()).digest()
                       for k in range(16))
        return np.frombuffer(raw, np.uint8).astype(np.int16).copy()

    a, b = clip("sinkA"), clip("sinkB")
    b1 = spark.createDataFrame(
        [(1, encode_wav(a, 8000))], "media_id long, content binary")
    b2 = spark.createDataFrame(
        [(2, encode_flac(a, 8000)),   # same clip, different codec
         (3, encode_flac(b, 8000))],  # fresh
        "media_id long, content binary")
    src = tmp_path / "src"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")

    def run():
        stream = (spark.readStream
                  .schema("media_id long, content binary")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(f"{src}/*/"))
        audio_dedup_sink(stream, out, idx)

    run()
    kept = sorted(r.media_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 3], kept
    run()  # full replay: fresh checkpoint, nothing re-admitted
    assert sorted(r.media_id
                  for r in spark.read.parquet(out).collect()) == [1, 3]
    assert spark.read.parquet(idx).count() == 2


def test_audio_dedup_sink_mulaw_payload(spark, tmp_path):
    """audio_dedup_sink over a G.711 µ-law WAV payload (the round-7
    telephony decode path): batch 1 ingests a µ-law clip; batch 2's
    FLAC re-encode of the SAME µ-law-quantized samples is suppressed
    cross-codec (µ-law decode → int16 is exact on quantized PCM, so
    both chains hash identically), while an A-law clip of different
    content survives."""
    import hashlib

    import numpy as np

    from openpolicedata_spark.sources.flac import encode_flac
    from openpolicedata_spark.sources.wav import (
        encode_wav, linear_to_alaw, linear_to_ulaw,
        alaw_decode_table, ulaw_decode_table)
    from openpolicedata_spark.streaming import audio_dedup_sink

    def clip(tag, scale):
        raw = b"".join(hashlib.md5((tag + str(k)).encode()).digest()
                       for k in range(16))
        return (np.frombuffer(raw, np.uint8).astype(np.int16) * scale
                - scale * 128).astype(np.int16)

    qa = ulaw_decode_table()[linear_to_ulaw(clip("mu", 96).astype(np.int32))]
    qb = alaw_decode_table()[linear_to_alaw(clip("al", 64).astype(np.int32))]
    b1 = spark.createDataFrame(
        [(1, encode_wav(qa.astype(np.int16), 8000, codec="ulaw"))],
        "media_id long, content binary")
    b2 = spark.createDataFrame(
        [(2, encode_flac(qa.astype(np.int16), 8000)),  # same samples
         (3, encode_wav(qb.astype(np.int16), 8000, codec="alaw"))],
        "media_id long, content binary")
    src = tmp_path / "src"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    stream = (spark.readStream
              .schema("media_id long, content binary")
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/*/"))
    audio_dedup_sink(stream, out, idx)
    kept = sorted(r.media_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 3], kept


def test_media_scan_sink_mp3_inventory_exactly_once(spark, tmp_path,
                                                     monkeypatch):
    """Streaming media INVENTORY ingest (round-9): mp3_scan rows land
    exactly once per (id, payload) — an identical redelivery in a
    later batch contributes nothing, the SAME id with CHANGED bytes is
    a fresh scan, a NULL payload's null-stats row is emitted once and
    never re-emitted on replay, and a FULL replay after index
    compaction (COMPACT_INDEX_FILES=1 forces it every batch) re-scans
    nothing."""
    from openpolicedata_spark import streaming as S
    from openpolicedata_spark.operators.multimodal import mp3_scan
    from openpolicedata_spark.sources.mp3 import (
        MP3_BITRATES_KBPS,
        MP3_SAMPLE_RATES,
    )
    from openpolicedata_spark.streaming import media_scan_sink

    def blob(n, br_idx=9):
        out = []
        for _ in range(n):
            size = 144 * MP3_BITRATES_KBPS[br_idx] * 1000 \
                // MP3_SAMPLE_RATES[0]
            out.append(bytes([0xFF, 0xFB, br_idx << 4, 0])
                       + b"\x00" * (size - 4))
        return b"".join(out)

    schema = "media_id long, content binary"
    src = tmp_path / "src"
    src.mkdir()
    a, b, b2, c = blob(2), blob(3), blob(3, br_idx=14), blob(4)
    spark.createDataFrame(
        [(1, a), (2, b), (3, None), (None, blob(5))], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(1, a),        # identical redelivery: must NOT re-scan
         (2, b2),       # same id, changed bytes: fresh scan
         (None, blob(5)),  # NULL-id redelivery: needs the NULL-SAFE
                           # index join (review r9) or it re-scans
         (4, c)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    monkeypatch.setattr(S, "COMPACT_INDEX_FILES", 1)

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(f"{src}/*/"))
        media_scan_sink(stream, out, idx, scan=mp3_scan)

    run()
    rows = sorted(((r.media_id, r.n_frames)
                   for r in spark.read.parquet(out).collect()),
                  key=lambda t: (t[0] is None, t[0] or 0, t[1] or 0))
    assert rows == [(1, 2), (2, 3), (2, 3), (3, None), (4, 4), (None, 5)]
    assert spark.read.parquet(idx).count() == 6
    # full replay (fresh ephemeral checkpoint): nothing re-scanned,
    # including the null-payload row ('' digest), the NULL-id row
    # (null-safe index join), and the compacted index
    run()
    assert sorted(((r.media_id, r.n_frames)
                   for r in spark.read.parquet(out).collect()),
                  key=lambda t: (t[0] is None, t[0] or 0, t[1] or 0)) \
        == rows
    assert spark.read.parquet(idx).count() == 6


def test_media_scan_sink_vad_segments_batch_stream_parity(spark, tmp_path):
    """Multi-row-per-clip scans stream too: vad_segments rows produced
    through the sink equal the batch operator's rows on the same
    clips (batch = stream when everything arrives in one batch)."""
    import numpy as np

    from openpolicedata_spark.operators.multimodal import vad_segments
    from openpolicedata_spark.sources.wav import encode_wav
    from openpolicedata_spark.streaming import media_scan_sink

    loud, quiet = 20000, 10
    pat = [loud, loud, quiet, loud, quiet, quiet, loud]
    pcm = np.array(sum(([v] * 4 for v in pat), []), dtype=np.int16)
    thr = 4 * quiet * quiet
    schema = "media_id long, content binary"
    rows = [(1, bytearray(encode_wav(pcm, 8000))),
            (2, bytearray(encode_wav(pcm[::-1].copy(), 8000)))]
    df = spark.createDataFrame(rows, schema)

    def scan(d):
        return vad_segments(d, frame_samples=4, energy_threshold=thr,
                            min_frames=1)

    want = sorted(map(tuple, scan(df).collect()))

    src = tmp_path / "src"
    src.mkdir()
    df.coalesce(1).write.parquet(str(src / "f1"))
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    media_scan_sink(
        (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(f"{src}/*/")),
        out, idx, scan=scan, query_name="vadscan")
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == want and len(got) == 6


def test_stateful_cap_per_key_single_batch_equals_batch(spark, sf_dir):
    """Streaming per-key admission cap: one availableNow batch must
    admit EXACTLY the batch operator's survivors (same order contract),
    not merely the same counts."""
    from openpolicedata_spark.streaming import stateful_cap_per_key

    batch = _events_batch(spark, sf_dir).select(
        "event_id", "user_id", "event_type")
    expected = {r.event_id for r in stateful_cap_per_key(
        batch, "user_id", 5, ("event_id",)).collect()}

    stream = read_events_stream(spark, _events_path(sf_dir)).select(
        "event_id", "user_id", "event_type")
    got_df = run_available_now(
        stateful_cap_per_key(stream, "user_id", 5, ("event_id",)),
        "cap_single")
    got = {r.event_id for r in got_df.collect()}
    assert got == expected and len(got) > 0


def test_stateful_cap_per_key_multi_batch_counts(spark, sf_dir, tmp_path):
    """Across micro-batches the admitted COUNT per key is order-invariant:
    min(total, max_n) — and never exceeds the cap even when the same
    key arrives in every batch."""
    import shutil

    from openpolicedata_spark.streaming import stateful_cap_per_key

    watch = tmp_path / "events_multi"
    watch.mkdir()
    # same file twice -> duplicate event_ids across TWO micro-batches
    shutil.copy(_events_path(sf_dir), watch / "a.parquet")
    shutil.copy(_events_path(sf_dir), watch / "b.parquet")

    batch = _events_batch(spark, sf_dir)
    totals = {r.user_id: 2 * r.n for r in
              batch.groupBy("user_id").agg(F.count("*").alias("n"))
              .collect()}

    # maxFilesPerTrigger=1 forces one file per micro-batch, so the
    # counter state genuinely carries across batches
    stream = read_events_stream(
        spark, str(watch), max_files_per_trigger=1).select(
        "event_id", "user_id", "event_type")
    s = stateful_cap_per_key(stream, "user_id", 7, ("event_id",))
    got_df = run_available_now(s, "cap_multi")
    got = {r.user_id: r.n for r in
           got_df.groupBy("user_id").agg(F.count("*").alias("n"))
           .collect()}
    assert set(got) == set(totals)
    for u, total in totals.items():
        assert got[u] == min(total, 7), (u, total, got[u])


def test_stateful_cap_per_key_batch_delegates(spark, sf_dir):
    """Batch input runs sampling.cap_per_key - one semantics, two modes."""
    import pytest as _pytest

    from openpolicedata_spark.operators.sampling import cap_per_key
    from openpolicedata_spark.streaming import stateful_cap_per_key

    batch = _events_batch(spark, sf_dir)
    a = {r.event_id for r in stateful_cap_per_key(
        batch, "user_id", 3, ("event_id",)).collect()}
    b = {r.event_id for r in cap_per_key(
        batch, "user_id", 3, ["event_id"]).collect()}
    assert a == b and len(a) > 0
    with _pytest.raises(ValueError, match="max_n"):
        stateful_cap_per_key(batch, "user_id", 0, ("event_id",))


def test_stream_static_dim_join_equals_batch(spark, sf_dir):
    """Round 13: the stream-STATIC join — the stateless enrichment
    class (dimension lookup per micro-batch: no watermark, no join
    state, the static side broadcasts into each batch) the
    stream-stream family deliberately doesn't cover. Inner and left
    parity with the batch join; a filtered dimension leaves real
    unmatched rows, and the left arm keeps them with NULL dim
    columns."""
    from openpolicedata_spark.sources.file import read_parquet_repaired

    batch = _events_batch(spark, sf_dir)
    dim = (read_parquet_repaired(spark, f"{sf_dir}/customer.parquet")
           .where(F.col("c_custkey") % 3 != 1)
           .select(F.col("c_custkey").alias("user_id"),
                   "c_mktsegment"))

    def enrich(df, how):
        return (df.select("event_id", "user_id")
                .join(dim, "user_id", how)
                .select("event_id", "user_id", "c_mktsegment"))

    exp_inner = {tuple(r) for r in enrich(batch, "inner").collect()}
    exp_left = {tuple(r) for r in enrich(batch, "left").collect()}
    assert len(exp_left) > len(exp_inner)          # unmatched kept
    assert any(r[2] is None for r in exp_left)     # with NULL dims

    s = read_events_stream(spark, _events_path(sf_dir))
    got_inner = {tuple(r) for r in run_available_now(
        enrich(s, "inner"), "ss_dim_inner").collect()}
    got_left = {tuple(r) for r in run_available_now(
        enrich(s, "left"), "ss_dim_left").collect()}
    assert got_inner == exp_inner
    assert got_left == exp_left
