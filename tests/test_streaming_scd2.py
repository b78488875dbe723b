"""streaming.scd2_sink — the streaming face of merge.scd2_intervals
(round 11, VERDICT r10 item 1): batch ≡ stream parity on the q200
generative CDC log, cross-batch compression/close/delete semantics,
marker-row exactly-once replay, and the late-row policy."""

import pytest
from pyspark.sql import functions as F

from _stream_helpers import file_stream as _stream
from _stream_helpers import write_ordered_splits as _write_ordered_splits


def _q200_frame(spark, sf_dir):
    """The q200 generative delete-aware CDC log: every 7th event is a
    DELETE with a junked payload (reversed event_type) that must be
    ignored, and every 11th non-delete op is NULL — an UPSERT by the
    pinned CDC convention (ADVICE r11), so the parity laws pin the
    NULL-op coalesce in the sink too."""
    from openpolicedata_spark.sources.file import read_parquet_repaired

    e = read_parquet_repaired(spark, f"{sf_dir}/events.parquet")
    return e.selectExpr(
        "user_id", "event_id", "ts",
        "CASE WHEN event_id % 7 = 0 THEN 'D' "
        "WHEN event_id % 11 = 0 THEN NULL ELSE 'U' END AS op",
        "CASE WHEN event_id % 7 = 0 THEN reverse(event_type) "
        "ELSE event_type END AS event_type")


def _versions(spark, out):
    from openpolicedata_spark.streaming import read_scd2

    return {tuple(r) for r in
            read_scd2(spark, out)
            .select("user_id", "event_type", "valid_from", "valid_to",
                    "is_current").collect()}


def test_scd2_sink_stream_equals_batch_on_q200_log(spark, tmp_path):
    """Folding the q200 delete-aware log through 5 in-order
    micro-batches must produce EXACTLY scd2_intervals' output on the
    whole log — compression, delete closes, re-inserts, and open tails
    all stitch correctly across batch boundaries."""
    from openpolicedata_spark.operators.merge import scd2_intervals
    from openpolicedata_spark.streaming import scd2_sink

    frame = _q200_frame(spark, "/root/testdata/sf0.001")
    expected = {tuple(r) for r in scd2_intervals(
        frame, "user_id", "ts", ["event_type"],
        tiebreak_col="event_id", op_col="op")
        .select("user_id", "event_type", "valid_from", "valid_to",
                "is_current").collect()}

    src = tmp_path / "src"
    src.mkdir()
    _write_ordered_splits(frame, src, 5)
    out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, frame, src), out, "user_id", "ts",
              ["event_type"], tiebreak_col="event_id", op_col="op")
    assert _versions(spark, out) == expected


def test_scd2_sink_cross_batch_semantics(spark, tmp_path):
    """The three boundary laws, one key each, split so every law
    crosses a batch boundary: (a) a no-op re-emission in a later batch
    compresses away; (b) a delete in a later batch closes the open
    version and delete runs compress; (c) a re-insert after a delete
    is a NEW version even with the same value."""
    from openpolicedata_spark.streaming import scd2_sink

    schema = "k long, cid long, t string, op string, v string"

    def _df(rows):
        return (spark.createDataFrame(rows, schema)
                .withColumn("ts", F.col("t").cast("timestamp_ntz"))
                .drop("t")
                .select("k", "cid", "ts", "op", "v"))

    b1 = _df([
        (1, 1, "2024-01-01", "U", "A"),
        (2, 2, "2024-01-01", "U", "X"),
        (3, 3, "2024-01-01", "U", "P"),
        (3, 4, "2024-01-02", "D", "junk"),
    ])
    b2 = _df([
        (1, 5, "2024-01-03", "U", "A"),     # (a) no-op across batches
        (2, 6, "2024-01-03", "D", "junk"),  # (b) delete closes
        (2, 7, "2024-01-04", "D", "junk2"), # (b) delete run compresses
        (3, 8, "2024-01-05", "U", "P"),     # (c) re-insert, same value
    ])
    src = tmp_path / "src"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "b0"))
    b2.coalesce(1).write.parquet(str(src / "b1"))
    out = str(tmp_path / "dim")
    from openpolicedata_spark.streaming import read_scd2

    scd2_sink(_stream(spark, b1, src), out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op")
    got = sorted((r.k, r.v, str(r.valid_from)[:10],
                  None if r.valid_to is None else str(r.valid_to)[:10],
                  r.is_current)
                 for r in read_scd2(spark, out).collect())
    assert got == [
        (1, "A", "2024-01-01", None, True),          # (a) one version
        (2, "X", "2024-01-01", "2024-01-03", False), # (b) closed once
        (3, "P", "2024-01-01", "2024-01-02", False),
        (3, "P", "2024-01-05", None, True),          # (c) new version
    ]


def _marker_stats(spark, out):
    """(max marker rows in any one bucket, global max __bid__) — the
    round-12 O(1) invariant: every bucket holds AT MOST ONE high-water
    marker row however many batches folded into it."""
    r = (spark.read.parquet(out).where(F.col("__kind__") == "m")
         .groupBy("bkt").agg(F.count(F.lit(1)).alias("n"),
                             F.max("__bid__").alias("hwm"))
         .agg(F.max("n").alias("worst"), F.max("hwm").alias("hwm"))
         .first())
    return r.worst, r.hwm


def test_scd2_sink_marker_replay_guard_and_incremental(spark, tmp_path):
    """With a persistent checkpoint: each touched bucket carries ONE
    high-water marker row (O(1) marker state per bucket — round 12,
    VERDICT r11 #1 — not one row per batch); re-invoking after new
    data folds only the new file (never re-folding the old ones), and
    the version output stays exactly scd2_intervals of everything
    delivered so far."""
    from openpolicedata_spark.operators.merge import scd2_intervals
    from openpolicedata_spark.streaming import scd2_sink

    frame = _q200_frame(spark, "/root/testdata/sf0.001").where(
        F.col("user_id") % 10 == 3)
    src = tmp_path / "src"
    src.mkdir()
    _write_ordered_splits(frame, src, 3)
    # hold the last file back: rename it out of the glob
    import os

    held = str(tmp_path / "held")
    os.rename(str(src / "b2"), held)
    out = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        scd2_sink(_stream(spark, frame, src), out, "user_id", "ts",
                  ["event_type"], tiebreak_col="event_id", op_col="op",
                  checkpoint_dir=ckpt)

    drain()
    # two batches folded (ids 0, 1), yet every bucket holds exactly
    # one marker row — the high-water rollup, not an id set
    assert _marker_stats(spark, out) == (1, 1)
    from pyspark.sql import Window

    w = Window.orderBy("ts", "event_id")
    n = frame.count()
    per = (n + 2) // 3
    wave1 = (frame.withColumn("__rn__", F.row_number().over(w))
             .where(F.col("__rn__") <= 2 * per).drop("__rn__"))
    exp1 = {tuple(r) for r in scd2_intervals(
        wave1, "user_id", "ts", ["event_type"],
        tiebreak_col="event_id", op_col="op")
        .select("user_id", "event_type", "valid_from", "valid_to",
                "is_current").collect()}
    assert _versions(spark, out) == exp1

    # re-drain with nothing new: no change, markers untouched
    drain()
    assert _marker_stats(spark, out) == (1, 1)
    assert _versions(spark, out) == exp1

    # release the held file: exactly one more fold, full-log parity,
    # still one marker row per bucket (hwm advanced to batch id 2)
    os.rename(held, str(src / "b2"))
    drain()
    expected = {tuple(r) for r in scd2_intervals(
        frame, "user_id", "ts", ["event_type"],
        tiebreak_col="event_id", op_col="op")
        .select("user_id", "event_type", "valid_from", "valid_to",
                "is_current").collect()}
    assert _versions(spark, out) == expected
    assert _marker_stats(spark, out) == (1, 2)


def test_scd2_sink_late_rows_error_and_drop(spark, tmp_path):
    """A batch-2 row older than its key's stored last event fails the
    query loudly under late_policy='error' and is discarded (rest of
    the batch folds) under 'drop'."""
    from openpolicedata_spark.streaming import scd2_sink

    schema = "k long, cid long, t string, op string, v string"

    def _df(rows):
        return (spark.createDataFrame(rows, schema)
                .withColumn("ts", F.col("t").cast("timestamp_ntz"))
                .drop("t").select("k", "cid", "ts", "op", "v"))

    b1 = _df([(1, 5, "2024-01-05", "U", "A")])
    b2 = _df([(1, 2, "2024-01-02", "U", "LATE"),
              (2, 6, "2024-01-06", "U", "B")])
    for policy in ("error", "drop"):
        src = tmp_path / f"src_{policy}"
        src.mkdir()
        b1.coalesce(1).write.parquet(str(src / "b0"))
        b2.coalesce(1).write.parquet(str(src / "b1"))
        out = str(tmp_path / f"dim_{policy}")
        run = lambda: scd2_sink(
            _stream(spark, b1, src), out, "k", "ts", ["v"],
            tiebreak_col="cid", op_col="op", late_policy=policy)
        if policy == "error":
            with pytest.raises(Exception, match="late change"):
                run()
        else:
            run()
            got = _scd2_rows(spark, out)
            assert got == {(1, "A", True), (2, "B", True)}
    with pytest.raises(ValueError, match="late_policy"):
        scd2_sink(b1, "x", "k", "ts", ["v"], late_policy="rewrite")
    with pytest.raises(ValueError, match="value column"):
        scd2_sink(b1, "x", "k", "ts", [])


def _scd2_rows(spark, out):
    from openpolicedata_spark.streaming import read_scd2

    return {(r.k, r.v, r.is_current)
            for r in read_scd2(spark, out).collect()}


def test_scd2_sink_redelivered_row_is_absorbed_unguarded(spark,
                                                         tmp_path):
    """Without markers (ephemeral checkpoint), an individual change
    row redelivered in a LATER batch equals the stored last-event
    state and compresses to a no-op — at-least-once row delivery
    converges."""
    from openpolicedata_spark.streaming import scd2_sink

    schema = "k long, cid long, t string, op string, v string"

    def _df(rows):
        return (spark.createDataFrame(rows, schema)
                .withColumn("ts", F.col("t").cast("timestamp_ntz"))
                .drop("t").select("k", "cid", "ts", "op", "v"))

    b1 = _df([(1, 1, "2024-01-01", "U", "A"),
              (1, 2, "2024-01-02", "U", "B")])
    b2 = _df([(1, 2, "2024-01-02", "U", "B")])   # exact redelivery
    src = tmp_path / "src"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "b0"))
    b2.coalesce(1).write.parquet(str(src / "b1"))
    out = str(tmp_path / "dim")
    from openpolicedata_spark.streaming import read_scd2

    scd2_sink(_stream(spark, b1, src), out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op")
    got = sorted((r.k, r.v, str(r.valid_from)[:10], r.is_current)
                 for r in read_scd2(spark, out).collect())
    assert got == [(1, "A", "2024-01-01", False),
                   (1, "B", "2024-01-02", True)]


def test_scd2_sink_row_per_batch_maximal_boundary_stress(spark,
                                                         tmp_path):
    """EVERY adjacent-row boundary becomes a batch boundary (one row
    per micro-batch) on a crafted log packing the nasty shapes —
    timestamp ties resolved by tiebreak, no-op runs, delete runs,
    re-insert after delete, interleaved keys — and the fold must still
    equal scd2_intervals exactly. This is the strongest split the
    in-order contract allows."""
    from openpolicedata_spark.operators.merge import scd2_intervals
    from openpolicedata_spark.streaming import scd2_sink

    schema = "k long, cid long, t string, op string, v string"
    rows = [
        (1, 1, "2024-01-01 00:00:00", "U", "A"),
        (2, 2, "2024-01-01 00:00:00", "U", "X"),
        (1, 3, "2024-01-02 00:00:00", "U", "A"),   # no-op
        (1, 4, "2024-01-02 00:00:00", "U", "B"),   # tie, tiebreak wins
        (2, 5, "2024-01-03 00:00:00", "D", "junk"),
        (2, 6, "2024-01-03 00:00:00", "D", "junk2"),  # delete run, tie
        (1, 7, "2024-01-04 00:00:00", "U", "B"),   # no-op
        (2, 8, "2024-01-05 00:00:00", "U", "X"),   # re-insert post-del
        (1, 9, "2024-01-06 00:00:00", "D", "zzz"),
        (1, 10, "2024-01-07 00:00:00", "U", "B"),  # re-insert same val
        (2, 11, "2024-01-07 00:00:00", "U", "Y"),
        (1, 12, "2024-01-08 00:00:00", "U", "B"),  # trailing no-op
    ]
    frame = (spark.createDataFrame(rows, schema)
             .withColumn("ts", F.col("t").cast("timestamp_ntz"))
             .drop("t").select("k", "cid", "ts", "op", "v"))
    expected = {tuple(r) for r in scd2_intervals(
        frame, "k", "ts", ["v"], tiebreak_col="cid", op_col="op")
        .select("k", "v", "valid_from", "valid_to", "is_current")
        .collect()}

    src = tmp_path / "src"
    src.mkdir()
    for i, row in enumerate(rows):
        (spark.createDataFrame([row], schema)
         .withColumn("ts", F.col("t").cast("timestamp_ntz"))
         .drop("t").select("k", "cid", "ts", "op", "v")
         .coalesce(1).write.parquet(str(src / f"b{i:02d}")))
    out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, frame, src), out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op", timeout_s=600)
    from openpolicedata_spark.streaming import read_scd2

    got = {tuple(r) for r in read_scd2(spark, out)
           .select("k", "v", "valid_from", "valid_to", "is_current")
           .collect()}
    assert got == expected


def test_scd2_sink_table_is_self_compacting(spark, tmp_path):
    """Each batch rewrites every touched bucket into ONE data file per
    bucket (the per-bucket swap IS the compaction), so the table's
    data-file count is bounded by n_buckets — it must NOT grow with
    the number of folded batches — and no stage/aside dirs leak."""
    import glob

    from openpolicedata_spark.streaming import scd2_sink

    frame = _q200_frame(spark, "/root/testdata/sf0.001").where(
        F.col("user_id") % 10 == 6)
    src = tmp_path / "src"
    src.mkdir()
    _write_ordered_splits(frame, src, 6)
    out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, frame, src), out, "user_id", "ts",
              ["event_type"], tiebreak_col="event_id", op_col="op",
              n_buckets=8)
    per_bucket = {
        d: len(glob.glob(f"{d}/*.parquet"))
        for d in glob.glob(f"{out}/bkt=*")}
    assert 0 < len(per_bucket) <= 8
    assert all(n == 1 for n in per_bucket.values()), per_bucket
    assert not glob.glob(f"{out}.__stage_*__"), "stage dir leaked"
    assert not glob.glob(f"{out}/.old_bkt_*"), "swap-aside dir leaked"


def test_scd2_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """THE round-12 property (VERDICT r11 #1): a batch touching one
    key rewrites exactly that key's bucket — every other bucket
    directory's file set (names AND bytes-identity via mtime+size) is
    untouched. Per-batch cost is O(touched buckets), not O(table)."""
    import os

    from openpolicedata_spark.streaming import read_scd2, scd2_sink

    frame = _q200_frame(spark, "/root/testdata/sf0.001").where(
        F.col("user_id") % 2 == 1)
    src = tmp_path / "src"
    src.mkdir()
    _write_ordered_splits(frame, src, 1)
    out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, frame, src), out, "user_id", "ts",
              ["event_type"], tiebreak_col="event_id", op_col="op",
              n_buckets=16)

    def snapshot():
        snap = {}
        for bdir in os.listdir(out):
            if not bdir.startswith("bkt="):
                continue
            full = os.path.join(out, bdir)
            snap[bdir] = sorted(
                (f, os.path.getmtime(os.path.join(full, f)),
                 os.path.getsize(os.path.join(full, f)))
                for f in os.listdir(full) if f.endswith(".parquet"))
        return snap

    before = snapshot()
    assert len(before) > 3   # the log spreads over many buckets

    # one-key follow-up batch (a key known to exist: smallest user)
    k = frame.agg(F.min("user_id")).first()[0]
    one = (spark.createDataFrame(
        [(int(k), 10**9, "2025-06-01 00:00:00", "U", "ZZZ")],
        "user_id long, event_id long, t string, op string, "
        "event_type string")
        .withColumn("ts", F.col("t").cast("timestamp_ntz")).drop("t")
        .select("user_id", "event_id", "ts", "op", "event_type"))
    src2 = tmp_path / "src2"
    src2.mkdir()
    one.coalesce(1).write.parquet(str(src2 / "b0"))
    scd2_sink(_stream(spark, one, src2), out, "user_id", "ts",
              ["event_type"], tiebreak_col="event_id", op_col="op",
              n_buckets=16)
    after = snapshot()
    changed = [b for b in before
               if after.get(b) != before[b]]
    assert len(changed) == 1, changed   # exactly the key's bucket
    # and the fold is semantically right: the new version is current
    cur = (read_scd2(spark, out)
           .where((F.col("user_id") == k) & F.col("is_current"))
           .select("event_type").collect())
    assert [r.event_type for r in cur] == ["ZZZ"]


def test_scd2_sink_partial_batch_crash_recovery(spark, tmp_path):
    """Crash BETWEEN bucket swaps of one batch (the new crash window
    of the O(touched) design): after a guarded 2-batch run, one
    bucket is reverted to its pre-batch-1 content (simulating a swap
    that never landed) and the engine's commit record for batch 1 is
    removed, so the restart REDELIVERS batch 1. The per-bucket
    high-water markers must skip the buckets whose swap completed
    (their batch-1 rows would otherwise trip the late detector) and
    fold ONLY the reverted bucket — converging to exactly the
    uncrashed table."""
    import os
    import shutil

    from openpolicedata_spark.operators.merge import scd2_intervals
    from openpolicedata_spark.streaming import scd2_sink

    frame = _q200_frame(spark, "/root/testdata/sf0.001").where(
        F.col("user_id") % 10 == 7)
    src = tmp_path / "src"
    src.mkdir()
    _write_ordered_splits(frame, src, 2)
    held = str(tmp_path / "held")
    os.rename(str(src / "b1"), held)
    out = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        scd2_sink(_stream(spark, frame, src), out, "user_id", "ts",
                  ["event_type"], tiebreak_col="event_id", op_col="op",
                  checkpoint_dir=ckpt, n_buckets=8)

    drain()                              # batch 0 only
    # snapshot every bucket's post-batch-0 content
    snap = str(tmp_path / "snap")
    shutil.copytree(out, snap)
    os.rename(held, str(src / "b1"))
    drain()                              # batch 1 folds everywhere
    expected = _versions(spark, out)
    assert expected != _versions(spark, snap)  # batch 1 changed things

    # simulate the crash: one bucket's batch-1 swap "never happened"
    victim = sorted(d for d in os.listdir(out)
                    if d.startswith("bkt="))[0]
    shutil.rmtree(os.path.join(out, victim))
    shutil.copytree(os.path.join(snap, victim),
                    os.path.join(out, victim))
    # ...and the engine never recorded batch 1 as committed (the local
    # checksum FS shadows every log file with a .crc — drop both)
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.isfile(crc):
        os.remove(crc)

    drain()                              # batch 1 REDELIVERED (id 1)
    assert _versions(spark, out) == expected
    assert _marker_stats(spark, out) == (1, 1)


def test_scd2_sink_n_buckets_is_stamped_and_validated(spark, tmp_path):
    """The key→bucket map is part of the table: reopening with a
    different n_buckets would split keys across buckets, so the sink
    stamps the count and refuses a mismatch loudly."""
    import pytest

    from openpolicedata_spark.streaming import scd2_sink

    b1 = (spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", "U", "A")],
        "k long, cid long, t string, op string, v string")
        .withColumn("ts", F.col("t").cast("timestamp_ntz")).drop("t")
        .select("k", "cid", "ts", "op", "v"))
    src = tmp_path / "src"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "b0"))
    out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, b1, src), out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op", n_buckets=4)
    src2 = tmp_path / "src2"
    src2.mkdir()
    b1.coalesce(1).write.parquet(str(src2 / "b0"))
    with pytest.raises(Exception, match="n_buckets"):
        scd2_sink(_stream(spark, b1, src2), out, "k", "ts", ["v"],
                  tiebreak_col="cid", op_col="op", n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        scd2_sink(b1, out, "k", "ts", ["v"], n_buckets=0)
    with pytest.raises(ValueError, match="reserved"):
        scd2_sink(b1.withColumnRenamed("v", "bkt"), out, "k", "ts",
                  ["bkt"])


def _enrich_expected(spark, events, dim_out, unmatched="keep"):
    """Batch q205-shape containment join — the parity truth."""
    from openpolicedata_spark.streaming import read_scd2

    d = read_scd2(spark, dim_out).select(
        F.col("user_id").alias("dk"),
        F.col("valid_from").alias("vf"),
        F.col("valid_to").alias("vt"),
        F.col("event_type").alias("dim_event_type"),
        F.col("valid_from").alias("dim_valid_from"))
    cond = ((events["user_id"] == d["dk"])
            & (d["vf"] <= events["ts"])
            & (d["vt"].isNull() | (events["ts"] < d["vt"])))
    j = events.join(d, cond, "left" if unmatched == "keep" else "inner")
    return {tuple(r) for r in
            j.select("event_id", "dim_event_type", "dim_valid_from")
            .collect()}


def test_scd2_enrich_sink_batch_stream_parity_and_policies(
        spark, tmp_path):
    """Streaming point-in-time enrichment (round 12, VERDICT r11 #5):
    enriching the q200 log's own events in 3 micro-batches against
    the finished scd2_sink dimension equals the batch q205-shape
    containment join EXACTLY — including delete-gap events (NULL
    features under 'keep', absent under 'drop') and events at ties.
    Every event matches at most one version (the tiling law)."""
    from openpolicedata_spark.streaming import scd2_enrich_sink, scd2_sink

    frame = _q200_frame(spark, "/root/testdata/sf0.001").where(
        F.col("user_id") % 10 == 4)
    # build the dimension first (the feed-ahead discipline)
    dsrc = tmp_path / "dsrc"
    dsrc.mkdir()
    _write_ordered_splits(frame, dsrc, 2)
    dim_out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, frame, dsrc), dim_out, "user_id", "ts",
              ["event_type"], tiebreak_col="event_id", op_col="op")

    events = frame.select("user_id", "event_id", "ts")
    for policy in ("keep", "drop"):
        esrc = tmp_path / f"esrc_{policy}"
        esrc.mkdir()
        _write_ordered_splits(events, esrc, 3)
        out = str(tmp_path / f"enriched_{policy}")
        scd2_enrich_sink(_stream(spark, events, esrc), dim_out, out,
                         "user_id", "ts", unmatched=policy)
        got = {tuple(r) for r in
               spark.read.parquet(out)
               .select("event_id", "dim_event_type", "dim_valid_from")
               .collect()}
        assert got == _enrich_expected(spark, events, dim_out, policy)
        assert len(got) > 0
    # at most one version per event (tiling through the stream path)
    per_ev = (spark.read.parquet(str(tmp_path / "enriched_keep"))
              .groupBy("event_id").count().agg(F.max("count")).first()[0])
    assert per_ev == 1
    # 'keep' really carried unmatched delete-gap events as NULLs
    nulls = (spark.read.parquet(str(tmp_path / "enriched_keep"))
             .where(F.col("dim_event_type").isNull()).count())
    assert nulls > 0
    with pytest.raises(ValueError, match="unmatched"):
        scd2_enrich_sink(events, dim_out, "x", "user_id", "ts",
                         unmatched="error")


def test_scd2_enrich_sink_replay_guard_and_clash(spark, tmp_path):
    """Guarded enrichment skips a redelivered batch because its
    `batch=<id>` directory already landed (round 13 — directory
    presence IS the marker, published by one atomic rename, so there
    is no append-then-mark crash window); a dim_prefix that collides
    with a stream column raises."""
    import os

    from openpolicedata_spark.streaming import scd2_enrich_sink, scd2_sink

    frame = _q200_frame(spark, "/root/testdata/sf0.001").where(
        F.col("user_id") % 10 == 9)
    dsrc = tmp_path / "dsrc"
    dsrc.mkdir()
    _write_ordered_splits(frame, dsrc, 1)
    dim_out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, frame, dsrc), dim_out, "user_id", "ts",
              ["event_type"], tiebreak_col="event_id", op_col="op")

    events = frame.select("user_id", "event_id", "ts")
    esrc = tmp_path / "esrc"
    esrc.mkdir()
    _write_ordered_splits(events, esrc, 2)
    out = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        scd2_enrich_sink(_stream(spark, events, esrc), dim_out, out,
                         "user_id", "ts", checkpoint_dir=ckpt)

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == events.count()
    # crash-recovery redelivery of batch 1: engine committed offsets
    # but not the commit record — the hwm file must absorb the replay
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.isfile(crc):
        os.remove(crc)
    drain()
    assert spark.read.parquet(out).count() == n1
    # guarded dirs are the bare monotonic ids; no stage dir leaked
    assert sorted(d for d in os.listdir(out)
                  if d.startswith("batch=")) == ["batch=0", "batch=1"]
    assert not [d for d in os.listdir(out) if d.startswith(".stage_")]

    # prefix collision raises loudly inside the fold
    esrc2 = tmp_path / "esrc2"
    esrc2.mkdir()
    ev2 = events.withColumn("dim_event_type", F.lit("boom"))
    ev2.coalesce(1).write.parquet(str(esrc2 / "b0"))
    with pytest.raises(Exception, match="dim_prefix"):
        scd2_enrich_sink(_stream(spark, ev2, esrc2), dim_out,
                         str(tmp_path / "enriched2"), "user_id", "ts")


def test_scd2_sink_null_key_matches_batch(spark, tmp_path):
    """Review r12: batch scd2_intervals' window treats a NULL key as
    an ordinary group, so the sink's state joins must be NULL-SAFE —
    a plain on=key join never matches NULL, leaking duplicate state
    rows and never-closing versions. NULL-keyed changes split across
    batches must compress, close, and delete exactly like batch."""
    from openpolicedata_spark.operators.merge import scd2_intervals
    from openpolicedata_spark.streaming import read_scd2, scd2_sink

    schema = "k long, cid long, t string, op string, v string"
    rows1 = [(None, 1, "2024-01-01", "U", "A"),
             (7, 2, "2024-01-01", "U", "X")]
    rows2 = [(None, 3, "2024-01-02", "U", "A"),   # no-op across batches
             (None, 4, "2024-01-03", "U", "B"),   # real change
             (7, 5, "2024-01-03", "U", "X")]      # no-op
    rows3 = [(None, 6, "2024-01-04", "D", "zz")]  # delete closes NULL

    def _df(rows):
        return (spark.createDataFrame(rows, schema)
                .withColumn("ts", F.col("t").cast("timestamp_ntz"))
                .drop("t").select("k", "cid", "ts", "op", "v"))

    full = _df(rows1 + rows2 + rows3)
    expected = {(r.k, r.v, str(r.valid_from)[:10],
                 None if r.valid_to is None else str(r.valid_to)[:10],
                 r.is_current)
                for r in scd2_intervals(
                    full, "k", "ts", ["v"], tiebreak_col="cid",
                    op_col="op").collect()}
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate((rows1, rows2, rows3)):
        _df(rows).coalesce(1).write.parquet(str(src / f"b{i}"))
    out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, full, src), out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op")
    got = {(r.k, r.v, str(r.valid_from)[:10],
            None if r.valid_to is None else str(r.valid_to)[:10],
            r.is_current)
           for r in read_scd2(spark, out).collect()}
    assert got == expected
    # ...and exactly ONE state row survives for the NULL key
    n_null_state = (spark.read.parquet(out)
                    .where((F.col("__kind__") == "s")
                           & F.col("k").isNull()).count())
    assert n_null_state == 1


def test_scd2_sink_bucket_count_invariance(spark, tmp_path):
    """The bucket layout is pure STORAGE: folding the same log under
    1, 3, and 16 buckets must produce identical read_scd2 output (and
    n_buckets=1 IS the old whole-table design, so this is also the
    old-vs-new equivalence pin)."""
    from openpolicedata_spark.streaming import scd2_sink

    frame = _q200_frame(spark, "/root/testdata/sf0.001").where(
        F.col("user_id") % 10 == 2)
    outs = []
    for nb in (1, 3, 16):
        src = tmp_path / f"src_{nb}"
        src.mkdir()
        _write_ordered_splits(frame, src, 3)
        out = str(tmp_path / f"dim_{nb}")
        scd2_sink(_stream(spark, frame, src), out, "user_id", "ts",
                  ["event_type"], tiebreak_col="event_id", op_col="op",
                  n_buckets=nb)
        outs.append(_versions(spark, out))
    assert outs[0] == outs[1] == outs[2] and len(outs[0]) > 0


def test_scd2_enrich_sink_sees_dimension_as_of_fold_time(spark,
                                                         tmp_path):
    """The live-lookup semantics: each enrichment batch joins the
    dimension AS CURRENTLY FOLDED — events enriched before a
    dimension change see the old version set, later batches see the
    new one (exactly what a feature-store lookup does; replaying
    history against the finished dimension is the batch q205 job)."""
    from openpolicedata_spark.streaming import scd2_enrich_sink, scd2_sink

    schema = "k long, cid long, t string, op string, v string"

    def _dim_rows(rows, src_name):
        df = (spark.createDataFrame(rows, schema)
              .withColumn("ts", F.col("t").cast("timestamp_ntz"))
              .drop("t").select("k", "cid", "ts", "op", "v"))
        src = tmp_path / src_name
        src.mkdir()
        df.coalesce(1).write.parquet(str(src / "b0"))
        return df, src

    dim_out = str(tmp_path / "dim")
    d1, dsrc1 = _dim_rows([(1, 1, "2024-01-01", "U", "A")], "d1")
    scd2_sink(_stream(spark, d1, dsrc1), dim_out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op", n_buckets=4)

    ev_schema = "k long, event_id long, t string"

    def _events(rows, src_name):
        df = (spark.createDataFrame(rows, ev_schema)
              .withColumn("ts", F.col("t").cast("timestamp_ntz"))
              .drop("t").select("k", "event_id", "ts"))
        src = tmp_path / src_name
        src.mkdir()
        df.coalesce(1).write.parquet(str(src / "b0"))
        return df, src

    out = str(tmp_path / "enriched")
    # e1 enriches while the dimension only knows version A
    e1, esrc1 = _events([(1, 100, "2024-02-01")], "e1")
    scd2_enrich_sink(_stream(spark, e1, esrc1), dim_out, out, "k", "ts")
    # the dimension then learns of a LATER change (B from 2024-03-01)
    d2, dsrc2 = _dim_rows([(1, 2, "2024-03-01", "U", "B")], "d2")
    scd2_sink(_stream(spark, d2, dsrc2), dim_out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op", n_buckets=4)
    # e2: same key, one event still in A's interval, one in B's
    e2, esrc2 = _events([(1, 101, "2024-02-02"),
                         (1, 102, "2024-03-02")], "e2")
    scd2_enrich_sink(_stream(spark, e2, esrc2), dim_out, out, "k", "ts")

    got = {(r.event_id, r.dim_v) for r in
           spark.read.parquet(out).select("event_id", "dim_v").collect()}
    # 100 was enriched against the pre-change dimension: version A was
    # still open, so it matched A; 101 lands in A's (now closed)
    # interval; 102 in B's open interval
    assert got == {(100, "A"), (101, "A"), (102, "B")}


def test_scd2_recovery_read_path_is_restore_only(spark, tmp_path):
    """ADVICE r12 (medium): a reader's recovery may run CONCURRENTLY
    with the fold, so the read path must never delete an aside (to a
    reader, a swap in flight looks exactly like a crash) — it only
    restores a MISSING bucket, tolerating lost races. The writer path
    keeps the full cleanup."""
    import os

    from openpolicedata_spark.publish import recover, swap

    root = tmp_path / "dim"
    root.mkdir()
    live, aside = str(root / "bkt=0"), str(root / ".old_bkt_0")
    # state A: live + stale aside (post-swap crash before cleanup)
    (root / "bkt=0").mkdir()
    (root / ".old_bkt_0").mkdir()
    recover(live, aside, reader=True)
    assert (root / ".old_bkt_0").is_dir(), "read path deleted an aside"
    recover(live, aside)
    assert not (root / ".old_bkt_0").exists()
    # state B: aside only (mid-swap crash) — BOTH paths restore
    os.rename(live, aside)
    recover(live, aside, reader=True)
    assert (root / "bkt=0").is_dir()

    # the swap retry: a reader restores the aside BETWEEN the writer's
    # two renames; the writer must move it aside again and land
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "marker.txt").write_text("new")
    (root / "bkt=0" / "old.txt").write_text("old")
    real_rename = os.rename
    fired = {"n": 0}

    def racing_rename(src, dst):
        if src == str(stage) and fired["n"] == 0:
            fired["n"] = 1
            # the racing reader restores the aside first
            real_rename(aside, live)
        return real_rename(src, dst)

    os.rename = racing_rename
    try:
        swap(str(stage), live, aside)
    finally:
        os.rename = real_rename
    assert (root / "bkt=0" / "marker.txt").is_file()
    assert not (root / ".old_bkt_0").exists()
    assert fired["n"] == 1  # the race really happened


def test_scd2_sink_reserved_op_and_tiebreak_cols(spark, tmp_path):
    """ADVICE r12: op_col/tiebreak_col named after a bookkeeping
    column would be silently overwritten (tiebreak_col='bkt' would
    tiebreak on the bucket id) — both now refuse loudly."""
    b1 = (spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", "U", "A")],
        "k long, bkt long, t string, __bid__ string, v string")
        .withColumn("ts", F.col("t").cast("timestamp_ntz")).drop("t"))
    from openpolicedata_spark.streaming import scd2_sink

    with pytest.raises(ValueError, match="reserved"):
        scd2_sink(b1, str(tmp_path / "x"), "k", "ts", ["v"],
                  tiebreak_col="bkt")
    with pytest.raises(ValueError, match="reserved"):
        scd2_sink(b1, str(tmp_path / "x"), "k", "ts", ["v"],
                  op_col="__bid__")


def test_scd2_layout_guard_refuses_unbucketed_table(spark, tmp_path):
    """ADVICE r12: root-level parquet with no .n_buckets stamp is a
    pre-r12 unbucketed table (or a foreign dir) — both fold and read
    must raise the migration error instead of forking state."""
    from openpolicedata_spark.streaming import read_scd2, scd2_sink

    flat = tmp_path / "flat"
    (spark.range(3).withColumn("__kind__", F.lit("v"))
     .coalesce(1).write.parquet(str(flat)))
    with pytest.raises(Exception, match="n_buckets stamp"):
        read_scd2(spark, str(flat))
    b1 = (spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "A")], "k long, t string, v string")
        .withColumn("ts", F.col("t").cast("timestamp_ntz")).drop("t"))
    src = tmp_path / "src"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "b0"))
    from _stream_helpers import file_stream as _fs

    with pytest.raises(Exception, match="n_buckets stamp"):
        scd2_sink(_fs(spark, b1, src), str(flat), "k", "ts", ["v"])


def test_scd2_enrich_sink_null_key_enriches(spark, tmp_path):
    """ADVICE r12: the containment join is NULL-SAFE on the key for
    consistency with the sink (NULL keys are ordinary groups) — a
    NULL-keyed event must pick up its NULL-keyed dimension version."""
    from openpolicedata_spark.streaming import (
        read_enriched,
        scd2_enrich_sink,
        scd2_sink,
    )

    schema = "k long, cid long, t string, op string, v string"
    d1 = (spark.createDataFrame(
        [(None, 1, "2024-01-01", "U", "NULLV"),
         (5, 2, "2024-01-01", "U", "FIVE")], schema)
        .withColumn("ts", F.col("t").cast("timestamp_ntz"))
        .drop("t").select("k", "cid", "ts", "op", "v"))
    dsrc = tmp_path / "dsrc"
    dsrc.mkdir()
    d1.coalesce(1).write.parquet(str(dsrc / "b0"))
    dim_out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, d1, dsrc), dim_out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op")

    ev = (spark.createDataFrame(
        [(None, 100, "2024-02-01"), (5, 101, "2024-02-01")],
        "k long, event_id long, t string")
        .withColumn("ts", F.col("t").cast("timestamp_ntz"))
        .drop("t").select("k", "event_id", "ts"))
    esrc = tmp_path / "esrc"
    esrc.mkdir()
    ev.coalesce(1).write.parquet(str(esrc / "b0"))
    out = str(tmp_path / "enriched")
    scd2_enrich_sink(_stream(spark, ev, esrc), dim_out, out, "k", "ts")
    got = {(r.event_id, r.dim_v) for r in
           read_enriched(spark, out).select("event_id", "dim_v")
           .collect()}
    assert got == {(100, "NULLV"), (101, "FIVE")}


def test_scd2_enrich_sink_exactly_once_no_crash_window(spark,
                                                       tmp_path):
    """Round 13 (VERDICT r12 #2): the old append-then-bump-hwm design
    re-appended a batch if the crash landed between the two steps.
    Now the batch directory is published by ONE rename — simulate the
    crash-before-publish state (a stale hidden stage dir, no final
    dir) plus a redelivery, and assert the rows land exactly once and
    the stale stage is swept; a replay whose dir already landed is
    skipped outright."""
    import os

    from openpolicedata_spark.streaming import (
        read_enriched,
        scd2_enrich_sink,
        scd2_sink,
    )

    frame = _q200_frame(spark, "/root/testdata/sf0.001").where(
        F.col("user_id") % 10 == 1)
    dsrc = tmp_path / "dsrc"
    dsrc.mkdir()
    _write_ordered_splits(frame, dsrc, 1)
    dim_out = str(tmp_path / "dim")
    scd2_sink(_stream(spark, frame, dsrc), dim_out, "user_id", "ts",
              ["event_type"], tiebreak_col="event_id", op_col="op")

    events = frame.select("user_id", "event_id", "ts")
    esrc = tmp_path / "esrc"
    esrc.mkdir()
    _write_ordered_splits(events, esrc, 2)
    out = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ckpt")
    # the crash-before-publish state a dead process would leave
    os.makedirs(out)
    stale = os.path.join(out, ".stage_0__")
    os.makedirs(stale)
    with open(os.path.join(stale, "junk.parquet"), "wb") as fh:
        fh.write(b"\x00")

    def drain():
        scd2_enrich_sink(_stream(spark, events, esrc), dim_out, out,
                         "user_id", "ts", checkpoint_dir=ckpt)

    drain()
    n = events.count()
    assert read_enriched(spark, out).count() == n
    assert not [d for d in os.listdir(out) if d.startswith(".stage_")]
    # full redelivery of batch 1 (commit record dropped): presence of
    # batch=1 skips it — counts unchanged, ids unchanged
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.isfile(crc):
        os.remove(crc)
    drain()
    assert read_enriched(spark, out).count() == n
    per_ev = (read_enriched(spark, out).groupBy("event_id").count()
              .agg(F.max("count")).first()[0])
    assert per_ev == 1

    # UNGUARDED runs namespace their dirs per run: a second drain of
    # the same source APPENDS (ids restart at 0 — a bare id layout
    # would silently skip), and read_enriched sees both runs
    out2 = str(tmp_path / "enriched2")
    esrc2 = tmp_path / "esrc2"
    esrc2.mkdir()
    _write_ordered_splits(events, esrc2, 1)
    scd2_enrich_sink(_stream(spark, events, esrc2), dim_out, out2,
                     "user_id", "ts")
    scd2_enrich_sink(_stream(spark, events, esrc2), dim_out, out2,
                     "user_id", "ts")
    assert read_enriched(spark, out2).count() == 2 * n


def test_rebucket_scd2_migration(spark, tmp_path):
    """Round 13 (VERDICT r12 #1): rebucket(4→16) must equal a
    from-scratch 16-bucket fold of the same log under read_scd2, carry
    re-stamped hwm=global-max markers in EVERY new bucket, keep
    folding correctly afterwards (same checkpoint: replayed ids skip,
    new ids fold), refuse the OLD bucket count after migration, and
    recover from a crash mid-swap."""
    import os
    import shutil

    from openpolicedata_spark.operators.merge import scd2_intervals
    from openpolicedata_spark.streaming import (
        read_scd2,
        rebucket_scd2,
        scd2_sink,
    )

    frame = _q200_frame(spark, "/root/testdata/sf0.001").where(
        F.col("user_id") % 10 == 5)
    src = tmp_path / "src"
    src.mkdir()
    _write_ordered_splits(frame, src, 3)
    held = str(tmp_path / "held")
    os.rename(str(src / "b2"), held)
    out = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def drain(nb):
        scd2_sink(_stream(spark, frame, src), out, "user_id", "ts",
                  ["event_type"], tiebreak_col="event_id", op_col="op",
                  checkpoint_dir=ckpt, n_buckets=nb)

    drain(4)                      # batches 0,1 into 4 buckets
    # from-scratch 16-bucket fold of the same two batches = the target
    src_ref = tmp_path / "src_ref"
    src_ref.mkdir()
    shutil.copytree(str(src / "b0"), str(src_ref / "b0"))
    shutil.copytree(str(src / "b1"), str(src_ref / "b1"))
    ref = str(tmp_path / "dim_ref")
    scd2_sink(_stream(spark, frame, src_ref), ref, "user_id", "ts",
              ["event_type"], tiebreak_col="event_id", op_col="op",
              n_buckets=16)

    rebucket_scd2(spark, out, 16)
    assert _versions(spark, out) == _versions(spark, ref)
    # the stamp moved and a stale migration stage never leaks
    with open(os.path.join(out, ".n_buckets")) as fh:
        assert int(fh.read()) == 16
    assert not os.path.isdir(out + ".__stage_rebucket__")
    # EVERY new bucket carries exactly one marker at hwm = global max
    m = (spark.read.parquet(out).where(F.col("__kind__") == "m")
         .groupBy("bkt").agg(F.count(F.lit(1)).alias("n"),
                             F.max("__bid__").alias("hwm")).collect())
    assert len(m) == 16
    assert all(r.n == 1 and r.hwm == 1 for r in m)
    # per-key/bucket placement matches the sink's own hash (NULL keys
    # included by construction of pmod(xxhash64(k), 16))
    misplaced = (spark.read.parquet(out)
                 .where(F.col("__kind__") != "m")
                 .where(F.pmod(F.xxhash64(F.col("user_id")), F.lit(16))
                        .cast("int") != F.col("bkt")).count())
    assert misplaced == 0

    # continued folding: the old count now refuses...
    src2 = tmp_path / "src2"
    src2.mkdir()
    shutil.copytree(str(src / "b0"), str(src2 / "b0"))
    with pytest.raises(Exception, match="n_buckets"):
        scd2_sink(_stream(spark, frame, src2), out, "user_id", "ts",
                  ["event_type"], tiebreak_col="event_id", op_col="op",
                  n_buckets=4)
    # ...and the new count picks up where the table left off: batch 2
    # folds, full-log parity
    os.rename(held, str(src / "b2"))
    drain(16)
    expected = {tuple(r) for r in scd2_intervals(
        frame, "user_id", "ts", ["event_type"],
        tiebreak_col="event_id", op_col="op")
        .select("user_id", "event_type", "valid_from", "valid_to",
                "is_current").collect()}
    assert _versions(spark, out) == expected

    # crash mid-swap: the table moved aside, replacement not yet in
    # place — any read (or the next rebucket/fold) restores it
    os.rename(out, out + ".__old__")
    assert _versions(spark, out) == expected
    # a bad count refuses before touching anything
    with pytest.raises(ValueError, match="new_n_buckets"):
        rebucket_scd2(spark, out, 0)
    # a non-scd2 dir refuses
    with pytest.raises(Exception, match="n_buckets"):
        rebucket_scd2(spark, str(tmp_path / "nope"), 4)


def test_enrichment_continues_across_rebucket_migration(spark,
                                                        tmp_path):
    """The full operational story (round 13): fold a dimension at 4
    buckets, enrich a first wave of events, STOP, rebucket to 8,
    resume folding NEW changes from the same checkpoint, enrich a
    second wave — every enriched row must carry the feature version
    that was live at its fold time, exactly as if the migration never
    happened (the as-of semantics survive the layout change)."""
    from openpolicedata_spark.streaming import (
        read_enriched,
        rebucket_scd2,
        scd2_enrich_sink,
        scd2_sink,
    )

    schema = "k long, cid long, t string, op string, v string"

    def _dim(rows, name):
        df = (spark.createDataFrame(rows, schema)
              .withColumn("ts", F.col("t").cast("timestamp_ntz"))
              .drop("t").select("k", "cid", "ts", "op", "v"))
        src = tmp_path / name
        src.mkdir()
        df.coalesce(1).write.parquet(str(src / "b0"))
        return df, src

    dim_out = str(tmp_path / "dim")
    ckpt = str(tmp_path / "dim_ckpt")
    d1, s1 = _dim([(1, 1, "2024-01-01", "U", "A"),
                   (2, 2, "2024-01-01", "U", "X")], "d1")
    scd2_sink(_stream(spark, d1, s1), dim_out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op", n_buckets=4,
              checkpoint_dir=ckpt)

    ev_schema = "k long, event_id long, t string"

    def _ev(rows, name):
        df = (spark.createDataFrame(rows, ev_schema)
              .withColumn("ts", F.col("t").cast("timestamp_ntz"))
              .drop("t").select("k", "event_id", "ts"))
        src = tmp_path / name
        src.mkdir()
        df.coalesce(1).write.parquet(str(src / "b0"))
        return df, src

    out = str(tmp_path / "enriched")
    e1, es1 = _ev([(1, 100, "2024-02-01"), (2, 101, "2024-02-01")],
                  "e1")
    scd2_enrich_sink(_stream(spark, e1, es1), dim_out, out, "k", "ts")

    # OFFLINE migration 4 -> 8 (sink stopped)
    rebucket_scd2(spark, dim_out, 8)

    # resume folding NEW changes against the migrated table from the
    # SAME checkpoint with the new count
    src2 = tmp_path / "d2"
    src2.mkdir()
    import shutil

    shutil.copytree(str(s1 / "b0"), str(src2 / "b0"))  # already folded
    d2b = (spark.createDataFrame(
        [(1, 3, "2024-03-01", "U", "B"),
         (2, 4, "2024-03-01", "D", "junk")], schema)
        .withColumn("ts", F.col("t").cast("timestamp_ntz"))
        .drop("t").select("k", "cid", "ts", "op", "v"))
    d2b.coalesce(1).write.parquet(str(src2 / "b1"))
    scd2_sink(_stream(spark, d2b, src2), dim_out, "k", "ts", ["v"],
              tiebreak_col="cid", op_col="op", n_buckets=8,
              checkpoint_dir=ckpt)

    # second wave: key 1 events straddle the change; key 2's event in
    # the delete gap arrives unmatched
    e2, es2 = _ev([(1, 102, "2024-02-15"), (1, 103, "2024-03-15"),
                   (2, 104, "2024-03-15")], "e2")
    scd2_enrich_sink(_stream(spark, e2, es2), dim_out, out, "k", "ts")

    got = {(r.event_id, r.dim_v) for r in
           read_enriched(spark, out).select("event_id", "dim_v")
           .collect()}
    assert got == {(100, "A"), (101, "X"),       # pre-migration wave
                   (102, "A"), (103, "B"),       # straddling key 1
                   (104, None)}                  # delete gap -> NULL
