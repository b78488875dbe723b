"""Streaming-sink index compaction: the append-per-micro-batch
index directories are rewritten by `streaming.compact_index`
(→ `operators.scale.compact_parquet_dir`) once they exceed a file-count
threshold — contents row-for-row identical, so admits and replays are
unchanged, while the file count (the thing that makes the head-of-batch
index read listing-bound at production batch counts) stays bounded."""
import glob
import os

import pytest
from pyspark.sql import functions as F


def _pq_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def test_near_dedup_sink_compacts_index_same_admits(spark, tmp_path,
                                                    monkeypatch):
    """Drive enough micro-batches (maxFilesPerTrigger=1) that the band
    index crosses the compaction threshold mid-stream; admits must equal
    an uncompacted run's, the index contents must be set-identical, and
    the file count must be below one-file-per-batch."""
    from openpolicedata_spark import streaming as S
    from openpolicedata_spark.streaming import near_dedup_sink

    topics = [
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill every single day",
        "parquet row groups carry footers statistics and column chunk "
        "encodings that readers consult before any scan",
        "shuffle boundaries partition the physical plan into stages "
        "whose tasks exchange sorted blocks over the network",
        "watermarks bound how late an event may arrive before its "
        "window closes and state is evicted from the store",
        "broadcast joins ship the small dimension to every executor "
        "so the fact table never moves across the cluster",
        "adaptive execution replans skewed joins at runtime by "
        "splitting oversized partitions into parallel subtasks",
    ]
    # one distinct doc per batch, then a near-dup of batch 0's doc
    docs = [(10 * i, t) for i, t in enumerate(topics)]
    near_of_first = docs[0][1].replace("warm", "cold")

    schema = "doc_id long, text string"
    src = tmp_path / "src"
    src.mkdir()
    for i, row in enumerate(docs):
        spark.createDataFrame([row], schema).coalesce(1) \
            .write.parquet(str(src / f"f{i}"))
    spark.createDataFrame([(999, near_of_first)], schema).coalesce(1) \
        .write.parquet(str(src / "f_last"))

    def run(idx, out, max_files):
        monkeypatch.setattr(S, "COMPACT_INDEX_FILES", max_files)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(f"{src}/*/"))
        near_dedup_sink(stream, out, idx, num_hashes=32, bands=8,
                        shingle_k=3)

    out_c, idx_c = str(tmp_path / "out_c"), str(tmp_path / "idx_c")
    run(idx_c, out_c, 3)
    out_u, idx_u = str(tmp_path / "out_u"), str(tmp_path / "idx_u")
    run(idx_u, out_u, None)

    kept_c = sorted(r.doc_id for r in spark.read.parquet(out_c).collect())
    kept_u = sorted(r.doc_id for r in spark.read.parquet(out_u).collect())
    assert kept_c == kept_u == [0, 10, 20, 30, 40, 50]  # 999 dropped
    rows = lambda p: sorted(  # noqa: E731
        (r.band_id, r.band_hash) for r in spark.read.parquet(p).collect())
    assert rows(idx_c) == rows(idx_u)
    # 6 batches appended (the 7th only repeats batch 0 and publishes
    # nothing); the compacted index must end strictly smaller, and below
    # the one-file-per-batch floor
    assert len(_pq_files(idx_c)) < 6 <= len(_pq_files(idx_u))


def test_media_dedup_sink_replay_over_compaction_boundary(
        spark, tmp_path, monkeypatch):
    """Fresh-checkpoint FULL replay after the index has been compacted
    mid-stream: same admits, nothing re-admitted, index contents
    identical to before the replay."""
    from openpolicedata_spark import streaming as S
    from openpolicedata_spark.operators.multimodal import fake_decode
    from openpolicedata_spark.streaming import media_dedup_sink

    monkeypatch.setattr(S, "COMPACT_INDEX_FILES", 2)
    schema = "media_id long, content binary"
    src = tmp_path / "src"
    src.mkdir()
    payloads = [bytes([i]) * 40 for i in range(5)]
    payloads.append(payloads[0])  # batch 5 redelivers batch 0's content
    for i, p in enumerate(payloads):
        spark.createDataFrame([(i, p)], schema).coalesce(1) \
            .write.parquet(str(src / f"f{i}"))

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(f"{src}/*/"))
        media_dedup_sink(stream, out, idx, max_hamming=0,
                         decode=fake_decode)

    run()
    kept = sorted(r.media_id for r in spark.read.parquet(out).collect())
    assert kept == [0, 1, 2, 3, 4]  # id 5 = exact perceptual dup of 0
    idx_rows = sorted((r.media_id, r.ahash)
                      for r in spark.read.parquet(idx).collect())
    assert len(idx_rows) == 5
    assert len(_pq_files(idx)) < 5  # compaction actually fired

    run()  # full replay, fresh ephemeral checkpoint
    assert sorted(r.media_id
                  for r in spark.read.parquet(out).collect()) == kept
    assert sorted((r.media_id, r.ahash)
                  for r in spark.read.parquet(idx).collect()) == idx_rows


def _legacy_digests(spark, idx, texts, batch_id=None):
    """Write digests the way older ingest code did: a single-column
    file, or with batch_id a (fingerprint, batch_id) file that ends in
    that batch's NULL-fingerprint marker row."""
    from openpolicedata_spark.functions.text import fingerprint_md5_expr

    df = spark.createDataFrame([(t,) for t in texts], "text string") \
        .select(fingerprint_md5_expr(F.col("text")).alias("fingerprint"))
    if batch_id is not None:
        df = df.withColumn("batch_id", F.lit(batch_id)).unionByName(
            spark.createDataFrame([(None, batch_id)],
                                  "fingerprint string, batch_id string"))
    df.coalesce(1).write.mode("append").parquet(idx)


def test_exact_dedup_ingest_replay_after_compaction(spark, tmp_path,
                                                    monkeypatch):
    """exact_dedup_ingest with compaction enabled: digests survive the
    rewrite, so a replayed batch_id still short-circuits to its
    persisted survivors and cross-batch membership still drops dups."""
    from openpolicedata_spark import streaming as S
    from openpolicedata_spark.operators.dedup import exact_dedup_ingest

    monkeypatch.setattr(S, "COMPACT_INDEX_FILES", 3)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    schema = "doc_id long, text string"

    # an OLD-style single-column index file precedes the ingests
    _legacy_digests(spark, idx, ["legacy doc"])

    for day in range(4):
        b = spark.createDataFrame(
            [(100 * day + j, f"content {day}:{j}") for j in range(3)]
            + [(100 * day + 9, "legacy doc")],   # always a known dup
            schema)
        kept = exact_dedup_ingest(b, idx, out, f"day{day}")
        assert kept.count() == 3  # the legacy dup dropped every day

    n_files = len(_pq_files(idx))
    assert n_files < 5  # 1 legacy + 4 ingests appended; compaction fired

    # replay an old batch over the compacted index: its partition is
    # found → persisted survivors returned, nothing recomputed/re-admitted
    b1 = spark.createDataFrame(
        [(100 + j, f"content 1:{j}") for j in range(3)]
        + [(109, "legacy doc")], schema)
    replay = exact_dedup_ingest(b1, idx, out, "day1")
    assert sorted(r.doc_id for r in replay.collect()) == [100, 101, 102]
    assert len(_pq_files(idx)) == n_files  # replay wrote nothing new

    # and a NEW batch redelivering day-2 content is still dropped
    b_new = spark.createDataFrame([(500, "content 2:1")], schema)
    assert exact_dedup_ingest(b_new, idx, out, "day9").count() == 0


def test_exact_dedup_ingest_reads_marker_row_index(spark, tmp_path):
    """An index the marker-row protocol wrote mixes single-column files
    with (fingerprint, batch_id) files holding NULL-fingerprint markers.
    Membership still drops every indexed digest, a published batch still
    short-circuits, and compaction keeps every non-NULL fingerprint."""
    from openpolicedata_spark.operators.dedup import exact_dedup_ingest
    from openpolicedata_spark.streaming import compact_index

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    schema = "doc_id long, text string"
    _legacy_digests(spark, idx, ["legacy doc"])
    _legacy_digests(spark, idx, ["old a", "old b"], batch_id="day0")
    spark.createDataFrame([(1, "old a"), (2, "old b")], schema) \
        .write.parquet(os.path.join(out, "batch=day0"))

    def fingerprints():
        return sorted(r.fingerprint for r in spark.read.parquet(idx)
                      .where("fingerprint IS NOT NULL").collect())

    before = fingerprints()
    assert len(before) == 3
    b = spark.createDataFrame(
        [(10, "legacy doc"), (11, "old b"), (12, "new c")], schema)
    kept = exact_dedup_ingest(b, idx, out, "day1")
    assert [r.doc_id for r in kept.collect()] == [12]
    assert sorted(r.doc_id for r in exact_dedup_ingest(
        b, idx, out, "day0").collect()) == [1, 2]

    after = fingerprints()
    compact_index(spark, idx, 1)
    assert len(_pq_files(idx)) == 1
    assert fingerprints() == after and set(before) < set(after)
    b2 = spark.createDataFrame([(20, "old a"), (21, "new c"),
                                (22, "new d")], schema)
    assert [r.doc_id for r in exact_dedup_ingest(
        b2, idx, out, "day2").collect()] == [22]


def test_digest_index_read_recovers_crashed_compaction(spark, tmp_path):
    """A compaction that died between its two swap renames leaves the
    index only at `<path>.__old__`; the next index read must restore it
    instead of treating the index as empty (which would silently
    re-admit everything ever ingested)."""
    from openpolicedata_spark.operators.dedup import exact_dedup_ingest

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame([(1, "doc one"), (2, "doc two")], schema)
    exact_dedup_ingest(b1, idx, out, "day1")

    os.rename(idx, idx + ".__old__")  # simulate the crash window

    b2 = spark.createDataFrame([(3, "doc one"), (4, "brand new")], schema)
    kept = exact_dedup_ingest(b2, idx, out, "day2")
    assert sorted(r.doc_id for r in kept.collect()) == [4]
    assert not os.path.isdir(idx + ".__old__")


def test_semantic_dedup_sink_compaction_same_admits(spark, tmp_path,
                                                    monkeypatch):
    """semantic_dedup_sink with a tiny compaction threshold admits the
    same vectors as the default run and keeps the reps index readable
    (schema and rows preserved through the rewrite)."""
    from openpolicedata_spark import streaming as S
    from openpolicedata_spark.streaming import semantic_dedup_sink

    centroids = [[1.0, 0.0], [0.0, 1.0]]
    schema = "vec_id long, embedding array<double>"
    src = tmp_path / "src"
    src.mkdir()
    vecs = [
        [(0, [1.0, 0.05])],
        [(1, [0.05, 1.0])],
        [(2, [1.0, 0.06])],      # near 0 → dropped
        [(3, [0.9, 0.9])],
        [(4, [0.06, 1.0])],      # near 1 → dropped
    ]
    for i, rows in enumerate(vecs):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(src / f"f{i}"))

    def run(out, idx, max_files):
        monkeypatch.setattr(S, "COMPACT_INDEX_FILES", max_files)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(f"{src}/*/"))
        semantic_dedup_sink(stream, out, idx, centroids, threshold=0.95)

    out_c, idx_c = str(tmp_path / "oc"), str(tmp_path / "ic")
    run(out_c, idx_c, 2)
    out_u, idx_u = str(tmp_path / "ou"), str(tmp_path / "iu")
    run(out_u, idx_u, None)

    kc = sorted(r.vec_id for r in spark.read.parquet(out_c).collect())
    ku = sorted(r.vec_id for r in spark.read.parquet(out_u).collect())
    assert kc == ku == [0, 1, 3]
    assert (sorted(r.vec_id for r in spark.read.parquet(idx_c).collect())
            == [0, 1, 3])
    assert len(_pq_files(idx_c)) < len(_pq_files(idx_u))


def test_near_dedup_sink_reads_empty_index_dir_as_empty(spark, tmp_path):
    """A crash during the first index append can leave the index
    directory with no data files; the next drain must treat it as an
    empty index instead of failing to infer its schema."""
    from openpolicedata_spark.streaming import near_dedup_sink

    schema = "doc_id long, text string"
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog while the cat "
             "watches from the warm windowsill every single day"),
         (2, "parquet row groups carry footers statistics and column "
             "chunk encodings that readers consult before any scan")],
        schema).coalesce(1).write.parquet(str(src / "f0"))
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    os.makedirs(idx)

    near_dedup_sink(spark.readStream.schema(schema).parquet(f"{src}/*/"),
                    out, idx)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) \
        == [1, 2]
