"""Exactly-once publication of the appending foreachBatch sinks.

Every sink that appends per micro-batch (the five index sinks, the
audio wrapper, scd2_enrich_sink and windowed_topk_sink) is driven over
a small two-publish stream, killed once mid-publication, and re-drained
from the same source into the same paths. The result must equal a clean
run's: no id duplicated, none lost. The tests check behaviour only, not
the on-disk layout. A static guard keeps every append and rename in the
streaming module inside its publication and swap helpers."""
import ast
import datetime
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

SINKS = ["near", "semantic", "media", "audio", "video", "media_scan",
         "scd2_enrich", "windowed_topk"]
# parquet writes one publishing batch makes: output + index, or one
# batch directory
WRITES_PER_BATCH = {s: 2 for s in SINKS}
WRITES_PER_BATCH.update(scd2_enrich=1, windowed_topk=1)


def _write_files(spark, src, schema, batches):
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(src / f"f{i}"))


def _file_stream(spark, src, schema):
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(f"{src}/*/"))


def _index_case(spark, tmp, name):
    """(drain(out, idx, ckpt), read(out)) for one index sink over two
    files; each batch admits something, batch 1 also repeats batch 0."""
    from openpolicedata_spark import streaming as S
    from openpolicedata_spark.operators.multimodal import fake_decode

    src = tmp / "src"
    ids = lambda out: [r[0] for r in spark.read.parquet(out).collect()]  # noqa: E731
    if name == "near":
        a = ("the quick brown fox jumps over the lazy dog while the cat "
             "watches from the warm windowsill every single day")
        b = ("parquet row groups carry footers statistics and column "
             "chunk encodings that readers consult before any scan")
        c = ("watermarks bound how late an event may arrive before its "
             "window closes and state is evicted from the store")
        schema = "doc_id long, text string"
        _write_files(spark, src, schema, [[(1, a), (2, b)],
                                          [(3, a), (4, c)]])

        def drain(out, idx, ckpt):
            S.near_dedup_sink(_file_stream(spark, src, schema), out, idx)
        return drain, ids
    if name == "semantic":
        schema = "vec_id long, embedding array<double>"
        _write_files(spark, src, schema,
                     [[(1, [1.0, 0.01]), (2, [0.0, 1.0])],
                      [(3, [1.0, 0.012]), (4, [1.0, -0.9])]])

        def drain(out, idx, ckpt):
            S.semantic_dedup_sink(_file_stream(spark, src, schema), out,
                                  idx, [[1.0, 0.0], [0.0, 1.0]],
                                  threshold=0.95)
        return drain, ids
    schema = "media_id long, content binary"
    blob = lambda i: bytes([i]) * 256  # noqa: E731
    _write_files(spark, src, schema, [[(1, blob(1)), (2, blob(2))],
                                      [(3, blob(1)), (4, blob(4))]])
    stream = lambda: _file_stream(spark, src, schema)  # noqa: E731
    if name == "media":
        def drain(out, idx, ckpt):
            S.media_dedup_sink(stream(), out, idx, max_hamming=0,
                               decode=fake_decode)
    elif name == "audio":
        def samples(b):
            import hashlib

            import numpy as np

            raw = b"".join(hashlib.md5(bytes(b) + bytes([k])).digest()
                           for k in range(32))
            return np.frombuffer(raw, np.uint8).astype(np.int16)

        def drain(out, idx, ckpt):
            S.audio_dedup_sink(stream(), out, idx, max_hamming=0,
                               decode=samples)
    elif name == "video":
        def frames(b):
            from openpolicedata_spark.operators.multimodal import (
                fake_decode,
            )

            return [fake_decode(bytes(b) + bytes([k])) for k in range(3)]

        def drain(out, idx, ckpt):
            S.video_dedup_sink(stream(), out, idx, min_shared=2,
                               decode=frames)
    else:
        def scan(df):
            return df.select("media_id",
                             F.length("content").alias("n_bytes"))

        def drain(out, idx, ckpt):
            S.media_scan_sink(stream(), out, idx, scan=scan)
    return drain, ids


def _scd2_enrich_case(spark, tmp):
    from openpolicedata_spark.streaming import (
        read_enriched,
        scd2_enrich_sink,
        scd2_sink,
    )

    cdc = "user_id long, ts timestamp, event_type string"
    dsrc = tmp / "dsrc"
    day = lambda d, h=0: datetime.datetime(2024, 1, d, h)  # noqa: E731
    _write_files(spark, dsrc, cdc, [[(1, day(1), "a"), (1, day(2), "b"),
                                     (2, day(1), "c")]])
    dim = str(tmp / "dim")
    scd2_sink(_file_stream(spark, dsrc, cdc), dim, "user_id", "ts",
              ["event_type"])
    ev = "user_id long, event_id long, ts timestamp"
    esrc = tmp / "esrc"
    _write_files(spark, esrc, ev, [[(1, 1, day(1, 12)), (2, 2, day(1, 12))],
                                   [(1, 3, day(3, 12)), (3, 4, day(3, 12))]])

    def drain(out, idx, ckpt):
        scd2_enrich_sink(_file_stream(spark, esrc, ev), dim, out,
                         "user_id", "ts", checkpoint_dir=ckpt)

    def read(out):
        return [(r.event_id, r.dim_event_type)
                for r in read_enriched(spark, out).collect()]
    return drain, read


def _windowed_topk_case(spark, tmp):
    from openpolicedata_spark.streaming import read_topk, windowed_topk_sink

    schema = "ts timestamp, event_type string"
    src = tmp / "src"
    # one 6-hour window per file; file i+1 closes file i's window, so
    # two batches publish
    batches = [[(datetime.datetime(2024, 1, d, 1, m), t)
                for m, t in enumerate("aaabbc" if d % 2 else "cccbba")]
               for d in (1, 2, 3)]
    _write_files(spark, src, schema, batches)

    def drain(out, idx, ckpt):
        windowed_topk_sink(_file_stream(spark, src, schema), out, k=2,
                           watermark="0 seconds", checkpoint_dir=ckpt)

    def read(out):
        return [tuple(r) for r in read_topk(spark, out).collect()]
    return drain, read


def _case(spark, tmp, name):
    if name == "scd2_enrich":
        return _scd2_enrich_case(spark, tmp)
    if name == "windowed_topk":
        return _windowed_topk_case(spark, tmp)
    return _index_case(spark, tmp, name)


def _install_fault(mp, fault, arm_at):
    """(a) 'write': the `arm_at`-th parquet write raises — the last
    write of the second publishing batch. (b) 'rename': once that
    batch's writes are done, the first rename that moves published
    data (a `_`-prefixed marker excluded) raises. Each fires once."""
    state = {"writes": 0, "fired": False}
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        state["writes"] += 1
        if (fault == "write" and not state["fired"]
                and state["writes"] == arm_at):
            state["fired"] = True
            raise OSError("injected parquet write failure")
        return real_parquet(self, path, *a, **kw)

    def failing(real):
        def move(src, dst, *a, **kw):
            if (fault == "rename" and not state["fired"]
                    and state["writes"] >= arm_at
                    and not os.path.basename(str(src)).startswith("_")):
                state["fired"] = True
                raise OSError("injected rename failure")
            return real(src, dst, *a, **kw)
        return move

    mp.setattr(DataFrameWriter, "parquet", parquet)
    mp.setattr(os, "rename", failing(os.rename))
    mp.setattr(os, "replace", failing(os.replace))
    return state


@pytest.fixture(scope="module")
def clean_runs(spark, tmp_path_factory):
    """sink -> (drain, read, sorted clean-run rows), built once per sink
    and shared by both fault cases."""
    runs = {}

    def get(sink):
        if sink not in runs:
            tmp = tmp_path_factory.mktemp(sink)
            drain, read = _case(spark, tmp, sink)
            drain(str(tmp / "out"), str(tmp / "idx"), str(tmp / "ckpt"))
            runs[sink] = (drain, read,
                          sorted(read(str(tmp / "out")), key=repr))
        return runs[sink]
    return get


@pytest.mark.parametrize("fault", ["write", "rename"])
@pytest.mark.parametrize("sink", SINKS)
def test_appending_sink_crash_replay_is_exactly_once(clean_runs, tmp_path,
                                                     sink, fault):
    drain, read, clean = clean_runs(sink)
    assert clean

    out, idx, ckpt = (str(tmp_path / "out"), str(tmp_path / "idx"),
                      str(tmp_path / "ck1"))
    with pytest.MonkeyPatch.context() as mp:
        state = _install_fault(mp, fault, 2 * WRITES_PER_BATCH[sink])
        with pytest.raises(StreamingQueryException):
            drain(out, idx, ckpt)
    assert state["fired"], "the fault never hit a publication"
    drain(out, idx, ckpt)
    assert sorted(read(out), key=repr) == clean


GUARDED = {"_run_append_sink", "_swap_dir", "_recover_dir",
           "_swap_scd2_bucket", "_recover_scd2_buckets"}


def _publication_sites(tree):
    """(enclosing top-level function, what) for every `.write.mode(
    "append")` and `os.rename`/`os.replace` in the module."""
    sites = []
    for top in tree.body:
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if not isinstance(f, ast.Attribute):
                continue
            append = (f.attr == "mode"
                      and isinstance(f.value, ast.Attribute)
                      and f.value.attr == "write"
                      and any(isinstance(a, ast.Constant)
                              and a.value == "append" for a in node.args))
            rename = (f.attr in ("rename", "replace")
                      and isinstance(f.value, ast.Name)
                      and f.value.id == "os")
            if append or rename:
                sites.append((getattr(top, "name", "<module>"),
                              "append" if append else f"os.{f.attr}"))
    return sites


def test_streaming_appends_and_renames_only_in_publication_helpers():
    """A new sink cannot grow a second publication path: appends and
    renames in streaming/__init__.py live only in the publication
    helper and the directory swap/recovery helpers."""
    import openpolicedata_spark.streaming as S

    with open(S.__file__) as fh:
        tree = ast.parse(fh.read())
    sites = _publication_sites(tree)
    assert any(fn == "_run_append_sink" for fn, _ in sites)
    stray = [s for s in sites if s[0] not in GUARDED]
    assert not stray, stray
