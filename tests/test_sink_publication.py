"""Exactly-once publication of every persisted write.

Every sink that appends per micro-batch (the five index sinks, the
audio wrapper, scd2_enrich_sink and windowed_topk_sink) and every sink
that replaces its table per micro-batch (upsert, countmin, bloom, scd2)
is driven over a small two-batch stream, killed once mid-publication,
and re-drained from the same source into the same paths. The result
must equal a clean run's: no row duplicated, none lost.
`exact_dedup_ingest` is killed the same way and its batch redelivered;
`compact_parquet_dir` and `rebucket_scd2` must leave a readable table
at every fault. The tests check behaviour only, not the on-disk layout.
Static guards keep every append and rename in the package inside the
commit module, and every index writer's index read and publication in
one shared step. An all-duplicate batch must publish nothing, and each
index sink's jobs per drain are pinned."""
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
    write of the second publishing batch. (b) 'rename' / 'rename2':
    once that batch's writes are done, the first / second rename that
    moves published data (a `_`-prefixed marker excluded) raises. Each
    fires once."""
    state = {"writes": 0, "renames": 0, "fired": False}
    nth = {"rename": 1, "rename2": 2}.get(fault)
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
            if (nth and not state["fired"]
                    and state["writes"] >= arm_at
                    and not os.path.basename(str(src)).startswith("_")):
                state["renames"] += 1
                if state["renames"] == nth:
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


REPLACING = ["upsert", "countmin", "bloom", "scd2"]
FAULTS = ["write", "rename", "rename2"]


def _replace_case(spark, tmp, name):
    """(drain(out, ckpt), read(out)) for one replacing sink over two
    files. countmin and scd2 run with a persistent checkpoint: their
    folds are not idempotent, so only the replay guard makes a
    redelivered batch harmless."""
    from openpolicedata_spark import streaming as S

    src = tmp / "src"
    rows = lambda out: [tuple(r) for r in  # noqa: E731
                        spark.read.parquet(out).collect()]
    if name == "upsert":
        schema = "k long, ts long, v string"
        _write_files(spark, src, schema, [[(1, 1, "a"), (2, 1, "b")],
                                          [(1, 2, "c"), (3, 1, "d")]])

        def drain(out, ckpt):
            S.upsert_sink(_file_stream(spark, src, schema), out,
                          key_cols=("k",), order_cols=("ts", "v"))
        return drain, rows
    if name == "scd2":
        schema = "user_id long, ts timestamp, event_type string"
        day = lambda d: datetime.datetime(2024, 1, d)  # noqa: E731
        _write_files(spark, src, schema,
                     [[(1, day(1), "a"), (2, day(1), "b")],
                      [(1, day(2), "c"), (3, day(2), "d")]])

        def drain(out, ckpt):
            S.scd2_sink(_file_stream(spark, src, schema), out, "user_id",
                        "ts", ["event_type"], checkpoint_dir=ckpt,
                        n_buckets=4)

        def read(out):
            return [tuple(r) for r in S.read_scd2(spark, out).collect()]
        return drain, read
    schema = "token string"
    _write_files(spark, src, schema, [[("a",), ("b",)], [("a",), ("c",)]])
    if name == "countmin":
        def drain(out, ckpt):
            S.countmin_sink(_file_stream(spark, src, schema), "token", out,
                            depth=2, width=16, checkpoint_dir=ckpt)
    else:
        def drain(out, ckpt):
            S.bloom_sink(_file_stream(spark, src, schema), "token", out,
                         k=2, m=64)
    return drain, rows


@pytest.fixture(scope="module")
def clean_replacing(spark, tmp_path_factory):
    runs = {}

    def get(sink):
        if sink not in runs:
            tmp = tmp_path_factory.mktemp(sink)
            drain, read = _replace_case(spark, tmp, sink)
            drain(str(tmp / "out"), str(tmp / "ckpt"))
            runs[sink] = (drain, read,
                          sorted(read(str(tmp / "out")), key=repr))
        return runs[sink]
    return get


@pytest.mark.parametrize("fault", FAULTS)
@pytest.mark.parametrize("sink", REPLACING)
def test_replacing_sink_crash_replay_is_exactly_once(clean_replacing,
                                                     tmp_path, sink,
                                                     fault):
    """The second batch dies at its stage write, or between or at the
    two renames of its swap; the re-drain from the same checkpoint
    equals a clean run."""
    drain, read, clean = clean_replacing(sink)
    assert clean

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck1")
    with pytest.MonkeyPatch.context() as mp:
        # every replacing sink writes one stage per batch
        state = _install_fault(mp, fault, 2)
        with pytest.raises(StreamingQueryException):
            drain(out, ckpt)
    assert state["fired"], "the fault never hit a publication"
    drain(out, ckpt)
    assert sorted(read(out), key=repr) == clean


@pytest.mark.parametrize("fault", FAULTS)
def test_exact_dedup_ingest_crash_replay_is_exactly_once(spark, tmp_path,
                                                         fault):
    """A batch killed at its stage write or at either publish rename,
    then redelivered under the same batch id, leaves the output and the
    index a clean ingest leaves: the same survivors, each digest once."""
    from openpolicedata_spark.operators.dedup import exact_dedup_ingest

    schema = "doc_id long, text string"
    day0 = spark.createDataFrame([(1, "alpha"), (2, "beta")], schema)
    day1 = spark.createDataFrame([(3, "alpha"), (4, "gamma"),
                                  (5, "gamma"), (6, "delta")], schema)

    def state(idx, out):
        return (sorted(tuple(r) for r in spark.read.parquet(out).collect()),
                sorted(r.fingerprint for r in
                       spark.read.parquet(idx).collect()))

    def ingest(root):
        idx, out = str(root / "idx"), str(root / "out")
        exact_dedup_ingest(day0, idx, out, "day0")
        return idx, out

    c_idx, c_out = ingest(tmp_path / "clean")
    kept = exact_dedup_ingest(day1, c_idx, c_out, "day1")
    clean_kept = sorted(r.doc_id for r in kept.collect())
    assert clean_kept == [4, 6]
    clean = state(c_idx, c_out)

    idx, out = ingest(tmp_path / "crash")
    with pytest.MonkeyPatch.context() as mp:
        # day1 writes two stages: survivors, then digests
        st = _install_fault(mp, fault, 2)
        with pytest.raises(OSError, match="injected"):
            exact_dedup_ingest(day1, idx, out, "day1")
    assert st["fired"]
    kept = exact_dedup_ingest(day1, idx, out, "day1")
    assert sorted(r.doc_id for r in kept.collect()) == clean_kept
    assert state(idx, out) == clean
    # a further redelivery is a no-op
    exact_dedup_ingest(day1, idx, out, "day1")
    assert state(idx, out) == clean


@pytest.mark.parametrize("fault", FAULTS)
def test_compact_parquet_dir_fault_leaves_table_readable(spark, tmp_path,
                                                         fault):
    """A compaction killed at its stage write or at either swap rename
    leaves the directory readable with its old contents, and the next
    compaction lands."""
    from openpolicedata_spark.operators.scale import compact_parquet_dir
    from openpolicedata_spark.publish import read_index

    path = str(tmp_path / "t")
    for i in range(4):
        spark.createDataFrame([(i, f"r{i}")], "id long, v string") \
            .coalesce(1).write.mode("append").parquet(path)
    rows = lambda: sorted(tuple(r) for r in  # noqa: E731
                          read_index(spark, path).collect())
    before = rows()
    with pytest.MonkeyPatch.context() as mp:
        st = _install_fault(mp, fault, 1)
        with pytest.raises(OSError, match="injected"):
            compact_parquet_dir(spark, path)
    assert st["fired"]
    assert rows() == before
    assert compact_parquet_dir(spark, path) == (4, 1)
    assert rows() == before


@pytest.mark.parametrize("fault", FAULTS)
def test_rebucket_scd2_fault_leaves_table_readable(spark, tmp_path, fault):
    """A migration killed at its stage write or at either swap rename
    leaves a table read_scd2 reads in full, stamped with the old or the
    new bucket count, and the next migration lands."""
    from openpolicedata_spark.streaming import (
        read_scd2,
        rebucket_scd2,
        scd2_sink,
    )

    schema = "user_id long, ts timestamp, event_type string"
    day = lambda d: datetime.datetime(2024, 1, d)  # noqa: E731
    src = tmp_path / "src"
    _write_files(spark, src, schema,
                 [[(k, day(1), "a") for k in range(6)],
                  [(k, day(2), "b") for k in range(0, 6, 2)]])
    path = str(tmp_path / "dim")
    scd2_sink(_file_stream(spark, src, schema), path, "user_id", "ts",
              ["event_type"], checkpoint_dir=str(tmp_path / "ck"),
              n_buckets=2)
    versions = lambda: sorted(tuple(r) for r in  # noqa: E731
                              read_scd2(spark, path).collect())

    def stamp():
        with open(os.path.join(path, ".n_buckets")) as fh:
            return int(fh.read())

    before = versions()
    assert len(before) == 9
    with pytest.MonkeyPatch.context() as mp:
        st = _install_fault(mp, fault, 1)
        with pytest.raises(OSError, match="injected"):
            rebucket_scd2(spark, path, 3)
    assert st["fired"]
    assert versions() == before
    assert stamp() in (2, 3)
    rebucket_scd2(spark, path, 3)
    assert versions() == before and stamp() == 3


# the one site allowed outside the commit module: sources/httpio.py's
# download spool moves a fully written temp file to its content-addressed
# name with one rename (no directory, no Spark write, nothing to stage or
# recover)
EXEMPT = {("sources/httpio.py", "spool", "os.replace")}


def _publication_sites(tree):
    """(enclosing qualified name, what) for every `.write.mode(
    "append")` and `os.rename`/`os.replace` in a module."""
    sites = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                visit(child, scope + [child.name])
                continue
            if isinstance(child, ast.Call) and isinstance(
                    child.func, ast.Attribute):
                f = child.func
                append = (f.attr == "mode"
                          and isinstance(f.value, ast.Attribute)
                          and f.value.attr == "write"
                          and any(isinstance(a, ast.Constant)
                                  and a.value == "append"
                                  for a in child.args))
                rename = (f.attr in ("rename", "replace")
                          and isinstance(f.value, ast.Name)
                          and f.value.id == "os")
                if append or rename:
                    sites.append((".".join(scope) or "<module>",
                                  "append" if append else f"os.{f.attr}"))
            visit(child, scope)

    visit(tree, [])
    return sites


def test_streaming_appends_and_renames_only_in_publication_helpers():
    """A new writer cannot grow a second commit protocol: every append
    and rename in the package lives in publish.py, apart from the named
    download-cache moves."""
    import pathlib

    import openpolicedata_spark

    root = pathlib.Path(openpolicedata_spark.__file__).parent
    stray, committed = [], []
    for py in sorted(root.rglob("*.py")):
        rel = py.relative_to(root).as_posix()
        for fn, what in _publication_sites(ast.parse(py.read_text())):
            if rel == "publish.py":
                committed.append(what)
            elif (rel, fn, what) not in EXEMPT:
                stray.append((rel, fn, what))
    assert not stray, stray
    assert "os.rename" in committed


def _call_sites(tree, names):
    """(enclosing qualified name, callee) for every call of a function
    in `names`, by bare name or attribute."""
    sites = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                visit(child, scope + [child.name])
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name in names:
                    sites.append((".".join(scope) or "<module>", name))
            visit(child, scope)

    visit(tree, [])
    return sites


def test_index_writers_land_through_one_step():
    """Every index writer admits and publishes through one step: outside
    the commit module, `publish`, `roll_forward` and `compact_index` are
    called only by `streaming._append_step`, and within `streaming/` only
    `streaming._novel_rows` reads an index."""
    import pathlib

    import openpolicedata_spark

    root = pathlib.Path(openpolicedata_spark.__file__).parent
    steps = ("publish", "roll_forward", "compact_index")
    found = {n: [] for n in steps + ("read_index",)}
    for py in sorted(root.rglob("*.py")):
        rel = py.relative_to(root).as_posix()
        if rel == "publish.py":
            continue
        for fn, name in _call_sites(ast.parse(py.read_text()), found):
            if name != "read_index" or rel.startswith("streaming/"):
                found[name].append((rel, fn))
    for name in steps:
        assert found[name] == [("streaming/__init__.py", "_append_step")], \
            (name, found[name])
    assert found["read_index"] == [("streaming/__init__.py", "_novel_rows")]


INDEX_SINKS = ["near", "semantic", "media", "audio", "video", "media_scan"]


@pytest.mark.parametrize("sink", INDEX_SINKS)
def test_all_duplicate_batch_publishes_nothing(spark, tmp_path, sink):
    """A batch with nothing novel adds no file to the output or the
    index: a full replay of a drained stream (fresh ephemeral checkpoint,
    every batch a duplicate of what the index holds) leaves both
    directories as they were."""
    drain, read = _index_case(spark, tmp_path, sink)
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")

    def files():
        return {d: sorted(n for n in os.listdir(d) if n.endswith(".parquet"))
                for d in (out, idx)}

    drain(out, idx, None)
    before, rows = files(), sorted(read(out), key=repr)
    drain(out, idx, None)
    assert files() == before
    assert sorted(read(out), key=repr) == rows


# Spark jobs of one two-batch drain of `_index_case`, counted by the
# query's runId job group (every job started inside foreachBatch carries
# it). Before the shared admit step the drains ran near 21, semantic 13,
# media 30, audio 30, video 42 and media_scan 14 jobs; a new eager job in
# a sink body fails here until the pin is raised with a reason.
DRAIN_JOBS = {"near": 20, "semantic": 11, "media": 25, "audio": 25,
              "video": 30, "media_scan": 10}


@pytest.mark.parametrize("sink", INDEX_SINKS)
def test_index_sink_jobs_per_drain_are_pinned(spark, tmp_path, monkeypatch,
                                              sink):
    from openpolicedata_spark import streaming as S

    drains = []
    run = S._run_merge_sink
    monkeypatch.setattr(S, "_run_merge_sink",
                        lambda *a, **k: drains.append(run(*a, **k)))
    drain, _ = _index_case(spark, tmp_path, sink)
    drain(str(tmp_path / "out"), str(tmp_path / "idx"), None)
    (progress,) = drains
    assert len([p for p in progress if p["numInputRows"]]) == 2
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(progress[0]["runId"])
    assert 0 < len(jobs) <= DRAIN_JOBS[sink]


@pytest.mark.parametrize("sink", ["near", "media", "video"])
def test_signed_rows_keep_their_own_signature(spark, tmp_path, sink):
    """The signing sinks join each row to its own signature: two rows
    that share an id in one batch publish once each, not once per
    signature of that id."""
    from openpolicedata_spark import streaming as S
    from openpolicedata_spark.operators.multimodal import fake_decode

    src, out, idx = (tmp_path / "src", str(tmp_path / "out"),
                     str(tmp_path / "idx"))
    if sink == "near":
        schema = "doc_id long, text string"
        rows = [(1, "the quick brown fox jumps over the lazy dog while the "
                    "cat watches from the warm windowsill every single day"),
                (1, "parquet row groups carry footers statistics and column "
                    "chunk encodings that readers consult before any scan")]
    else:
        schema = "media_id long, content binary"
        rows = [(1, bytes([1]) * 256), (1, bytes([2]) * 256)]
    _write_files(spark, src, schema, [rows])
    stream = _file_stream(spark, src, schema)
    if sink == "near":
        S.near_dedup_sink(stream, out, idx)
    elif sink == "media":
        S.media_dedup_sink(stream, out, idx, max_hamming=0,
                           decode=fake_decode)
    else:
        S.video_dedup_sink(stream, out, idx, min_shared=2,
                           decode=lambda b: [fake_decode(b + bytes([k]))
                                             for k in range(3)])
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) \
        == sorted((i, bytes(v) if sink != "near" else v) for i, v in rows)
