"""Tests for the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The summary-maths tests need no Spark. The plan guards start a small
local session on generated tiny inputs; the digest test runs the
benchmark end to end against a corrupted digest file.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402


# -- summary maths ----------------------------------------------------------

def test_tail_percentile_leaves_ten_samples_beyond():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(11) == pytest.approx(100 * (1 - 10 / 11))
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0


def test_tail_value_has_exactly_ten_larger_samples():
    values = [float(v) for v in range(1, 31)]  # 1..30, shuffled below
    values = values[::2] + values[1::2]
    p, v = stats.tail_value(values)
    assert p == pytest.approx(100 * (1 - 10 / 30))
    assert v == 20.0
    assert sum(x > v for x in values) == 10
    with pytest.raises(ValueError):
        stats.tail_value([1.0] * 10)


def test_self_time_subtracts_child_coverage_once():
    assert stats.self_time((0.0, 10.0), []) == 10.0
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children cover [1, 4] once
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0)]) == 7.0
    # children clipped to the parent's interval
    assert stats.self_time((2.0, 6.0), [(0.0, 3.0), (5.0, 9.0)]) == 2.0
    assert stats.self_time((0.0, 1.0), [(2.0, 3.0)]) == 1.0


def test_tracer_self_times_nest():
    T = tracing.Tracer()
    T.spans = [tracing.Span("query", 0.0, 10.0),
               tracing.Span("build", 0.0, 2.0, parent=0),
               tracing.Span("exec", 3.0, 9.0, parent=0),
               tracing.Span("sources.parquet_open", 0.5, 1.0, parent=1)]
    st = T.self_times()
    assert st == {"query": 2.0, "build": 1.5, "exec": 6.0,
                  "sources.parquet_open": 0.5}
    assert T.total("build") == 2.0 and T.n("exec") == 1


def test_tracing_overhead_is_traced_minus_untraced():
    assert stats.tracing_overhead(12.5, 12.0) == pytest.approx(0.5)
    assert stats.tracing_overhead(11.9, 12.0) == pytest.approx(-0.1)


def test_median_rejects_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        stats.median([])


def test_stream_twins_land_after_their_originals():
    docs = W.StreamDedup.base_docs(0.004)
    batches, twins = datagen.stream_files(docs, seed=5, n_files=6,
                                          twin_share=0.3)
    first_seen = {}
    for b, t in enumerate(batches):
        for i in t.column("doc_id").to_pylist():
            first_seen.setdefault(i, b)
    originals = dict(zip(docs.column("text").to_pylist(),
                         docs.column("doc_id").to_pylist()))
    assert twins
    for b, t in enumerate(batches):
        for i, text in zip(t.column("doc_id").to_pylist(),
                           t.column("text").to_pylist()):
            if i in twins:
                assert first_seen[originals[text[:-len(" twin")]]] < b


def test_inputs_depend_on_seed_only_through_layout(tmp_path):
    a = datagen.shuffled(datagen.corpus_tables(0.002)["documents"], 1, "d")
    b = datagen.shuffled(datagen.corpus_tables(0.002)["documents"], 2, "d")
    assert a.column("doc_id").to_pylist() != b.column("doc_id").to_pylist()
    assert a.sort_by("doc_id").equals(b.sort_by("doc_id"))


# -- plan guards (Spark) -----------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from openpolicedata_spark import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2)
    yield s


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tiny"))
    datagen.write_tables(d, datagen.corpus_tables(0.002), seed=1)
    datagen.write_tables(d, datagen.tpch_tables(0.001), seed=1)
    return d


def _executed(df) -> str:
    from openpolicedata_spark import plans

    df.collect()
    return plans.formatted_plan(df)


def _n(text: str, node: str) -> int:
    from openpolicedata_spark.plans import _n_nodes

    return _n_nodes(text, node)


def _query(name):
    return W.QueryWorkload("corpus_pipeline", [name], 0.0).fns()[name]


def test_timed_action_keeps_q98_sketch_join_and_generates(spark, tiny):
    df = _query("q98_countmin_freq")(spark, tiny)
    full = _executed(W.digest_frame(df))
    counted = _executed(df.groupBy().count())
    plain = _executed(df)
    assert _n(full, "Generate") == _n(plain, "Generate") > 0
    joins = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    assert (sum(_n(full, j) for j in joins)
            == sum(_n(plain, j) for j in joins) > 0)
    # what .count() would have timed: Catalyst drops work the output needs
    assert _n(counted, "Generate") < _n(plain, "Generate")


def test_timed_action_keeps_q32_language_id_projection(spark, tiny):
    df = _query("q32_language_id")(spark, tiny)
    full = _executed(W.digest_frame(df))
    counted = _executed(df.groupBy().count())
    read = [s for s in full.split("\n") if s.strip().startswith("ReadSchema")]
    assert any("text" in s for s in read), full
    assert "lang_id" in full and "h_en" in full
    assert not any("text" in s for s in counted.split("\n")
                   if s.strip().startswith("ReadSchema"))


def test_relational_queries_run_without_python_eval(spark, tiny):
    from openpolicedata_spark.plans import summarize_plan

    fns = W.QueryWorkload("relational_olap", W.RELATIONAL, 0.0).fns()
    for name, fn in fns.items():
        s = summarize_plan(W.digest_frame(fn(spark, tiny)))
        assert s.n_python_eval == 0, (name, s.text)


def test_corpus_q28_runs_its_mapinarrow_kernel(spark, tiny):
    """q28 localCheckpoints its signatures lazily, so the timed action's
    plan shows the checkpoint; the stage it computes is the kernel."""
    from openpolicedata_spark.operators.dedup import shingle_minhash
    from openpolicedata_spark.plans import summarize_plan

    docs = spark.read.parquet(os.path.join(tiny, "documents.parquet"))
    s = summarize_plan(shingle_minhash(docs, num_hashes=32, shingle_k=3))
    assert s.n_python_eval > 0, s.text


# -- output check, end to end ----------------------------------------------

def test_corrupted_digest_raises_error_rate(tmp_path):
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        doc = json.load(f)
    table = sorted(doc["ingest_standardize"])[0]
    n, h = doc["ingest_standardize"][table]
    doc["ingest_standardize"][table] = [n, str(int(h) + 1)]
    bad = tmp_path / "digests.json"
    bad.write_text(json.dumps(doc))
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "ingest_standardize", "--seed", "7", "--seconds", "1",
         "--trace", "0", "--expected", str(bad)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    info = json.loads(next(ln[2:] for ln in lines if ln.startswith("# {")))
    assert res["correct"] is False and res["failed"] >= 1
    assert info["error_rate"] > 0
    assert any(table in f for f in info["failures"])
