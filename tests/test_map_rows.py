"""`multimodal.map_rows` is the package's one per-row Python pass.

Every per-row operator goes through it, so each keeps the caller's row
key (name and type) and maps a NULL payload the same way: all-NULL
outputs for the one-row-per-input operators, no rows for
`vad_segments`. A static guard keeps every other `mapInPandas` call in
the package to a named list of whole-batch kernels."""
import ast
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

import openpolicedata_spark

PKG = pathlib.Path(openpolicedata_spark.__file__).parent


def _wav():
    import numpy as np

    from openpolicedata_spark.sources.wav import encode_wav

    # loud square wave with a silent half: speech frames under the
    # default VAD threshold, and a non-trivial energy hash
    pcm = np.tile([20000, -20000], 400).astype(np.int16)
    pcm[400:] = 0
    return encode_wav(pcm, 8000)


def _mp3():
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 413  # 128 kbps
    return frame + frame


def _ops():
    from openpolicedata_spark.operators import multimodal as M
    from openpolicedata_spark.operators.textpipe import extract_html_text

    blob = bytes(range(64))
    # name -> (op(df, id_col), content type, payload, one row per input)
    return {
        "binary_features": (lambda df, k: M.binary_features(df, id_col=k),
                            "binary", blob, True),
        "resize_images": (lambda df, k: M.resize_images(df, 2, 3, id_col=k),
                          "binary", blob, True),
        "pcm_features": (lambda df, k: M.pcm_features(
            df.withColumn("sr", F.lit(8000)), id_col=k, sample_rate_col="sr"),
            "binary", blob, True),
        "vad_stats": (lambda df, k: M.vad_stats(df, id_col=k),
                      "binary", _wav(), True),
        "vad_segments": (lambda df, k: M.vad_segments(df, id_col=k),
                         "binary", _wav(), False),
        "mp3_scan": (lambda df, k: M.mp3_scan(df, id_col=k),
                     "binary", _mp3(), True),
        "image_ahash": (lambda df, k: M.image_ahash(df, id_col=k),
                        "binary", blob, True),
        "audio_ahash": (lambda df, k: M.audio_ahash(df, id_col=k),
                        "binary", _wav(), True),
        "extract_html_text": (lambda df, k: extract_html_text(
            df, html_col="content", id_col=k),
            "string", "<p>one</p><p>two</p>", True),
    }


OPS = list(_ops())


@pytest.mark.parametrize("name", OPS)
def test_null_payload_row(spark, name):
    op, ctype, payload, one_to_one = _ops()[name]
    df = spark.createDataFrame([(1, payload), (2, None)],
                               f"media_id long, content {ctype}")
    out = op(df, "media_id").collect()
    assert {r.media_id for r in out} >= {1}
    nulls = [r for r in out if r.media_id == 2]
    if not one_to_one:
        assert nulls == []
        return
    assert len(nulls) == 1
    assert all(v is None for k, v in nulls[0].asDict().items()
               if k != "media_id"), nulls[0]
    valid = next(r for r in out if r.media_id == 1)
    assert any(v is not None for k, v in valid.asDict().items()
               if k != "media_id"), valid


@pytest.mark.parametrize("name", OPS)
def test_row_key_keeps_name_and_type(spark, name):
    op, ctype, payload, _one = _ops()[name]
    df = spark.createDataFrame([("a-1", payload), ("b-2", payload)],
                               f"img_id string, content {ctype}")
    out = op(df, "img_id")
    key = out.schema.fields[0]
    assert (key.name, key.dataType) == ("img_id", StringType())
    assert {r.img_id for r in out.collect()} == {"a-1", "b-2"}


def test_map_rows_fans_out_and_keeps_longs_exact(spark):
    from openpolicedata_spark.operators.multimodal import map_rows

    big = 2 ** 63 - 5  # not representable in float64
    df = spark.createDataFrame([(10, 0), (11, 1), (12, 3)],
                               "k long, n int")

    def fn(_k, n):
        return [(i, big if i else None) for i in range(n)]

    out = map_rows(df, fn, "i int, v long")
    assert out.schema.simpleString() == "struct<k:bigint,i:int,v:bigint>"
    assert sorted(out.collect()) == [
        (11, 0, None), (12, 0, None), (12, 1, big), (12, 2, big)]


def test_video_sink_admits_a_null_payload(spark, tmp_path):
    from openpolicedata_spark import streaming as S

    schema = "media_id long, content binary"
    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, bytes([1]) * 64), (2, None), (3, bytes([1]) * 64)], schema) \
        .coalesce(1).write.parquet(str(src / "f0"))

    def frames(b):
        from openpolicedata_spark.operators.multimodal import fake_decode

        return [fake_decode(bytes(b) + bytes([k])) for k in range(3)]

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    S.video_dedup_sink(spark.readStream.schema(schema).parquet(f"{src}/*/"),
                       out, idx, min_shared=2, decode=frames)
    assert sorted(r.media_id for r in spark.read.parquet(out).collect()) \
        == [1, 2]
    assert {r.media_id for r in spark.read.parquet(idx).collect()} == {1}


# Whole-batch kernels: each works on an Arrow batch (or a partition) at
# once, so a per-row map cannot express it.
MAP_IN_PANDAS_EXEMPT = {
    # one multi-block WAV per Arrow batch, decoded in one call
    ("workload.py", "q159_adpcm_fold"),
    # folds a partition's batches into one Frequent Directions sketch
    ("operators/similarity.py", "frequent_directions"),
    # routes, prunes and encodes a whole batch with vectorized numpy
    ("operators/similarity.py", "pq_encode_arrow"),
}


def _map_in_pandas_sites():
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def walk(node, outer):
            for child in ast.iter_child_nodes(node):
                name = outer
                if isinstance(child, (ast.FunctionDef,
                                      ast.AsyncFunctionDef)):
                    name = outer or child.name
                if (isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr == "mapInPandas"):
                    yield rel, name, child.lineno
                yield from walk(child, name)

        yield from walk(ast.parse(path.read_text()), None)


def test_map_in_pandas_only_in_map_rows():
    """Outside `map_rows`, only the named kernels call mapInPandas (the
    site is named by its top-level function), and each still does."""
    allowed = MAP_IN_PANDAS_EXEMPT | {("operators/multimodal.py",
                                       "map_rows")}
    sites = list(_map_in_pandas_sites())
    assert [s for s in sites if s[:2] not in allowed] == []
    assert {s[:2] for s in sites} == allowed
