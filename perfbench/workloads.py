"""The benchmark workloads and their metrics.

Each workload writes its inputs from the seed (``inputs``) and then runs
whole passes over its operations (``run``): one warm-up pass that pays the
first Catalyst runs and codegen compiles, then the timed passes. Every
operation's output is reduced to a digest, ``(row count,
sum(xxhash64(every column)))``, and compared with the digest recorded in
``expected_digests.json``; an exception or a mismatch fails the
operation.

With a tracer, the same operations also record spans around the calls
into the package's public functions and read Spark's counters after each
action (tracing.py); ``layer_metrics`` turns them into the per-layer
totals.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import datagen
import tracing as tr
from stats import median, tail_value

RELATIONAL = [
    "q01_pricing_summary", "q02_date_range_load", "q08_topk",
    "q10_merge_join", "q11_star_join", "q13_pivot", "q14_window_rank",
    "q21_window_agg", "q22_explode", "q35_event_window_agg",
    "q36_sessionize", "q87_scd2_intervals", "q91_user_features",
    "q92_funnel",
]
# q28 runs its production form (the minhash mapInArrow kernel), as
# bench.py does
CORPUS = ["q28_minhash_pairs", "q32_language_id"]

# wall_s is not among them: on a shared virtual machine it follows the
# hypervisor's steal time (README.md); the CPU seconds the work costs do not
END_TO_END = ["setup_s", "cpu_s", "peak_rss_mb"]
PER_LAYER = [
    "session.start_s", "session.warm_s",
    "catalog.query_s", "data.load_build_s", "data.load_jobs",
    "portals.requests", "portals.rows_fetched", "portals.rows_kept_ratio",
    "portals.server_s",
    "sources.parse_s", "sources.parquet_open_s", "sources.parquet_opens",
    "standardize.identify_s", "standardize.jobs", "standardize.apply_s",
    "expand.rows_out_per_in", "merge.s", "write.s", "write.files",
    "write.bytes",
    "build_s", "build.jobs",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "exec_s", "exec.stages", "exec.tasks", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.python_rows",
    "exec.python_bytes", "exec.codegen_compile_s", "exec.gc_s",
    "dedup.candidate_rows", "dedup.pairs_out", "dedup.pairs_per_candidate",
    "streaming.plan_s", "streaming.add_batch_s", "streaming.rows_in",
    "streaming.rows_published", "streaming.drop_ratio",
    "streaming.index_files", "streaming.bytes_written_per_output_byte",
    "trace.overhead_s",
]
UNITS = {
    "peak_rss_mb": "MB", "data.load_jobs": "count", "portals.requests": "count",
    "portals.rows_fetched": "rows", "portals.rows_kept_ratio": "ratio",
    "sources.parquet_opens": "count", "standardize.jobs": "count",
    "expand.rows_out_per_in": "ratio", "write.files": "count",
    "write.bytes": "bytes", "build.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.python_rows": "rows", "exec.python_bytes": "bytes",
    "dedup.candidate_rows": "rows", "dedup.pairs_out": "rows",
    "dedup.pairs_per_candidate": "ratio", "streaming.rows_in": "rows",
    "streaming.rows_published": "rows", "streaming.drop_ratio": "ratio",
    "streaming.index_files": "count",
    "streaming.bytes_written_per_output_byte": "ratio",
}
for _k in END_TO_END + PER_LAYER:
    UNITS.setdefault(_k, "s")

# which per-layer metrics each workload measures (the rest read 0 and are
# listed with a reason in the trace file)
_COMMON = {"session.start_s", "session.warm_s", "exec_s", "exec.stages",
           "exec.tasks", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
           "exec.spill_bytes", "exec.python_rows", "exec.python_bytes",
           "exec.codegen_compile_s", "exec.gc_s", "trace.overhead_s",
           "sources.parquet_open_s", "sources.parquet_opens"}
_QUERY = {"build_s", "build.jobs", "plan.analysis_s", "plan.optimization_s",
          "plan.planning_s"}
APPLIES = {
    "relational_olap": _COMMON | _QUERY,
    "corpus_pipeline": _COMMON | _QUERY | {
        "dedup.candidate_rows", "dedup.pairs_out", "dedup.pairs_per_candidate"}
    | {m for m in PER_LAYER if m.startswith("streaming.")},
    "ingest_standardize": _COMMON | {
        "catalog.query_s", "data.load_build_s", "data.load_jobs",
        "portals.requests", "portals.rows_fetched", "portals.rows_kept_ratio",
        "portals.server_s", "sources.parse_s", "standardize.identify_s",
        "standardize.jobs", "standardize.apply_s", "expand.rows_out_per_in",
        "merge.s", "write.s", "write.files", "write.bytes"},
    "stream_dedup": _COMMON | {m for m in PER_LAYER
                               if m.startswith("streaming.")},
}


def unavailable(workload: str) -> dict[str, str]:
    return {m: f"layer not exercised by {workload}"
            for m in PER_LAYER if m not in APPLIES[workload]}


@dataclass
class Op:
    """One measured operation: a query, a table pipeline or a batch."""

    name: str
    latency_s: float
    ok: bool
    detail: str = ""


@dataclass
class Ctx:
    spark: object
    work: str
    expected: dict
    tracer: tr.Tracer | None = None
    recording: dict | None = None
    detail: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def bump(self, key: str, value: float) -> None:
        self.detail[key] = self.detail.get(key, 0) + value


def digest_frame(df):
    """``(count, sum(xxhash64(all columns)))`` over the full output: every
    output column feeds the hash, so Catalyst cannot prune work the output
    needs (``.count()`` can). Map columns hash through to_json."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, T.MapType)
            else F.col(f"`{f.name}`") for f in df.schema.fields]
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h"))


def digest_of(row) -> list:
    return [int(row["n"]), str(row["h"])]


def check(ctx: Ctx, workload: str, key: str, got: list) -> tuple[bool, str]:
    if ctx.recording is not None:
        ctx.recording.setdefault(workload, {})[key] = got
        return True, ""
    want = ctx.expected.get(workload, {}).get(key)
    if want is None:
        return False, f"no expected digest for {key}"
    return (got == want), ("" if got == want else f"digest {got} != {want}")


def _group(ctx: Ctx, name: str) -> None:
    ctx.spark.sparkContext.setJobGroup(name, name)


def _jobs(ctx: Ctx, name: str) -> int:
    return tr.jobs_in_group(ctx.spark, name)


def _passes(run_pass, seconds: float) -> list[list["Op"]]:
    """Whole passes until ``seconds`` have passed (at least one)."""
    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(run_pass())
    return passes


def op_medians(passes: list[list["Op"]]) -> dict[str, float]:
    """Each operation's median latency over the passes."""
    lats: dict[str, list[float]] = {}
    for p in passes:
        for o in p:
            lats.setdefault(o.name, []).append(o.latency_s)
    return {n: median(v) for n, v in lats.items()}


def pass_metrics(passes: list[list["Op"]]) -> dict:
    """wall_s: a pass's time as the sum of each operation's median latency
    (a slow moment on the host costs one sample of one operation, not a
    whole pass); op_p50_s: median operation latency."""
    ops = op_medians(passes)
    return {"wall_s": sum(ops.values()),
            "op_p50_s": median([o.latency_s for p in passes for o in p]),
            "op_s": ops}


def instrument(ctx: Ctx) -> list:
    """Spans around package functions that are called from inside other
    package code (the rest are spanned at their call sites). Returns undo
    callables."""
    from openpolicedata_spark.operators import dedup
    from openpolicedata_spark.sources import file

    T = ctx.tracer
    undo = [T.wrap(file, "read_parquet_repaired", "sources.parquet_open")]
    orig = dedup.bucket_pairs

    def capture(*a, **kw):
        out = orig(*a, **kw)
        ctx.detail.setdefault("candidates", []).append((T.op, out))
        return out

    dedup.bucket_pairs = capture
    undo.append(lambda: setattr(dedup, "bucket_pairs", orig))
    return undo


# ---------------------------------------------------------------------------
# query workloads: corpus_pipeline, relational_olap
# ---------------------------------------------------------------------------

class QueryWorkload:
    """Queries of the package's workload registry, each once per pass,
    optionally followed by a stream_dedup drain as the pass's last
    operation."""

    def __init__(self, name: str, queries: list[str], sf: float,
                 stream: "StreamDedup | None" = None):
        self.name, self.queries, self.sf = name, queries, sf
        self.stream = stream

    def fns(self):
        from openpolicedata_spark import workload as wl

        qs = wl.queries()
        qs["q28_minhash_pairs"] = wl.q28_minhash_pairs_prod
        return {q: qs[q] for q in self.queries}

    def inputs(self, work: str, seed: int) -> None:
        gen = (datagen.corpus_tables if self.name == "corpus_pipeline"
               else datagen.tpch_tables)
        datagen.write_tables(os.path.join(work, "data"), gen(self.sf), seed)
        if self.stream:
            self.stream.inputs(work, seed)

    def step(self, ctx: Ctx, q: str, fn) -> Op:
        data = os.path.join(ctx.work, "data")
        t0 = time.perf_counter()
        try:
            if ctx.tracer is None:
                row = digest_frame(fn(ctx.spark, data)).collect()[0]
                lat = time.perf_counter() - t0
            else:
                row, lat = self._traced(ctx, q, fn, data)
        except Exception as exc:  # a failed query is counted, not fatal
            return Op(q, time.perf_counter() - t0, False, repr(exc)[:300])
        ok, why = check(ctx, self.name, q, digest_of(row))
        return Op(q, lat, ok, why)

    def _traced(self, ctx: Ctx, q: str, fn, data: str):
        T, spark = ctx.tracer, ctx.spark
        T.op = q
        gc0, cg0 = tr.gc_seconds(spark), tr.codegen_compile_s(spark)
        t0 = time.perf_counter()
        with T.span("query"):
            _group(ctx, f"build:{q}")
            with T.span("build"):
                df = fn(spark, data)
            agg = digest_frame(df)
            _group(ctx, f"exec:{q}")
            with T.span("exec"):
                row = agg.collect()[0]
        lat = time.perf_counter() - t0
        rec = {"latency_s": lat, "build_jobs": _jobs(ctx, f"build:{q}"),
               "exec_jobs": _jobs(ctx, f"exec:{q}"),
               "gc_s": tr.gc_seconds(spark) - gc0,
               "codegen_compile_s": tr.codegen_compile_s(spark) - cg0}
        rec.update({f"plan.{k}_s": v for k, v in tr.catalyst_phases(agg).items()})
        cands = [c for op, c in ctx.detail.pop("candidates", []) if op == q]
        if q == "q28_minhash_pairs":
            rec["dedup.candidate_rows"] = sum(c.count() for c in cands)
            rec["dedup.pairs_out"] = int(row["n"])
        ctx.detail.setdefault("queries", {}).setdefault(q, []).append(rec)
        return row, lat

    def run(self, ctx: Ctx, seconds: float) -> list[list[Op]]:
        """Passes over every query, in order, then the stream drain."""
        fns = self.fns()

        def one_pass():
            ops = [self.step(ctx, q, fn) for q, fn in fns.items()]
            if self.stream:
                batches = self.stream.drain_batches(ctx)
                ctx.detail.setdefault("batch_latencies", []).extend(
                    o.latency_s for o in batches)
                walls = ctx.detail.get("drain_wall_s") or [0.0]
                bad = [o.detail for o in batches if not o.ok]
                ops.append(Op(StreamDedup.name, walls[-1], not bad,
                              bad[0] if bad else ""))
            return ops

        return _passes(one_pass, seconds)

    def metrics(self, passes: list[list[Op]], ctx: Ctx) -> dict:
        out = pass_metrics(passes)
        out["query_p50_s"] = median([o.latency_s for p in passes for o in p
                                     if o.name != StreamDedup.name])
        if self.stream:
            out.update(batch_metrics(ctx.detail["batch_latencies"]))
        return out

    def layers(self, ctx: Ctx, ev: dict) -> dict:
        T = ctx.tracer
        recs = [r for rs in ctx.detail.get("queries", {}).values() for r in rs]
        tot = lambda k: sum(r.get(k, 0) for r in recs)  # noqa: E731
        out = {"build_s": T.total("build"), "build.jobs": tot("build_jobs"),
               "exec_s": T.total("exec") + T.total("streaming.drain")}
        for ph in ("analysis", "optimization", "planning"):
            out[f"plan.{ph}_s"] = tot(f"plan.{ph}_s")
        out.update(_exec_counts(ev, lambda k: k.startswith("exec:")
                                or k == "stream:traced"))
        out.update(ctx.layer)
        if self.name == "corpus_pipeline":
            cand, pairs = tot("dedup.candidate_rows"), tot("dedup.pairs_out")
            out.update({"dedup.candidate_rows": cand, "dedup.pairs_out": pairs,
                        "dedup.pairs_per_candidate": pairs / max(1, cand)})
        return out


def _exec_counts(ev: dict, pick) -> dict:
    keys = ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "python_rows", "python_bytes")
    return {f"exec.{k}": sum(v.get(k, 0) for g, v in ev.items() if pick(g))
            for k in keys}


# ---------------------------------------------------------------------------
# ingest_standardize: catalog -> Source.load -> standardize/expand/merge ->
# to_parquet over two fake portal families; a CSV file family carries the
# table merged into STOPS
# ---------------------------------------------------------------------------

_PORTALS = {  # table type -> (portal protocol, date storage, rows)
    "STOPS": ("socrata", "mmddyyyy", 600),
    "USE OF FORCE": ("arcgis", "epoch_ms", 400),
}
_DETAILS = "STOPS - DETAILS"
_OUTPUTS = tuple(_PORTALS)
_AGENCY = "Springfield PD"
_DATES = [2020, 2021]
_PAGE = 150


class _NullSpan:
    def __call__(self, name):
        return self

    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


class Ingest:
    name = "ingest_standardize"

    def inputs(self, work: str, seed: int) -> None:
        import json

        import numpy as np
        import pandas as pd

        def seeded(rows, tag):
            perm = np.random.default_rng([seed, sum(map(ord, tag))]).permutation(
                len(rows))
            return [rows[i] for i in perm]

        rows = {tt: datagen.police_rows(n, p, fmt)
                for tt, (p, fmt, n) in _PORTALS.items()}
        details = datagen.detail_rows([r["case_id"] for r in rows["STOPS"]],
                                      "details")
        os.makedirs(os.path.join(work, "files"), exist_ok=True)
        pd.DataFrame(seeded(details, _DETAILS)).to_csv(
            self._csv(work, _DETAILS), index=False)
        portals = {tt: (p, fmt, seeded(rows[tt], p))
                   for tt, (p, fmt, _) in _PORTALS.items()}
        with open(os.path.join(work, "portals.json"), "w") as f:
            json.dump(portals, f)

    @staticmethod
    def _csv(work: str, tt: str) -> str:
        return os.path.join(work, "files", tt.replace(" ", "_") + ".csv")

    def _catalog(self, work: str):
        from openpolicedata_spark import Catalog, defs

        base = {"State": "Synthetic", "SourceName": "Benchville",
                "Agency": defs.MULTI, "Year": defs.MULTI,
                "date_field": "incident_date", "agency_field": "agency"}
        return Catalog([
            dict(base, TableType="STOPS", DataType=defs.DataType.SOCRATA.value,
                 URL="fake.socrata", dataset_id="stop-0001"),
            dict(base, TableType="USE OF FORCE",
                 DataType=defs.DataType.ARCGIS.value,
                 URL="https://fake.arcgis/rest/services/UOF/FeatureServer/0"),
            dict(base, TableType=_DETAILS, DataType=defs.DataType.CSV.value,
                 URL=self._csv(work, _DETAILS), date_field=None,
                 agency_field=None),
        ])

    def _source(self, ctx: Ctx, log_path: str | None):
        """A Source whose portal rows are served by in-process fake
        servers instead of HTTP: the loader is the package's own
        ``make_rest_loader``; only the transport differs."""
        import json

        from openpolicedata_spark import Source
        from openpolicedata_spark.sources import rest
        from openpolicedata_spark.sources.portals.transport import FakeTransport
        from portal import TimedPortal

        with open(os.path.join(ctx.work, "portals.json")) as f:
            spec = json.load(f)
        servers = {tt: TimedPortal(p, rows, log_path=log_path,
                                   max_record_count=_PAGE, date_text=fmt)
                   for tt, (p, fmt, rows) in spec.items()}

        class FakeNetSource(Source):
            def _get_loader(self, row):
                srv = servers.get(row["TableType"])
                if srv is None:
                    return super()._get_loader(row)
                key = ("fake", row["TableType"])
                if key not in self._loader_cache:
                    ld = rest.make_rest_loader(
                        self.spark, row["DataType"], row,
                        transport=FakeTransport(handler=srv))
                    ld.page_size = _PAGE
                    self._loader_cache[key] = ld
                return self._loader_cache[key]

        return FakeNetSource("Benchville", catalog=self._catalog(ctx.work),
                             spark=ctx.spark)

    def _table(self, ctx: Ctx, src, tt: str, out_dir: str) -> None:
        """load (date + agency pushdown) -> standardize -> expand ->
        [merge] -> to_parquet for one table type. Traced, it also counts
        rows around each step (extra jobs, spanned as trace.extra)."""
        T = ctx.tracer
        span = T.span if T else _NullSpan()
        if T:
            T.op = tt
            _group(ctx, f"load:{tt}")
        with span("data.load_build"):
            t = src.load(tt, _DATES, agency=_AGENCY)
        if T:
            ctx.bump("load_jobs", _jobs(ctx, f"load:{tt}"))
            with span("trace.extra"):
                ctx.bump("rows_kept", t.table.count())
            _group(ctx, f"std:{tt}")
        with span("standardize.identify"):
            t.standardize()
        if T:
            ctx.bump("std_jobs", _jobs(ctx, f"std:{tt}"))
            with span("trace.extra"), span("standardize.apply"):
                n_in = int(digest_frame(t.table).collect()[0]["n"])
        with span("expand"):
            t.expand()
        if T:
            with span("trace.extra"):
                ctx.bump("expand_in", n_in)
                ctx.bump("expand_out", t.table.count())
        if tt == "STOPS":
            with span("sources.parse"):
                det = src.load(_DETAILS)
            with span("merge"):
                t = t.merge(det, on="case_id")
        if T:
            _group(ctx, f"write:{tt}")
        with span("write"):
            t.to_parquet(os.path.join(out_dir, tt.replace(" ", "_")))

    def step(self, ctx: Ctx, src, tt: str, out: str) -> Op:
        t0 = time.perf_counter()
        try:
            self._table(ctx, src, tt, out)
            lat = time.perf_counter() - t0
            path = os.path.join(out, tt.replace(" ", "_"))
            got = digest_of(digest_frame(ctx.spark.read.parquet(path)).collect()[0])
        except Exception as exc:  # a failed table is counted, not fatal
            return Op(tt, time.perf_counter() - t0, False, repr(exc)[:300])
        if ctx.tracer:
            files = glob.glob(os.path.join(path, "*.parquet"))
            ctx.bump("write_files", len(files))
            ctx.bump("write_bytes", sum(os.path.getsize(p) for p in files))
        ok, why = check(ctx, self.name, tt, got)
        return Op(tt, lat, ok, why)

    def run(self, ctx: Ctx, seconds: float) -> list[list[Op]]:
        """Passes of: catalog query, then each table in order."""
        log = os.path.join(ctx.work, "portal.log") if ctx.tracer else None
        span = ctx.tracer.span if ctx.tracer else _NullSpan()

        def one_pass():
            out = os.path.join(ctx.work, "out")
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            with span("catalog.query"):
                src = self._source(ctx, log)
            ops = [self.step(ctx, src, tt, out) for tt in _OUTPUTS]
            ops[0].latency_s += time.perf_counter() - t0 - sum(
                o.latency_s for o in ops)  # the catalog query leads the pass
            return ops

        return _passes(one_pass, seconds)

    def metrics(self, passes: list[list[Op]], ctx: Ctx) -> dict:
        return pass_metrics(passes)

    def layers(self, ctx: Ctx, ev: dict) -> dict:
        from portal import read_log

        T, d = ctx.tracer, ctx.detail
        n_req, fetched, server_s = read_log(os.path.join(ctx.work, "portal.log"))
        out = {"catalog.query_s": T.total("catalog.query"),
               "data.load_build_s": T.total("data.load_build"),
               "data.load_jobs": d.get("load_jobs", 0),
               "portals.requests": n_req, "portals.rows_fetched": fetched,
               "portals.rows_kept_ratio": d.get("rows_kept", 0) / max(1, fetched),
               "portals.server_s": server_s,
               "sources.parse_s": T.total("sources.parse"),
               "standardize.identify_s": T.total("standardize.identify"),
               "standardize.jobs": d.get("std_jobs", 0),
               "standardize.apply_s": T.total("standardize.apply"),
               "expand.rows_out_per_in":
                   d.get("expand_out", 0) / max(1, d.get("expand_in", 0)),
               "merge.s": T.total("merge"), "write.s": T.total("write"),
               "write.files": d.get("write_files", 0),
               "write.bytes": d.get("write_bytes", 0),
               "exec_s": T.total("write")}
        out.update(_exec_counts(ev, lambda k: k.startswith("write:")))
        return out


# ---------------------------------------------------------------------------
# stream_dedup: near_dedup_sink draining one parquet file per trigger
# ---------------------------------------------------------------------------

STREAM_FILES = 2
TWIN_SHARE = 0.1


class StreamDedup:
    name = "stream_dedup"

    def __init__(self, sf: float):
        self.sf = sf

    @staticmethod
    def base_docs(sf: float):
        """Corpus documents minus the corpus's own near and exact copies,
        so the only near-duplicates in the stream are the planted twins."""
        import pyarrow as pa

        docs = datagen.corpus_tables(sf)["documents"].select(["doc_id", "text"])
        seen, keep = set(), []
        for t in docs.column("text").to_pylist():
            keep.append(not t.endswith(" dup") and t not in seen)
            seen.add(t)
        return docs.filter(pa.array(keep))

    def inputs(self, work: str, seed: int) -> None:
        import pyarrow.parquet as pq

        batches, _ = datagen.stream_files(self.base_docs(self.sf), seed,
                                          STREAM_FILES, TWIN_SHARE)
        t0 = time.time() - len(batches) - 10
        for i, b in enumerate(batches):
            d = os.path.join(work, "stream_src", f"f{i:03d}")
            os.makedirs(d, exist_ok=True)
            p = os.path.join(d, "part.parquet")
            pq.write_table(b, p)
            os.utime(p, (t0 + i, t0 + i))  # the file source orders by mtime

    def _drain(self, ctx: Ctx, tag: str):
        from openpolicedata_spark.streaming import near_dedup_sink

        out = os.path.join(ctx.work, f"{tag}_out")
        idx = os.path.join(ctx.work, f"{tag}_idx")
        for p in (out, idx):
            shutil.rmtree(p, ignore_errors=True)
        src = os.path.join(ctx.work, "stream_src")
        stream = (ctx.spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(f"{src}/*/"))
        progress = near_dedup_sink(stream, out, idx, num_hashes=32, bands=8,
                                   shingle_k=3, query_name=tag)
        return progress, out, idx

    def drain_batches(self, ctx: Ctx) -> list[Op]:
        """One availableNow drain of every file; each micro-batch is one
        operation, timed by its trigger."""
        tag = "traced" if ctx.tracer else "drain"
        t0 = time.perf_counter()
        try:
            if ctx.tracer:
                ctx.tracer.op = tag
                with ctx.tracer.span("streaming.drain"):
                    progress, out, idx = self._drain(ctx, tag)
            else:
                progress, out, idx = self._drain(ctx, tag)
            wall = time.perf_counter() - t0
            batches = [p for p in progress if p.get("numInputRows", 0) > 0]
            df = ctx.spark.read.parquet(out).select("doc_id", "text")
            ok, why = check(ctx, self.name, "published",
                            digest_of(digest_frame(df).collect()[0]))
        except Exception as exc:  # a failed drain is counted, not fatal
            return [Op("drain", time.perf_counter() - t0, False, repr(exc)[:300])]
        if len(batches) != STREAM_FILES:
            ok, why = False, f"{len(batches)} batches, expected {STREAM_FILES}"
        ctx.detail.setdefault("drain_wall_s", []).append(wall)
        if ctx.tracer:
            self._stream_stats(ctx, batches, df, out, idx)
        return [Op(f"batch{p['batchId']}",
                   p["durationMs"]["triggerExecution"] / 1000.0, ok, why)
                for p in batches] or [Op("drain", wall, False, "no batches")]

    def run(self, ctx: Ctx, seconds: float) -> list[list[Op]]:
        return _passes(lambda: self.drain_batches(ctx), seconds)

    @staticmethod
    def _stream_stats(ctx: Ctx, batches, df, out: str, idx: str) -> None:
        def size(d):
            return sum(os.path.getsize(p) for p in glob.glob(
                os.path.join(d, "**", "*.parquet"), recursive=True))

        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in batches) / 1e3  # noqa: E731
        # numInputRows counts every evaluation of the batch inside the
        # sink body, so the rows offered come from the source files
        rows_in = ctx.spark.read.parquet(
            os.path.join(ctx.work, "stream_src", "*")).count()
        published = df.count()
        ctx.layer.update({
            "streaming.plan_s": dur("queryPlanning"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.rows_in": rows_in,
            "streaming.rows_published": published,
            "streaming.drop_ratio": 1 - published / max(1, rows_in),
            "streaming.index_files": len(glob.glob(os.path.join(idx, "*.parquet"))),
            "streaming.bytes_written_per_output_byte":
                (size(out) + size(idx)) / max(1, size(out)),
        })
        ctx.detail["batches"] = [
            {"batch": p["batchId"], "rows": p["numInputRows"],
             "duration_ms": p["durationMs"]} for p in batches]

    def metrics(self, passes: list[list[Op]], ctx: Ctx) -> dict:
        """wall_s is the drain's own wall time (it includes the engine's
        work between triggers); op_p50_s is the median batch."""
        lats = [o.latency_s for p in passes for o in p]
        return {"wall_s": median(ctx.detail.get("drain_wall_s", [sum(lats)])),
                "op_p50_s": median(lats), **batch_metrics(lats)}

    def layers(self, ctx: Ctx, ev: dict) -> dict:
        out = dict(ctx.layer)
        out["exec_s"] = ctx.tracer.total("streaming.drain")
        out.update(_exec_counts(ev, lambda k: k == "stream:traced"))
        return out


def batch_metrics(lats: list[float]) -> dict:
    """batch_p50_s, and batch_tail_s under the tail rule once more than
    ten batches exist (a run with fewer reports no tail)."""
    out = {"batch_p50_s": median(lats)}
    if len(lats) > 10:
        out["batch_tail_pct"], out["batch_tail_s"] = tail_value(lats)
    return out


# per-layer figures that are not totals over the timed passes: set-up
# times, ratios of totals, and the streaming figures of the last drain
_PER_RUN = {"session.start_s", "session.warm_s", "portals.rows_kept_ratio",
            "expand.rows_out_per_in", "dedup.pairs_per_candidate"} | {
    m for m in PER_LAYER if m.startswith("streaming.")}


def layer_metrics(wl, ctx: Ctx, work: str, setup: dict,
                  n_passes: int) -> dict:
    """Every PER_LAYER metric of a traced run, per timed pass (0 where the
    workload does not exercise the layer; see ``unavailable``)."""
    ev = tr.parse_event_log(os.path.join(work, "events"))
    T = ctx.tracer
    out = {m: 0.0 for m in PER_LAYER}
    out.update(wl.layers(ctx, ev))
    out.update({
        "session.start_s": setup["session.start_s"],
        "session.warm_s": setup["session.warm_s"],
        "sources.parquet_open_s": T.total("sources.parquet_open"),
        "sources.parquet_opens": T.n("sources.parquet_open"),
        "exec.gc_s": ctx.detail["gc_s"],
        "exec.codegen_compile_s": ctx.detail["codegen_compile_s"],
        "trace.overhead_s": T.total("trace.extra")})
    ctx.detail["event_log"] = ev
    return {m: out[m] if m in _PER_RUN else out[m] / n_passes
            for m in PER_LAYER}


def make(name: str, sf: dict[str, float]):
    if name == "relational_olap":
        return QueryWorkload(name, RELATIONAL, sf[name])
    if name == "corpus_pipeline":
        return QueryWorkload(name, CORPUS, sf[name],
                             stream=StreamDedup(sf["stream_dedup"]))
    if name == "ingest_standardize":
        return Ingest()
    if name == "stream_dedup":
        return StreamDedup(sf[name])
    raise ValueError(f"unknown workload {name!r}")
