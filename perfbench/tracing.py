"""Tracing for the benchmark's traced run.

Spans are recorded only here, around calls into the package's public
functions (the package itself is not instrumented). Spark's own counters
are read after each action: the Catalyst phase tracker, JVM garbage
collection and codegen counters, the job-group job ids, and, once the
session stops, the event log (per-task shuffle, spill, Python-worker and
task counts).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from stats import self_time


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str = ""


@dataclass
class Tracer:
    """In-memory spans; written out once at the end."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: str = ""

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None, op=self.op)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def n(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += self_time((s.start, s.end), kids[i])
        return dict(out)

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a spanned wrapper; returns an undo
        callable. Used only in the traced run."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, orig)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        doc = dict(extra)
        doc["spans"] = [
            {"name": s.name, "op": s.op, "parent": s.parent,
             "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6)}
            for s in self.spans]
        doc["self_time_s"] = self.self_times()
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)


# ---------------------------------------------------------------------------
# Spark counters read after an action
# ---------------------------------------------------------------------------

def catalyst_phases(df) -> dict[str, float]:
    """analysis/optimization/planning seconds of ``df``'s QueryExecution
    (``queryExecution().tracker().phases()``)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def gc_seconds(spark) -> float:
    """Cumulative JVM garbage-collection time of the driver JVM (in local
    mode the executors run in the same JVM)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in
               mf.getGarbageCollectorMXBeans()) / 1000.0


def codegen_compile_s(spark) -> float:
    """Approximate cumulative Janino compile seconds from Spark's codegen
    metrics source: compilations x the mean of its sampled histogram."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    return h.getCount() * h.getSnapshot().getMean() / 1000.0


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_NODES = ("Python", "InArrow", "InPandas")


def _plan_python_accs(info: dict, out: dict[int, str]) -> None:
    node = info.get("nodeName", "")
    if any(k in node for k in _PY_NODES):
        for m in info.get("metrics", []):
            out[int(m["accumulatorId"])] = m["name"]
    for child in info.get("children", []):
        _plan_python_accs(child, out)


def _job_key(props: dict) -> str:
    """``stream:<query name>`` for a streaming micro-batch's jobs (the
    engine sets their group to its run id and the query name heads their
    description), else the job group."""
    if props.get("sql.streaming.queryId"):
        return "stream:" + props.get("spark.job.description", "").split("\n")[0]
    return props.get("spark.jobGroup.id") or ""


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job key (see _job_key): stages, tasks, shuffle read/write
    bytes, spill bytes and Python-worker rows/bytes, summed from the
    event log's stage- and task-end events."""
    events = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    stage_key: dict[int, str] = {}
    py_accs: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            key = _job_key(ev.get("Properties") or {})
            for sid in ev.get("Stage IDs", []):
                stage_key[sid] = key
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_python_accs(ev.get("sparkPlanInfo", {}), py_accs)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerStageCompleted":
            out[stage_key.get(ev["Stage Info"]["Stage ID"], "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_key.get(ev.get("Stage ID"), "")]
            g["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = py_accs.get(int(acc.get("ID", -1)))
                if name is None:
                    continue
                val = float(acc.get("Update", 0) or 0)
                if name == "number of output rows":
                    g["python_rows"] += val
                elif "Python" in name:
                    g["python_bytes"] += val
    return {k: dict(v) for k, v in out.items()}
