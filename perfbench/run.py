#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed 1 --trace 1

Runs one workload (or, with ``all``, every workload in its own process)
from the repository root, checks every output against the recorded
digests, and prints the result as the LAST line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
passes with tracing on, reports the per-layer metrics and writes the
per-operation trace to ``.perfbench_out/``. A line starting with ``# ``
before the result carries host-state markers and workload-specific
figures. See README.md.
"""

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_standardize", "corpus_pipeline")
# runnable on their own, not in BENCHMARK.json (see README.md)
EXTRA_WORKLOADS = ("stream_dedup", "relational_olap")
# relational tables at 6M x sf lineitem rows, the corpus at 50k x sf docs
SCALE = {"relational_olap": 0.02, "corpus_pipeline": 0.01, "stream_dedup": 0.01}
MAX_CPUS = 4
# half of a 4-core host: the JVM's own threads (JIT, GC, py4j) and the
# Python driver get cores of their own instead of preempting tasks
DEFAULT_CPUS = 2
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "1g"  # Spark's own default; the data is small


def cpus() -> int:
    """Spark cores: $SPARK_GRAFT_CPUS (default DEFAULT_CPUS), capped at
    MAX_CPUS and at the cores this process may run on."""
    want = int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS))
    return max(1, min(want, MAX_CPUS, len(os.sched_getaffinity(0))))


def host_state() -> dict:
    """CRC32 calibration (bench.calibrate) and load averages."""
    from bench import calibrate

    return {"calib_crc32_2gib_sec": calibrate(), "loadavg": os.getloadavg()}


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def cpu_seconds(root: int) -> float:
    """CPU seconds (user + system) used so far by this process, by process
    ``root`` and by every live descendant of ``root``, each with its reaped
    children: the Spark driver JVM, its Python workers and this
    process."""
    ppid, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ppid[int(d)] = int(fields[1])
        used[int(d)] = sum(int(x) for x in fields[11:15])
    tree, frontier = set(), {root}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in ppid.items() if pp in frontier} - tree
    me = os.times()
    return (sum(used.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")
            + me.user + me.system)


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot, from
    /proc/stat: on a virtual machine, steal is time the hypervisor gave
    this machine's vCPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def jvm_peak_rss_mb(spark) -> float:
    pid = jvm_pid(spark)
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def start_session(work: str, name: str, trace: bool):
    from openpolicedata_spark import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap is committed and touched at start, so peak RSS is
        # the heap plus what the run grows outside it, not the collector's
        # timing-dependent heap growth
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "events"),
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name=f"perfbench-{name}", master=f"local[{cpus()}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def first_job(spark) -> None:
    """The session's first job, so the executor is up before the warm-up
    pass (which starts the Python workers it needs)."""
    spark.range(1000).selectExpr("sum(id)").collect()


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it to exit. The JVM exits
    when its stdin closes; the Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _isolate(work: str) -> None:
    """Keep every file the run and Spark write inside ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher's included: temp files in the work dir and
    # no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # Python workers import the fake portal handler from this directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]


def run_one(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run_one(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_one(args, work: str) -> int:
    import tracing as tr
    import workloads as W

    _isolate(work)
    with open(args.expected) as f:
        expected = json.load(f)
    host_before = host_state()
    wl = W.make(args.workload, SCALE)
    t = time.perf_counter()
    wl.inputs(work, args.seed)
    input_s = time.perf_counter() - t

    ctx = W.Ctx(None, work, expected, recording={} if args.record else None)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = ctx.spark = start_session(work, args.workload, bool(args.trace))
        t_session = time.perf_counter() - t0
        first_job(spark)
        # one untraced, untimed pass: the first Catalyst runs and codegen
        # compiles of every plan, and the JIT warm-up, belong to set-up
        warmup = wl.run(ctx, 0)
        setup_s = time.perf_counter() - t0
        ctx.detail.clear()
        ctx.tracer = tr.Tracer() if args.trace else None
        undo = W.instrument(ctx) if args.trace else []
        gc0, cg0 = tr.gc_seconds(spark), tr.codegen_compile_s(spark)
        cpu0, ticks0 = cpu_seconds(jvm_pid(spark)), host_ticks()
        try:
            passes = wl.run(ctx, 0 if args.record else args.seconds)
        finally:
            for u in undo:
                u()
        cpu_s = (cpu_seconds(jvm_pid(spark)) - cpu0) / len(passes)
        ticks = [b - a for a, b in zip(ticks0, host_ticks())]
        steal_pct = 100.0 * ticks[0] / max(1, ticks[1])
        ctx.detail["gc_s"] = tr.gc_seconds(spark) - gc0
        ctx.detail["codegen_compile_s"] = tr.codegen_compile_s(spark) - cg0
        rss = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_session(spark)
    if args.record:
        return record(args, ctx)
    rss += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    ops = [o for p in warmup + passes for o in p]
    failed = [o for o in ops if not o.ok]
    metrics = wl.metrics(passes, ctx)
    setup = {"session.start_s": t_session, "session.warm_s": setup_s - t_session}
    e2e = {"setup_s": setup_s, **metrics, "cpu_s": cpu_s, "peak_rss_mb": rss}
    info = {"workload": args.workload, "seed": args.seed, "cpus": cpus(),
            "scale": SCALE.get(args.workload), "input_s": input_s,
            "passes": len(passes), "error_rate": len(failed) / len(ops),
            "warmup_op_s": {o.name: o.latency_s for o in warmup[0]},
            "pass_s": [round(sum(o.latency_s for o in p), 3) for p in passes],
            **{k: v for k, v in e2e.items() if k not in W.END_TO_END},
            "host_before": host_before, "host_after": host_state(),
            "steal_pct": steal_pct,
            "failures": [f"{o.name}: {o.detail}" for o in failed[:20]]}
    if args.trace:
        layer = W.layer_metrics(wl, ctx, work, setup, len(passes))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        ctx.tracer.dump(path, {"info": info, "end_to_end": e2e,
                               "per_layer": layer, "detail": ctx.detail,
                               "unavailable": W.unavailable(args.workload)})
        info["trace_file"] = os.path.relpath(path, ROOT)
        info["traced_wall_s"] = e2e["wall_s"]
        shown = layer
    else:
        shown = {k: e2e[k] for k in W.END_TO_END}
    print("# " + json.dumps(info, default=str), flush=True)
    for o in failed[:5]:
        print(f"# FAILED {o.name}: {o.detail}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": W.UNITS[k]} for k, v in shown.items()},
    }), flush=True)
    return 0


def record(args, ctx) -> int:
    """Write this run's digests into the expected file. Inputs share their
    values across seeds (datagen.py), so one recording serves every seed;
    re-record only when the generated values change."""
    with open(args.expected) as f:
        doc = json.load(f)
    doc.update(ctx.recording)
    with open(args.expected, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"recorded": {k: len(v) for k, v in ctx.recording.items()}}))
    return 0


def _child(name: str, args, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--expected", args.expected]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{name}: exit {p.returncode}\n{p.stderr[-3000:]}")
    info = next((json.loads(ln[2:]) for ln in lines if ln.startswith("# {")), {})
    return json.loads(lines[-1]), info


def run_all(args) -> int:
    """Every workload in its own process, one summary line each. With
    --trace 1 each workload runs untraced and then traced, and the line
    adds the tracing overhead: traced wall_s minus untraced wall_s."""
    from stats import tracing_overhead

    results = {}
    for name in WORKLOADS:
        res, info = _child(name, args, 0)
        extra = {k: info[k] for k in ("wall_s", "op_p50_s", "query_p50_s",
                                      "batch_p50_s", "batch_tail_s")
                 if k in info}
        if args.trace:
            tres, tinfo = _child(name, args, 1)
            extra["trace.overhead_wall_s"] = tracing_overhead(
                tinfo["traced_wall_s"], info["wall_s"])
            extra["trace_file"] = tinfo.get("trace_file")
            res["correct"] &= tres["correct"]
        results[name] = res
        print(f"{name}: correct={res['correct']} "
              f"error_rate={info.get('error_rate', 0.0):.4f} " + " ".join(
                  f"{k}={v['value']:.4g}{v['unit']}"
                  for k, v in res["metrics"].items()) + " " + " ".join(
                  f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                  for k, v in extra.items()), flush=True)
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{k}": m for n, r in results.items()
                    for k, m in r["metrics"].items()}}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + EXTRA_WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0,
                    help="measure whole passes until this many seconds "
                         "have passed (at least one pass)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected",
                    default=os.path.join(HERE, "expected_digests.json"),
                    help="digest file to check outputs against")
    ap.add_argument("--record", action="store_true",
                    help="write one pass's digests into --expected")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "openpolicedata_spark")):
        print(f"perfbench: no openpolicedata_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
