"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload transit_batch --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. The run launches the JVM, then sets up
three times (a new Spark application, its inputs, the workload's
shared stages) and reports the median round as ``setup_s``; runs one
warm-up pass; then runs as many whole passes as the warm-up pass says
fit in ``--seconds`` (at least one) and reports per-pass medians of wall
time and CPU time. Every unit's output is checked after the timed
passes. ``--trace 1`` splits ``--seconds`` between the untraced passes
and a traced phase (event log, job descriptions, spans, Catalyst phase
timings) and reports per-layer metrics instead; the layer table is
written under ``.perfbench_out/``.
The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: the stages ``curate(stage_timings=...)`` reports with its defaults
CURATE_STAGES = ("input", "normalize_quality", "dedup", "mix", "pack",
                 "write")
#: metric name -> unit; BENCHMARK.json declares the same names
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.shared.trade_edges_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.tasks_failed": "count", "exec.task_cpu_s": "s",
    "exec.task_run_s": "s", "exec.gc_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_mb": "MB", "exec.busy_frac": "1",
    "mem.peak_rss_mb": "MB", "exec.jvm_heap_peak_mb": "MB",
    "storage.peak_mb": "MB",
    "pyworker.rows": "count", "pyworker.mb_sent": "MB",
    "pyworker.mb_returned": "MB",
    "sources.read_s": "s", "sources.rows_read": "count",
    "sink.output_mb": "MB", "sink.files": "count",
    "jobs.curate_s": "s", "jobs.curate_jobs": "count",
    **{f"jobs.curate.{stage}_s": "s" for stage in CURATE_STAGES},
    "trace.overhead_frac": "1",
}

SETUP_ROUNDS = 3
EXPECTED = os.path.join(HERE, "expected.json")
#: expected.json key of a workload whose inputs do not depend on the seed
ALL_SEEDS = "all"
MB = 1024 * 1024


# --- process tree: CPU seconds and peak RSS -------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple]:
    """pid -> (ppid, cpu seconds incl. reaped children, virtual size)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        out[int(name)] = (int(fields[1]), cpu, int(fields[20]))
    return out


def tree(root: int = os.getpid()) -> dict[int, tuple]:
    table = _proc_table()
    keep, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, *_) in table.items():
            if ppid == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return {p: table[p] for p in keep if p in table}


def tree_cpu() -> float:
    return sum(cpu for _, cpu, _ in tree().values())


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM, kept
    by the kernel, so nothing is sampled). A child whose virtual size
    equals its parent's is skipped: a fork that has not exec'ed yet. The
    JVM's task threads fork short-lived helpers (Hadoop's local file
    system runs chmod through fork+exec), and until the exec such a
    child reports the JVM's own memory."""
    procs, total = tree(), 0
    for pid, (ppid, _, vsize) in procs.items():
        if ppid in procs and procs[ppid][2] == vsize:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass  # exited, or a kernel thread without memory
    return total / 1024


# --- Spark session lifecycle -------------------------------------------

def start_session(work: str, eventlog: str | None = None):
    from ad_data_pipelines_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # JVM temp and perf-data files stay inside the work dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # per-stage peaks of the JVM's heap, polled between heartbeats
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the Py4J gateway and wait for the JVM and its children."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    for pid in sorted(set(tree()) - {os.getpid()}, reverse=True):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 30
    while set(tree()) - {os.getpid()} and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


# --- plan hook: Catalyst phases and storage, traced runs only ----------

class PlanProbe:
    """Called after each unit builds its plan; without a Spark session
    (untraced passes) it does nothing."""

    def __init__(self, spark=None):
        self.spark = spark
        self.phases: dict[str, dict[str, float]] = {}
        self.storage_peak_mb = 0.0

    def __call__(self, unit: str, df, before_action: bool) -> None:
        if self.spark is None:
            return
        qe = df._jdf.queryExecution()
        if before_action:  # a write plans a new QueryExecution of its own
            qe.executedPlan()
        ph = qe.tracker().phases()
        acc = self.phases.setdefault(unit, {})
        for p in ("analysis", "optimization", "planning"):
            if ph.contains(p):
                acc[p] = acc.get(p, 0.0) + ph.apply(p).durationMs()
        stored = sum(r.memSize() + r.diskSize() for r in
                     self.spark.sparkContext._jsc.sc().getRDDStorageInfo())
        self.storage_peak_mb = max(self.storage_peak_mb, stored / MB)


# --- the run -----------------------------------------------------------

def measure(wl, spark, tracer, inp, out, order, n, hook, passes):
    """``n`` whole passes; appends {wall, cpu, units, out} per pass."""
    for _ in range(n):
        pdir = f"{out}/p{len(passes)}"
        cpu0, t0 = tree_cpu(), time.perf_counter()
        with tracer.span(f"pass{len(passes)}", "pass"):
            units = wl.run_pass(spark, tracer, inp, pdir, order, hook)
        passes.append({"wall": time.perf_counter() - t0,
                       "cpu": tree_cpu() - cpu0, "units": units, "out": pdir})
    return passes[-n:]


def check_outputs(wl, seed, inp, all_passes):
    """Returns (attempted, failures). A unit fails on an exception, on a
    digest that differs between passes or from the recorded one for
    this seed (or for every seed, on fixed inputs), or (registry units,
    once per run) against its oracle."""
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            recorded = json.load(f).get(wl.name, {})
        expected = recorded.get(str(seed)) or recorded.get(ALL_SEEDS, {})
    failures: dict[tuple[int, str], str] = {}
    attempted, first = 0, {}
    for i, p in enumerate(all_passes):
        for unit, (_, res) in p["units"].items():
            attempted += 1
            if isinstance(res, Exception):
                failures[i, unit] = f"{type(res).__name__}: {res}"[:300]
                continue
            d = list(wl.digest(res))
            want = expected.get(unit) or first.setdefault(unit, d)
            if d != want:
                failures[i, unit] = f"digest {d} != {want}"
            first.setdefault(unit, d)
    for unit, why in wl.oracle_mismatches(inp, all_passes[0]["units"]):
        failures.setdefault((0, unit), f"oracle: {why}")
    return attempted, [f"pass {i} {u}: {why}" for (i, u), why in
                       sorted(failures.items())]


def setup_round(wl, work, seed, r, spark, eventlog=None):
    """One set-up round: a new Spark application (traced when it has an
    event log), seeded inputs, the shared stages."""
    from tracing import Tracer

    spark.stop()
    spark = start_session(work, eventlog)
    tracer = Tracer(spark) if eventlog else Tracer()
    inp = wl.inputs(f"{work}/in{r}", seed)
    with tracer.span("setup", "setup"):
        shared = wl.shared(spark, tracer, inp)
    return spark, tracer, inp, shared


def layer_report(wl, tracer, eventlog_path, probe, passes, shared, cores,
                 untraced_wall, peak_rss):
    """Per-layer metrics (per traced pass) and the layer table."""
    from tracing import parse_eventlog, self_times

    by_desc, heap_peak_mb = parse_eventlog(eventlog_path)
    layer_of = {s["path"]: s["layer"] for s in tracer.spans}
    selfs = self_times(tracer.spans)
    n = len(passes)
    table: dict[str, dict[str, float]] = {}
    units: dict[str, dict[str, float]] = {}

    def add(d, key, counters):
        row = d.setdefault(key, {})
        for k, v in counters.items():
            row[k] = row.get(k, 0.0) + v

    for s in tracer.spans:
        add(table, s["layer"], {"spans": 1, "total_s": s["end"] - s["start"],
                                "self_s": selfs[s["id"]]})
        parts = s["path"].split("/")
        if parts[0].startswith("pass") and len(parts) == 3:
            add(units, parts[1], {f"{s['layer']}_s": s["end"] - s["start"]})
    for desc, c in by_desc.items():
        add(table, layer_of.get(desc, "untraced"), c)
        parts = desc.split("/")
        if parts[0].startswith("pass") and len(parts) >= 2:
            add(units, parts[1], {"jobs": c.get("jobs", 0),
                                  "task_cpu_s": c.get("cpu_s", 0)})
    for u, ph in probe.phases.items():
        add(units, u, {f"catalyst.{k}_ms": v for k, v in ph.items()})

    in_pass = {}
    for desc, c in by_desc.items():
        if desc.startswith("pass"):
            add(in_pass, "all", c)
    tot = in_pass.get("all", {})
    wall = statistics.median(p["wall"] for p in passes)
    per = lambda v: v / n  # noqa: E731

    def phase(p):
        return per(sum(ph.get(p, 0.0) for ph in probe.phases.values()))

    curate_s: dict[str, float] = {}
    for p in passes:
        for _, res in p["units"].values():
            for stage, sec in getattr(res, "stage_s", {}).items():
                curate_s[stage] = curate_s.get(stage, 0.0) + sec

    sink_files = sink_bytes = 0
    for p in passes:
        for root, _, files in os.walk(p["out"]):
            for f in files:
                if f.startswith("part-"):
                    sink_files += 1
                    sink_bytes += os.path.getsize(os.path.join(root, f))
    layer = lambda name, key: table.get(name, {}).get(key, 0.0)  # noqa: E731
    values = {
        "plans.build_s": per(layer("plans", "total_s")),
        "plans.build_jobs": per(layer("plans", "jobs")),
        "plans.shared.trade_edges_s": shared.get("trade_edges", 0.0),
        "catalyst.analysis_ms": phase("analysis"),
        "catalyst.optimization_ms": phase("optimization"),
        "catalyst.planning_ms": phase("planning"),
        **{f"exec.{k}": per(tot.get(k, 0.0)) for k in (
            "jobs", "stages", "tasks", "tasks_failed", "gc_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb")},
        "exec.task_cpu_s": per(tot.get("cpu_s", 0.0)),
        "exec.task_run_s": per(tot.get("run_s", 0.0)),
        "exec.busy_frac": per(tot.get("run_s", 0.0)) / (wall * cores),
        "mem.peak_rss_mb": peak_rss,
        "exec.jvm_heap_peak_mb": heap_peak_mb,
        "storage.peak_mb": probe.storage_peak_mb,
        "pyworker.rows": per(tot.get("py_rows", 0.0)),
        "pyworker.mb_sent": per(tot.get("py_sent_mb", 0.0)),
        "pyworker.mb_returned": per(tot.get("py_returned_mb", 0.0)),
        "sources.read_s": per(layer("sources", "total_s")),
        "sources.rows_read": per(tot.get("input_rows", 0.0)),
        "sink.output_mb": per(sink_bytes) / MB,
        "sink.files": per(sink_files),
        "jobs.curate_s": per(layer("jobs", "total_s")),
        "jobs.curate_jobs": per(layer("jobs", "jobs")),
        **{f"jobs.curate.{k}_s": per(curate_s.get(k, 0.0))
           for k in CURATE_STAGES},
        "trace.overhead_frac": wall / untraced_wall - 1,
    }
    metrics = {k: (values[k], unit) for k, unit in PER_LAYER.items()}
    layer_table = {
        "workload": wl.name,
        "traced_passes": n,
        "traced_pass_wall_s": [round(p["wall"], 4) for p in passes],
        "untraced_pass_wall_s": round(untraced_wall, 4),
        "shared_stage_s": {k: round(v, 4) for k, v in shared.items()},
        "curate_stage_s_per_pass": {k: round(v / n, 4) for k, v in
                                    sorted(curate_s.items())},
        "layers_per_pass": {k: {m: round(v / n, 4) for m, v in sorted(r.items())}
                            for k, r in sorted(table.items())},
        "units_per_pass": {k: {m: round(v / n, 4) for m, v in sorted(r.items())}
                           for k, r in sorted(units.items())},
    }
    return metrics, layer_table


def pin_environment(work: str) -> int:
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return cores


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ad_data_pipelines_spark")):
        print("perfbench: run from the repository root (no "
              "ad_data_pipelines_spark package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = pin_environment(work)
    load_start = os.getloadavg()
    spark = None
    try:
        import pyspark

        from tracing import Tracer, find_eventlog

        order = wl.order(args.seed)
        t0 = time.perf_counter()
        spark = start_session(work)
        jvm_start_s = time.perf_counter() - t0
        setups = []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            spark, tracer, inp, shared = setup_round(wl, work, args.seed, r,
                                                     spark)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = wl.run_pass(spark, tracer, inp, f"{work}/out/warm", order,
                           PlanProbe())
        warmup_s = time.perf_counter() - t0
        passes = [{"units": warm, "out": f"{work}/out/warm"}]
        # the warm-up pass is slower than a warm one, so this many passes
        # take at most the time asked for; fixing the count before timing
        # keeps a run's passes at the same place on the JIT warm-up curve
        n_passes = max(1, math.ceil(
            (args.seconds / 2 if args.trace else args.seconds) / warmup_s))
        timed = measure(wl, spark, tracer, inp, f"{work}/out", order,
                        n_passes, PlanProbe(), passes)
        peak_rss = tree_peak_rss_mb()
        env = {
            "nproc": cores, "load_start": load_start,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
        values = {
            "setup_s": statistics.median(setups),
            "wall_s": statistics.median(p["wall"] for p in timed),
            "cpu_s": statistics.median(p["cpu"] for p in timed),
        }
        metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
        if args.trace:
            untraced_wall = metrics["wall_s"][0]
            logdir = os.path.join(work, "eventlog")
            spark, tracer, inp, shared = setup_round(
                wl, work, args.seed, SETUP_ROUNDS, spark, eventlog=logdir)
            app_id = spark.sparkContext.applicationId
            probe = PlanProbe(spark)
            traced = measure(wl, spark, tracer, inp, f"{work}/out", order,
                             n_passes, probe, passes)
            spark.stop()
            spark = None
            metrics, layer_table = layer_report(
                wl, tracer, find_eventlog(logdir, app_id), probe, traced,
                shared, cores, untraced_wall, peak_rss)
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            layer_table["seed"] = args.seed
            layer_table["env"] = env
            with open(os.path.join(out_dir, f"{wl.name}.layers.json"), "w") as f:
                json.dump(layer_table, f, indent=1)
            with open(os.path.join(out_dir, f"{wl.name}.spans.json"), "w") as f:
                json.dump(tracer.spans, f)
        attempted, failures = check_outputs(wl, args.seed, inp, passes)
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share it
            os.rmdir(os.path.dirname(work))

    env["load_end"] = os.getloadavg()
    lat = sorted(s for p in timed for s, _ in p["units"].values())
    info = {
        "workload": wl.name, "seed": args.seed, "unit_order": order,
        "jvm_start_s": round(jvm_start_s, 4),
        "setup_rounds_s": [round(s, 4) for s in setups],
        "warmup_s": round(warmup_s, 4),
        "timed_pass_wall_s": [round(p["wall"], 4) for p in timed],
        "peak_rss_mb": round(peak_rss, 1),
        "unit_latency_p50_s": round(statistics.median(lat), 4),
        "unit_latencies": len(lat),
        "unit_median_s": {u: round(statistics.median(
            p["units"][u][0] for p in timed), 4) for u in order},
        "error_rate": len(failures) / attempted,
        "failures": failures[:20],
        "env": env,
    }
    print(json.dumps(info))
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
