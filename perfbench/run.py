"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Starts Spark on ``local[<cores>]``, generates the workload's inputs from the
seed and stages them as parquet (three times; the median counts), prepares
the reference results and warms up with untimed operations, then repeats
the workload's operation for ``--seconds`` and checks every output.
``setup_s`` is the session start plus the median generation and staging time
plus the preparation and warm-up.

``--trace 0`` prints the end-to-end metrics: medians over the timed
operations, wall_s over the least loaded of them (see CLEAN_CORES).
``--trace 1`` alternates untraced and traced operations; the traced ones
call each layer under a span and report the per-layer metrics, plus the
tracing overhead (traced minus untraced wall) and the remainder of the
traced wall that no layer span covers.  Metric names and units come from
BENCHMARK.json; every run prints all of its group's metrics, and a
per-layer metric of a layer the workload never calls (see ``layers`` in
workloads.json) reads 0: that layer did no work in it.  The last stdout
line is the result object; the line before it is a report with every
sample, the external CPU load of the run and of each operation, and the
failures, if any.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
sys.path.insert(0, ROOT)

# the engine and the benchmark's own modules; outside a checkout of the
# repository the engine import fails and the run stops here
from perfbench.inputs import frame_fingerprint  # noqa: E402
from perfbench.trace import Tracer, layer_metrics  # noqa: E402
from perfbench.workloads import KINDS, EngineLog  # noqa: E402
from rabbittclust_spark.session import get_spark  # noqa: E402
from tools.scaling_bench import ExternalCpuMonitor  # noqa: E402

SETUP_REPS = 3
# untimed operations before the window: the first pays JIT, Python-worker
# and plan-compile costs, the second still runs about a third slower than
# the ones after it
WARM_OPS = 2
# the window runs at least this many timed operations
MIN_OPS = 2
# other tenants of the host take CPU in bursts that can double an
# operation's time.  An operation during which processes outside this one
# used more than CLEAN_CORES cores is contaminated; the window runs up to
# EXTRA_OPS more operations while fewer than MIN_OPS are clean, and wall_s
# is the median of the MIN_OPS least loaded ones.  A run left with a
# contaminated one among them is marked.
CLEAN_CORES = 0.25
EXTRA_OPS = 1
LAYERS = ("dedup.exact", "sketch", "pairs", "components", "postprocess",
          "plans.pipeline", "streaming.incremental")
# per-layer figures of the run itself, measured on every workload
RUN_METRICS = ("trace.", "peak_rss_mb")


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


class RssSampler:
    """Peak resident set size of this process and all its descendants."""

    def __init__(self, interval: float = 0.5):
        self.peak = 0
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self._interval):
                return

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


def tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                txt = f.read()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in txt.splitlines() if ":" in line)
        pid = int(d)
        children.setdefault(int(fields.get("PPid", "0")), []).append(pid)
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0]) * 1024
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


def configure_environment(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    let Python workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        ap.error(f"unknown workload {args.workload!r}")
    wspec = spec["workloads"][args.workload]
    # the assignments of the default seed are pinned by their fingerprint
    expected_fp = (spec["fingerprints"].get(args.workload)
                   if args.seed == spec["default_seed"] else None)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    extra_conf = configure_environment(work)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    wl = KINDS[wspec["kind"]](wspec, work)
    spark = None
    try:
        # the JVM starts once per process.  Input generation and staging
        # repeat SETUP_REPS times; the workload then prepares its reference
        # results and WARM_OPS full untimed operations warm the JIT, the
        # Python workers and the plan caches.  setup_s = session start +
        # median generation/staging + preparation and warm-up.
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]",
                          extra_conf=extra_conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            data = wl.generate(args.seed)
            tables = wl.stage(spark, data)
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare(spark, data, tables)
        for _ in range(WARM_OPS):
            wl.warm(spark, data, tables, bool(args.trace))
        warm_s = time.perf_counter() - t0
        report = run_window(args, wl, spark, data, tables, cores, expected_fp)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    report.update({"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "cores": cores,
                   "session_s": session_s, "setup_s_samples": setup_times,
                   "warm_s": warm_s,
                   "input_fingerprint": wl.input_fingerprint(data)})
    values = {"setup_s": session_s + _median(setup_times) + warm_s,
              **report.pop("values")}
    if args.trace:
        metrics = select_metrics(bench["per_layer"], values, wspec["layers"])
        report["layers_not_called"] = sorted(
            {e["layer"] for e in spec["layer_map"]} - set(wspec["layers"]))
    else:
        metrics = select_metrics(bench["end_to_end"], values)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": report["failed"] == 0,
                      "attempted": report["attempted"], "failed": report["failed"],
                      "metrics": metrics}))
    return 0


def select_metrics(specs: list[dict], values: dict[str, float],
                   layers: list[str] | None = None) -> dict:
    """The result's metrics: one per entry of ``specs`` (a metric group of
    BENCHMARK.json), valued from ``values``.  With ``layers`` given, a metric
    of a layer the workload never calls reads 0, since that layer did no
    work in it; every other metric must have been measured."""
    measured = None if layers is None else tuple(f"{x}." for x in layers) + RUN_METRICS
    out, missing = {}, []
    for m in specs:
        name = m["name"]
        if measured is not None and not name.startswith(measured):
            value = 0.0
        elif name in values:
            value = values[name]
        else:
            missing.append(name)
            continue
        out[name] = {"value": float(value), "unit": m["unit"]}
    if missing:
        raise ValueError(f"metrics not measured: {missing}")
    return out


def run_window(args, wl, spark, data, tables, cores, expected_fp) -> dict:
    """Repeat the operation for args.seconds, checking every output; with
    tracing on, untraced and traced operations alternate."""
    engine_log = EngineLog()
    walls, traced_walls, quality, fails, layer_runs = [], [], [], [], []
    op_loads = []  # external cores during each untraced operation
    attempted = failed = 0
    fingerprint = None
    monitor = ExternalCpuMonitor()
    rss = RssSampler()
    start = time.perf_counter()
    try:
        while True:
            traced = bool(args.trace) and attempted % 2 == 1
            engine_log.take()
            attempted += 1
            tracer = Tracer(spark)
            op_monitor = ExternalCpuMonitor()
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("workload"):
                        out = wl.trace(spark, tables, tracer)
                else:
                    out = wl.run(spark, tables)
            except Exception as exc:  # a failed operation counts; the run goes on
                op_monitor.stop()
                failed += 1
                fails.append(f"{type(exc).__name__}: {exc}"[:300])
                if time.perf_counter() - start >= args.seconds:
                    break
                continue
            wall = time.perf_counter() - t0
            op_load = op_monitor.stop()
            engine = engine_log.take()
            bad, q = wl.check(data, out, engine)
            if traced:
                more, more_bad = wl.trace_after(spark, data, tracer)
                out.counts.update(more)
                bad += more_bad
                engine_log.take()
            fingerprint = frame_fingerprint(out.assign, ["doc_id", "cluster_id"])
            if expected_fp and fingerprint != expected_fp:
                bad.append(f"assignments fingerprint {fingerprint} != recorded {expected_fp}")
            if bad:
                failed += 1
                fails.extend(bad)
            quality.append(q)
            if traced:
                traced_walls.append(wall)
                layer_runs.append(traced_layers(wl, data, tracer, out, engine, cores))
            else:
                walls.append(wall)
                op_loads.append(op_load)
            clean = sum(x <= CLEAN_CORES for x in op_loads)
            if (time.perf_counter() - start >= args.seconds
                    and len(walls) + len(traced_walls) >= MIN_OPS
                    and walls and (traced_walls or not args.trace)
                    and (args.trace or clean >= MIN_OPS
                         or len(walls) >= MIN_OPS + EXTRA_OPS)):
                break
    finally:
        ext = monitor.stop()
        peak = rss.stop()
        engine_log.close()

    kept = sorted(range(len(walls)), key=op_loads.__getitem__)[:MIN_OPS]
    wall = _median([walls[i] for i in kept])
    if args.trace:
        names = {k for r in layer_runs for k in r}
        values = {k: _median([r.get(k, 0.0) for r in layer_runs]) for k in names}
        values["trace.overhead_s"] = _median(traced_walls) - wall
        # peak RSS moved by more than a tenth between repeat runs, so it is
        # a per-layer figure rather than a gated end-to-end one
        values["peak_rss_mb"] = peak
    else:
        values = {"wall_s": wall, "rows_per_s": wl.rows(data) / wall if wall else 0.0,
                  "pair_recall": _median([q["pair_recall"] for q in quality]),
                  "pair_precision": _median([q["pair_precision"] for q in quality])}
    return {"values": values, "attempted": attempted, "failed": failed,
            "failures": fails[:20], "fingerprint": fingerprint,
            "wall_s_samples": walls, "traced_wall_s_samples": traced_walls,
            "op_external_cores": op_loads, "wall_s_kept": sorted(kept),
            "peak_rss_mb": peak, "external_cores": ext,
            "contaminated": any(op_loads[i] > CLEAN_CORES for i in kept),
            "quality": quality[-1] if quality else {},
            "layers": layer_runs[-1] if layer_runs else {}}


def traced_layers(wl, data, tracer, out, engine, cores) -> dict:
    """Flatten one traced operation into per-layer metric values."""
    layers = layer_metrics(tracer.spans, cores)
    root = layers.pop("workload")
    vals: dict[str, float] = {}
    for name in LAYERS:
        for k, v in layers.get(name, {}).items():
            vals[f"{name}.{k}"] = v
    vals["trace.wall_s"] = root["wall_s"]
    vals["trace.remainder_s"] = root["self_s"]
    vals.update(out.counts)
    vals["pairs.hot_keys_escalated"] = engine["hot_keys_escalated"]
    vals["components.distributed"] = engine["distributed"]
    vals["components.iterations"] = engine["iterations"]
    if hasattr(wl, "kernel_us_per_doc"):
        # outside the workload span: an input count and a single-threaded
        # driver-side kernel sample
        vals["dedup.exact.groups_collapsed"] = wl.groups_collapsed(data)
        us = wl.kernel_us_per_doc(data)
        vals["functions.minhash.kernel_us_per_doc"] = us
        # the share of the kernel stage's run time (shuffle read, the
        # mapInPandas Arrow batches and the parquet write around the
        # per-document numpy work) that the numpy work does not explain
        busy = vals.pop("sketch.write_busy_s")
        vals["sketch.boundary_share"] = 1.0 - us * vals["sketch.docs"] / 1e6 / busy
    return vals


if __name__ == "__main__":
    sys.exit(main())
