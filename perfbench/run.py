"""Seeded end-to-end benchmark of the dxf_postgis_converter_spark pipeline.

    python3 perfbench/run.py --workload ingest --seed 3 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Workloads (workloads.py): ``ingest`` decodes a seeded document window and
writes the cell-prefix partitioned entity store; ``read`` runs spatial
queries with seeded parameters over the stored table, then rebuilds the
documents from it, expands INSERTs and finds planted near-duplicate
texts. Both are closed loops with one client at ``local[$(nproc)]``, in
one Spark driver process. Each op's output is checked against an oracle
(inputs.py). See README.md for the metric definitions.

Inputs are prepared untimed before the measured session; a Spark
session is started for that only when the document pool or the entity
store is not cached yet (the first run in a checkout). The measured
loop runs in a fresh JVM: a cold pass (each op type once), then warm
ops. ``setup_s`` is the package import, the session start (JVM +
SparkSession), input registration and the cold pass, which fills the
lazy caches (JIT, whole-stage codegen, Python workers) that every later
op uses. ``--trace 1`` runs the cold pass in a session without Spark's
event log (the baseline for the tracing overhead), then the whole loop
in a second session with it, and prints per-layer records (eventlog.py)
instead of the end-to-end metrics.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries run details (foreign CPU, peak RSS, per-op
latencies).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "dxf_postgis_converter_spark")
WORK = os.path.join(ROOT, ".perfbench_work")
N_DOCS = 1000
SMOKE_DOCS = 60
CONTENDED_CORES = 0.5  # foreign load that flags a run as contended
# per-layer counters reported: those non-zero for the layer on some
# workload (spill is zero everywhere at this size and is left out)
_PY = ("python_s", "py_in_mb", "py_out_mb")
_SHUFFLE = ("shuffle_write_mb", "shuffle_read_mb")
LAYER_COUNTERS = {
    "decode": ("wall_s", "task_s", *_PY, "shuffle_write_mb", "gc_s", "input_mb"),
    "entity_store": ("wall_s", "task_s", *_SHUFFLE, "gc_s", "input_mb", "output_mb", "jobs"),
    "spatial_join": ("wall_s", "task_s", *_PY, *_SHUFFLE, "gc_s", "input_mb", "jobs"),
    "knn": ("wall_s", "task_s", *_SHUFFLE, "fetch_wait_s", "gc_s", "input_mb", "jobs"),
    "tiles": ("wall_s", "task_s", *_SHUFFLE, "gc_s", "input_mb", "jobs"),
    "area_selection": ("wall_s", "task_s", *_PY, *_SHUFFLE, "gc_s", "input_mb", "jobs"),
    "reconstruct": ("wall_s", "task_s", *_PY, *_SHUFFLE, "gc_s", "input_mb", "jobs"),
    "insert_expand": ("wall_s", "task_s", *_PY, *_SHUFFLE, "gc_s", "input_mb", "jobs"),
    "dedup": ("wall_s", "task_s", *_SHUFFLE, "gc_s", "input_mb", "jobs"),
}


def _process_start() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _environment() -> None:
    """local[$(nproc)] with the package's shipped defaults; every scratch
    file inside the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    sys.path[:0] = [ROOT, HERE]


def start_session(event_log: str | None = None):
    from dxf_postgis_converter_spark.session import get_spark
    from eventlog import event_log_conf

    tmp = os.path.join(WORK, "tmp")
    conf = {"spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if event_log:
        conf.update(event_log_conf(event_log))
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session and its JVM, so the next start is a fresh one."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_loop(wl, lay, seconds: float | None, log: list) -> None:
    """A cold pass (each op once, in a fixed order), then, unless
    ``seconds`` is None, a first warm pass and more ops in the same order
    until ``seconds`` of warm op time."""
    warm_s, i = 0.0, 0
    n_min = len(wl.ops) if seconds is None else 2 * len(wl.ops)
    while i < n_min or (seconds is not None and warm_s < seconds):
        op, cold = wl.ops[i % len(wl.ops)], i < len(wl.ops)
        i += 1
        t = time.perf_counter()
        try:
            result = op.run(lay)
            dt = time.perf_counter() - t
            ok = bool(op.check(result))
        except Exception:  # one failed op is counted, not fatal
            dt = time.perf_counter() - t
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"perfbench: op {op.name} failed its check", file=sys.stderr)
        log.append({"op": op.name, "s": dt, "ok": ok, "cold": cold})
        warm_s += 0 if cold else dt


def summarize(wl, log: list, session_s: float) -> dict:
    """End-to-end metrics. The cold pass is the session's warm-up: it
    fills the JVM's, Spark's and the Python workers' lazy caches, so it
    counts as set-up (``setup_s`` = import, session start, input
    registration and the cold pass), not as op latency. Warm latencies
    enter as per-op-type medians, so a partly finished last pass or one
    slow outlier does not tilt the mix: ``ops_per_s`` is one op of each
    type divided by the sum of their median latencies, ``op_gmean_s`` the
    geometric mean of those medians (a median over the types would jump
    whenever two types swap places)."""
    medians = [statistics.median(r["s"] for r in log if r["op"] == op.name and not r["cold"])
               for op in wl.ops]
    ops_per_s = len(medians) / sum(medians)
    return {
        "setup_s": session_s + sum(r["s"] for r in log if r["cold"]),
        "ops_per_s": ops_per_s,
        "docs_per_s": wl.docs_per_op * ops_per_s,
        "geoms_per_s": wl.geoms_per_op * ops_per_s,
        "stored_bytes_per_input_byte": wl.stored_bytes / wl.input_bytes,
        "op_gmean_s": statistics.geometric_mean(medians),
    }


E2E_UNITS = {"setup_s": "s", "ops_per_s": "ops/s", "docs_per_s": "docs/s",
             "geoms_per_s": "geoms/s", "stored_bytes_per_input_byte": "ratio",
             "op_gmean_s": "s"}


def layer_metrics(layers: dict, total_task_s: float, calls: dict) -> dict:
    """Per-call layer counters, named ``<layer>.<counter>``."""
    out = {}
    for layer, counters in LAYER_COUNTERS.items():
        rec, n = layers.get(layer, {}), calls.get(layer, 0)
        for c in counters:
            out[f"{layer}.{c}"] = rec.get(c, 0.0) / n if n else 0.0
    named = sum(layers.get(layer, {}).get("task_s", 0.0) for layer in LAYER_COUNTERS)
    out["layers.task_share"] = named / total_task_s if total_task_s else 0.0
    return out


class _PrepSession:
    """A Spark session for generating cached inputs, started on first use."""

    def __init__(self):
        self.spark = None

    def __call__(self):
        if self.spark is None:
            self.spark = start_session()
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None


def bench(workload: str, seed: int, seconds: float, trace: bool,
          n_docs: int) -> tuple[dict, dict]:
    """One run -> (result line, run details)."""
    import inputs
    import workloads
    from eventlog import RssSampler, cpu_sample, foreign_cores, fold_event_log

    import_s = time.time() - _process_start()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    log, loops = [], []
    detail = {"workload": workload, "seed": seed, "n_docs": n_docs}
    try:
        # untimed: generate / load the cached inputs (Spark only on a cache miss)
        t, prep = time.perf_counter(), _PrepSession()
        try:
            man = inputs.ensure_inputs(prep, WORK, seed, n_docs,
                                       int(os.environ["SPARK_GRAFT_CPUS"]),
                                       None if workload == "ingest" else 0)
            store = None if workload == "ingest" else inputs.ensure_store(
                prep, WORK, man, inputs.source_hash(PKG))
        finally:
            prep.stop()
        detail["prep_s"] = time.perf_counter() - t
        # (event log on, warm phase): the traced run's untraced session
        # runs the cold pass only, its baseline for the tracing overhead
        modes = ((False, False), (True, True)) if trace else ((False, True),)
        with RssSampler() as rss:
            for traced, warm in modes:
                t = time.perf_counter()
                spark = start_session(os.path.join(run_dir, "events") if traced else None)
                try:
                    start_s = time.perf_counter() - t
                    t = time.perf_counter()
                    dfs = workloads.register(spark, man, store)
                    register_s = time.perf_counter() - t
                    wl = workloads.WORKLOADS[workload](spark, dfs, man, store, run_dir)
                    lay = workloads.Layers(spark)
                    part = []
                    rss.peak = 0
                    c0 = cpu_sample()
                    run_loop(wl, lay, seconds if warm else None, part)
                    cold_s = sum(r["s"] for r in part if r["cold"])
                    loops.append({"foreign_cores": foreign_cores(c0, cpu_sample()),
                                  "peak_rss_gb": rss.peak / 1e9, "session_start_s": start_s,
                                  "register_s": register_s, "op_cold_s": cold_s,
                                  **(summarize(wl, part, import_s + start_s + register_s)
                                     if warm else {})})
                    log += part
                finally:
                    stop_session(spark)
        if trace:
            metrics = layer_metrics(*fold_event_log(os.path.join(run_dir, "events")), lay.calls)
            untraced, traced = loops
            metrics["trace.overhead_pct"] = \
                100.0 * (traced["op_cold_s"] - untraced["op_cold_s"]) / untraced["op_cold_s"]
            metrics["decode.error_ratio"] = wl.n_errors / man["n_media"]
            metrics["op_cold_s"] = untraced["op_cold_s"]
            metrics["peak_rss_gb"] = traced["peak_rss_gb"]
            metrics["failed_op_ratio"] = sum(not r["ok"] for r in log) / len(log)
            units = {k: _layer_unit(k) for k in metrics}
        else:
            metrics = {k: loops[0][k] for k in E2E_UNITS}
            units = E2E_UNITS
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not r["ok"] for r in log)
    foreign = max(lp["foreign_cores"] for lp in loops)
    detail.update(loops=loops, import_s=import_s, contended=foreign > CONTENDED_CORES,
                  ops={name: [round(r["s"], 4) for r in log if r["op"] == name]
                       for name in dict.fromkeys(r["op"] for r in log)})
    result = {"correct": failed == 0, "attempted": len(log), "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    return result, detail


def _layer_unit(name: str) -> str:
    for suffix, unit in (("_mb", "MB"), ("_gb", "GB"), ("_s", "s"), ("_pct", "%"),
                         ("jobs", "count")):
        if name.endswith(suffix):
            return unit
    return "ratio"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("ingest", "read"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, every workload once, traced; assert every metric")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(PKG, "__init__.py")):
        print(f"perfbench: package not found at {PKG}", file=sys.stderr)
        return 2
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    _environment()
    if args.smoke:
        from smoke import smoke
        return smoke(bench, SMOKE_DOCS)
    result, detail = bench(args.workload, args.seed, args.seconds, bool(args.trace), N_DOCS)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
