"""Per-layer records from Spark's event log, and /proc sampling.

Attribution rule: every Spark job carries the job group its public call
set (workloads.Layers.call), and each stage belongs to the group of the
first job that lists it. A group ``"<layer>|<upstream>"`` marks an
action whose plan also runs a lazy upstream layer's Python operator
(``write_entities`` over ``decode_documents``): the stages of that action
that ran Python workers belong to ``<upstream>``, the rest to ``<layer>``.
Lazy store reads (``read_entities``/``read_entities_bbox``) fuse into the
consuming operator's scan stage, so their scan time counts for that
operator; the store layer keeps the jobs it launches itself (listing,
bbox counts, writes). Counters are never derived by subtracting runs.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

# counter -> (event-log accumulable names, scale to the reported unit)
COUNTERS = {
    "task_s": (("internal.metrics.executorRunTime",), 1e-3),
    "python_s": (("time to run Python workers",), 1e-3),
    "py_in_mb": (("data sent to Python workers",), 1e-6),
    "py_out_mb": (("data returned from Python workers",), 1e-6),
    "shuffle_write_mb": (("internal.metrics.shuffle.write.bytesWritten",), 1e-6),
    "shuffle_read_mb": (("internal.metrics.shuffle.read.localBytesRead",
                         "internal.metrics.shuffle.read.remoteBytesRead"), 1e-6),
    "fetch_wait_s": (("internal.metrics.shuffle.read.fetchWaitTime",), 1e-3),
    "spill_mb": (("internal.metrics.diskBytesSpilled",), 1e-6),
    "gc_s": (("internal.metrics.jvmGCTime",), 1e-3),
    "input_mb": (("internal.metrics.input.bytesRead",), 1e-6),
    "output_mb": (("internal.metrics.output.bytesWritten",), 1e-6),
}
ALL_COUNTERS = ("wall_s", *COUNTERS, "jobs")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(log_dir: str) -> tuple[dict[str, dict[str, float]], float]:
    """-> ({layer: {counter: total}}, executor task seconds of all stages)."""
    stage_group: dict[int, str] = {}
    layers: dict[str, dict[str, float]] = {}
    total_task_s = 0.0

    def rec(layer):
        return layers.setdefault(layer, dict.fromkeys(ALL_COUNTERS, 0.0))

    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                    rec(group.split("|")[0])["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc: dict[str, float] = {}
                    for a in info.get("Accumulables", []):
                        try:
                            acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
                        except (KeyError, TypeError, ValueError):
                            continue
                    layer, _, upstream = stage_group.get(info["Stage ID"], "").partition("|")
                    if upstream and acc.get("time to run Python workers", 0.0) > 0:
                        layer = upstream
                    r = rec(layer)
                    for counter, (names, scale) in COUNTERS.items():
                        r[counter] += scale * sum(acc.get(n, 0.0) for n in names)
                    r["wall_s"] += 1e-3 * (info.get("Completion Time", 0)
                                           - info.get("Submission Time", 0))
                    total_task_s += 1e-3 * acc.get("internal.metrics.executorRunTime", 0.0)
    return layers, total_task_s


_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree() -> tuple[set[int], dict[int, list[str]]]:
    ppid, stat = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                s = f.read().decode("latin1")
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        ppid[int(pid)] = int(fields[1])
        stat[int(pid)] = fields
    mine, grew = {os.getpid()}, True
    while grew:  # transitive closure over the ppid forest
        grew = False
        for p, pp in ppid.items():
            if pp in mine and p not in mine:
                mine.add(p)
                grew = True
    return mine, stat


def cpu_sample() -> tuple[int, int, float]:
    """(busy jiffies of the box incl. steal, jiffies of this process tree
    incl. reaped children, wall). Foreign cores over an interval =
    Δ(all − ours) / HZ / Δwall: the load neighbours put on the box."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy_all = v[0] + v[1] + v[2] + v[5] + v[6] + (v[7] if len(v) > 7 else 0)
    mine, stat = _tree()
    ours = sum(sum(int(stat[p][i]) for i in (11, 12, 13, 14)) for p in mine if p in stat)
    return busy_all, ours, time.time()


def foreign_cores(a, b) -> float:
    return max(0.0, ((b[0] - a[0]) - (b[1] - a[1])) / _HZ / max(b[2] - a[2], 1e-6))


class RssSampler:
    """Peak resident set of this process tree (Spark driver, JVM, Python
    workers), sampled from /proc in a background thread."""

    def __init__(self, interval: float = 0.5):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            mine, stat = _tree()
            rss = sum(int(stat[p][21]) for p in mine if p in stat) * _PAGE
            self.peak = max(self.peak, rss)
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
