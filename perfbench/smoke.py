"""Tiny-size self-check: every workload once, traced, on a few dozen
documents; asserts that each run passes its output checks and that every
metric BENCHMARK.json names, and every layer record, is present."""

from __future__ import annotations

import json
import os

# layer -> workloads whose ops call it (the traced run must show its work)
LAYER_WORKLOADS = {
    "decode": ("ingest",),
    "entity_store": ("ingest", "read"),
    "spatial_join": ("read",),
    "knn": ("read",),
    "tiles": ("read",),
    "area_selection": ("read",),
    "reconstruct": ("read",),
    "insert_expand": ("read",),
    "dedup": ("read",),
}


def smoke(bench, n_docs: int) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    per_layer = {m["name"] for m in spec["per_layer"]}
    problems = []
    for workload in ("ingest", "read"):
        res, detail = bench(workload, seed=1, seconds=0.0, trace=True, n_docs=n_docs)
        print(json.dumps({"detail": detail}))
        m = res["metrics"]
        if not res["correct"]:
            problems.append(f"{workload}: {res['failed']} of {res['attempted']} ops failed")
        problems += [f"{workload}: per-layer metric {n} missing"
                     for n in sorted(per_layer - m.keys())]
        problems += [f"{workload}: per-layer metric {n} not in BENCHMARK.json"
                     for n in sorted(m.keys() - per_layer)]
        problems += [f"{workload}: {layer} did no work" for layer, wls in
                     LAYER_WORKLOADS.items()
                     if workload in wls and not m[f"{layer}.wall_s"]["value"] > 0]
        warm = detail["loops"][-1]  # the loop with a warm phase
        problems += [f"{workload}: end-to-end metric {n} missing"
                     for n in sorted(e2e - warm.keys())]
    for p in problems:
        print("smoke:", p)
    print("smoke:", "FAILED" if problems else "ok")
    return 1 if problems else 0
