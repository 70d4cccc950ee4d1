"""Traced-run report: layer shares, reconciliation and tracing overhead.

Run from the repository root::

    python3 perfbench/layers.py --seed 1 --out perfbench/results/layers.json

For each workload it makes one untraced and one traced run on the same
seed, and records:

- each layer's self time as a share of the traced pass time;
- ``trace.layer_cover``: layer self times summed over pass wall time
  (the reconciliation; 1.0 means every second of a pass is attributed);
- the tracing overhead: traced pass time over untraced median unit time;
- the context of both runs (cores, heap, join path, unit times).

It also records one reading of the host's 4-process streaming-copy
bandwidth (``tools/bench_boxscaling.measure(4)``) as context: wall time on
this kind of host moves with DRAM bandwidth. The reading is not gated.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import platform
import sys

from layertrace import LAYERS
from spread import run_once

ALL_WORKLOADS = ("link_batch", "link_staged", "delta_ingest")


def bandwidth_gbps() -> float:
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from bench_boxscaling import measure

    return round(measure(4, True), 1)


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workloads", nargs="+", default=list(ALL_WORKLOADS))
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    report: dict = {
        "date": datetime.date.today().isoformat(),
        "host": {"cpu": cpu_model(), "affinity_cores": len(os.sched_getaffinity(0))},
        "bandwidth_gbps_4proc": bandwidth_gbps(),
        "seed": args.seed,
        "seconds": args.seconds,
        "workloads": {},
    }
    for w in args.workloads:
        plain, plain_wall, plain_ctx = run_once(w, args.seed, args.seconds, 0)
        traced, traced_wall, traced_ctx = run_once(w, args.seed, args.seconds, 1)
        entry: dict = {"untraced": {"result": plain, "context": plain_ctx,
                                    "wall_s": round(plain_wall, 1)},
                       "traced": {"result": traced, "context": traced_ctx,
                                  "wall_s": round(traced_wall, 1)}}
        if plain and traced:
            m = {k: v["value"] for k, v in traced["metrics"].items()}
            pass_s = m["trace.pass_s"]
            entry["layer_share"] = {
                layer: round(m[f"{layer}.wall_s"] / pass_s, 4) for layer in LAYERS
            }
            entry["layer_wall_s"] = {layer: round(m[f"{layer}.wall_s"], 4) for layer in LAYERS}
            entry["layer_cover"] = round(m["trace.layer_cover"], 4)
            untraced_s = plain["metrics"]["batch_s.p50"]["value"]
            entry["tracing_overhead"] = round(pass_s / untraced_s - 1.0, 4)
            entry["join_path"] = traced_ctx.get("join_path")
            entry["candidates.broadcast"] = m["candidates.broadcast"]
        report["workloads"][w] = entry
        print(json.dumps({w: {k: v for k, v in entry.items()
                              if k not in ("untraced", "traced")}}), flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
