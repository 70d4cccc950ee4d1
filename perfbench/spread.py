"""Run the benchmark over several seeds and report each metric's spread.

Run from the repository root::

    python3 perfbench/spread.py --workloads link_batch delta_ingest --seeds 1 2 3 4 5

For every workload and end-to-end metric it prints the median and the
interquartile range as a share of the median (``statistics.quantiles`` with
``n=4``), next to the bound in ``BENCHMARK.json``. ``--out`` also writes
every run's result as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CONTEXT = "perfbench context: "


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict | None, float, dict]:
    """(result JSON or None, wall seconds, the run's context line)."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    context = {}
    for line in proc.stderr.splitlines():
        if line.startswith(CONTEXT):
            context = json.loads(line[len(CONTEXT):])
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        return None, wall, context
    return json.loads(lines[-1]), wall, context


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {"seconds": args.seconds, "trace": args.trace, "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            res, wall, context = run_once(w, seed, args.seconds, args.trace)
            runs.append({"seed": seed, "wall_s": round(wall, 1), "result": res,
                         "context": context})
            print(f"{w} seed {seed}: {wall:.1f}s "
                  f"{'ok' if res and res['correct'] else 'FAILED'}", flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        summary = {}
        for name in sorted(ok[0]["metrics"]) if ok else []:
            vals = [r["metrics"][name]["value"] for r in ok]
            s = spread(vals) if len(vals) >= 2 else float("nan")
            summary[name] = {"median": statistics.median(vals), "spread": s,
                             "bound": bounds.get(name)}
            print(f"  {name:24s} median {statistics.median(vals):12.4f}  "
                  f"spread {s:7.4f}  bound {bounds.get(name)}")
        report["workloads"][w] = {"runs": runs, "summary": summary}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
