"""Layer-attributed PPRL benchmark.

Run from the repository root::

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 20 --trace 0

One run is one driver process: it starts a local Spark session sized from
the CPU affinity, generates and materialises the seeded inputs, builds any
standing state, runs one untimed warm-up unit, then repeats the workload's
unit (a pass or a probe batch) until ``--seconds`` have passed, checking
every unit's outputs outside the timed region. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` a separate traced run gives the per-layer ones, rolled up
from Spark's event log per job group.

Every file the run writes stays under ``.perfbench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
HERE = os.path.dirname(os.path.abspath(__file__))

# Driver heap per workload (PPRL_DRIVER_MEMORY). link_staged runs on the
# smaller heap its staged, bucketed shape is specified for; delta_ingest
# too: at 2g its resident set stops at a different size in each run
# (1.4-1.9 GB over ten seeds), at 1g it fills the heap and reads steady.
HEAP = {"link_batch": "2g", "link_staged": "1g", "delta_ingest": "1g"}
SETUP_REPEATS = 2  # input preparations per run; setup_s takes their median
T_START = time.perf_counter()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def configure_env(workload: str, work: str, trace: bool) -> str:
    """Point every Spark, JVM and Python scratch location into ``work``."""
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    )
    # every JVM the launcher starts: native-library extraction and scratch
    # files go to java.io.tmpdir; the perf-data file would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PPRL_DRIVER_MEMORY"] = HEAP[workload]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return events


def descendants(pid: int) -> list[int]:
    """Live descendant process ids of ``pid``, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop(spark, jvm_pid: int) -> None:
    """Stop the session, close the JVM it runs in, and wait until the JVM
    and the Python workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = descendants(jvm_pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(alive(c) for c in children):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {children} outlived the JVM")
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pprl_spark")):
        print("perfbench: run from the repository root (pprl_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    import layertrace as tr

    from workloads import WORKLOADS, Checks

    traced = bool(args.trace)
    events = configure_env(args.workload, work, traced)
    cores = len(os.sched_getaffinity(0))
    # half the cores run tasks: each task of the embedding and matching
    # layers pairs a JVM task thread with a Python worker process, and the
    # JVM's JIT compiler and GC threads need the rest. At one task per core
    # the run oversubscribes the host and a core stolen by the hypervisor
    # stalls the whole stage.
    master = f"local[{max(1, cores // 2)}]"

    t_setup = time.perf_counter()
    from pprl_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", master=master)
    session_s = time.perf_counter() - t_setup
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        sc = spark.sparkContext
        tracer = tr.Tracer(sc, traced)
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, tracer)

        prep = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare_inputs(rep)
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.build_state()
        state_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        tracer.pass_id = "warmup"
        for k in range(wl.warmup_units):
            wl.unit(-1 - k)
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep) + state_s + warmup_s

        unit_s: list[float] = []
        failed = 0
        last_failed = False
        loop_start = time.perf_counter()
        ticks0 = cpu_ticks()
        i = 0
        while i < wl.min_units or time.perf_counter() - loop_start < args.seconds:
            # every unit starts from a collected heap: the last unit's checkpoints
            # are released (py4j references, then the JVM's cleaner)
            gc.collect()
            spark._jvm.System.gc()
            checks = Checks()
            tracer.pass_id = i
            try:
                t0 = time.perf_counter()
                with tracer.span("pass"):
                    out = wl.unit(i)
                unit_s.append(time.perf_counter() - t0)
                tracer.pass_id = f"check{i}"
                wl.check(i, out, checks)
                del out
            except Exception:  # a unit that raises counts as failed; keep measuring
                traceback.print_exc()
                checks.failures.append("raised")
            last_failed = bool(checks.failures)
            if last_failed:
                failed += 1
                print(f"perfbench: unit {i} failed: {checks.failures}", file=sys.stderr)
            i += 1
        attempted = i
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        checks = Checks()
        try:
            wl.final_check(checks)
        except Exception:
            traceback.print_exc()
            checks.failures.append("raised")
        if checks.failures:  # the final check belongs to the last unit
            failed += not last_failed
            print(f"perfbench: final check failed: {checks.failures}", file=sys.stderr)

        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        stop(spark, jvm_pid)
    if not unit_s:
        raise RuntimeError("every unit raised; no timing to report")

    p50 = statistics.median(unit_s)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "master": master,
        "heap": HEAP[args.workload],
        "units": len(unit_s),
        # share of the host's CPU time stolen by the hypervisor while
        # measuring: a run with a high share measured a contended host
        "steal": round(ticks[7] / max(1, sum(ticks)), 4),
        "unit_s": [round(x, 4) for x in unit_s],
        "session_s": round(session_s, 3),
        "prep_s": [round(x, 3) for x in prep],
        "state_s": round(state_s, 3),
        "warmup_s": round(warmup_s, 3),
        "f1": wl.f1_values[:1],
        "join_path": wl.join_path,
    }
    if traced:
        metrics = tr.layer_metrics(args.workload, wl, tracer, tr.EventLog(tr.find_event_log(events)))
    else:
        f1 = statistics.median(wl.f1_values) if wl.f1_values else 0.0
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "docs_per_s": {"value": wl.docs_per_unit / p50, "unit": "1/s"},
            "batch_s.p50": {"value": p50, "unit": "s"},
            "f1": {"value": f1, "unit": "ratio"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            "success_rate": {"value": 1.0 - failed / attempted, "unit": "ratio"},
        }
    context["run_wall_s"] = round(time.perf_counter() - T_START, 2)
    print("perfbench context: " + json.dumps(context), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
