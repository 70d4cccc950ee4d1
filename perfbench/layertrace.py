"""Layer spans and Spark event-log rollups for the benchmark's traced run.

Spans are recorded from the benchmark's own code, around each call into a
library layer. While a span is open, the Spark job group is
``<layer>@<unit>`` of the innermost span, so every job Spark runs is
attributed to exactly one (layer, unit) pair. After the session stops,
:class:`EventLog` reads the uncompressed event log and
:func:`layer_metrics` sums ``SparkListenerTaskEnd`` metrics per job group.

With tracing off, :class:`Tracer` records nothing and sets no job group.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager

LAYERS = (
    "embedding",
    "blocking",
    "candidates",
    "matching",
    "cluster",
    "incremental",
    "pipeline",
)

# SQL-metric names of the Python worker boundary (mapInPandas/Arrow UDFs)
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Tracer:
    """In-memory spans: (name, start, end, parent, pass id)."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    def _set_group(self) -> None:
        if self._stack:
            s = self.spans[self._stack[-1]]
            self.sc.setJobGroup(f"{s['name']}@{s['pass']}", s["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._set_group()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group()

    def self_times(self) -> dict[int, dict[str, float]]:
        """{pass: {span name: self seconds}}, summed over same-named spans.

        Self time is a span's duration minus the time its child spans cover.
        """
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[int, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            own = s["end"] - s["start"] - child.get(i, 0.0)
            per = out.setdefault(s["pass"], {})
            per[s["name"]] = per.get(s["name"], 0.0) + own
        return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def find_event_log(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


class EventLog:
    """Task metrics of one application, keyed by job group and SQL execution."""

    def __init__(self, path: str):
        self.job_group: dict[int, str] = {}
        self.job_exec: dict[int, int | None] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.exec_start: dict[int, int] = {}
        self.exec_end: dict[int, int] = {}
        self.exec_desc: dict[int, str] = {}
        self.exec_plan: dict[int, dict] = {}
        self.acc_type: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.job_group[jid] = props.get("spark.jobGroup.id") or ""
                    eid = props.get("spark.sql.execution.id")
                    self.job_exec[jid] = int(eid) if eid not in (None, "") else None
                    for sid in ev.get("Stage IDs", []):
                        self.stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(self._task_row(ev))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    eid = ev["executionId"]
                    self.exec_start[eid] = ev["time"]
                    self.exec_desc[eid] = ev.get("physicalPlanDescription", "")
                    self._plan(eid, ev.get("sparkPlanInfo"))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    eid = ev["executionId"]
                    self._plan(eid, ev.get("sparkPlanInfo"))
                elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                    for m in ev.get("sqlPlanMetrics", []):
                        self.acc_type[m["accumulatorId"]] = m["metricType"]
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    self.exec_end[ev["executionId"]] = ev["time"]
        for t in self.tasks:
            jid = self.stage_job.get(t["stage"])
            t["job"] = jid
            t["group"] = self.job_group.get(jid, "")
            t["exec"] = self.job_exec.get(jid)

    def _plan(self, eid: int, info: dict | None) -> None:
        if not info:
            return
        self.exec_plan[eid] = info  # the last (final adaptive) plan wins
        for node in _plan_nodes(info):
            for m in node.get("metrics", []):
                self.acc_type[m["accumulatorId"]] = m["metricType"]

    def execs_of(self, groups: set[str]) -> list[int]:
        return sorted(
            {e for j, e in self.job_exec.items() if e is not None and self.job_group[j] in groups}
        )

    def join_summary_execs(self, execs: list[int]) -> tuple[int, int, int]:
        """(inner-join output rows, broadcast joins, sort-merge joins) over
        the final plans of SQL executions ``execs``."""
        acc_ids: set[int] = set()
        n_bhj = n_smj = 0
        for e in execs:
            for node in _plan_nodes(self.exec_plan.get(e, {})):
                name = node.get("nodeName", "")
                if name not in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
                    continue
                if " Inner" not in node.get("simpleString", ""):
                    continue
                n_bhj += name == "BroadcastHashJoin"
                n_smj += name == "SortMergeJoin"
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        acc_ids.add(m["accumulatorId"])
        wanted = set(execs)
        rows = 0
        for t in self.tasks:
            if t["exec"] in wanted:
                rows += sum(v for k, v in t["acc"].items() if k in acc_ids)
        return int(rows), n_bhj, n_smj

    def exec_seconds(self, eid: int) -> float:
        return (self.exec_end.get(eid, 0) - self.exec_start.get(eid, 0)) / 1000.0

    def _task_row(self, ev: dict) -> dict:
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        acc: dict[int, float] = {}
        py_s = arrow = 0.0
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            try:
                v = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            acc[a["ID"]] = v
            name = a.get("Name", "")
            if name == PY_TIME:  # plan events precede the tasks that update them
                py_s += v / (1e9 if self.acc_type.get(a["ID"]) == "nsTiming" else 1e3)
            elif name in (PY_SENT, PY_RECV):
                arrow += v
        return {
            "stage": ev.get("Stage ID"),
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "spill": m.get("Disk Bytes Spilled", 0),
            "python_s": py_s,
            "arrow": arrow,
            "acc": acc,
        }


def rollup(tasks: list[dict]) -> dict[str, float]:
    """Task-metric rollup of a set of tasks (one layer in one unit)."""
    return {
        "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "tasks": float(len(tasks)),
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / 2**20,
        "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
        "task_skew": _skew(tasks),
        "python_s": sum(t["python_s"] for t in tasks),
        "arrow_mb": sum(t["arrow"] for t in tasks) / 2**20,
    }


def _skew(tasks: list[dict]) -> float:
    """max / median task run time in the stage with the most task time."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return float(max(runs) / med) if med > 0 else 1.0


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run
# ---------------------------------------------------------------------------

_WRITE_PATH = re.compile(r"Arguments: file:(\S+?), (?:true|false),")
_STAGE_TABLE = re.compile(r"pprl_stage_[0-9a-f]{8}_([a-z_]+)")
COMMON = ("wall_s", "cpu_s", "gc_s", "tasks", "shuffle_write_mb", "shuffle_read_mb",
          "spill_mb", "task_skew", "rows_out")
PYTHON_LAYERS = ("embedding", "matching")


def metric_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = [f"{layer}.{m}" for layer in LAYERS for m in COMMON]
    names += [f"{layer}.{m}" for layer in PYTHON_LAYERS for m in ("python_s", "arrow_mb")]
    names += ["candidates.join_rows", "candidates.pairs_out", "candidates.yield",
              "candidates.broadcast", "cluster.edges_in", "cluster.driver_path",
              "pipeline.stage_write_s", "pipeline.metrics_scan_s",
              "pipeline.bytes_written_mb", "pipeline.resume_s",
              "trace.pass_s", "trace.layer_cover"]
    return names


def _exec_stage(log: EventLog, eid: int, base: str) -> str | None:
    """Stage table (or ``_metrics``) an SQL execution writes, if any."""
    desc = log.exec_desc.get(eid, "")
    m = _WRITE_PATH.search(desc)
    if m and os.path.abspath(m.group(1)).startswith(base + os.sep):
        return os.path.relpath(os.path.abspath(m.group(1)), base).split(os.sep)[0]
    m = _STAGE_TABLE.search(desc)
    return m.group(1) if m else None


def split_pipeline(log: EventLog, group: str, base: str, stage_layer: dict[str, str]):
    """Attribute the jobs of one ``run_linkage`` call to layers.

    A job belongs to the stage table its SQL execution writes; a job that
    writes none (a count the stage's build runs, a read-back) belongs to
    the next job that does. ``_metrics`` writes belong to ``pipeline``.
    Returns (job id -> layer, seconds of ``_metrics`` writes, seconds of
    stage-table writes), the seconds from SQL execution start/end events.
    """
    jobs = sorted(j for j, g in log.job_group.items() if g == group)
    labels = [
        _exec_stage(log, log.job_exec[j], base) if log.job_exec[j] is not None else None
        for j in jobs
    ]
    nxt = None
    for k in range(len(labels) - 1, -1, -1):
        if labels[k] is None:
            labels[k] = nxt
        else:
            nxt = labels[k]
    job_layer = {
        j: "pipeline" if lab in (None, "_metrics") else stage_layer.get(lab, "pipeline")
        for j, lab in zip(jobs, labels)
    }
    scan_s = write_s = 0.0
    seen: set[int] = set()
    for j in jobs:
        e = log.job_exec[j]
        if e is None or e in seen:
            continue
        seen.add(e)
        m = _WRITE_PATH.search(log.exec_desc.get(e, ""))
        stage = _exec_stage(log, e, base) if m else None
        if stage == "_metrics":
            scan_s += log.exec_seconds(e)
        elif stage is not None:
            write_s += log.exec_seconds(e)
    return job_layer, scan_s, write_s


def layer_metrics(workload: str, wl, tracer: Tracer, log: EventLog) -> dict[str, dict]:
    """Median over measured passes of every per-layer metric."""
    from workloads import STAGE_LAYER

    selfs = tracer.self_times()
    passes = sorted(p for p in selfs if isinstance(p, int))
    per_pass: list[dict[str, float]] = []
    for p in passes:
        st = selfs[p]
        rows = wl.layer_rows.get(p, {})
        v: dict[str, float] = {}
        if workload == "link_staged":
            job_layer, scan_s, write_s = split_pipeline(
                log, f"pipeline@{p}", os.path.abspath(wl.bases[p]), STAGE_LAYER
            )
            task_sets = {
                layer: [t for t in log.tasks if job_layer.get(t["job"]) == layer]
                for layer in LAYERS
            }
            walls = {layer: 0.0 for layer in LAYERS}
            for key, wall in rows.items():
                if key.startswith("wall:"):
                    walls[STAGE_LAYER.get(key[5:], "pipeline")] += wall
            walls["pipeline"] = st.get("pipeline", 0.0) - sum(
                w for layer, w in walls.items() if layer != "pipeline"
            )
            cand_execs = sorted({log.job_exec[j] for j, layer in job_layer.items()
                                 if layer == "candidates" and log.job_exec[j] is not None})
            v["pipeline.stage_write_s"] = write_s
            v["pipeline.metrics_scan_s"] = scan_s
            v["pipeline.bytes_written_mb"] = rows.get("pipeline.bytes_written_mb", 0.0)
            v["pipeline.resume_s"] = wl.resume_s
        else:
            task_sets = {
                layer: [t for t in log.tasks if t["group"] == f"{layer}@{p}"]
                for layer in LAYERS
            }
            walls = {layer: st.get(layer, 0.0) for layer in LAYERS}
            cand_execs = log.execs_of({f"candidates@{p}"})
        for layer in LAYERS:
            r = rollup(task_sets[layer])
            v[f"{layer}.wall_s"] = walls[layer]
            for m in COMMON[1:-1]:
                v[f"{layer}.{m}"] = r[m]
            v[f"{layer}.rows_out"] = float(rows.get(layer, 0))
            if layer in PYTHON_LAYERS:
                v[f"{layer}.python_s"] = r["python_s"]
                v[f"{layer}.arrow_mb"] = r["arrow_mb"]
        join_rows, n_bhj, n_smj = log.join_summary_execs(cand_execs)
        v["candidates.join_rows"] = float(join_rows)
        v["candidates.pairs_out"] = float(rows.get("candidates", 0))
        v["candidates.yield"] = v["candidates.pairs_out"] / join_rows if join_rows else 0.0
        v["candidates.broadcast"] = float(n_bhj > 0 and n_smj == 0)
        v["cluster.edges_in"] = float(rows.get("cluster.edges_in", 0))
        v["cluster.driver_path"] = float(rows.get("cluster.driver_path", 0))
        pass_s = sum(s["end"] - s["start"] for s in tracer.spans
                     if s["name"] == "pass" and s["pass"] == p)
        v["trace.pass_s"] = pass_s
        v["trace.layer_cover"] = sum(walls.values()) / pass_s if pass_s else 0.0
        per_pass.append(v)
    out = {}
    for name in metric_names():
        vals = [pp.get(name, 0.0) for pp in per_pass]
        out[name] = {"value": float(statistics.median(vals)) if vals else 0.0,
                     "unit": _unit(name)}
    return out


def _unit(name: str) -> str:
    m = name.split(".")[-1]
    if m.endswith("_s"):
        return "s"
    if m.endswith("_mb"):
        return "MB"
    if m in ("task_skew", "yield", "layer_cover"):
        return "ratio"
    if m in ("broadcast", "driver_path"):
        return "flag"
    if m == "tasks":
        return "count"
    return "rows"
