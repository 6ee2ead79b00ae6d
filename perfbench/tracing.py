"""Benchmark-side tracing: spans around calls into the engine's layers,
plus per-layer counters read back from Spark's own event log.

Spans are recorded only from the benchmark's files, by wrapping the layer
functions the workload calls; nothing inside the engine is instrumented.
Each span tags the Spark jobs it launches (job description and a
``perfbench.span`` local property), so the event log attributes jobs,
tasks and bytes to spans.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self._tag(None, None)
            else:
                self._tag(parent, self.spans[parent]["name"])

    def _tag(self, span_id, name) -> None:
        self.sc.setLocalProperty(SPAN_PROPERTY, None if span_id is None else str(span_id))
        self.sc.setJobDescription(name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that runs it inside a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def with_self_time(self) -> list[dict]:
        """Spans plus self time: duration minus the union of child spans."""
        out = []
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]]
            dur = s["end"] - s["start"]
            out.append({**s, "duration_s": dur, "self_s": dur - _union_len(kids)})
        return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _overlap(a: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Length of interval ``a`` covered by the union of ``intervals``."""
    clipped = [(max(a[0], s), min(a[1], e)) for s, e in intervals if e > a[0] and s < a[1]]
    return _union_len(clipped)


def driver_only_s(spans: list[dict], log: dict, name: str) -> float:
    """Time inside spans called ``name`` while no Spark job was running."""
    jobs = [(j["start"], j["end"]) for j in log["jobs"].values()]
    return sum(
        (s["end"] - s["start"]) - _overlap((s["start"], s["end"]), jobs)
        for s in spans
        if s["name"] == name
    )


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the (stopped) application's event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    tasks: list[dict] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000,
                    "span": props.get(SPAN_PROPERTY),
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                rdds = [r.get("Name", "") for r in info.get("RDD Info", [])]
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "tasks": info["Number of Tasks"],
                    "python_bytes": int(acc.get(PY_SENT) or 0) + int(acc.get(PY_RECEIVED) or 0),
                    "scan": any("FileScanRDD" in r for r in rdds),
                }
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.append({
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "duration": (info["Finish Time"] - info["Launch Time"]) / 1000,
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "failed": info.get("Failed", False),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def engine_counters(log: dict, cores: int) -> dict[str, float]:
    """Per-layer counters of the plans and operators layers, plus the
    scan-stage fan-out of the sources layer."""
    tasks, stages = log["tasks"], log["stages"]
    by_stage: dict[tuple, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    skew = 1.0
    multi = [ts for ts in by_stage.values() if len(ts) >= 2]
    if multi:
        # the stage that holds the longest task gates its job the most
        worst = max(multi, key=lambda ts: max(t["duration"] for t in ts))
        med = statistics.median(t["duration"] for t in worst)
        skew = max(t["duration"] for t in worst) / med if med > 0 else 1.0
    shuffle_stages = {t["stage"] for t in tasks if t["shuffle_write"] > 0}
    scans = [s["tasks"] / cores for s in stages.values() if s["scan"]]
    mb = 1024 * 1024
    return {
        "sources.scan_tasks_per_core": statistics.median(scans) if scans else 0.0,
        "plans.spark_jobs": len(log["jobs"]),
        "plans.stages": len(stages),
        "plans.tasks": len(tasks),
        "plans.exchanges": len(shuffle_stages),
        "operators.task_s": sum(t["run_s"] for t in tasks),
        "operators.task_skew": skew,
        "operators.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb,
        "operators.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb,
        "operators.spill_mb": sum(t["spill"] for t in tasks) / mb,
        "operators.gc_s": sum(t["gc_s"] for t in tasks),
        "operators.python_mb": sum(s["python_bytes"] for s in stages.values()) / mb,
    }


def span_table(spans: list[dict], log: dict) -> list[dict]:
    """One row per span name: calls, wall, self time, and the Spark jobs
    and task time attributed to it."""
    job_of: dict[str, list[dict]] = {}
    for j in log["jobs"].values():
        if j["span"] is not None:
            job_of.setdefault(j["span"], []).append(j)
    stage_task_s: dict[int, float] = {}
    for t in log["tasks"]:
        stage_task_s[t["stage"][0]] = stage_task_s.get(t["stage"][0], 0.0) + t["run_s"]
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"span": s["name"], "calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                        "spark_jobs": 0, "task_s": 0.0})
        r["calls"] += 1
        r["wall_s"] += s["duration_s"]
        r["self_s"] += s["self_s"]
        for j in job_of.get(str(s["id"]), []):
            r["spark_jobs"] += 1
            r["task_s"] += sum(stage_task_s.get(st, 0.0) for st in j["stages"])
    return list(rows.values())
