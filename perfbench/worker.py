"""One repetition in a fresh process: start Spark, run one workload's job,
measure it, stop Spark, and write the measurements as JSON.

Usage: python3 perfbench/worker.py SPEC_JSON  (written by perfbench/run.py)
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # the repo root, not this directory

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    return raw[raw.rfind(")") + 2 :].split()  # fields from "state" on


def _tree(root: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)] = int(_stat(int(entry))[1])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds of a process tree, reaped children included."""
    ticks = 0
    for pid in _tree(root):
        try:
            f = _stat(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def self_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + self_kb) / 1024


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def spark_written_bytes(spark) -> int:
    """Bytes Spark wrote to files, from the application status store
    (kept whether or not the UI runs)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    gw = spark.sparkContext._gateway
    # every parameter spelled out: py4j cannot use Scala's defaults
    stages = sc.statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    return sum(int(s.outputBytes()) for s in _scala_iter(stages))


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    from aspep_etl_spark.cache import free_cached_blocks
    from aspep_etl_spark.session import get_spark

    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    conf = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if spec.get("event_log"):
        os.makedirs(spec["event_log"], exist_ok=True)
        conf.update(tracing.event_log_conf(spec["event_log"]))

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    result: dict = {"setup_s": time.perf_counter() - t0}
    run_job = WORKLOADS[spec["job"]][0]
    tracer = tracing.Tracer(spark, spec["run_id"]) if spec.get("event_log") else None
    jvm = spark.sparkContext._gateway.proc.pid
    cpu0 = tree_cpu_s(jvm) + self_cpu_s()
    t1 = time.perf_counter()
    out = run_job(spark, spec["inputs"], spec["work"], spec["meta"], tracer)
    result["job_s"] = time.perf_counter() - t1
    result["cpu_s"] = tree_cpu_s(jvm) + self_cpu_s() - cpu0
    result["peak_rss_mb"] = peak_rss_mb(jvm)
    result["written_bytes"] = spark_written_bytes(spark) + out.pop("driver_written_bytes", 0)
    result["blocks_freed"] = free_cached_blocks(spark)
    result["cores"] = spark.sparkContext.defaultParallelism
    spark.stop()
    result["out"] = out
    if tracer is not None:
        log = tracing.read_event_log(spec["event_log"])
        spans = tracer.with_self_time()
        result["spans"] = spans
        result["span_table"] = tracing.span_table(spans, log)
        result["engine"] = tracing.engine_counters(log, result["cores"])
        result["publish_driver_s"] = tracing.driver_only_s(spans, log, "sinks.publish")
    with open(spec["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
