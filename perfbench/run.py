"""Benchmark command: run one workload of the engine end to end, check its
outputs, and print its metrics.

    python3 perfbench/run.py --workload aspep_annual --seed 1 --seconds 40 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` under
``.perfbench/`` (removed after the run).  Each repetition runs in a fresh
worker process, so every job is timed in a freshly started Spark session
-- the cost a yearly ETL run or a one-off stream replay pays -- and every
repetition is also one set-up sample.  Repetitions start while
``--seconds`` has room for another, at least one; metrics are medians
over them.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the job
once untraced and once traced (event log on, spans around each layer
call), prints the per-layer metrics, and writes the spans and per-layer
table to ``.perfbench/results/``.  The last stdout line is the JSON
result; the lines before it are a readable table and run details.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # the repo root, not this directory

from perfbench.gen import GENERATORS  # noqa: E402  (needs the engine importable)
from perfbench.workloads import WORKLOADS  # noqa: E402

WORKER_TIMEOUT_S = 170
DRIVER_MEM = "2g"  # well below host RAM; get_spark would default to 16g
YOUNG_GEN = "256m"
MB = 1024 * 1024


def metric_units() -> tuple[dict, dict]:
    """Names and units of the end-to-end and per-layer metrics, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def tail(samples: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least ten samples above it
    (nearest rank), and its value; the median up to twenty samples."""
    xs = sorted(samples)
    n = len(xs)
    p = math.floor(100 * (n - 10) / n)
    if p <= 50:
        return 50, statistics.median(xs)
    return p, xs[math.ceil(p / 100 * n) - 1]


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Kill whatever a worker left behind (its JVM, Python workers) and
    wait until every process of its group has ended."""
    deadline = time.time() + 30
    while _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            raise RuntimeError(f"worker process group {pgid} would not end")
        time.sleep(0.1)


class Run:
    def __init__(self, workload: str, seed: int, scratch: str):
        self.workload, self.seed, self.scratch = workload, seed, scratch
        self.inputs = os.path.join(scratch, "inputs")
        self.meta = GENERATORS[workload](self.inputs, seed)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.inputs)
            for f in fs
            if f != "truth.json"
        )
        self.n = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_s = 0.0

    def rep(self, traced: bool = False) -> dict | None:
        """One worker process; returns its measurements, or None if it
        failed.  Outputs that do not check out count as a failed operation
        but keep their measurements."""
        self.n += 1
        self.attempted += 1
        rep_dir = os.path.join(self.scratch, f"rep{self.n}")
        dirs = {k: os.path.join(rep_dir, k) for k in ("work", "tmp", "local", "events")}
        for d in ("tmp", "local"):
            os.makedirs(dirs[d])
        spec = {
            "job": self.workload,
            "inputs": self.inputs,
            "work": dirs["work"],
            "meta": self.meta,
            "run_id": f"{self.workload}-{self.seed}-{self.n}",
            "event_log": dirs["events"] if traced else None,
            "result": os.path.join(rep_dir, "result.json"),
        }
        spec_path = os.path.join(rep_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": ROOT,
            "PYTHONDONTWRITEBYTECODE": "1",
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            # A fixed young generation: G1 otherwise sizes it from pause
            # times, which follow neighbour load on a shared host, and peak
            # RSS then swings by a third from run to run.
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xmn{YOUNG_GEN}",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        })
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
        with open(os.path.join(rep_dir, "worker.log"), "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), spec_path],
                cwd=rep_dir, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_group(proc.pid)
                proc.wait()
        result = None
        if code == 0 and os.path.exists(spec["result"]):
            with open(spec["result"]) as f:
                result = json.load(f)
        else:
            with open(os.path.join(rep_dir, "worker.log")) as f:
                log_tail = f.read().strip().splitlines()[-40:]
            print("\n".join(log_tail), file=sys.stderr)
            self._fail(f"rep {self.n}: worker {'timed out' if code is None else f'exit {code}'}")
        if result is not None:
            t = time.time()
            errors = WORKLOADS[self.workload][1](self.inputs, self.meta, result["out"])
            self.check_s += time.time() - t
            if errors:
                self._fail(f"rep {self.n}: " + "; ".join(errors[:5]))
        shutil.rmtree(rep_dir, ignore_errors=True)
        return result

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


def end_to_end(run: Run, jobs: list[dict]) -> tuple[dict, dict]:
    med = lambda k: statistics.median(j[k] for j in jobs)  # noqa: E731
    values = {
        "setup_s": med("setup_s"),
        "job_s": med("job_s"),
        "cpu_s": med("cpu_s"),
        "peak_rss_mb": med("peak_rss_mb"),
        "write_amp": med("written_bytes") / run.input_bytes,
        "ok_frac": (run.attempted - run.failed) / run.attempted,
    }
    notes = {"job_samples": len(jobs)}
    batches = [b for j in jobs for b in j["out"].get("batch_s", [])]
    if batches:
        # micro-batch latency: streaming workloads only, so not a metric
        # every workload can report
        p, tail_s = tail(batches)
        notes.update({"batch_p50_s": statistics.median(batches), "batch_tail_s": tail_s,
                      "batch_tail_percentile": p, "batch_samples": len(batches)})
    return values, notes


def per_layer(plain: dict, traced: dict) -> dict:
    spans = traced["spans"]
    out = traced["out"]

    def total(name: str) -> float:
        return sum(s["duration_s"] for s in spans if s["name"] == name)

    adds = out.get("add_batch_s", [])
    triggers = out.get("batch_s", [])
    stores = out.get("store_bytes", [])
    values = {
        "sources.manifest_s": total("sources.manifest"),
        "sources.parse_s": total("sources.parse"),
        "sources.ingest_s": total("sources.ingest"),
        "sources.quarantined": len(out.get("bad_files", [])),
        "plans.build_s": total("plans.build"),
        "sinks.store_write_s": total("sinks.store_write"),
        "sinks.store_files": out["store_files"],
        "sinks.publish_s": total("sinks.publish"),
        "sinks.publish_driver_s": traced["publish_driver_s"],
        "sinks.gzip_s": total("sinks.gzip"),
        "sinks.written_mb": traced["written_bytes"] / MB,
        "streaming.batches": len(triggers),
        "streaming.batch_p50_s": statistics.median(triggers) if triggers else 0.0,
        "streaming.batch_tail_s": tail(triggers)[1] if triggers else 0.0,
        "streaming.add_batch_s": statistics.median(adds) if adds else 0.0,
        "streaming.trigger_overhead_s": (
            statistics.median(t - a for t, a in zip(triggers, adds)) if adds else 0.0
        ),
        "streaming.store_mb_per_batch": statistics.mean(stores) / MB if stores else 0.0,
        "streaming.delta_mb_per_batch": out.get("delta_bytes", 0) / MB,
        "streaming.reshard_s": out.get("reshard_s", 0.0),
        "cache.blocks_freed": traced["blocks_freed"],
        "trace.overhead_s": traced["job_s"] - plain["job_s"],
        **traced["engine"],
    }
    return values


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def calibrate_s() -> float:
    """Time of a fixed single-threaded loop: a host-speed reference for
    reading runs made under different neighbour load."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    return time.perf_counter() - t


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    load_before, steal_before, calib_before = loadavg(), steal_s(), calibrate_s()
    try:
        run = Run(args.workload, args.seed, scratch)
        start = time.time()
        jobs = []
        if args.trace:
            plain, traced = run.rep(), run.rep(traced=True)
            if plain is None or traced is None:
                print("\n".join(run.errors), file=sys.stderr)
                return 1
            metrics, units = per_layer(plain, traced), metric_units()[1]
        else:
            while not jobs or time.time() - start + last < args.seconds:
                t = time.time()
                r = run.rep()
                last = time.time() - t
                if r is None:
                    break
                jobs.append(r)
            if not jobs:
                print("\n".join(run.errors), file=sys.stderr)
                return 1
            metrics, notes = end_to_end(run, jobs)
            units = metric_units()[0]
        details = {
            "workload": args.workload,
            "seed": args.seed,
            "inputs": run.meta,
            "input_bytes": run.input_bytes,
            "loadavg_before": load_before,
            "loadavg_after": loadavg(),
            "steal_s": steal_s() - steal_before,
            "calibrate_s": [calib_before, calibrate_s()],
            "errors": run.errors,
            "check_s": run.check_s,
        }
        if args.trace:
            results = os.path.join(base, "results")
            os.makedirs(results, exist_ok=True)
            path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace.json")
            with open(path, "w") as f:
                json.dump({**details, "per_layer": metrics, "span_table": traced["span_table"],
                           "spans": traced["spans"]}, f, indent=1)
            details["trace_file"] = os.path.relpath(path, ROOT)
            for row in traced["span_table"]:
                print(f"span {row['span']:<20} calls {row['calls']:>3}  wall {row['wall_s']:8.3f} s"
                      f"  self {row['self_s']:8.3f} s  spark jobs {row['spark_jobs']:>4}"
                      f"  task {row['task_s']:8.3f} s")
        else:
            details.update(notes)
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
        metrics = {k: metrics[k] for k in units}
        for k, v in metrics.items():
            print(f"{k:<32} {v:14.4f} {units[k]}")
        if "batch_p50_s" in details:
            print(f"{'batch_p50_s':<32} {details['batch_p50_s']:14.4f} s")
            print(f"{'batch_tail_s':<32} {details['batch_tail_s']:14.4f} s"
                  f"  (p{details['batch_tail_percentile']} of {details['batch_samples']} micro-batches)")
        print(json.dumps(details))
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
