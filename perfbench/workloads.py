"""The benchmark's workloads: each has a job, run in a fresh worker process
through the engine's public functions, and a check of that job's outputs,
run by the parent process outside the timed region.

- ``aspep_annual``: the reference's yearly DAG via ``run_aspep_job`` with
  injected fetchers serving generated manifest pages and workbooks.
- ``stream_mv``: ``run_streaming_mv_maintenance`` over a generated event
  log, one micro-batch per shard.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import re
import tempfile
import threading
import time
from datetime import datetime

# Layer functions ``plans.aspep_job`` imports, and the span each is traced
# under.  ``sort_canonical`` is imported inside the job, from its module.
ASPEP_SPANS = [
    ("build_year_url_mapping", "sources.manifest"),
    ("download_workbooks", "sources.manifest"),
    ("parse_workbook_bytes", "sources.parse"),
    ("ingest_grids", "sources.ingest"),
    ("write_canonical_store", "sinks.store_write"),
    ("derive_stats", "plans.build"),
    ("derive_extended_stats", "plans.build"),
    ("write_json_array", "sinks.publish"),
    ("gzip_publish", "sinks.gzip"),
]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _data_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


# ---------------------------------------------------------------------------
# aspep_annual
# ---------------------------------------------------------------------------


def run_aspep(spark, inputs: str, work: str, meta: dict, tracer) -> dict:
    import aspep_etl_spark.operators.setops as setops
    import aspep_etl_spark.plans.aspep_job as aspep_job
    from aspep_etl_spark.sources import census

    if tracer is not None:
        for attr, name in ASPEP_SPANS:
            tracer.wrap(aspep_job, attr, name)
        tracer.wrap(setops, "sort_canonical", "plans.build")
        tracer.wrap(census, "load_census_dim_csv", "sources.census")

    def year_of(url: str) -> str:
        return re.search(r"/(\d{4})[/.]", url).group(1)

    def fetch(url: str) -> str | None:
        path = os.path.join(inputs, "pages", f"{year_of(url)}.html")
        return open(path).read() if os.path.exists(path) else None

    def fetch_bytes(url: str) -> bytes | None:
        path = os.path.join(inputs, "workbooks", f"{year_of(url)}_state.xlsx")
        return open(path, "rb").read() if os.path.exists(path) else None

    dim = census.load_census_dim_csv(spark, os.path.join(inputs, "census_regions.csv"))
    paths = aspep_job.JobPaths(work)
    res = aspep_job.run_aspep_job(
        spark, paths, census_dim=dim, fetch=fetch, fetch_bytes=fetch_bytes, gzip_artifacts=True
    )
    return {
        "artifacts": res["artifacts"],
        "bad_files": res["bad_files"],
        # the raw cache, manifest and artifacts are written by the Python
        # driver; Spark's own output metrics cover the store
        "driver_written_bytes": _dir_bytes(paths.raw_dir) + _dir_bytes(paths.out_dir),
        "store_files": _data_files(paths.store_dir),
    }


def _load_json_gz(path: str):
    import pandas as pd

    with gzip.open(path, "rt") as f:
        return pd.DataFrame(json.load(f))


_KEYS = ["state_code", "gov_function", "year"]
_MEASURES = ["ft_employment", "ft_pay", "pt_employment", "pt_pay", "pt_hour", "pt_hours",
             "ft_eq_employment", "ft_pt_employment", "total_pay"]


def _compare(got, want, label: str) -> list[str]:
    """Every numeric cell of ``want`` against ``got``, keyed by cohort and
    year, at the reference's golden-check tolerance (rel 1e-3).  The
    artifacts publish NaN and ±inf as null, so the oracle's are too."""
    import numpy as np

    g = got.set_index(_KEYS).sort_index()
    w = want.set_index(_KEYS).sort_index()
    if not g.index.is_unique or not g.index.equals(w.index):
        return [f"{label}: {len(g)} rows keyed differently from the oracle's {len(w)}"]
    errors = []
    for c in w.columns:
        if c == "index" or not np.issubdtype(w[c].dtype, np.number):
            continue
        if c not in g.columns:
            errors.append(f"{label}: column {c} missing")
            continue
        gv = g[c].astype(float).to_numpy()
        wv = w[c].astype(float).replace([np.inf, -np.inf], np.nan).to_numpy()
        ok = (np.isnan(gv) & np.isnan(wv)) | np.isclose(gv, wv, rtol=1e-3, atol=1e-9)
        if not ok.all():
            i = int(np.argmin(ok))
            errors.append(f"{label}.{c}: {int((~ok).sum())} cells differ, first at "
                          f"{g.index[i]}: {gv[i]} vs {wv[i]}")
    return errors


_ORACLE_CACHE: dict[str, tuple] = {}


def check_aspep(inputs: str, meta: dict, out: dict) -> list[str]:
    """The combined fact against the generator's ground truth; the stats
    artifacts against the pandas oracle of the reference's semantics."""
    import numpy as np
    import pandas as pd

    from perfbench.gen import BROKEN_YEAR, DIVISIONS, YEARS
    from tests.pandas_oracle import derive_extended_stats_oracle, derive_stats_oracle

    errors = []
    bad_years = sorted(int(b["year"]) for b in out["bad_files"])
    if bad_years != [BROKEN_YEAR]:
        errors.append(f"quarantined years {bad_years}, planted [{BROKEN_YEAR}]")

    comb = _load_json_gz(out["artifacts"]["combined_data"])
    for m in _MEASURES:
        comb[m] = pd.to_numeric(comb[m]).astype(float)
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = pd.DataFrame(json.load(f))
    for m in _MEASURES:
        truth[m] = pd.to_numeric(truth[m]).astype(float)
    joined = truth.merge(comb, on=_KEYS, how="left", suffixes=("", "_got"), indicator=True)
    missing = int((joined["_merge"] != "both").sum())
    if missing:
        errors.append(f"combined_data: {missing} generated rows missing")
    for m in _MEASURES:
        a, b = joined[m].to_numpy(), joined[f"{m}_got"].to_numpy()
        if not ((np.isnan(a) & np.isnan(b)) | (a == b)).all():
            errors.append(f"combined_data.{m}: values differ from the workbooks")
    region = {code: (r, d) for r, d, codes in DIVISIONS for code in codes.split()}
    states = comb[comb["state_code"].isin(list(region))]
    want = states["state_code"].map(lambda c: region[c])
    if list(zip(states["region"], states["division"])) != list(want):
        errors.append("combined_data: census region/division join differs")
    # the reference slice keeps each legacy year's last header row as data
    extra = len(comb) - len(truth)
    if extra != len(YEARS) - 1:
        errors.append(f"combined_data: {extra} rows beyond the generated ones, expected {len(YEARS) - 1}")

    # The oracle is a function of the combined fact alone, so a run computes
    # it once and reuses it for every repetition whose fact is identical.
    comb = comb.sort_values(_KEYS).reset_index(drop=True)
    cached = _ORACLE_CACHE.get(inputs)
    if cached is None or not cached[0].equals(comb):
        stats = derive_stats_oracle(comb)
        cached = _ORACLE_CACHE[inputs] = (comb, stats, derive_extended_stats_oracle(stats))
    errors += _compare(_load_json_gz(out["artifacts"]["derived_stats"]), cached[1], "derived_stats")
    errors += _compare(_load_json_gz(out["artifacts"]["extended_stats"]), cached[2], "extended_stats")
    return errors


# ---------------------------------------------------------------------------
# stream_mv
# ---------------------------------------------------------------------------


def _batch_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        """Per-micro-batch progress, plus the MV store's size after each batch."""

        def __init__(self):
            self.started: float | None = None
            self.batches: list[dict] = []
            self.done = threading.Event()

        def onQueryStarted(self, event):
            self.started = datetime.fromisoformat(event.timestamp.replace("Z", "+00:00")).timestamp()

        def onQueryProgress(self, event):
            p = event.progress
            stores = glob.glob(os.path.join(tempfile.gettempdir(), "mv_stream_*", "store"))
            self.batches.append({
                "rows": p.numInputRows,
                "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000,
                "add_batch_s": p.durationMs.get("addBatch", 0) / 1000,
                "store_bytes": sum(_dir_bytes(s) for s in stores),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    return BatchListener()


def run_stream(spark, inputs: str, work: str, meta: dict, tracer) -> dict:
    from aspep_etl_spark.streaming import mv

    listener = _batch_listener()
    spark.streams.addListener(listener)
    t0 = time.time()
    if tracer is not None:
        tracer.wrap(mv, "run_streaming_mv_maintenance", "streaming.run")
    final = mv.run_streaming_mv_maintenance(
        spark, os.path.join(inputs, "events.parquet"), n_splits=meta["shards"]
    )
    rows = [tuple(r) for r in final.collect()]
    columns = final.columns
    if not listener.done.wait(60):
        raise RuntimeError("streaming query never reported termination")
    spark.streams.removeListener(listener)
    batches = [b for b in listener.batches if b["rows"] > 0]
    shard_dirs = glob.glob(os.path.join(tempfile.gettempdir(), "mv_stream_*", "shards"))
    stores = glob.glob(os.path.join(tempfile.gettempdir(), "mv_stream_*", "store"))
    return {
        "columns": columns,
        "rows": rows,
        "batch_s": [b["trigger_s"] for b in batches],
        "add_batch_s": [b["add_batch_s"] for b in batches],
        "store_bytes": [b["store_bytes"] for b in batches],
        "delta_bytes": sum(_dir_bytes(d) for d in shard_dirs) / max(1, len(batches)),
        "reshard_s": listener.started - t0,
        "store_files": sum(_data_files(s) for s in stores),
    }


def _oracle(inputs: str, sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        path = os.path.join(inputs, "events.parquet")
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        return con.sql(sql).df()
    finally:
        con.close()


def _registry_mismatch(label: str, columns: list[str], rows: list, want) -> list[str]:
    """Spark rows against a DuckDB oracle frame, exactly, as the registry's
    correctness sweep compares them."""
    import pandas as pd

    from tools.check_correctness import canon, value_match

    exact, _, detail = value_match(canon(pd.DataFrame(rows, columns=columns)), canon(want))
    return [] if exact else [f"{label}: differs from the oracle:{detail}"]


def check_stream(inputs: str, meta: dict, out: dict) -> list[str]:
    """The final MV against the registry's flat-recompute DuckDB oracle."""
    from __spark_entry__ import oracle_sql

    errors = []
    if len(out["batch_s"]) != meta["shards"]:
        errors.append(f"{len(out['batch_s'])} micro-batches, expected {meta['shards']}")
    want = _oracle(inputs, oracle_sql()["streaming_mv_maintenance"])
    return errors + _registry_mismatch("final MV", out["columns"], out["rows"], want)


WORKLOADS = {
    "aspep_annual": (run_aspep, check_aspep),
    "stream_mv": (run_stream, check_stream),
}
