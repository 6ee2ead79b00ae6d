"""End-to-end ASPEP job: the reference's Dagster asset DAG
(definitions.py:23-27) as one composable Spark program.

``scrape → download → combine_years → derive_stats →
derive_extended_stats → publish`` becomes: manifest chain (driver-side,
cached) → Excel adapters → canonical year-partitioned parquet store →
the two analytic plans → JSON-array artifacts (+ optional gzip).

Stage boundaries persist parquet, replacing Dagster's pickled handoffs;
within a stage everything is one lazy Catalyst plan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sinks.publish import gzip_publish, write_canonical_store, write_json_array
from ..sources.excel import ingest_grids, parse_workbook_bytes, parse_workbook_files
from ..sources.manifest import build_year_url_mapping, download_workbooks
from .pipeline import derive_extended_stats, derive_stats


@dataclass
class JobPaths:
    work_dir: str
    raw_dir: str = field(init=False)
    out_dir: str = field(init=False)
    store_dir: str = field(init=False)

    def __post_init__(self) -> None:
        self.raw_dir = os.path.join(self.work_dir, "raw")
        self.out_dir = os.path.join(self.work_dir, "out")
        self.store_dir = os.path.join(self.work_dir, "store")


def run_aspep_job(
    spark: SparkSession,
    paths: JobPaths,
    census_dim: DataFrame | None = None,
    fetch=None,
    fetch_bytes=None,
    grids_by_year: dict | None = None,
    gzip_artifacts: bool = False,
    golden_checks: bool = False,
) -> dict:
    """Run the full pipeline.  Network edges are injectable; alternatively
    pass pre-parsed ``grids_by_year`` to skip scrape/download/Excel-decode
    entirely (the offline/test path).  Returns artifact paths + quarantine.

    ``golden_checks=True`` evaluates the reference's 16 runtime asset
    checks (plans/golden_checks.py) against the produced frames and adds
    the audit under ``result["golden_checks"]`` — the engine-side
    equivalent of the reference's pipeline-attached check gate.  Only
    meaningful on the real corpus; synthetic fixtures won't contain the
    golden cells.
    """
    bad_files: list = []
    if grids_by_year is None:
        mapping_file = os.path.join(paths.out_dir, "year_url_mapping.json")
        mapping = build_year_url_mapping(mapping_file, fetch=fetch) if fetch else {}
        files, bad_dl = download_workbooks(mapping, paths.raw_dir, fetch_bytes)
        bad_files += bad_dl
        # a corrupt workbook quarantines its year, like a failed download;
        # the parser is this module's name, so a wrapper installed on it
        # sees every call
        grids_by_year, bad_parse = parse_workbook_files(files, parse_workbook_bytes)
        bad_files += bad_parse

    fact, bad_ingest = ingest_grids(spark, grids_by_year, census_dim)
    bad_files += bad_ingest

    # Canonical store: year-partitioned parquet; downstream stages read it
    # back so each stage starts from columnar storage, not lineage.
    write_canonical_store(fact, paths.store_dir)
    fact = spark.read.parquet(paths.store_dir)

    stats = derive_stats(fact)
    ext = derive_extended_stats(stats)

    from ..operators.setops import sort_canonical

    artifacts = {
        # reference sorts the combined artifact by (state, year, function)
        # before publishing (assets.py:322) — O1 total sort at publish time
        "combined_data": write_json_array(
            sort_canonical(fact), os.path.join(paths.out_dir, "combined_data.json")
        ),
        "derived_stats": write_json_array(
            stats, os.path.join(paths.out_dir, "aspep_with_derived_stats.json")
        ),
        "extended_stats": write_json_array(
            ext, os.path.join(paths.out_dir, "aspep_with_extended_derived_stats.json")
        ),
    }
    if gzip_artifacts:
        artifacts = {k: gzip_publish(p) for k, p in artifacts.items()}
    result = {"artifacts": artifacts, "bad_files": bad_files, "store": paths.store_dir}
    if golden_checks:
        from .golden_checks import run_golden_checks

        result["golden_checks"] = run_golden_checks(
            spark,
            {"combine_years": fact, "derive_stats": stats, "derive_extended_stats": ext},
        ).collect()
    return result
