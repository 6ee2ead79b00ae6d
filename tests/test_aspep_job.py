"""Full ASPEP job composition: sources → store → plans → artifacts, plus
S7 CSV dim source and S10 JSON artifact re-scan."""

from __future__ import annotations

import json

from aspep_etl_spark.plans.aspep_job import JobPaths, run_aspep_job
from aspep_etl_spark.sources.census import (
    census_dim_from_rows,
    load_census_dim_csv,
    read_json_artifact,
)

from .test_ingest import census_dim, legacy_grid_2003, tidy_frame_2024
from .xlsx_fixture import aspep_2024_xlsx_bytes, xlsx_bytes


def test_csv_dim_source(spark, tmp_path):
    csv = tmp_path / "regions.csv"
    csv.write_text(
        "State,State Code,Region,Division\n"
        "Alabama,AL,South,East South Central\n"
        "Wisconsin,WI,Midwest,East North Central\n"
    )
    dim = load_census_dim_csv(spark, str(csv))
    rows = {r["state_code"]: r for r in dim.collect()}
    assert rows["AL"]["division"] == "East South Central"
    assert dim.columns == ["state_code", "state", "region", "division"]


def test_full_job_offline(spark, tmp_path):
    paths = JobPaths(str(tmp_path))
    result = run_aspep_job(
        spark,
        paths,
        census_dim=census_dim(spark),
        grids_by_year={2003: legacy_grid_2003(), 2024: tidy_frame_2024()},
    )
    assert result["bad_files"] == []

    # S10: re-scan the published pretty-printed JSON arrays with Spark
    combined = read_json_artifact(spark, result["artifacts"]["combined_data"])
    # 4 legacy + 3 tidy data rows + 1 retained last-header pseudo-row
    # (reference iloc[end:] slice quirk, sources/excel.py)
    assert combined.count() == 8
    ext = read_json_artifact(spark, result["artifacts"]["extended_stats"])
    mo = ext.filter(
        (ext.state_code == "MO") & (ext.gov_function == "corrections") & (ext.year == 2024)
    ).collect()[0]
    assert round(mo["pay_per_fte"], 2) == round(38885335 / 9600, 2)
    # cohort-stat pseudo rows present with scope label
    assert ext.filter(ext.state_code == "US-median").count() > 0

    # byte-parity of the published artifact with the reference serializer:
    # round-tripping the file through pandas to_json(orient="records",
    # indent=4) — the exact call the reference makes (assets.py:325) —
    # must reproduce our bytes identically (key order, ':' spacing, float
    # shape, null form)
    import pandas as pd

    raw = open(result["artifacts"]["derived_stats"]).read()
    assert pd.DataFrame(json.loads(raw)).to_json(orient="records", indent=4) == raw

    # golden-check style point lookup straight from the artifact file
    with open(result["artifacts"]["derived_stats"]) as f:
        rows = json.load(f)
    wi = [
        r for r in rows
        if r["state_code"] == "WI" and r["gov_function"] == "judicial and legal"
    ]
    assert wi and wi[0]["ft_pay"] == 7300000.0


def test_job_quarantines_corrupt_workbook(spark, tmp_path):
    """A downloaded workbook that fails to parse quarantines its year with
    its file and reason; the other years still publish every artifact."""
    import os

    served = {
        2003: xlsx_bytes(legacy_grid_2003()),
        2023: b"PK\x03\x04 truncated, not a workbook",
        2024: aspep_2024_xlsx_bytes(),
    }

    def fetch(url):
        for year in served:
            if f"/{year}" in url:
                link = f"https://www2.census.gov/data/{year}/aspep_{year}.xlsx"
                return f'<a href="{link}">State Government Employment &amp; Payroll Data</a>'
        return None

    def fetch_bytes(url):
        return next(v for y, v in served.items() if f"aspep_{y}." in url)

    result = run_aspep_job(
        spark, JobPaths(str(tmp_path)), census_dim=census_dim(spark),
        fetch=fetch, fetch_bytes=fetch_bytes,
    )
    assert [int(b["year"]) for b in result["bad_files"]] == [2023]
    assert result["bad_files"][0]["file"].endswith("aspep_2023.xlsx")
    assert result["bad_files"][0]["reason"]
    assert set(result["artifacts"]) == {"combined_data", "derived_stats", "extended_stats"}
    for path in result["artifacts"].values():
        assert os.path.getsize(path) > 0
    with open(result["artifacts"]["combined_data"]) as f:
        assert {r["year"] for r in json.load(f)} == {2003, 2024}
