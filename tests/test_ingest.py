"""Ingest-adapter tests (FIXTURES.md §3/§4): legacy header-grid era and
2024 tidy era, including quarantine and the census dimension join."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from aspep_etl_spark import schema
from aspep_etl_spark.sources.excel import (
    collapse_headers,
    ingest_grids,
    legacy_grid_to_frame,
    tidy_2024_to_frame,
)


def legacy_grid_2003():
    """Header window rows 1-3 (maps.HEADER_WINDOWS[2003]) with paren units,
    a fully-empty column, dirty state/function spellings."""
    return [
        ["STATE GOVERNMENT EMPLOYMENT AND PAYROLL DATA: MARCH 2003", None, None, None, None, None],
        [None, None, "Full-Time", "Full-Time", "Part-Time", None],
        ["State", "Function", "Employees", "Pay", "Employees", None],
        [None, None, None, "(whole dollars)", None, None],
        ["Alabama  ", "Correction", "5000", "12500000", "300", None],
        ["Alabama  ", "Streets & Hwys", "4000", "9000000", "100", None],
        ["Wisconsin", "Judicial-Legal", "2500", "7300000", "200", None],
        ["United States", "Correction", "400000", "990000000", "20000", None],
    ]


def tidy_frame_2024():
    return pd.DataFrame(
        {
            "Geographic Area Name": ["Missouri", "Iowa", "United States"],
            "Meaning of Aggregate Description": ["Corrections", "Hospitals", "Corrections"],
            "Full-Time Employment": ["9,591", "(42)", "−7"],
            "Full-Time Payroll": ["38,884,335", "120,000", "N/A"],
            "Part-Time Employment": ["10", "20", "30"],
            "Part-Time Payroll": ["1,000", "2,000", "3,000"],
            "Part-Time Hours": ["100", "200", "300"],
            "Full-Time Equivalent Employment": ["9,600", "50", "1000"],
            "Total Full-Time and Part-Time Employment": ["9,601", "62", "1030"],
            "Total Full-Time and Part-Time Payroll": ["38,885,335", "122,000", "993,000"],
            "Unmapped Extra 1": ["x", "y", "z"],
            "Unmapped Extra 2": ["1", "2", "3"],
        }
    )


def census_dim(spark):
    rows = [
        ("AL", "Alabama", "South", "East South Central"),
        ("WI", "Wisconsin", "Midwest", "East North Central"),
        ("MO", "Missouri", "Midwest", "West North Central"),
        ("IA", "Iowa", "Midwest", "West North Central"),
    ]
    return spark.createDataFrame(rows, schema.census_dim_schema())


def test_collapse_headers_slugify_and_forced_names():
    cols = collapse_headers(legacy_grid_2003(), 1, 3)
    assert cols[0] == "state"
    assert cols[1] == "gov_function"
    assert cols[2] == "fulltime_employees"
    assert cols[3] == "fulltime_pay"  # "(whole dollars)" stripped
    assert cols[4] == "parttime_employees"


def test_legacy_grid_to_frame_canonical_columns():
    pdf = legacy_grid_to_frame(legacy_grid_2003(), 2003)
    assert "ft_employment" in pdf.columns and "ft_pay" in pdf.columns
    # empty column dropped
    assert len(pdf.columns) == 5
    # 4 data rows + the retained last header row (reference iloc[end:] quirk)
    assert len(pdf) == 5
    assert pdf.iloc[0]["ft_pay"] == "(whole dollars)"  # the retained header row


def test_tidy_2024_cleanse():
    pdf = tidy_2024_to_frame(tidy_frame_2024())
    assert list(pdf["ft_employment"]) == [9591.0, -42.0, -7.0]
    assert math.isnan(pdf["ft_pay"][2])  # N/A → NaN
    assert "Unmapped Extra 1" not in pdf.columns
    # tidy era emits pt_hours, never pt_hour
    assert "pt_hours" in pdf.columns and "pt_hour" not in pdf.columns


def test_ingest_grids_end_to_end(spark):
    fact, bad = ingest_grids(
        spark,
        {
            2003: legacy_grid_2003(),
            2024: tidy_frame_2024(),
            2010: [["broken"]],  # header window beyond grid → quarantined
            1999: legacy_grid_2003(),  # outside year range → skipped
        },
        census_dim=census_dim(spark),
    )
    assert [b["year"] for b in bad] == [2010]
    rows = {(r["state_code"], r["gov_function"], r["year"]): r for r in fact.collect()}

    al = rows[("AL", "corrections", 2003)]
    assert al["state"] == "Alabama" and al["region"] == "South"
    assert al["ft_employment"] == 5000.0 and al["state_scope"] == "state"

    hwy = rows[("AL", "highways", 2003)]  # "Streets & Hwys" recoded
    assert hwy["ft_pay"] == 9000000.0

    wi = rows[("WI", "judicial and legal", 2003)]
    assert wi["division"] == "East North Central"

    us = rows[("US", "corrections", 2003)]
    assert us["state"] is None and us["region"] is None
    assert us["state_scope"] == "national"

    mo = rows[("MO", "corrections", 2024)]
    assert mo["ft_employment"] == 9591.0
    assert mo["pt_hours"] == 100.0 and mo["pt_hour"] is None

    # legacy era: pt_hour column exists, pt_hours is null
    assert al["pt_hours"] is None


def test_ingest_empty_input(spark):
    fact, bad = ingest_grids(spark, {})
    assert fact.count() == 0 and bad == []


def test_ingest_grids_one_frame(spark, tmp_path):
    """All kept years reach Spark as one frame: a bad year is quarantined,
    the others keep their own 0-based ``index``, the plan holds no Union,
    and a year-partitioned store write makes about one file per year rather
    than one per (year, core)."""
    from aspep_etl_spark.sinks import write_canonical_store

    fact, bad = ingest_grids(
        spark,
        {2003: legacy_grid_2003(), 2010: [["broken"]], 2024: tidy_frame_2024()},
    )
    assert [b["year"] for b in bad] == [2010]

    by_year: dict = {}
    for r in fact.select("year", "index").collect():
        by_year.setdefault(r["year"], []).append(r["index"])
    assert {y: sorted(ix) for y, ix in by_year.items()} == {
        2003: list(range(5)),  # 4 data rows + the retained header row
        2024: list(range(3)),
    }

    assert "Union" not in fact._jdf.queryExecution().optimizedPlan().toString()

    store = tmp_path / "store"
    write_canonical_store(fact, str(store))
    files = list(store.rglob("*.parquet"))
    assert len(files) <= spark.sparkContext.defaultParallelism + len(by_year) - 1
