"""Full-pipeline parity: Spark plans vs the eager-pandas oracle on the
synthetic ASPEP fixture — every cell of every derived column, rel_tol=1e-3
(the reference's golden-check tolerance, asset_checks.py:60)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from aspep_etl_spark.plans import derive_extended_stats, derive_stats

from .aspep_fixture import make_combined_fact
from .pandas_oracle import derive_extended_stats_oracle, derive_stats_oracle

KEYS = ["state_code", "gov_function", "year"]


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    # NO inf→nan coercion: reference-exact pct deltas carry ±inf and the
    # comparison must match them against the oracle's ±inf literally
    # (np.isclose(inf, inf) is True).
    return pdf.sort_values(KEYS).reset_index(drop=True)


def _compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, cols):
    s, o = _norm(spark_pdf), _norm(oracle_pdf)
    assert len(s) == len(o), f"row count {len(s)} != oracle {len(o)}"
    mismatches = []
    for c in cols:
        sv, ov = s[c].to_numpy(dtype=float), o[c].to_numpy(dtype=float)
        both_nan = np.isnan(sv) & np.isnan(ov)
        close = np.isclose(sv, ov, rtol=1e-3, atol=1e-9, equal_nan=False)
        bad = ~(both_nan | close)
        if bad.any():
            i = int(np.argmax(bad))
            mismatches.append((c, int(bad.sum()), s.loc[i, KEYS].tolist(), sv[i], ov[i]))
    assert not mismatches, f"{len(mismatches)} mismatching cols, first: {mismatches[:3]}"


@pytest.fixture(scope="module")
def fixture_pdf():
    return make_combined_fact()


@pytest.fixture(scope="module")
def stats_pair(spark, fixture_pdf):
    sdf = spark.createDataFrame(fixture_pdf)
    spark_stats = derive_stats(sdf)
    oracle_stats = derive_stats_oracle(fixture_pdf)
    return spark_stats, oracle_stats


def test_derive_stats_parity(stats_pair):
    spark_stats, oracle = stats_pair
    pdf = spark_stats.toPandas()
    value_cols = [
        c
        for c in oracle.columns
        if c not in ("state", "region", "division", "state_scope") and pd.api.types.is_numeric_dtype(oracle[c])
        and c != "index"
    ]
    # US-median/US-mean rows have no year-key collision with fact rows
    _compare(pdf, oracle, value_cols)


def test_derive_stats_golden_cells(stats_pair):
    """Point lookups in the style of the reference's golden checks."""
    spark_stats, oracle = stats_pair
    pdf = _norm(spark_stats.toPandas())
    opdf = _norm(oracle)
    for code, fn, year, col in [
        ("MO", "corrections", 2024, "pay_per_fte"),
        ("CA", "hospitals", 2020, "pay_per_ft"),
        ("US-median", "libraries", 2020, "total_pay"),
        ("US-mean", "highways", 2023, "pay_per_fte"),
    ]:
        s = pdf[(pdf.state_code == code) & (pdf.gov_function == fn) & (pdf.year == year)][col]
        o = opdf[(opdf.state_code == code) & (opdf.gov_function == fn) & (opdf.year == year)][col]
        assert len(s) == len(o) == 1
        sv, ov = float(s.iloc[0]), float(o.iloc[0])
        if math.isnan(ov):
            assert math.isnan(sv)
        else:
            assert math.isclose(sv, ov, rel_tol=1e-3), (code, fn, year, col, sv, ov)


def test_derive_extended_stats_parity(spark, stats_pair):
    spark_stats, oracle_stats = stats_pair
    ext = derive_extended_stats(spark_stats)
    pdf = ext.toPandas()
    oracle = derive_extended_stats_oracle(oracle_stats)
    derived = [
        c
        for c in oracle.columns
        if c.endswith(("_pct", "_abs", "_rank"))
    ]
    _compare(pdf, oracle, derived)

