"""Chunked wide-kernel equivalence: the Arrow-batched yoy/rank kernels must
produce identical results whether a shuffle partition is processed whole or
streamed in tiny chunks (skew safety — VERDICT r3 item 1).

The chunked kernels bound memory at ~chunk_rows regardless of partition
size; these tests force pathological chunking (chunk_rows far below the
cohort size, plus a deliberately skewed single-cohort frame) and pin exact
equality against independent references: the unchunked JVM-expression
twins, and for the legacy ``pct_change`` deltas the pandas oracle's pad
formula.
"""

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from aspep_etl_spark.operators.windows import (
    cohort_ranks,
    ranks_wide,
    signed_delta_ranks,
    yoy_deltas,
    yoy_deltas_wide,
)

from .pandas_oracle import legacy_pct_change


def _mk_frame(spark, n_cohorts, rows_per_cohort, seed=7):
    """Frame with gaps, zeros, nulls and ties across several metrics."""
    rng = random.Random(seed)
    rows = []
    for s in range(n_cohorts):
        state = f"S{s:02d}"
        fn = f"fn{s % 3}"
        year = 2000
        for _ in range(rows_per_cohort):
            year += rng.choice([1, 1, 1, 2])  # gap years
            m1 = rng.choice([None, 0.0, 0.0, float(rng.randint(-5, 50))])
            m2 = rng.choice([None, float(rng.randint(0, 9))])  # ties likely
            rows.append((state, fn, year, m1, m2))
    return spark.createDataFrame(
        rows, "state_code string, gov_function string, year int, m1 double, m2 double"
    )


def _collect_sorted(df):
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    key = lambda r: tuple((v is None, v) for v in r)
    return cols, sorted(rows, key=key)


def _assert_frames_equal(a, b):
    ca, ra = _collect_sorted(a)
    cb, rb = _collect_sorted(b)
    assert ca == cb
    assert len(ra) == len(rb)
    for x, y in zip(ra, rb):
        for cx, vx, vy in zip(ca, x, y):
            if vx is None or vy is None:
                assert vx is vy is None, (cx, vx, vy)
            elif isinstance(vx, float):
                if math.isnan(vx) or math.isnan(vy):
                    assert math.isnan(vx) and math.isnan(vy), (cx, vx, vy)
                elif math.isinf(vx) or math.isinf(vy):
                    assert vx == vy, (cx, vx, vy)
                else:
                    assert vx == pytest.approx(vy, rel=1e-12, abs=1e-12), (cx, vx, vy)
            else:
                assert vx == vy, (cx, vx, vy)


KEYS = ["state_code", "gov_function"]
METRICS = ["m1", "m2"]
LAGS = {1: "1yr", 4: "5yr"}


def _assert_yoy_matches_references(df, got):
    """``_abs`` columns equal the JVM window twin (plain ``diff``);
    ``_pct`` columns equal the oracle's legacy pad formula, per cohort in
    year order — ±inf against ±inf, NaN/null against NaN/null."""
    order = KEYS + ["year"]
    abs_cols = [f"{c}_{lbl}_abs" for c in METRICS for lbl in LAGS.values()]
    _assert_frames_equal(
        yoy_deltas(df, KEYS, ["year"], METRICS).select(*order, *abs_cols),
        got.select(*order, *abs_cols),
    )
    pct_cols = [f"{c}_{lbl}_pct" for c in METRICS for lbl in LAGS.values()]
    exp = df.toPandas().sort_values(order).reset_index(drop=True)
    for c in METRICS:
        for k, lbl in LAGS.items():
            exp[f"{c}_{lbl}_pct"] = exp.groupby(KEYS)[c].transform(
                lambda s, k=k: legacy_pct_change(s, k)
            )
    act = got.select(*order, *pct_cols).toPandas().sort_values(order).reset_index(drop=True)
    assert act[order].equals(exp[order])
    np.testing.assert_allclose(
        act[pct_cols].to_numpy(float), exp[pct_cols].to_numpy(float), rtol=1e-12, atol=1e-12
    )


def test_yoy_chunked_matches_window_expressions(spark):
    df = _mk_frame(spark, n_cohorts=9, rows_per_cohort=25)
    got = yoy_deltas_wide(df, KEYS, ["year"], METRICS, chunk_rows=7)
    _assert_yoy_matches_references(df, got)


def test_yoy_chunked_skewed_single_cohort(spark):
    # one giant cohort — every chunk boundary falls mid-cohort, so the
    # lag/ffill carry is exercised on every flush
    df = _mk_frame(spark, n_cohorts=1, rows_per_cohort=400)
    got = yoy_deltas_wide(df, KEYS, ["year"], METRICS, chunk_rows=16)
    _assert_yoy_matches_references(df, got)


def test_yoy_reference_exact_chunk_invariant(spark):
    # legacy pct_change mode (ffill + ±inf) must be chunk-size invariant:
    # tiny chunks vs one big chunk give byte-identical results
    df = _mk_frame(spark, n_cohorts=4, rows_per_cohort=60, seed=11)
    whole = yoy_deltas_wide(df, KEYS, ["year"], METRICS, chunk_rows=1_000_000)
    tiny = yoy_deltas_wide(df, KEYS, ["year"], METRICS, chunk_rows=5)
    _assert_frames_equal(whole, tiny)


def test_ranks_chunked_matches_window_expressions(spark):
    df = _mk_frame(spark, n_cohorts=9, rows_per_cohort=25, seed=3)
    deltas = yoy_deltas(df, KEYS, ["year"], METRICS)
    delta_cols = [c for c in deltas.columns if c.endswith(("_pct", "_abs"))]
    expected = signed_delta_ranks(
        cohort_ranks(deltas, KEYS, METRICS), KEYS, delta_cols
    )
    got = ranks_wide(deltas, KEYS, METRICS, delta_cols, chunk_rows=11)
    _assert_frames_equal(expected, got)


def test_ranks_chunked_skewed_single_cohort(spark):
    # a cohort far larger than chunk_rows: the kernel must keep accumulating
    # (exact rank needs the whole cohort) and still produce exact ranks
    df = _mk_frame(spark, n_cohorts=1, rows_per_cohort=300, seed=5)
    expected = cohort_ranks(df, KEYS, METRICS)
    got = ranks_wide(df, KEYS, METRICS, [], chunk_rows=8)
    _assert_frames_equal(expected, got)


def test_ranks_chunked_null_cohort_keys(spark):
    # null keys form their own cohort (dropna=False); boundary detection via
    # ngroup must not split or merge them
    df = _mk_frame(spark, n_cohorts=5, rows_per_cohort=20, seed=9).withColumn(
        "gov_function",
        F.when(F.col("state_code") == "S02", F.lit(None)).otherwise(
            F.col("gov_function")
        ),
    )
    expected = cohort_ranks(df, KEYS, METRICS)
    got = ranks_wide(df, KEYS, METRICS, [], chunk_rows=13)
    _assert_frames_equal(expected, got)
