"""[EXT] relational-surface operators: deterministic sampling/splits,
bucketed interval join, edit-distance blocking — handcrafted inputs with
known answers plus plan-shape pins."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from aspep_etl_spark.operators.dedup import levenshtein_pairs
from aspep_etl_spark.operators.ranges import interval_join
from aspep_etl_spark.operators.sampling import hash_sample, split_column


def test_hash_sample_deterministic_and_partition_stable(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in hash_sample(df, ["k"], 0.3).collect())
    b = sorted(
        r["k"] for r in hash_sample(df.repartition(7), ["k"], 0.3).collect()
    )
    assert a == b  # selection is a pure function of the key, not layout
    assert 0.25 < len(a) / 2000 < 0.35  # rate holds statistically
    # nested rates: a 10% sample is a subset of the 30% sample (same salt)
    c = {r["k"] for r in hash_sample(df, ["k"], 0.1).collect()}
    assert c <= set(a)


def test_split_column_partitions_exactly(spark):
    df = spark.range(3000).withColumnRenamed("id", "k")
    out = df.select(
        "k", split_column(["k"], {"train": 0.8, "val": 0.1, "test": 0.1}).alias("s")
    )
    counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}  # every row in exactly one
    assert sum(counts.values()) == 3000
    assert 0.75 < counts["train"] / 3000 < 0.85
    # deterministic across recomputation
    again = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert counts == again


def test_interval_join_boundaries_and_multi_bucket(spark):
    ts = datetime.datetime
    points = spark.createDataFrame(
        [
            (1, ts(2024, 1, 1, 0, 0, 0)),   # == start → included
            (2, ts(2024, 1, 3, 0, 0, 0)),   # == end → excluded
            (3, ts(2024, 1, 2, 12, 0, 0)),  # mid-interval
            (4, ts(2024, 2, 1, 0, 0, 0)),   # outside everything
            (5, ts(2024, 1, 2, 23, 59, 59)),  # overlap zone of i10/i20
        ],
        ["pid", "ts"],
    )
    intervals = spark.createDataFrame(
        [
            (10, ts(2024, 1, 1, 0, 0, 0), ts(2024, 1, 3, 0, 0, 0)),  # spans 3 buckets
            (20, ts(2024, 1, 2, 6, 0, 0), ts(2024, 1, 4, 0, 0, 0)),  # overlaps i10
        ],
        ["iid", "w_start", "w_end"],
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            points, intervals, "ts", "w_start", "w_end", bucket_width_s=86_400
        ).collect()
    }
    # point 2 sits exactly at i10's end (excluded) but inside i20
    assert got == {(1, 10), (2, 20), (3, 10), (3, 20), (5, 10), (5, 20)}


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketed strategy must compile to a hash/sort-merge equi-join
    on __bucket — a BroadcastNestedLoopJoin here is exactly the
    scale-killer the operator exists to avoid."""
    from aspep_etl_spark.plans import contract

    plan = (
        contract.SPARK_QUERIES["events_interval_join"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_levenshtein_pairs_blocking_and_threshold(spark):
    rows = [
        (1, "the quick brown fox jumps", "en"),
        (2, "the quick brown fox jumped", "en"),   # lev 2, same band
        (3, "the quick brown fox jumps", "en"),    # exact dup of 1 → lev 0
        (4, "a completely different document here", "en"),  # other band
        (5, "the quick brown fox jumps", "es"),    # same text, other lang block
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r["id_a"], r["id_b"]): r["lev"]
        for r in levenshtein_pairs(
            df, "doc_id", "text", block_cols=["lang"], length_band=16, max_distance=5
        ).collect()
    }
    assert got[(1, 3)] == 0
    assert got[(1, 2)] == 2 and got[(2, 3)] == 2
    assert all(5 not in pair for pair in got)  # lang block separates
    assert all(4 not in pair for pair in got)  # length band separates


def test_approximate_aggregates_within_bounds(spark, sf_dir):
    """approx_count_distinct and percentile_approx have no cross-engine
    oracle (HLL/KLL internals differ by engine) — what matters at scale
    is the error bound, so pin THAT against exact answers."""
    from aspep_etl_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    exact_users = ev.select("user_id").distinct().count()
    approx = ev.agg(F.approx_count_distinct("user_id", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact_users) / exact_users < 0.1

    exact_median = ev.agg(F.expr("percentile(value, 0.5)")).collect()[0][0]
    appr_median = ev.agg(F.expr("percentile_approx(value, 0.5, 10000)")).collect()[0][0]
    assert abs(appr_median - exact_median) <= abs(exact_median) * 0.05 + 1e-9


def test_hash_sample_full_rate_keeps_everything(spark):
    df = spark.range(500).withColumnRenamed("id", "k")
    assert hash_sample(df, ["k"], 1.0).count() == 500
    assert hash_sample(df, ["k"], 0.0).count() == 0


def test_interval_join_left_keeps_unmatched_points(spark):
    import datetime as dt

    points = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12)), (2, dt.datetime(2024, 6, 1))],
        ["pid", "ts"],
    )
    intervals = spark.createDataFrame(
        [(10, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))],
        ["iid", "w_start", "w_end"],
    )
    out = interval_join(
        points, intervals, "ts", "w_start", "w_end", 86_400, how="left"
    ).collect()
    by_pid = {r["pid"]: r["iid"] for r in out}
    assert by_pid == {1: 10, 2: None}  # unmatched point survives with nulls


def test_zorder_key_locality_property(spark):
    """Z-curve math: the interleaved key's high bits are exactly the
    interleave of the coordinates' high bits, so points inside any
    2^k x 2^k block share a zkey prefix — the property that makes
    min/max zone pruning work on two range predicates at once."""
    from aspep_etl_spark.operators.profile import zorder_key

    def z_py(x, y):
        out = 0
        for i in range(16):
            out |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return out

    pts = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]
    df = spark.createDataFrame(pts, ["x", "y"]).select(
        "x", "y", zorder_key("x", "y").alias("z")
    )
    for r in df.collect():
        assert r["z"] == z_py(r["x"], r["y"])  # engine matches the definition
        for k in (4, 8):  # block-prefix property
            assert r["z"] >> (2 * k) == z_py(r["x"] >> k, r["y"] >> k)


def test_levenshtein_pairs_across_band_boundary(spark):
    """Regression: pairs whose text lengths straddle a band boundary
    (15 vs 16 chars at band=16 → bands 0 vs 1) must still be found —
    exact-band joins silently dropped them."""
    docs = spark.createDataFrame(
        [(1, "a" * 15, "en"), (2, "a" * 16, "en"), (3, "b" * 80, "en")],
        "doc_id long, text string, lang string",
    )
    got = {
        (r["id_a"], r["id_b"], r["lev"])
        for r in levenshtein_pairs(
            docs, "doc_id", "text", block_cols=["lang"],
            length_band=16, max_distance=12,
        ).collect()
    }
    assert got == {(1, 2, 1)}


def test_quality_checks_and_profile_on_empty_table(spark):
    """Regression: SUM over zero rows is NULL — an empty table must audit
    as 0 violations / pass=true and profile as 0 nulls, never NULL."""
    from aspep_etl_spark.operators.profile import table_profile
    from aspep_etl_spark.operators.quality_checks import not_null, run_checks

    empty = spark.createDataFrame([], "k long, v string")
    audit = run_checks(empty, "t", [not_null("v")]).collect()
    assert audit and all(r["n_violations"] == 0 and r["pass"] is True for r in audit)

    prof = {r["column"]: r["n_nulls"] for r in table_profile(empty, ["k", "v"]).collect()}
    assert prof == {"k": 0, "v": 0}


def test_grouped_median_approx_error_bound(spark, sf_dir):
    """The sketch median (mergeable ``percentile_approx`` at
    ``APPROX_MEDIAN_ACCURACY`` — the 100 TB path: no per-group sort) must
    stay within the reference golden budget (rel 1e-3, reference
    asset_checks.py:60) of the exact grouped median."""
    from pyspark.sql import functions as F

    from aspep_etl_spark.operators.stats import APPROX_MEDIAN_ACCURACY
    from aspep_etl_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    cols = ["l_quantity", "l_extendedprice"]
    acc = F.lit(APPROX_MEDIAN_ACCURACY)
    rows = li.groupBy(*keys).agg(
        *[F.median(c).alias(f"exact_{c}") for c in cols],
        *[F.percentile_approx(c, F.lit(0.5), acc).alias(f"approx_{c}") for c in cols],
    ).collect()
    assert rows
    for r in rows:
        for c in cols:
            er, ar = r[f"exact_{c}"], r[f"approx_{c}"]
            assert abs(ar - er) <= abs(er) * 1e-3 + 1e-9, ([r[k] for k in keys], c)
