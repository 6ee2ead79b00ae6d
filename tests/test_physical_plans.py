"""Physical-plan assertions: the properties that make these plans scale —
predicate pushdown into the parquet scan, column pruning, broadcast joins
for dims, whole-stage codegen — pinned as tests so a regression is loud."""

from __future__ import annotations

import contextlib
import io

import pytest

from aspep_etl_spark.plans import contract


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_p5_filter_pushed_to_scan(spark, sf):
    plan = plan_of(contract.p5_date_range_filter(spark, sf))
    assert "PushedFilters: [" in plan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reads_only_needed_columns(spark, sf):
    plan = plan_of(contract.p5_date_range_filter(spark, sf))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read_schema
    assert "o_orderpriority" not in read_schema  # unused column pruned


def test_j1_uses_broadcast_hash_join(spark, sf):
    plan = plan_of(contract.j1_broadcast_dim_join(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q5_dim_chain_all_broadcast(spark, sf):
    plan = plan_of(contract.q5_region_revenue(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q1_whole_stage_codegen_and_partial_agg(spark, sf):
    df = contract.q1_pricing_summary(spark, sf)
    # partial (map-side) aggregation before the exchange
    assert plan_of(df).count("HashAggregate") >= 2
    # whole-stage codegen subtrees exist (AQE hides them in formatted mode
    # until the final plan, so ask codegen mode directly)
    assert "WholeStageCodegen subtrees" in plan_of(df, mode="codegen")


def test_flagship_single_exchange_for_rank(spark, sf):
    plan = plan_of(contract.flagship_ratio_rank(spark, sf), mode="simple")
    # agg on (suppkey, returnflag) then rank on (returnflag): 2 exchanges
    assert plan.count("Exchange") <= 3
    assert "Window" in plan


def test_canonical_store_partition_pruning(spark, tmp_path_factory):
    """Year predicates prune partitions of the canonical store outright."""
    import pandas as pd

    from aspep_etl_spark.sinks import write_canonical_store

    path = str(tmp_path_factory.mktemp("store") / "fact")
    pdf = pd.DataFrame(
        {"id": range(6), "year": [2003, 2003, 2004, 2004, 2005, 2005], "v": 1.0}
    )
    write_canonical_store(spark.createDataFrame(pdf), path)
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).filter(F.col("year") == 2004)
    plan = plan_of(df)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "year" in pf and "2004" in pf


def test_w1_deltas_one_window_pass(spark, sf):
    plan = plan_of(contract.w1_lag_deltas(spark, sf), mode="simple")
    # all 4 delta columns ride a single Window operator / single exchange
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 1


def test_extended_stats_runs_only_the_kernels(spark):
    """derive_extended_stats has one code path: the delta and rank
    mapInPandas kernels.  The executed (AQE final) plan on the ASPEP
    fixture holds exactly those two and no stacked JVM Window."""
    from aspep_etl_spark.plans import derive_extended_stats, derive_stats

    from .aspep_fixture import make_combined_fact

    ext = derive_extended_stats(derive_stats(spark.createDataFrame(make_combined_fact())))
    ext.collect()
    plan = ext._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()
    assert plan.count("MapInPandas") == 2, plan
    assert "Window" not in plan, plan


def test_embedding_neardup_no_cartesian_product(spark, sf):
    """The contract's embedding near-dup runs the bucketed path: candidate
    generation joins on `bucket` — the only nested-loop allowed is the
    broadcast of the tiny leader table, never a CartesianProduct."""
    plan = plan_of(contract.dedup_embedding_cosine_q(spark, sf), mode="simple")
    assert "CartesianProduct" not in plan
    # candidate self-join is a hash join on bucket, not a cross join
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_q7_nation_pair_join_broadcasts_and_pushes(spark, sf):
    """The widest new join chain (Q7: lineitem x orders x supplier x
    customer x nation x nation): forced-broadcast nation dims, date range
    pushed into the lineitem scan, no cartesian anywhere."""
    plan = plan_of(contract.SPARK_QUERIES["q7_volume_shipping"](spark, sf))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # the two nation dims at minimum
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]


def test_q11_scalar_threshold_is_broadcast_not_window(spark, sf):
    """Global-total thresholds must be a broadcast 1-row nested-loop join,
    never a Window over () (which would serialize the whole aggregate
    through one partition at scale)."""
    plan = plan_of(contract.SPARK_QUERIES["q11_value_concentration"](spark, sf), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_q16_complaint_exclusion_is_anti_join(spark, sf):
    plan = plan_of(contract.SPARK_QUERIES["q16_part_supplier_variety"](spark, sf), mode="simple")
    assert "LeftAnti" in plan


def test_q20_qualifying_set_is_semi_join(spark, sf):
    plan = plan_of(contract.SPARK_QUERIES["q20_excess_suppliers"](spark, sf), mode="simple")
    assert "LeftSemi" in plan


def test_q21_multi_exists_is_semi_plus_anti_join(spark, sf):
    """Q21's EXISTS/NOT EXISTS pair must compile to one LeftSemi and one
    LeftAnti on l_orderkey (not subquery re-scans), with the supplier
    name lookup broadcast."""
    plan = plan_of(contract.SPARK_QUERIES["q21_waiting_supplier"](spark, sf), mode="simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_substring_dedup_two_exchanges_no_selfjoin(spark, sf):
    """Substring span dedup must be the rank-over-gram shape: exactly one
    hash Exchange on the gram and one on the doc id, and NO gram
    self-join (a join formulation would put O(df^2) pairs behind every
    boilerplate gram; row_number costs a sort instead)."""
    plan = plan_of(contract.SPARK_QUERIES["docs_substring_dedup"](spark, sf), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_classifier_and_entropy_are_map_only(spark, sf):
    """The corpus-wide model-scoring passes must ride the scan: zero
    Exchange operators — at 100 TB any shuffle here would be the whole
    job cost."""
    for name in ("docs_classifier_score", "docs_token_entropy"):
        plan = plan_of(contract.SPARK_QUERIES[name](spark, sf), mode="simple")
        assert "Exchange" not in plan, name


def test_trend_is_partial_plus_final_agg(spark, sf):
    """regr_* aggregates are algebraic: the plan must show the map-side
    partial + final HashAggregate pair so the shuffle carries moment
    tuples, not rows."""
    plan = plan_of(contract.SPARK_QUERIES["events_value_trend"](spark, sf), mode="simple")
    assert "partial_regr_slope" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_bloom_probe_joins_broadcast_only(spark, sf):
    """The bloom filter relation is m/32 rows by construction — the probe
    join must broadcast it (and the truth join of the eval shingle set is
    also broadcast-sized at eval-set scale)."""
    plan = plan_of(
        contract.SPARK_QUERIES["docs_bloom_decontaminate"](spark, sf), mode="simple"
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scd2_join_is_hash_join_on_key(spark, sf):
    """The SCD2 temporal join has an equi key, so it must plan as a hash
    (or sort-merge) join with the validity range as a post-filter —
    never a BroadcastNestedLoopJoin."""
    plan = plan_of(contract.SPARK_QUERIES["orders_scd2_join"](spark, sf), mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scaled_global_windows_have_no_single_partition_exchange(spark, sf):
    """The r4 verdict's last scale-killer shape: the *_scaled analytics
    twins must plan with a parallel range exchange + per-partition
    windows — never the Exchange SinglePartition a bare Window.orderBy
    produces (their exact twins keep that shape deliberately, at dim
    grain only)."""
    for name in (
        "orders_price_deciles_scaled",
        "customer_rfm_segments_scaled",
        "customer_abc_analysis_scaled",
    ):
        plan = plan_of(contract.SPARK_QUERIES[name](spark, sf), mode="simple")
        assert "Exchange SinglePartition" not in plan, name
        assert "rangepartitioning" in plan, name


# --- round-5 operators -----------------------------------------------------


def test_prefix_filter_no_cartesian(spark, sf):
    from aspep_etl_spark.plans.analytics_extra import dedup_prefix_filter

    plan = plan_of(dedup_prefix_filter(spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangles_no_cartesian_joins(spark, sf):
    # the wedge-close pipeline must stay equi-join only; the single
    # legitimate nested-loop is broadcasting the 1-row count frames
    from aspep_etl_spark.plans.analytics_extra import graph_triangles

    plan = plan_of(graph_triangles(spark, sf))
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_idf_and_prunes_scan(spark, sf):
    from aspep_etl_spark.plans.analytics_extra import docs_bm25_search

    plan = plan_of(docs_bm25_search(spark, sf))
    assert "BroadcastHashJoin" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema  # only doc_id + text read


def test_pareto_no_single_partition_exchange_before_filter(spark, sf):
    # the whole point of global_running_max: no Exchange SinglePartition
    from aspep_etl_spark.plans.analytics_extra import orders_pareto_frontier

    plan = plan_of(orders_pareto_frontier(spark, sf))
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_interval_overlap_is_equi_join(spark, sf):
    from aspep_etl_spark.plans.analytics_extra import events_incident_overlap

    plan = plan_of(events_incident_overlap(spark, sf))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_dedup_gemm_path_has_python_stages(spark, sf):
    # filter-refine: candidate screen runs in Arrow Python (ArrowEvalPython /
    # FlatMapGroupsInPandas + MapInPandas), exact fold only on survivors
    from aspep_etl_spark.plans import contract as c

    plan = plan_of(c.SPARK_QUERIES["dedup_embedding_cosine"](spark, sf))
    assert "FlatMapGroupsInPandas" in plan
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_cusum_windows_run_at_day_grain(spark, sf):
    # one shuffle for the daily agg; the single-partition window is fed by
    # the DAY-grain aggregate, never the fact scan
    from aspep_etl_spark.plans.analytics_extra import events_cusum_changepoints

    df = events_cusum_changepoints(spark, sf)
    plan = plan_of(df)
    # formatted plans print sink-first: the Window node sits ABOVE the
    # day-grain HashAggregate that feeds it, and the scan reads only ts
    assert plan.index("Window") < plan.index("HashAggregate")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "ts" in read_schema and "user_id" not in read_schema


def test_bpe_pair_counts_have_partial_agg(spark, sf):
    """BPE pair counting must map-side combine before the exchange — at
    web scale the pair space is small but the vocab rows are many."""
    from aspep_etl_spark.operators.bpe import (
        _adjacent_pair_counts,
        initial_segmentation,
        word_frequencies,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    seg = initial_segmentation(word_frequencies(docs))
    plan = plan_of(_adjacent_pair_counts(seg))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_pq_adc_candidate_screen_joins_codes_not_vectors(spark, sf):
    """The ADC candidate stage must join broadcast distance TABLES
    against the code columns — no cartesian product, and the heavy
    embedding arrays only re-enter at the refine join."""
    from aspep_etl_spark.plans.analytics_extra import ann_pq_adc_topk

    plan = plan_of(ann_pq_adc_topk(spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_hits_and_sssp_no_cartesian(spark, sf):
    from aspep_etl_spark.plans.analytics_extra import graph_hits, graph_weighted_sssp

    for q in (graph_hits, graph_weighted_sssp):
        plan = plan_of(q(spark, sf))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_winsorized_cuts_are_broadcast(spark, sf):
    """The 5-row percentile-cut table must broadcast onto the events
    scan, never shuffle the fact side for it."""
    from aspep_etl_spark.plans.analytics_extra import events_value_winsorized

    plan = plan_of(events_value_winsorized(spark, sf))
    assert "BroadcastHashJoin" in plan


def test_classifier_eval_rides_one_scan(spark, sf):
    """PR sweep and calibration bins must keep the label ON the scoring
    scan (score_documents keep=) — exactly one parquet scan, no
    self-join back to documents."""
    from aspep_etl_spark.plans.analytics_r6b import (
        classifier_calibration_bins,
        classifier_pr_thresholds,
    )

    cal = plan_of(classifier_calibration_bins(spark, sf), mode="simple")
    assert cal.count("Scan parquet") == 1
    assert "SortMergeJoin" not in cal
    pr = plan_of(classifier_pr_thresholds(spark, sf), mode="simple")
    assert pr.count("Scan parquet") == 1  # + the in-memory Range grid
    assert "SortMergeJoin" not in pr


def test_zonemap_and_compaction_no_global_sort(spark, sf):
    """Zone-map audit is map-side + hash-aggs; the compaction planner's
    cumulative sum is partitioned BY SOURCE — neither may funnel through
    a single partition."""
    from aspep_etl_spark.plans.analytics_r6b import (
        files_compaction_plan,
        layout_zonemap_skipping,
    )

    zm = plan_of(layout_zonemap_skipping(spark, sf))
    assert "Exchange SinglePartition" not in zm
    assert "Window" not in zm
    cp = plan_of(files_compaction_plan(spark, sf))
    assert "Exchange SinglePartition" not in cp


def test_pair_generators_no_cartesian(spark, sf):
    """PMI pairs and the RA index generate candidates from posting
    lists (equi-joins), never a cross join."""
    from aspep_etl_spark.plans.analytics_r6b import (
        docs_pmi_pairs,
        graph_resource_allocation,
    )

    for q in (docs_pmi_pairs, graph_resource_allocation):
        plan = plan_of(q(spark, sf))
        assert "CartesianProduct" not in plan


def test_theilsen_runs_at_day_grain(spark, sf):
    """The pairwise-slope stage must sit above a day-grain aggregate
    (partial+final HashAggregate), with no window and no
    single-partition exchange."""
    from aspep_etl_spark.plans.analytics_r6b import events_theilsen_trend

    plan = plan_of(events_theilsen_trend(spark, sf))
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_dsir_scoring_is_broadcast_only(spark, sf):
    """DSIR scoring must join the 256-row model by BROADCAST — the token
    scan may never shuffle for the join (the corpus-scale selection
    property), and nothing may cartesian beyond the two 1-row totals."""
    from aspep_etl_spark.plans.analytics_r7 import docs_dsir_weights

    plan = plan_of(docs_dsir_weights(spark, sf), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the scoring join on bucket must not be a shuffle join
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_no_cartesian(spark, sf):
    """SemDeDup's pair generation is the in-cluster equi-join on the
    cluster key — no cross join anywhere in the plan."""
    from aspep_etl_spark.plans.analytics_r7 import dedup_semantic

    plan = plan_of(dedup_semantic(spark, sf), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bootstrap_has_partial_agg_before_shuffle(spark, sf):
    """The ×40 replicate expansion must reduce map-side: partial
    HashAggregate below the exchange, so shuffle rows are
    partitions × types × reps, not events × reps."""
    from aspep_etl_spark.plans.analytics_r7 import events_bootstrap_ci

    plan = plan_of(events_bootstrap_ci(spark, sf), mode="simple")
    assert "CartesianProduct" not in plan
    before_exchange = plan.split("Exchange hashpartitioning")[0]
    assert "HashAggregate" in before_exchange or "partial" in plan.lower()


def test_mannwhitney_single_scan_per_sample(spark, sf):
    """Value-grain grid: the events scan feeds both sample aggregations;
    the global cumsum window runs on the tiny grid only (documented
    dim-grain budget) — and the raw scan count stays ≤ 2."""
    from aspep_etl_spark.plans.analytics_r7 import events_mannwhitney

    plan = plan_of(events_mannwhitney(spark, sf), mode="simple")
    assert plan.count("Scan parquet") <= 2
    assert "CartesianProduct" not in plan


def test_cooccurrence_sup_joins_broadcast(spark, sf):
    """Item-item CF: the basket self-join is keyed on the order key
    (never cartesian), and both support lookups ride broadcast hash
    joins onto the pair frame."""
    from aspep_etl_spark.plans.analytics_r9 import items_cooccurrence_topk

    plan = plan_of(items_cooccurrence_topk(spark, sf), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_blocklist_probe_is_broadcast(spark, sf):
    """The 20-phrase blocklist probes the bigram scan by BROADCAST (a
    production 10^5-phrase list gates the corpus in one pass), and the
    persisted bigram-array frame fences the explode re-evaluation
    (InMemoryTableScan feeds both consumers)."""
    from aspep_etl_spark.plans.analytics_r9 import docs_blocklist_phrases

    plan = plan_of(docs_blocklist_phrases(spark, sf), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 2


def test_welch_single_cached_moment_scan(spark, sf):
    """Both sides of the 5×5 pair grid read the CACHED 5-row moment
    relation — the events scan happens once at runtime; the only
    nested-loop join is the 5-row type grid."""
    from aspep_etl_spark.plans.analytics_r9 import events_welch_ttest

    plan = plan_of(events_welch_ttest(spark, sf), mode="simple")
    assert plan.count("InMemoryTableScan") == 2
    assert "CartesianProduct" not in plan


def test_range_partition_two_scans_no_join(spark, sf):
    """Sampled-boundary range audit: exactly two scans of the fact
    table (key-only sample + assignment), boundary array broadcast, no
    shuffle join anywhere; the ntile window runs on the sample only."""
    from aspep_etl_spark.plans.analytics_r9 import layout_range_partition

    plan = plan_of(layout_range_partition(spark, sf), mode="simple")
    assert plan.count("Scan parquet") == 2
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # array probe, not a join


def test_conformal_one_scoring_scan(spark, sf):
    """Calibration grid, n_cal, and eval all read the one persisted
    scoring scan; the cumulative window runs on the distinct-a6 grid
    (never a corpus-grain single-partition sort of raw rows)."""
    from aspep_etl_spark.plans.analytics_r9 import classifier_conformal

    plan = plan_of(classifier_conformal(spark, sf), mode="simple")
    assert plan.count("InMemoryTableScan") == 3
    assert "SortMergeJoin" not in plan


def test_cuped_single_user_grain_pass(spark, sf):
    """Pooled and per-variant moments both read the one cached
    user-grain relation; no shuffle join anywhere."""
    from aspep_etl_spark.plans.analytics_r9 import events_cuped_adjustment

    plan = plan_of(events_cuped_adjustment(spark, sf), mode="simple")
    assert plan.count("InMemoryTableScan") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_eb_shrinkage_topk_no_global_sort(spark, sf):
    """The top-k output is a TakeOrdered, never a global sort; the
    moment fit and the output both read the cached user-grain frame."""
    from aspep_etl_spark.plans.analytics_r9 import user_rate_shrinkage

    plan = plan_of(user_rate_shrinkage(spark, sf), mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("InMemoryTableScan") == 2
    assert "SortMergeJoin" not in plan


def test_nb_crossval_one_token_scan_broadcast_models(spark, sf):
    """CV-by-subtraction: every count relation and the scoring pass
    read the ONE persisted token scan (the 1-vs-K corpus passes
    argument); the 25-row (class, fold) model joins by broadcast; no
    cartesian product (the vocab×K grid is a broadcast of the 5-row
    fold relation)."""
    from aspep_etl_spark.plans.analytics_r9 import docs_nb_crossval

    plan = plan_of(docs_nb_crossval(spark, sf), mode="simple")
    assert plan.count("InMemoryTableScan") >= 5
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_k_anonymity_two_keyed_aggs_no_join(spark, sf):
    """Privacy audit = scan + QI-grain agg + class-size rollup: no
    join, no window, no single-partition exchange beyond the tiny
    final rollup."""
    from aspep_etl_spark.plans.analytics_r9 import customer_k_anonymity

    plan = plan_of(customer_k_anonymity(spark, sf), mode="simple")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × two grains


def test_reconciliation_bucket_grain_join_only(spark, sf):
    """The reconciliation compares 64-row bucket signatures — the only
    join in the plan is at bucket grain AFTER both aggregations (never
    a row-level source⋈replica join)."""
    from aspep_etl_spark.plans.analytics_r9 import lineitem_reconciliation

    plan = plan_of(lineitem_reconciliation(spark, sf), mode="simple")
    # top-down print: the full-outer bucket join is the plan ROOT side,
    # printed before its two aggregate children — and each side is a
    # partial+final aggregate over its own scan
    assert plan.index("Join") < plan.index("HashAggregate")
    assert plan.count("HashAggregate") >= 4
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan


def test_jl_audit_single_projection_pass(spark, sf):
    """Both pair sides read the one cached projection (the 1,024-term
    folds run once per vector); the pair join is keyed, no window over
    the corpus."""
    from aspep_etl_spark.plans.analytics_r9 import embedding_jl_audit

    plan = plan_of(embedding_jl_audit(spark, sf), mode="simple")
    assert plan.count("InMemoryTableScan") == 2
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ucb1_windows_on_grid_only(spark, sf):
    """Raw events reduce once to the cached day×arm cell grid; every
    window and join in the replay runs on grid-grain relations."""
    from aspep_etl_spark.plans.analytics_r9 import events_ucb1_replay

    plan = plan_of(events_ucb1_replay(spark, sf), mode="simple")
    assert plan.count("InMemoryTableScan") == 3  # days, arms, grid probe
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ips_single_scan_no_join(spark, sf):
    """Off-policy readout: one events scan, partial+final agg to the
    day grid, ordered folds in the final 1-row agg — no join at all."""
    from aspep_etl_spark.plans.analytics_r9 import events_ips_offpolicy

    plan = plan_of(events_ips_offpolicy(spark, sf), mode="simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 4


def test_forecast_backtest_grid_window_only(spark, sf):
    """The lag-7 window runs on the day×type grid after one partial+
    final reduction of raw events — one scan, no join."""
    from aspep_etl_spark.plans.analytics_r9 import events_forecast_backtest

    plan = plan_of(events_forecast_backtest(spark, sf), mode="simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_hash_partition_audit_single_scan(spark, sf):
    from aspep_etl_spark.plans.analytics_r9 import layout_hash_partition

    plan = plan_of(layout_hash_partition(spark, sf), mode="simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_ri_audit_broadcast_joins_only(spark, sf):
    """Every FK check joins its broadcast parent key set — no shuffle
    join, no cartesian; partial+final aggs above each."""
    from aspep_etl_spark.plans.analytics_r9 import referential_integrity_audit

    plan = plan_of(referential_integrity_audit(spark, sf), mode="simple")
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_psi_grid_window_and_broadcast_edges(spark, sf):
    """Decile edges come from the distinct-cent grid cumulative window;
    the histogram probes a broadcast 9-element array — no shuffle join
    of the fact rows."""
    from aspep_etl_spark.cache import free_cached_blocks
    from aspep_etl_spark.plans.analytics_r9 import events_value_psi

    free_cached_blocks(spark)  # node counts depend on cached-lineage prints
    plan = plan_of(events_value_psi(spark, sf), mode="simple")
    assert "SortMergeJoin" not in plan
    # the cached histogram feeds totals and terms; the only windows are
    # the baseline grid cumsum (reprinted once per cached-lineage print)
    assert plan.count("InMemoryTableScan") >= 2
    assert plan.count("Window") <= 2


def test_kl_drift_capped_topk_is_take_ordered(spark, sf):
    """The top-k vocab election must plan as TakeOrderedAndProject
    (per-partition partial top-k), never a global single-partition sort
    of the vocab relation."""
    from aspep_etl_spark.plans.analytics_r6b import docs_source_kl_drift_capped

    plan = plan_of(docs_source_kl_drift_capped(spark, sf), mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan.split("TakeOrderedAndProject")[0]


def test_neg_samples_scaled_filters_before_rank_window(spark, sf):
    """The hash_sample pre-filter must run map-side on the candidate
    cross join (queries side broadcast), so the row_number exchange sees
    only the sampled survivors — pinned structurally (the md5 threshold
    Filter appears BELOW the Window's Exchange in the plan tree) and
    behaviorally (candidate count ≈ rate · |queries×corpus|)."""
    from aspep_etl_spark.operators.sampling import _hex_threshold
    from aspep_etl_spark.plans.llm_extra import (
        _NEG_SCALED_RATE,
        ann_negative_samples_scaled,
    )

    df = ann_negative_samples_scaled(spark, sf)
    plan = plan_of(df, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    # the threshold literal must sit in a Filter, and that Filter must be
    # deeper in the tree (printed later) than the Window node
    thr = _hex_threshold(_NEG_SCALED_RATE)
    assert thr in plan, f"hex threshold literal {thr!r} missing from plan"
    win_at = plan.index("Window")
    filt_at = plan.index(thr)
    assert filt_at > win_at, "hash filter must be below (inside) the window input"
    # behavioral: sampled candidate volume tracks the rate
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n = emb.count()
    cand = (
        F.broadcast(
            emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"))
        )
        .crossJoin(emb.select(F.col("vec_id").alias("cid")))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn(
            "__h",
            F.md5(
                F.concat_ws("|", F.col("qid").cast("string"), F.col("cid").cast("string"))
            ),
        )
        .filter(F.col("__h") < F.lit(thr))
        .count()
    )
    expected = 10 * (n - 1) * _NEG_SCALED_RATE
    assert cand <= expected * 1.6 + 40
    # and every query still fills its K=5 negatives on this corpus
    from collections import Counter

    per_q = Counter(r["query_id"] for r in df.collect())
    assert all(v == 5 for v in per_q.values()) and len(per_q) == 10


def test_winsorized_approx_path_bounds_and_shape(spark, sf):
    """The percentile_approx scale path (approx=True): same plan shape
    (no SortMergeJoin, broadcast cuts), and by the GK rank-error
    guarantee (accuracy 10⁴ ⇒ ε = 1/10⁴ rank error) the approx cuts
    must land within the exact neighborhood of the requested quantiles;
    clip counts stay within the corresponding rank tolerance."""
    from aspep_etl_spark.plans.analytics_extra import events_value_winsorized

    exact = {
        r["event_type"]: r for r in events_value_winsorized(spark, sf).collect()
    }
    approx = {
        r["event_type"]: r
        for r in events_value_winsorized(spark, sf, approx=True).collect()
    }
    assert set(exact) == set(approx)
    plan = plan_of(events_value_winsorized(spark, sf, approx=True), mode="simple")
    assert "approx_percentile" in plan or "percentile_approx" in plan
    assert "SortMergeJoin" not in plan
    for et, ex in exact.items():
        ap = approx[et]
        n = ex["n_events"]
        tol_rank = max(2, int(n * 2e-4) + 1)  # 2× the GK ε in ranks
        # clip counts move by at most the rank tolerance
        assert abs(ap["n_clipped_low"] - ex["n_clipped_low"]) <= tol_rank
        assert abs(ap["n_clipped_high"] - ex["n_clipped_high"]) <= tol_rank
        # cuts stay inside the exact p04..p06 / p94..p96 neighborhood
        span = ex["p95"] - ex["p05"]
        assert abs(ap["p05"] - ex["p05"]) <= 0.15 * span + 1e-6
        assert abs(ap["p95"] - ex["p95"]) <= 0.15 * span + 1e-6
        # winsorized mean barely moves (clipping 10% tails)
        assert abs(ap["winsorized_mean"] - ex["winsorized_mean"]) <= 0.05 * (
            abs(ex["winsorized_mean"]) + span
        )


def test_linkage_candidates_fenced_on_full_parallelism(spark, sf):
    """r8: both linkage candidate sides must ride an explicit NUMBERED
    repartition (RoundRobinPartitioning at defaultParallelism) — AQE's
    byte-based coalescing otherwise funnels the substring+levenshtein
    probe fan-out through 2-4 tasks at sf1 (the 8.63x r7 tail)."""
    from aspep_etl_spark.plans.analytics_r8 import _linkage_candidates

    par = spark.sparkContext.defaultParallelism
    plan = plan_of(_linkage_candidates(spark, sf), mode="simple")
    assert plan.count(f"RoundRobinPartitioning({par})") >= 2, plan


def test_a1_approx_verification_has_no_buffering_aggregate(spark, sf):
    """r8: the approx-median oracle harness must not buffer groups for an
    EXACT percentile/median anywhere (the draft that verified against
    exact percentile(0.49/0.51) cost 5x the raw sketch); the only
    typed-imperative aggregate allowed is percentile_approx itself."""
    plan = plan_of(contract.a1_grouped_median_approx(spark, sf), mode="simple")
    assert "SortAggregate" not in plan
    assert "percentile(" not in plan  # exact percentile banned; approx only
    assert "percentile_approx" in plan
    assert "BroadcastHashJoin" in plan  # 6-row sketch broadcast onto the scan


def test_a1_approx_invariant_flags_hold(spark, sf):
    """The rank-window + is-element flags must be 1 for every group on
    real data (the DuckDB twin emits constant 1s — this is the Spark-side
    half of that contract, checked at test scale)."""
    rows = contract.a1_grouped_median_approx(spark, sf).collect()
    assert rows, "no groups"
    for r in rows:
        assert r["approx_qty_ok"] == 1 and r["approx_price_ok"] == 1, r
        assert r["n_rows"] > 0
