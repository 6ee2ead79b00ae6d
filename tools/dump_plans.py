#!/usr/bin/env python
"""Dump formatted physical plans, so plan shapes (pushdown, broadcast,
exchanges, codegen) are reviewable without running Spark.

Usage:
    python tools/dump_plans.py
    python tools/dump_plans.py [--vanilla] OUT_DIR SUFFIX [query ...]

With no arguments, regenerates PLANS.md from the ``QUERIES`` list at
``$SPARK_GRAFT_SF_DIR`` (default sf0.01).

With OUT_DIR and SUFFIX, writes ``OUT_DIR/<query>_<SUFFIX>.txt`` for each
named query (default: ``bench.py``'s headline set) at ``bench.py``'s
``SF_DIR`` (``$SPARK_GRAFT_SF_DIR``, default sf0.1).  Run it once from
the parent checkout with SUFFIX=before and once from the change with
SUFFIX=after to diff plan shapes.  By default the plans come from ``get_spark``'s tuned
session (64 MB broadcast threshold, AQE advisory sizes), which both arms
share; ``--vanilla`` uses a bare ``SparkSession.builder.getOrCreate()``
instead, for the plan shapes a default session picks.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
QUERIES = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "flagship_ratio_rank",
    "p5_date_range_filter",
    "j1_broadcast_dim_join",
    "w1_lag_deltas",
    "w3_rank_null_parity",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "events_sessionize",
    "q7_volume_shipping",
    "q11_value_concentration",
    "dedup_embedding_cosine",
    "docs_repetition",
    "embedding_quantization",
    "ann_ivf_topk",
    "events_interval_join",
    "sample_stratified",
    "orders_upsert_merge",
    "events_rolling_hour",
    "q21_waiting_supplier",
    "docs_decontaminate",
    "docs_substring_dedup",
    "ann_srp_lsh_topk",
    "docs_classifier_score",
    "docs_bloom_decontaminate",
    "dedup_incremental",
    "events_cms_heavy_hitters",
    "graph_pagerank",
    "events_value_trend",
    "docs_token_entropy",
    # round 5
    "dedup_prefix_filter",
    "dedup_sorted_neighborhood",
    "graph_triangles",
    "graph_label_propagation",
    "graph_bfs_distance",
    "docs_bm25_search",
    "events_incident_overlap",
    "basket_association_rules",
    "orders_pareto_frontier",
    "events_cusum_changepoints",
    "docs_classifier_auc",
    "events_kmv_type_overlap",
    # round 6
    "graph_kcore",
    "graph_common_neighbors",
    "docs_rake_keywords",
    "ann_pq_adc_topk",
    "docs_pmi_pairs",
    "classifier_pr_thresholds",
    "classifier_calibration_bins",
    "events_theilsen_trend",
    "files_compaction_plan",
    "layout_zonemap_skipping",
    "graph_resource_allocation",
    "events_quantile_sketch",
    "events_mv_incremental",
    "mv_join_incremental",
    "mv_join_retraction",
    "aspep_extended_pipeline",
    "docs_source_kl_drift",
    # round 6, batches 3-5
    "docs_dsir_weights",
    # round 9: the sketch-only approx-median headline slot and the
    # row-group-spread simhash signature pass
    "a1_grouped_median_sketch",
    "dedup_simhash",
    "dedup_semantic",
    "events_bootstrap_ci",
    "docs_logreg_train",
    "items_cooccurrence_topk",
    "docs_blocklist_phrases",
    "events_welch_ttest",
    "layout_range_partition",
    "classifier_conformal",
    "events_cuped_adjustment",
    "user_rate_shrinkage",
    "docs_nb_crossval",
    "customer_k_anonymity",
    "lineitem_reconciliation",
    "embedding_jl_audit",
    "events_ucb1_replay",
    "events_ips_offpolicy",
    "media_phash_dedup",
    "events_forecast_backtest",
    "linkage_entity_clusters",
    "layout_hash_partition",
    "components_incremental",
    "referential_integrity_audit",
    "events_value_psi",
]


USAGE = "usage: python tools/dump_plans.py [[--vanilla] OUT_DIR SUFFIX [query ...]]"


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue().rstrip()


def write_plans_md(spark, registry, names) -> None:
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        "Generated by `python tools/dump_plans.py` (sf0.01 inputs; AQE plans",
        "shown pre-execution, `isFinalPlan=false`).  Things to check per",
        "PERF.md: `PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin`",
        "for dims, partial+final `HashAggregate`, one `Exchange` per window",
        "family.",
        "",
    ]
    for name in names:
        out += [f"## {name}", "", "```", _explain(registry[name](spark, SF_DIR)), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(names)} plans")


def write_plan_files(spark, registry, names, out_dir: str, suffix: str) -> None:
    from bench import SF_DIR as sf_dir

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(_explain(registry[name](spark, sf_dir)) + "\n")
        print(f"wrote {path}")


def main() -> None:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    if len(args) == 1 or (vanilla and not args):
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    if args:
        from bench import BENCH_QUERIES

        names = args[2:] or BENCH_QUERIES
    else:
        names = QUERIES

    from aspep_etl_spark.plans.contract import SPARK_QUERIES

    unknown = [n for n in names if n not in SPARK_QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}\n{USAGE}", file=sys.stderr)
        sys.exit(2)

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("dump-plans").getOrCreate()
    else:
        from aspep_etl_spark.session import get_spark

        spark = get_spark(app_name="dump-plans")
    if args:
        write_plan_files(spark, SPARK_QUERIES, names, args[0], args[1])
    else:
        write_plans_md(spark, SPARK_QUERIES, names)
    spark.stop()


if __name__ == "__main__":
    main()
