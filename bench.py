#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the COMPACT headline record as the FINAL stdout line:
  {"metric": "...", "value": <total warm sec q1-q8>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": 0.1, "plan_s": {...}}

The driver tails stdout with a bounded buffer and parses the last line —
round 3's full record (36 extension entries inline) pushed the JSON out of
that window and BENCH_r03.parsed came back null. The full record
(extension timings + plan-build costs) now goes to STDERR, where humans
and tools/bench_diff.py read it without competing with the parse window.

Methodology mirrors BASELINE.md: per-query warm wall-clock (the reference
logs per-query exec_time_sec on a warm MySQL); Spark session startup and
first-run JIT/codegen are excluded by a warmup pass.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_etl_elt_dashboard_spark.plans import REGISTRY  # noqa: E402
from bigdata_etl_elt_dashboard_spark.session import get_spark  # noqa: E402
from bigdata_etl_elt_dashboard_spark.sources.catalog import load_tables  # noqa: E402

#: Headline suite = the reference's 8 verification queries (BASELINE.md).
HEADLINE = {
    "q1": "q1_total_revenue",
    "q2": "q2_revenue_per_year",
    "q3": "q3_top5_nations_by_revenue",
    "q4": "q4_units_per_part_type",
    "q5": "q5_avg_margin_per_status",
    "q6": "q6_revenue_per_region_year",
    "q7": "q7_top10_orders_by_price",
    "q8": "q8_avg_ship_days_per_nation",
}


#: one representative per extension family (dedup / ANN / text / events /
#: corpus prep / multimodal). Keys are stable so BENCH_*.json diffs stay
#: meaningful; only additions allowed.
EXTENSION_SUITE = (
    "dedup_exact_groups",
    "dedup_lsh_candidates",
    "sim_topk_cosine",
    "text_quality",
    "ev_session_10m",
    # the two quadratic kernels — the scale stress tests of the suite
    "dedup_embedding_cosine",
    "sim_ann_lsh",
    "dedup_clusters_star",
    "docs_sequence_packing",
    "docs_decontaminate",
    "mm_decode_channel_stats",
    "docs_repetition_metrics",
    "graph_pagerank_3iter",
    "sim_kmeans_lloyd1",
    "stat_ols_price_vs_qty",
    "text_unigram_logprob",
    "cust_big_basket_orders",
    "stat_ks_price_by_status",
    "dedup_lsh_bucket_skew",
    "graph_copurchase_triangles",
    "ev_funnel_strict_steps",
    "stat_bloom_customer_probe",
    "docs_ngram_containment",
    "star_one_big_table",
    "li_basket_type_lift",
    "dedup_minhash_estimate_error",
    "dedup_lsh_scurve_validation",
    "dedup_semdedup_prune",
    "docs_sequence_packing_sharded",
    "scale_global_rank_orders",
    "sim_hard_negatives",
    "emb_pca_project",
    "emb_pq_encode_stats",
    "docs_data_card",
    "wh_merge_upsert_orders",
    "dedup_lsh_precision_recall",
    "sim_ann_candidate_digest",
    "sim_ivf_cell_digest",
    "agg_sketch_param_digest",
    "docs_bpe_train_merges",
    "docs_pipeline_e2e_digest",
    "docs_winnowing_pairs",
    "graph_kcore_peel",
    "wh_incremental_rollup",
    "sim_ann_recall_digest",
    "dedup_method_agreement",
    "stat_hll_distinct_custkeys",
    "graph_label_propagation",
    "ev_ab_test_conversion",
    "ev_funnel_time_window",
    "src_schema_evolution_digest",
    "wh_late_arriving_dim",
    "supplier_return_blame",
    "emb_jl_projection_distortion",
    "text_token_fertility_by_lang",
    "cust_returned_revenue_top",
    "trend_wow_revenue_growth",
    "graph_clustering_coeff_hist",
    "graph_bfs_layers",
    "stat_kendall_tau_revenue_orders",
    "mm_image_contrast_stats",
    "emb_isotropy_mean_cosine",
    "profit_nation_year_q9",
    "part_min_cost_supplier_q2",
    "supplier_late_blame_q21",
    "graph_jaccard_link_prediction",
    "docs_block_dedup_by_source",
    "emb_knn_graph_reciprocity",
    "stat_kruskal_wallis_price_by_priority",
    "ev_concurrent_sessions_peak",
    "part_pair_association_topk",
    "graph_ktruss_edge_support",
    "graph_katz_centrality_3step",
    "stat_ljung_box_weekly",
    "trend_decomposition_monthly",
    "li_vwap_part_month",
    "emb_ivf_cell_purity",
    "sim_ann_multiprobe_gain",
    "dq_histogram_drift_l1",
    "stat_weekly_dft_power",
    "scale_zorder_file_skipping",
    "pricing_summary_q1",
    "unshipped_topk_q3",
    "local_supplier_volume_q5",
    "forecast_revenue_change_q6",
    "dedup_verified_keepers",
    "docs_shuffle_order_digest",
    "ev_retention_triangle",
    "stat_cross_correlation_lags",
    "corpus_pipeline_v2_digest",
    "ev_timer_session_close_twin",
    "ev_stream_pipeline_gold_twin",
    "li_value_share_topn",
    "supplier_pareto_cumshare_twopass",
    "ev_click_view_outer_twin",
)


def _canary(spark) -> dict:
    """Fixed-work host-drift canary (r13 verdict task 3): two constant
    jobs whose cost depends ONLY on the host, never on engine code —

    - ``jvm_s``: min-of-5 warm collect of ``spark.range(1e9).sum()`` — a
      constant physical plan (no input files, no shuffle), sized to the
      same tens-of-ms magnitude as a headline query so it shares their
      sensitivity profile (scheduling + codegen-loop throughput);
    - ``cpu_s``: a fixed 5M-iteration pure-Python integer loop —
      interpreter/CPU contention, no JVM involvement.

    BENCHDIFF divides per-query deltas by the jvm canary ratio: uniform
    host drift (r12 +6%, r13 +17%, both with byte-identical plans)
    normalizes away to ~0, while a REAL uniform regression (session-conf
    mistake) survives normalization — previously indistinguishable."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc = (acc + i) % 1000003
    cpu_s = time.perf_counter() - t0
    df = spark.range(1_000_000_000).selectExpr("sum(id) AS s")
    df.collect()  # warm (codegen compile)
    jvm_s = min(_timed_collect(df) for _ in range(5))
    return {"cpu_s": round(cpu_s, 4), "jvm_s": round(jvm_s, 4)}


def run_once(spark, sf_dir: str, name: str) -> float:
    t0 = time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    return time.perf_counter() - t0


def _timed_noop(df) -> float:
    """One recompute-cost sample (guide §1.4): the noop sink re-executes the
    WHOLE plan (a write command gets a fresh QueryExecution), so unlike the
    warm re-collect it cannot reuse AQE's already-materialized shuffle query
    stages. Recorded in the stderr full record only (r14 verdict item: the
    warm-collect ledger is structurally insensitive to recompute-cost wins);
    the stdout headline methodology is unchanged."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def build_df(spark, sf_dir: str, name: str):
    """Build the (lazy, immutable) DataFrame once; repeated collect()s on it
    re-execute the physical plan but reuse the analyzed/optimized plan —
    matching how the engine actually serves repeated queries (the analytics
    layer and the reference dashboard both memoize their frames,
    dashboard/app.py:36,61) and matching the reference's warm per-query
    MySQL logs, where SQL parse cost is negligible. The one-time
    plan-analysis cost is reported separately as plan_s."""
    t0 = time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()  # warm: analysis + codegen + file-listing caches
    return df, round(time.perf_counter() - t0, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # 8 shuffle partitions for the warm small-SF suite: at sf0.1 every
    # shuffle is KB-scale, so scheduling dominates — AQE would coalesce to
    # ~this anyway, but starting low removes the coalescing round-trips.
    # (Cluster posture stays in session.py: ~2-3x total cores + AQE.)
    # UI off for the measured session (r13): the SQL UI listener builds a
    # plan graph and updates its store on every execution. On this 8 g
    # session the warm numbers are unchanged (measured — the store churn
    # is async and off the collect path), but on a default 1 g session
    # the retained store is a real heap leak and GC drag (the r13
    # monolithic-sweep diagnosis), so the bench session declares the
    # no-observability posture it actually wants rather than inheriting
    # a default. Cluster observability posture stays in session.py.
    spark = get_spark(
        app_name="bench",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )

    # Session-level warmup, charged to no query: JVM JIT, the first
    # whole-stage-codegen compile, and the one-time parquet footer/listing
    # reads otherwise land entirely on the first measured query's plan_s
    # (round-1 bench showed plan_s(q1) 5.7 s vs 1.5 s for q2 — same-shaped
    # plans; the delta was session warmup, not q1). The warmup touches every
    # table's footer and runs one tiny joined aggregate through codegen.
    tables = load_tables(spark, sf_dir)
    for df in tables.values():
        df.limit(1).collect()
    orders, customer = tables["orders"], tables["customer"]
    (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )

    canary = _canary(spark)

    timings, plan_s, noop_s = {}, {}, {}
    for label, name in HEADLINE.items():
        df, build = build_df(spark, sf_dir, name)
        plan_s[label] = build
        # min-of-5: the headline queries are 30-100 ms each, and host noise
        # (noisy-neighbor load spikes) dominates single samples — the min is
        # the stable estimator of the engine's actual cost
        timings[label] = round(min(_timed_collect(df) for _ in range(5)), 4)
        noop_s[label] = round(_timed_noop(df), 4)

    # Beyond-baseline extension suite (no reference number exists; recorded
    # so round-over-round regressions in the training-data ops are visible).
    # ext_plan_s matters here more than for q1-q8: iterative operators
    # (star CC) do most of their work during the first materialization, so
    # the warm re-collect alone would under-report them.
    ext, ext_plan_s, ext_noop_s = {}, {}, {}
    for name in EXTENSION_SUITE:
        df, build = build_df(spark, sf_dir, name)
        ext_plan_s[name] = build
        ext[name] = round(min(_timed_collect(df) for _ in range(3)), 4)
        ext_noop_s[name] = round(_timed_noop(df), 4)

    headline = {
        "metric": "warm per-query execution wall-clock, reference q1-q8 suite (sum)",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # effective parallelism contract, echoed so the driver's scaling
        # check can verify $SPARK_GRAFT_CPUS is honored (r14 verdict item 2:
        # `suspect_cpus_ignored` fired as a false positive because the
        # headline JSON carried no evidence of the effective core count and
        # the one-row-group-per-file sf0.1 layout makes every headline scan
        # single-task, so flat per-query ratios are indistinguishable from a
        # pinned master). Values are read back from the LIVE SparkContext,
        # not from the env, so they prove what the session actually ran with.
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "plan_s": plan_s,  # one-time plan build+first-run cost per query
        "canary": canary,  # fixed-work host-drift reference (see _canary)
    }
    full = dict(
        headline,
        extension_queries=ext,
        extension_plan_s=ext_plan_s,
        # recompute cost (noop sink, guide §1.4) — see _timed_noop
        noop_s=noop_s,
        extension_noop_s=ext_noop_s,
    )
    # full record → stderr (for humans + tools/bench_diff.py); compact
    # headline → the FINAL stdout line, inside the driver's parse window
    print(json.dumps(full), file=sys.stderr)
    print(json.dumps(headline))
    spark.stop()


def _timed_collect(df) -> float:
    t0 = time.perf_counter()
    df.collect()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
