"""Differential test: every registered query with an oracle must match
DuckDB exactly at sf0.01 — the local mirror of the driver's t2 gate."""

from __future__ import annotations

import contextlib
import time

import pytest

from bigdata_etl_elt_dashboard_spark.plans import REGISTRY
from bigdata_etl_elt_dashboard_spark.sources.catalog import load_tables

from .oracle_harness import compare, duck_connection

#: the two streaming-state digests run a full drain per parity check
#: (~25-35 s each, ~110 s for their four parametrizations) — slow-marked so
#: the default fast tier fits the driver's verify window; the full tier and
#: the committed per-round PARITY_r{N}.json artifact still cover them, and
#: their state machinery keeps fast-tier functional coverage in
#: test_scale_sources / test_state_reader.
_SLOW_PARITY = {"src_session_migration_digest", "src_tws_state_digest"}


def _mark_slow(names):
    return [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_PARITY else n
        for n in names
    ]


_WITH_ORACLE = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
_ROWS_ONLY = sorted(name for name, q in REGISTRY.items() if q.oracle is None)
#: parametrize through these so the two digests carry the slow mark while
#: plain-iteration consumers (the vacuous-gate scans) keep bare strings
_WITH_ORACLE_PARAMS = _mark_slow(_WITH_ORACLE)
_ROWS_ONLY_PARAMS = _mark_slow(_ROWS_ONLY)


#: Queries allowed to start Spark jobs while ``fn(spark, sf)`` builds the
#: DataFrame, before any collect — each with the reason its build needs a
#: job. Every other query must build without one, and every query listed
#: here must really start one, so a stale entry fails and the list can only
#: shrink. Tags:
#: - iteration: a loop pins or collects once per round (PageRank, k-core,
#:   connected components, BPE, Lloyd, BFS);
#: - freeze: a pin fixes partition ids, a range-sample boundary or files the
#:   plan overwrites, which two branches must share;
#: - scan-budget: a pin keeps the plan within test_plan_shapes' _SCAN_BUDGET
#:   reads of one table, or runs a Python kernel once;
#: - driver-value: the plan embeds a scalar collected on the driver (a
#:   median, a codebook, histogram bounds);
#: - streaming: the query drains a stream or writes a table to read back.
BUILD_JOBS: dict[str, str] = {
    # iteration
    "corpus_pipeline_v2_digest": "iteration",
    "dedup_apply_canonical": "iteration",
    "dedup_cluster_size_hist": "iteration",
    "dedup_clusters": "iteration",
    "dedup_clusters_star": "iteration",
    "dedup_quality_impact": "iteration",
    "dedup_quality_keeper": "iteration",
    "dedup_token_savings": "iteration",
    "dedup_verified_keepers": "iteration",
    "docs_bpe_apply_stats": "iteration",
    "docs_bpe_train_merges": "iteration",
    "docs_training_corpus": "iteration",
    "graph_bfs_layers": "iteration",
    "graph_kcore_peel": "iteration",
    "graph_pagerank_3iter": "iteration",
    "sim_kmeans_trajectory": "iteration",
    "trend_haar_wavelet_energy": "iteration",
    # freeze
    "docs_curriculum_stages": "freeze",
    "docs_rrf_rank_fusion": "freeze",
    "docs_shuffle_order_digest": "freeze",
    "scale_global_rank_orders": "freeze",
    "supplier_pareto_cumshare_twopass": "freeze",
    # scan-budget
    "dedup_jaccard_pairs": "scan-budget",
    "dedup_lsh_precision_recall": "scan-budget",
    "dedup_lsh_scurve_validation": "scan-budget",
    "dedup_method_agreement": "scan-budget",
    "dedup_minhash_estimate_error": "scan-budget",
    "dedup_threshold_sweep": "scan-budget",
    "docs_data_card": "scan-budget",
    "docs_ngram_containment": "scan-budget",
    "docs_pipeline_e2e_digest": "scan-budget",
    "docs_pmi_collocations": "scan-budget",
    "dq_histogram_drift_l1": "scan-budget",
    "emb_knn_graph_reciprocity": "scan-budget",
    "emb_label_centroid_sim": "scan-budget",
    "emb_prefix_dim_recall": "scan-budget",
    "ev_click_view_full_twin": "scan-budget",
    "ev_funnel_strict_steps": "scan-budget",
    "ev_funnel_time_window": "scan-budget",
    "ev_markov_3step_mass": "scan-budget",
    "ev_replay_dedup_digest": "scan-budget",
    "ev_stream_pipeline_gold_twin": "scan-budget",
    "graph_clustering_coeff_hist": "scan-budget",
    "graph_copurchase_triangles": "scan-budget",
    "graph_degree_assortativity": "scan-budget",
    "graph_degree_distribution": "scan-budget",
    "graph_jaccard_link_prediction": "scan-budget",
    "graph_katz_centrality_3step": "scan-budget",
    "graph_ktruss_edge_support": "scan-budget",
    "graph_label_propagation": "scan-budget",
    "graph_rich_club_coefficient": "scan-budget",
    "li_basket_type_lift": "scan-budget",
    "li_value_share_parts": "scan-budget",
    "li_value_share_topn": "scan-budget",
    "part_pair_association_topk": "scan-budget",
    "sim_ann_candidate_digest": "scan-budget",
    "sim_ann_lsh": "scan-budget",
    "sim_ann_multiprobe_gain": "scan-budget",
    "sim_ann_recall_digest": "scan-budget",
    "stat_approx_percentile_contract": "scan-budget",
    "stat_bloom_customer_probe": "scan-budget",
    "stat_mad_outlier_counts": "scan-budget",
    "stat_mad_robust_outlier_days": "scan-budget",
    "stat_mann_kendall_daily_revenue": "scan-budget",
    "text_unigram_logprob": "scan-budget",
    "trend_backtest_snaive_mase": "scan-budget",
    "wh_merge_upsert_orders": "scan-budget",
    # driver-value
    "emb_pca_project": "driver-value",
    "emb_pq_encode_stats": "driver-value",
    "hist_totalprice_30bins": "driver-value",
    "sim_assign_centroid": "driver-value",
    "sim_ivf_cell_digest": "driver-value",
    "sim_ivf_topk": "driver-value",
    "sim_kmeans_lloyd1": "driver-value",
    "text_tfidf_top_terms": "driver-value",
    "tr_clip_iqr": "driver-value",
    "tr_impute_median": "driver-value",
    "tr_minmax_norm": "driver-value",
    "tr_onehot_priority": "driver-value",
    "tr_outlier_flag": "driver-value",
    # streaming
    "src_bucketed_join_digest": "streaming",
    "src_codec_roundtrip_digest": "streaming",
    "src_compaction_digest": "streaming",
    "src_csv_malformed_recovery_digest": "streaming",
    "src_csv_roundtrip_digest": "streaming",
    "src_dynamic_partition_overwrite_digest": "streaming",
    "src_join_state_digest": "streaming",
    "src_jsonl_roundtrip_digest": "streaming",
    "src_merge_upsert_digest": "streaming",
    "src_orc_roundtrip_digest": "streaming",
    "src_partitioned_prune_digest": "streaming",
    "src_schema_evolution_digest": "streaming",
    "src_session_migration_digest": "streaming",
    "src_state_reader_digest": "streaming",
    "src_table_roundtrip_digest": "streaming",
    "src_tws_state_digest": "streaming",
    "wh_write_audit_publish_digest": "streaming",
}


@contextlib.contextmanager
def _build_jobs(spark, sf_dir: str, name: str):
    """Run the body under a job group of its own; yield a list that holds
    the ids of the jobs it started once the body is done. The catalog's
    tables are loaded first, so the one-off parquet schema job of a
    table's first read in the session is never counted."""
    load_tables(spark, sf_dir)
    sc = spark.sparkContext
    group = f"build:{name}"
    jobs: list[int] = []
    sc.setJobGroup(group, f"build {name}")
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs.extend(tracker.getJobIdsForGroup(group))
    # the status store is fed asynchronously by the listener bus
    deadline = time.monotonic() + 5
    while not jobs and name in BUILD_JOBS and time.monotonic() < deadline:
        time.sleep(0.05)
        jobs.extend(tracker.getJobIdsForGroup(group))


def _check_build_jobs(name: str, jobs: list[int]) -> None:
    if name in BUILD_JOBS:
        assert jobs, (
            f"{name} starts no job at build any more: delete its BUILD_JOBS entry"
        )
    else:
        assert not jobs, (
            f"{name} started {len(jobs)} Spark job(s) while being built; "
            "a frame used twice needs no pin (see operators/scale.pin)"
        )


@pytest.fixture(scope="module")
def duck(sf_oracle):
    con = duck_connection(sf_oracle)
    yield con
    con.close()


@pytest.fixture(scope="module")
def duck_smoke(sf_smoke):
    con = duck_connection(sf_smoke)
    yield con
    con.close()


@pytest.mark.parametrize("name", _WITH_ORACLE_PARAMS)
def test_oracle_match(spark, sf_oracle, duck, name):
    q = REGISTRY[name]
    with _build_jobs(spark, sf_oracle, name) as jobs:
        df = q.fn(spark, sf_oracle)
    report = compare(df, duck, q.oracle)
    assert report["ok"], f"{name}: {report['mismatches']}"
    _check_build_jobs(name, jobs)


def test_driver_gate_window_order_is_pinned():
    """The driver verifies the FIRST 50 registry entries per round; the
    round's rotation plan lives in plans.__init__._GATE_WINDOW. Guard
    against registration-order drift silently pushing a planned query out
    of the gated window."""
    from bigdata_etl_elt_dashboard_spark import plans

    names = list(REGISTRY)
    assert names[: len(plans._GATE_WINDOW)] == plans._GATE_WINDOW
    assert len(plans._GATE_WINDOW) == 50
    # round-3 window: every entry is value-hash gated (has an oracle); the
    # rows-only trio is deferred per the rotation note
    rows_only = [n for n in plans._GATE_WINDOW if REGISTRY[n].oracle is None]
    assert rows_only == []


def test_queries_md_index_is_fresh():
    """QUERIES.md is generated from the registry; regenerate via
    ``python tools/gen_query_index.py`` whenever queries change."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "QUERIES.md")) as f:
        before = f.read()
    subprocess.run(
        [sys.executable, os.path.join(root, "tools", "gen_query_index.py")],
        check=True,
        cwd=root,
        capture_output=True,
    )
    with open(os.path.join(root, "QUERIES.md")) as f:
        after = f.read()
    assert before == after, "QUERIES.md is stale — run tools/gen_query_index.py"


def test_harness_is_type_strict():
    """Round-1 regression: the driver's value-hash distinguishes DECIMAL from
    DOUBLE; the local harness must too (it used to coerce Decimal->float and
    passed three queries the driver failed)."""
    from decimal import Decimal

    from .oracle_harness import _norm_value

    assert _norm_value(Decimal("1.50")) != _norm_value(1.5)
    assert _norm_value(Decimal("1.50")) == _norm_value(Decimal("1.50"))
    # differing textual scale is also a mismatch (hash is over string forms)
    assert _norm_value(Decimal("1.50")) != _norm_value(Decimal("1.5"))


@pytest.mark.parametrize("name", _ROWS_ONLY_PARAMS)
def test_rows_only_runs(spark, sf_oracle, name):
    q = REGISTRY[name]
    with _build_jobs(spark, sf_oracle, name) as jobs:
        df = q.fn(spark, sf_oracle)
    n = df.count()
    assert n >= 0
    assert df.columns  # stable schema exists
    _check_build_jobs(name, jobs)


def test_build_jobs_allow_list_names_registered_queries():
    assert sorted(set(BUILD_JOBS) - set(REGISTRY)) == []
    tags = {"iteration", "freeze", "scan-budget", "driver-value", "streaming"}
    assert {n: t for n, t in BUILD_JOBS.items() if t not in tags} == {}


# ---------------------------------------------------------------------------
# Oracle output-TYPE lint (round-3 regression, VERDICT r02 what's-wrong #3).
#
# The driver's value-hash is type-tagged at the engine-schema level, so a
# value-identical result can still hash-mismatch when the ORACLE's output
# type diverges from Spark's:
#   - round 1: DuckDB DECIMAL vs Spark DOUBLE (3 red rows),
#   - round 2: DuckDB window-SUM -> HUGEINT vs Spark BIGINT (1 red row,
#     20 more latent) — invisible to value comparison because Python
#     fetchall() renders HUGEINT as a plain int.
# This lint binds every oracle in DuckDB (no execution) and compares its
# output types against the Spark plan's schema at the hash-relevant
# granularity: int-width collapses (all ints render as Python int), but
# HUGEINT/UHUGEINT (Arrow decimal128 on export), DECIMAL scale, and the
# float/decimal/string/date/timestamp/bool classes must agree.
# ---------------------------------------------------------------------------

_DUCK_INTS = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_SPARK_INTS = {"tinyint", "smallint", "int", "bigint"}


def _duck_type_tag(t: str):
    s = str(t).upper()
    if s in ("HUGEINT", "UHUGEINT"):
        return ("ILLEGAL_HUGEINT",)
    if s in _DUCK_INTS:
        return ("int",)
    if s in ("DOUBLE", "FLOAT", "REAL"):
        return ("float",)
    if s.startswith("DECIMAL"):
        scale = s.rsplit(",", 1)[-1].rstrip(")").strip() if "," in s else "0"
        return ("decimal", scale)
    if s in ("VARCHAR", "TEXT", "STRING"):
        return ("str",)
    if s == "DATE":
        return ("date",)
    if s.startswith("TIMESTAMP"):
        return ("timestamp",)
    if s == "BOOLEAN":
        return ("bool",)
    if s == "BLOB":
        return ("binary",)
    if s.endswith("[]") or s.startswith("STRUCT") or s.startswith("MAP"):
        return ("nested", s)
    return ("other", s)


def _spark_type_tag(dt) -> tuple:
    s = dt.simpleString().lower()
    if s in _SPARK_INTS:
        return ("int",)
    if s in ("double", "float"):
        return ("float",)
    if s.startswith("decimal"):
        scale = s.rsplit(",", 1)[-1].rstrip(")").strip() if "," in s else "0"
        return ("decimal", scale)
    if s == "string":
        return ("str",)
    if s == "date":
        return ("date",)
    if s.startswith("timestamp"):
        return ("timestamp",)
    if s == "boolean":
        return ("bool",)
    if s == "binary":
        return ("binary",)
    if s.startswith(("array", "struct", "map")):
        return ("nested", s)
    return ("other", s)


@pytest.mark.parametrize("name", _WITH_ORACLE_PARAMS)
def test_oracle_output_types_match_spark(spark, sf_smoke, duck_smoke, name):
    q = REGISTRY[name]
    duck_rel = duck_smoke.sql(q.oracle)
    duck_types = dict(zip(duck_rel.columns, duck_rel.types))
    spark_types = {f.name: f.dataType for f in q.fn(spark, sf_smoke).schema.fields}
    assert sorted(duck_types) == sorted(spark_types), (
        f"{name}: column sets differ: duck={sorted(duck_types)} "
        f"spark={sorted(spark_types)}"
    )
    bad = []
    for col in sorted(duck_types):
        dtag = _duck_type_tag(duck_types[col])
        stag = _spark_type_tag(spark_types[col])
        if dtag == ("ILLEGAL_HUGEINT",):
            bad.append(
                f"{col}: oracle emits HUGEINT (uncast SUM?) — wrap in "
                f"CAST(... AS BIGINT)"
            )
        elif dtag != stag:
            bad.append(f"{col}: duck={duck_types[col]}/{dtag} vs spark={stag}")
    assert not bad, f"{name}: oracle/Spark output type drift: {bad}"


# ---------------------------------------------------------------------------
# Oracle NON-VACUITY lint (round-10, VERDICT r09 task 3).
#
# A hash gate over the EMPTY set is vacuously green: a threshold that no
# local-scale row reaches (the li_value_share_parts 0.1% case the r09
# judge found) pins nothing about the arithmetic it claims to verify.
# This lint runs every oracle in DuckDB at the gate SF and requires >= 1
# row; combined with test_oracle_match (Spark rowcount == oracle rowcount)
# that makes every green driver row rows-bearing. Exceptions go in the
# whitelist below WITH a reason and must keep a rows-bearing twin.
# ---------------------------------------------------------------------------

#: query -> why an empty result at sf0.01 is intentional, and where the
#: rows-bearing coverage of the same arithmetic lives
_EMPTY_AT_GATE_SF_OK = {
    # Q11-faithful 0.1% share threshold is unreachable under TPC-H's
    # uniform part spread at ANY local SF (max share ~0.05%); the share
    # math is rows-bearing-gated by li_value_share_topn (same CTE,
    # top-25-by-share) and unit-asserted on engineered ~5% shares in
    # test_pin_strategies.py
    "li_value_share_parts",
}


@pytest.mark.slow
def test_no_vacuous_oracle_gates(duck):
    empties = []
    for name in _WITH_ORACLE:
        if name in _EMPTY_AT_GATE_SF_OK:
            continue
        n = len(duck.execute(REGISTRY[name].oracle).fetchall())
        if n == 0:
            empties.append(name)
    assert not empties, (
        "oracle returns 0 rows at the gate SF (vacuous hash gate) — add a "
        f"rows-bearing variant or whitelist with a reason: {empties}"
    )
    # the whitelist itself must stay minimal and accurate: each entry IS
    # empty at the gate SF (else the exemption is stale)
    for name in _EMPTY_AT_GATE_SF_OK:
        assert len(duck.execute(REGISTRY[name].oracle).fetchall()) == 0, (
            f"{name} now returns rows at the gate SF — drop it from "
            "_EMPTY_AT_GATE_SF_OK"
        )


# ---------------------------------------------------------------------------
# Digest NON-VACUITY lint (round-11, VERDICT r10 task 6).
#
# The rows lint above can't catch a DEGENERATE digest: a ``*_digest`` twin
# always returns its summary row(s), so a digest computed over an EMPTY
# underlying frame (a filter that matches nothing, a sink roundtrip that
# silently wrote nothing) hashes constants and stays green while pinning
# nothing. Every digest in the registry therefore carries at least one
# count-like ``n_*`` column measuring the underlying frame; this lint runs
# each digest's oracle at the gate SF and requires SOME count column to be
# positive (an individual ``n_corrupt = 0`` / ``n_dropped = 0`` is a
# legitimate assertion of absence — only ALL-zero means the frame itself
# was empty). A digest with NO count column is acceptable only in the
# grouped per-key shape (>1 row at the gate SF, e.g. the per-media pixel
# sums of mm_image_downsample2x_digest): there every row IS evidence of a
# frame element, and an empty frame yields 0 rows — which the rows lint
# above already fails. The global-aggregate shape is the dangerous one (a
# 1-row summary still emits its row over an empty frame), so 1-row
# digests MUST carry a count column. Exceptions would go in a whitelist
# WITH a reason, the same pattern as _EMPTY_AT_GATE_SF_OK; none are
# needed today.
# ---------------------------------------------------------------------------

#: digest query -> why an all-zero count vector at the gate SF is intended
_ZERO_FRAME_DIGEST_OK: dict[str, str] = {}


def test_no_vacuous_digest_gates(duck):
    problems = []
    for name in _WITH_ORACLE:
        if not name.endswith("_digest"):
            continue
        if name in _ZERO_FRAME_DIGEST_OK:
            continue
        cur = duck.execute(REGISTRY[name].oracle)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        count_idx = [i for i, c in enumerate(cols) if c == "n" or c.startswith("n_")]
        if not count_idx:
            if len(rows) > 1:
                continue  # grouped per-key digest: rows evidence the frame
            problems.append(
                f"{name}: global-aggregate digest with no count-like "
                "(n / n_*) column — it would emit its row over an empty "
                "frame; add one"
            )
            continue
        if not rows:
            continue  # already failed by test_no_vacuous_oracle_gates
        total = sum(
            int(row[i])
            for row in rows
            for i in count_idx
            if row[i] is not None
        )
        if total <= 0:
            problems.append(
                f"{name}: every count column sums to 0 at the gate SF — "
                "the digest hashes constants over an empty frame"
            )
    assert not problems, problems
    # the whitelist must stay minimal and accurate: each entry's counts
    # really are all zero (else the exemption is stale)
    for name in _ZERO_FRAME_DIGEST_OK:
        cur = duck.execute(REGISTRY[name].oracle)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        count_idx = [i for i, c in enumerate(cols) if c == "n" or c.startswith("n_")]
        total = sum(
            int(row[i]) for row in rows for i in count_idx if row[i] is not None
        )
        assert total == 0, (
            f"{name} now has a non-empty frame at the gate SF — drop it "
            "from _ZERO_FRAME_DIGEST_OK"
        )
