"""DQ-report test on the planted-defect fixture (exact expected counts,
SURVEY §5.2) + end-to-end pipeline invariants (fact count == deduped count,
FK anti-joins empty) + partitioned warehouse write + the fact gate's
write-audit-publish, cache release and the run's job budget."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_etl_elt_dashboard_spark.operators.quality import run_data_quality_checks
from bigdata_etl_elt_dashboard_spark.operators.transforms import NUMERIC_COLS, union_sources
from bigdata_etl_elt_dashboard_spark.functions.cleaning import normalize_names
from bigdata_etl_elt_dashboard_spark.pipeline import run_pipeline

from .fixtures import sales_sources


def test_dq_report_planted_defects(spark):
    local, api = sales_sources(spark)
    raw = union_sources(normalize_names(local), normalize_names(api))
    report = run_data_quality_checks(raw, "order_id", NUMERIC_COLS)

    assert report.n_rows == 14
    # planted: id 5 appears 3× (2 local + 1 api) → 2 duplicates;
    # null PK contributes no duplicate (countDistinct ignores nulls but the
    # null row is also not counted as distinct → 14 - 12 distinct - ... )
    assert report.pk_nulls == 1
    assert report.pk_duplicates == 3  # count(*)=14, countDistinct(pk)=11 → 3
    assert report.null_counts["units_sold"] == 1
    assert report.null_counts["total_profit"] == 1
    assert report.null_counts["region"] == 1
    assert report.negative_counts["total_cost"] == 1
    assert not report.passed
    assert report.dtypes["unit_price"] == "double"
    assert report.numeric_summary["total_cost"]["min"] == -10.0


def test_pipeline_end_to_end(spark, tmp_path):
    local, api = sales_sources(spark)
    wh, report, metrics = run_pipeline(
        spark, local, api, warehouse_path=str(tmp_path / "wh")
    )

    fact = wh["fact_sales"]
    n_fact = fact.count()
    # invariants: one fact row per deduped, date-valid input row —
    # 14 raw rows, id5 collapses 3→1 (−2), bad-date id7 dropped (−1) → 11
    # (the null-PK row forms its own dedup group and is kept)
    assert n_fact == 11

    # every FK resolved (anti-join empty)
    for c in ("date_id", "country_id", "item_id", "channel_id"):
        assert fact.filter(F.col(c).isNull()).count() == 0, c

    # dims are distinct natural keys with dense ids from 1
    dim_item = wh["dim_item"].collect()
    ids = sorted(r["item_id"] for r in dim_item)
    assert ids == list(range(1, len(dim_item) + 1))

    # metrics recorded per stage
    assert set(metrics.stages) == {"transform", "quality", "warehouse", "write"}

    # partitioned write: order_year directories exist
    years = [p.name for p in (tmp_path / "wh" / "fact_sales").iterdir() if p.is_dir()]
    assert any(y.startswith("order_year=") for y in years)

    # written warehouse reads back with same row count
    assert spark.read.parquet(str(tmp_path / "wh" / "fact_sales")).count() == n_fact

    # S10: run metadata persisted as a queryable table beside the warehouse
    mrows = {
        r["stage"]: r for r in spark.read.parquet(str(tmp_path / "wh" / "_run_metrics")).collect()
    }
    assert set(mrows) == {"transform", "quality", "warehouse", "write"}
    assert mrows["transform"]["rows"] == 11 and mrows["transform"]["seconds"] > 0
    assert mrows["quality"]["seconds"] > 0 and mrows["write"]["rows"] is None
    assert metrics.to_df(spark).schema.simpleString() == "struct<stage:string,seconds:double,rows:bigint>"


def test_observe_metrics_ride_the_main_pass(spark, sf_smoke):
    """df.observe() data-quality counters (SURVEY §2.9 at scale): the DQ
    rollup must be collectible from the SAME pass that computes the
    business aggregate — no second scan of the fact table. The observation
    reports rows seen, null keys, and negative totals while the query
    itself computes revenue per priority."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    obs = Observation("dq")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("null_keys"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias("neg_totals"),
    )
    result = (
        observed.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    m = obs.get
    assert m["rows_seen"] == sum(r["n"] for r in result)
    assert m["null_keys"] == 0 and m["neg_totals"] == 0


def test_pipeline_releases_its_cache(spark, tmp_path):
    """The run caches its cleaned base and must unpersist it before
    returning; the returned tables still collect the rows that were
    written."""
    jsc = spark.sparkContext._jsc.sc()
    local, api = sales_sources(spark)
    before = jsc.getPersistentRDDs().size()
    wh, _, _ = run_pipeline(spark, local, api, warehouse_path=str(tmp_path / "wh"))
    assert jsc.getPersistentRDDs().size() == before
    for name, df in wh.items():
        written = spark.read.parquet(str(tmp_path / "wh" / name)).select(*df.columns)
        assert sorted(df.collect(), key=repr) == sorted(written.collect(), key=repr), name


def test_fact_gate_blocks_publish(spark, tmp_path, monkeypatch):
    """An unresolved FK fails the run after the staged writes: nothing is
    published, the staging dir is gone and the cache is released."""
    from bigdata_etl_elt_dashboard_spark import pipeline

    real_build_dim = pipeline.build_dim

    def lossy_build_dim(df, natural_key, id_col, extra_cols=None):
        dim = real_build_dim(df, natural_key, id_col, extra_cols)
        return dim.filter(F.col(id_col) != 1) if id_col == "item_id" else dim

    monkeypatch.setattr(pipeline, "build_dim", lossy_build_dim)
    local, api = sales_sources(spark)
    wh_dir = tmp_path / "wh"
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="item_id"):
        run_pipeline(spark, local, api, warehouse_path=str(wh_dir))
    assert not wh_dir.exists() or not list(wh_dir.iterdir())
    assert jsc.getPersistentRDDs().size() == before


def test_rerun_replaces_published_tables(spark, tmp_path):
    """Publishing renames each staged table onto its warehouse dir; a
    Hadoop rename into an existing dir would nest it, so a second run into
    the same warehouse must replace the first run's tables."""
    local, api = sales_sources(spark)
    wh_dir = tmp_path / "wh"
    for _ in range(2):
        run_pipeline(spark, local, api, warehouse_path=str(wh_dir))
    assert sorted(p.name for p in wh_dir.iterdir()) == [
        "_run_metrics", "dim_channel", "dim_country", "dim_date", "dim_item", "fact_sales"
    ]
    subdirs = {p.name: sorted(q.name for q in p.iterdir() if q.is_dir()) for p in wh_dir.iterdir()}
    assert subdirs.pop("fact_sales") == ["order_year=2020"]
    assert all(not d for d in subdirs.values()), subdirs
    assert spark.read.parquet(str(wh_dir / "fact_sales")).count() == 11


def test_pipeline_job_budget(spark, tmp_path):
    """One run reads and dedups its inputs once, builds each dimension once
    and runs the fact joins only in the write that lands them: at most 30
    Spark jobs on the fixture. The run must not set a job group of its
    own, or its jobs would escape the caller's."""
    sc = spark.sparkContext
    local, api = sales_sources(spark)
    group = "test-pipeline-job-budget"
    sc.setJobGroup(group, "run_pipeline job budget")
    try:
        run_pipeline(spark, local, api, warehouse_path=str(tmp_path / "wh"))
    finally:
        sc._jsc.sc().clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 30, n_jobs
