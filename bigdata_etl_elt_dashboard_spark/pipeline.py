"""End-to-end pipeline orchestration (SURVEY §2.10, §3.1) + run metrics (S10).

The reference's ``__main__`` driver (etl_pipeline/load.py:391-400):
extract → transform → load star schema → run verification queries, with
per-stage wall-clock/row metrics logged to rotating files
(extract.py:16-28, load.py:341-349).

One run reads and deduplicates its inputs once: ``clean_sales`` (union,
trim, dedup, date parse) is cached, and every later pass reads that cache —
the two stat passes of ``standardize_sales``, the DQ pass, the dimensions
and the fact. The cache is released before the run returns, so the
returned tables are lazy plans over the inputs again.

Writes follow write-audit-publish. Each table lands first in
``<warehouse>/_staging``: each dimension is computed once, by its own
write, and the fact's broadcast joins read the staged dimension files, so
the fact holds exactly the ids that are published. The fact joins run once,
in the staged fact write, which counts its rows and unresolved FKs through
``df.observe()``. The tables are published by Hadoop-FS renames only when
no FK is unresolved and the fact holds one row per transformed row;
otherwise the staging dir is deleted and the run raises, leaving the last
published warehouse as it was. Without a warehouse path, one
``fk_integrity`` aggregate over the in-plan fact is the gate.

Stage metrics time the pass that does each stage's work: ``transform``
the cleaning and the two stat passes, ``quality`` the DQ pass (whose row
count is the transformed row count), ``warehouse`` the staged star build
and its gate, ``write`` the publish.

The warehouse build replaces the reference's per-dimension MySQL
read-back (load.py:178-199) with broadcast joins against small parquet
dimensions, and the full-refresh TRUNCATE dance with staged parquet writes
published by rename, the fact partitioned by ``order_year`` — so the
dashboard's date filter becomes partition pruning.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.quality import QualityReport, run_data_quality_checks
from .operators.transforms import NUMERIC_COLS, clean_sales, standardize_sales
from .operators.warehouse import build_dim, fk_integrity, resolve_fk
from .sources.sinks import write_parquet

log = logging.getLogger("bigdata_etl_elt_dashboard_spark.pipeline")

DIMS = ("dim_date", "dim_country", "dim_item", "dim_channel")
FK_COLS = ["date_id", "country_id", "item_id", "channel_id"]


@dataclass
class RunMetrics:
    """S10: per-stage rows/seconds, the reference's log-line payload."""

    stages: dict[str, dict] = field(default_factory=dict)

    def record(self, stage: str, seconds: float, rows: int | None = None, **extra) -> None:
        self.stages[stage] = {"seconds": round(seconds, 3), "rows": rows, **extra}
        log.info("stage=%s seconds=%.3f rows=%s %s", stage, seconds, rows, extra)

    def to_df(self, spark: SparkSession) -> DataFrame:
        """Structured run-metadata table (the reference's rotating-log lines
        as rows — SURVEY §1.1 'logs as metadata store', made queryable).
        Built from a pyarrow Table, which Spark decodes in the JVM: no
        Python worker, whatever the session's Arrow setting."""
        table = pa.table(
            {
                "stage": list(self.stages),
                "seconds": [float(m["seconds"]) for m in self.stages.values()],
                "rows": [m.get("rows") for m in self.stages.values()],
            }
        )
        return spark.createDataFrame(table, "stage string, seconds double, rows long")


def build_sales_dims(sales: DataFrame) -> dict[str, DataFrame]:
    """§2.10 `load_dimensions`: the four dimensions of the standardized
    sales table (load.py:161-199), all in-plan."""

    def dim(keys: list[str], id_col: str, extra_cols: list | None = None) -> DataFrame:
        # Distinct keys in one partition: the dedup shuffle runs here, so
        # build_dim's own distinct and its global id window need no further
        # exchange (dimensions are small by definition).
        return build_dim(sales.select(*keys).distinct().coalesce(1), keys, id_col, extra_cols)

    return {
        "dim_date": dim(
            ["order_date"],
            "date_id",
            [F.year("order_date").alias("order_year"), F.month("order_date").alias("order_month")],
        ),
        "dim_country": dim(["region", "country"], "country_id"),
        "dim_item": dim(["item_type"], "item_id"),
        "dim_channel": dim(["sales_channel"], "channel_id"),
    }


def build_fact_sales(sales: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """§2.10 `load_fact_sales`: resolve the four FKs against ``dims`` by
    broadcast joins (load.py:206-276)."""
    fact = sales
    fact = resolve_fk(fact, dims["dim_date"].select("date_id", "order_date"), ["order_date"], "date_id")
    fact = resolve_fk(fact, dims["dim_country"], ["region", "country"], "country_id")
    fact = resolve_fk(fact, dims["dim_item"], ["item_type"], "item_id")
    fact = resolve_fk(fact, dims["dim_channel"], ["sales_channel"], "channel_id")
    return fact.select(
        F.col("order_id").alias("sales_id"),
        "order_id",
        "date_id",
        "country_id",
        "item_id",
        "channel_id",
        "units_sold",
        "unit_price",
        "unit_cost",
        "total_revenue",
        "total_cost",
        "total_profit",
        "profit_per_unit",
        "revenue_per_unit",
        "profit_margin_ratio",
        "shipping_days",
        F.col("order_year"),  # partition column for the writer
    )


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _write_staged(
    spark: SparkSession,
    sales: DataFrame,
    dims: dict[str, DataFrame],
    warehouse_path: str,
    n_expected: int,
) -> tuple[int, dict[str, int]]:
    """Write and audit the star schema under ``_staging``: each dimension is
    written once and read back for the fact's broadcast joins, and the fact
    write counts its rows and unresolved FKs through ``df.observe()``. A
    failed gate deletes the staging dir and raises."""
    staging = f"{warehouse_path}/_staging"
    obs = Observation("fact_gate")
    try:
        landed = {}
        for name, dim in dims.items():
            write_parquet(dim, f"{staging}/{name}")
            landed[name] = spark.read.schema(dim.schema).parquet(f"{staging}/{name}")
        fact = build_fact_sales(sales, landed).observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            *[F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_unresolved") for c in FK_COLS],
        )
        write_parquet(fact, f"{staging}/fact_sales", partition_by=["order_year"])
        return _check_fact(obs.get, n_expected)
    except BaseException:
        fs, staged = _hadoop_fs(spark, staging)
        fs.delete(staged, True)
        raise


def _publish(spark: SparkSession, warehouse_path: str) -> None:
    """Rename each staged table onto its warehouse dir, replacing the last
    run's."""
    fs, root = _hadoop_fs(spark, warehouse_path)
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    staging = path(root, "_staging")
    for name in (*DIMS, "fact_sales"):
        target = path(root, name)
        fs.delete(target, True)  # a rename INTO an existing dir would nest
        if not fs.rename(path(staging, name), target):
            raise OSError(f"could not publish {name} under {warehouse_path}")
    fs.delete(staging, True)


def _check_fact(gate, n_expected: int) -> tuple[int, dict[str, int]]:
    """The fact gate over an ``fk_integrity``-shaped row: every FK resolved
    and one fact row per transformed row."""
    fks = {c: gate[f"{c}_unresolved"] for c in FK_COLS}
    if any(fks.values()):
        raise ValueError(f"fact FK resolution failed: {fks}")
    if gate["n_rows"] != n_expected:
        raise ValueError(f"fact rows {gate['n_rows']} != transformed rows {n_expected}")
    return gate["n_rows"], fks


def run_pipeline(
    spark: SparkSession,
    df_local: DataFrame,
    df_api: DataFrame,
    warehouse_path: str | None = None,
) -> tuple[dict[str, DataFrame], QualityReport, RunMetrics]:
    """extract(given) → transform → quality gate → star build [→ write].

    Returns (warehouse tables, DQ report, metrics). The run's cache is
    released before it returns, so the returned tables recompute from the
    inputs if the caller acts on them."""
    metrics = RunMetrics()
    base = clean_sales(df_local, df_api).cache()
    try:
        t0 = time.perf_counter()
        sales = standardize_sales(base)  # its first stat pass fills the cache
        t_transform = time.perf_counter() - t0

        t0 = time.perf_counter()
        report = run_data_quality_checks(sales, "order_id", NUMERIC_COLS)
        n_sales = report.n_rows  # the DQ pass counts the transformed rows
        metrics.record("transform", t_transform, rows=n_sales)
        metrics.record("quality", time.perf_counter() - t0, rows=n_sales, passed=report.passed)

        t0 = time.perf_counter()
        dims = build_sales_dims(sales)
        wh = {**dims, "fact_sales": build_fact_sales(sales, dims)}
        if warehouse_path:
            n_fact, fact_fks = _write_staged(spark, sales, dims, warehouse_path, n_sales)
        else:
            n_fact, fact_fks = _check_fact(fk_integrity(wh["fact_sales"], FK_COLS).first(), n_sales)
        metrics.record("warehouse", time.perf_counter() - t0, rows=n_fact, fk_unresolved=fact_fks)

        if warehouse_path:
            t0 = time.perf_counter()
            _publish(spark, warehouse_path)
            metrics.record("write", time.perf_counter() - t0)
            # S10: persist the run metadata beside the warehouse as a table
            write_parquet(metrics.to_df(spark), f"{warehouse_path}/_run_metrics")
    finally:
        base.unpersist()

    return wh, report, metrics
