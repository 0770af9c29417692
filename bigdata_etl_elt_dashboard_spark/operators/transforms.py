"""The sales cleaning/feature pipeline (SURVEY §2.10 `transform_sales`).

Re-expression of the reference's transform stage
(etl_pipeline/transform.py:131-244): ~15 sequential eager pandas passes
become two lazy Spark plans. Step order is preserved exactly (P2 rename →
J1 union → F1 trim → W1 dedup → F5 date parse → P5 drop bad dates →
F12 median impute → F15 IQR clip → F16 min-max → F17 one-hot → F13 derived
measures → F6/F7 date features → F14 buckets) because later steps read
earlier steps' outputs (SURVEY §7.4.7).

- ``clean_sales`` is everything up to P5: the only wide op is the dedup
  window. Its result is the one relation every later pass reads, so
  ``pipeline.run_pipeline`` caches it there.
- ``standardize_sales`` is everything after: narrow projections whose
  constants (medians, IQR bounds, min/max, one-hot categories) come from
  driver-side stat rows, the reference's own pandas-computes/SQL-applies
  pattern (hold.ipynb:cell12). There are two stat passes, not four:
  medians, min/max and the one-hot categories all read the cleaned rows
  (min/max are unchanged by median imputation, since the median lies in
  [min, max]; the categories are the distinct values plus ``'Unknown'``
  when a value is NULL), so one aggregate computes them; the IQR bounds
  read the imputed column, so they take the second pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import clean_category, normalize_names, parse_date, safe_div
from ..functions.features import (
    clip_to_bounds,
    margin_category,
    min_max_norm,
    one_hot_exprs,
    order_size_category,
    shipping_days,
    shipping_speed_category,
)

#: categorical columns trimmed on ingest (transform.py:147-149)
CATEGORY_COLS = ("region", "country", "item_type", "sales_channel", "order_priority")
#: numeric measure columns (transform.py:12-30 TransformConfig)
NUMERIC_COLS = (
    "units_sold",
    "unit_price",
    "unit_cost",
    "total_revenue",
    "total_cost",
    "total_profit",
)
#: F12 median-imputed, F15 IQR-clipped, F16 min-max-scaled and F17 one-hot
#: columns (transform.py:161-204)
MEDIAN_COLS = ("units_sold", "unit_price", "unit_cost", "total_profit")
CLIP_COLS = ("total_profit",)
SCALE_COLS = ("units_sold", "total_revenue")
ONE_HOT_COL = "order_priority"


def union_sources(df_local: DataFrame, df_api: DataFrame) -> DataFrame:
    """J1 + §7.4.3: vertical union with an explicit ``source_rank`` (local=0,
    api=1) replacing the reference's physical concat order
    (transform.py:144) so keep-"first" dedup is deterministic."""
    return df_local.withColumn("source_rank", F.lit(0)).unionByName(
        df_api.withColumn("source_rank", F.lit(1)), allowMissingColumns=True
    )


def clean_categories(df: DataFrame, cols: tuple[str, ...] = CATEGORY_COLS) -> DataFrame:
    """F1: trim categorical values (transform.py:147-149)."""
    return df.withColumns({c: clean_category(c) for c in cols if c in df.columns})


def dedup_keep_first(
    df: DataFrame, pk: str = "order_id", order_cols: tuple[str, ...] = ("source_rank",)
) -> DataFrame:
    """A10/W1: deterministic drop_duplicates(keep='first') — row_number over
    (pk) ordered by source rank then pk (transform.py:158 + SURVEY §7.4.3)."""
    w = Window.partitionBy(pk).orderBy(*order_cols, pk)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def parse_sales_dates(df: DataFrame, cols: tuple[str, ...] = ("order_date", "ship_date")) -> DataFrame:
    """F5: M/d/yyyy strings → DateType, malformed → null (coerce semantics)."""
    return df.withColumns({c: parse_date(c) for c in cols if c in df.columns})


def drop_null_order_dates(df: DataFrame, col: str = "order_date") -> DataFrame:
    """P5: drop rows whose order_date failed to parse (transform.py:173)."""
    return df.filter(F.col(col).isNotNull())


def impute_numeric_median(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """F12/A14: fill numeric nulls with the column median (transform.py:161-166).

    Medians via ONE exact-percentile aggregation pass, injected as literals."""
    present = [c for c in cols if c in df.columns]
    if not present:
        return df
    meds = df.agg(
        *[F.expr(f"percentile({c}, 0.5)").alias(c) for c in present]
    ).first()
    fills = {c: meds[c] for c in present if meds[c] is not None}
    return df.fillna(fills)


def fill_unknown_categories(df: DataFrame, cols: tuple[str, ...] = CATEGORY_COLS) -> DataFrame:
    """F12 categorical arm: fillna('Unknown') (transform.py:165-166)."""
    return df.fillna({c: "Unknown" for c in cols if c in df.columns})


def clip_outliers_iqr(df: DataFrame, cols: tuple[str, ...], k: float = 1.5) -> DataFrame:
    """F15/A13: winsorize each column to [Q1−k·IQR, Q3+k·IQR]
    (transform.py:37-58). One quantile pass for ALL columns."""
    present = [c for c in cols if c in df.columns]
    if not present:
        return df
    qs = df.agg(
        *[F.expr(f"percentile({c}, array(0.25, 0.75))").alias(c) for c in present]
    ).first()
    out = {}
    for c in present:
        if qs[c] is None or qs[c][0] is None:
            continue
        q1, q3 = qs[c]
        iqr = q3 - q1
        out[c] = clip_to_bounds(F.col(c), q1 - k * iqr, q3 + k * iqr)
    return df.withColumns(out)


def flag_outliers_iqr(
    df: DataFrame, col: str, k: float = 1.5, flag_col: str = "is_outlier"
) -> DataFrame:
    """F20: append ``is_outlier = 1 WHERE col > Q3 + k·IQR`` — the
    reference's pandas-computes-threshold / SQL-applies pattern
    (elt/hold.ipynb:cell12). Threshold rounded to 2dp so the comparison is
    engine-reproducible at the boundary."""
    q1, q3 = df.agg(F.expr(f"percentile({col}, array(0.25, 0.75))")).first()[0]
    thr = round(q3 + k * (q3 - q1), 2)
    return df.withColumn(flag_col, (F.col(col) > F.lit(thr)).cast("int"))


def derive_sales_features(df: DataFrame) -> DataFrame:
    """F13 + F6/F7 + F14 + F11: derived measures, date features, buckets —
    one projection (the reference's 5 UPDATEs + pandas chain fused)."""
    units = F.col("units_sold")
    cols: dict[str, Column] = {
        "total_revenue": F.coalesce(F.col("total_revenue"), units * F.col("unit_price")),
        "total_cost": F.coalesce(F.col("total_cost"), units * F.col("unit_cost")),
    }
    df = df.withColumns(cols)
    profit = F.coalesce(F.col("total_profit"), F.col("total_revenue") - F.col("total_cost"))
    df = df.withColumn("total_profit", profit)
    feats: dict[str, Column] = {
        "profit_per_unit": safe_div(F.col("total_profit"), units),
        "revenue_per_unit": safe_div(F.col("total_revenue"), units),
        "cost_per_unit": safe_div(F.col("total_cost"), units),
        "profit_margin_ratio": safe_div(F.col("total_profit"), F.col("total_revenue")),
        "net_profit_ratio": safe_div(F.col("total_profit"), F.col("total_revenue")),
        "shipping_days": shipping_days(F.col("order_date"), F.col("ship_date")),
        "order_year": F.year("order_date"),
        "order_month": F.month("order_date"),
    }
    df = df.withColumns(feats)
    return df.withColumns(
        {
            "margin_category": margin_category(F.col("profit_margin_ratio")),
            "shipping_speed_category": shipping_speed_category(F.col("shipping_days")),
            "order_size_category": order_size_category(F.col("units_sold")),
        }
    )


def clean_sales(df_local: DataFrame, df_api: DataFrame) -> DataFrame:
    """P2 → J1 → F1 → W1 → F5 → P5: the deduplicated, date-valid sales rows
    (still carrying ``source_rank``)."""
    df = union_sources(normalize_names(df_local), normalize_names(df_api))
    df = clean_categories(df)
    df = dedup_keep_first(df)
    df = parse_sales_dates(df)
    return drop_null_order_dates(df)


def standardize_sales(df: DataFrame) -> DataFrame:
    """F12 → F15 → F16 → F17 → F13/F6/F7/F14 over ``clean_sales`` output,
    with two stat passes (see module docstring)."""
    median = [c for c in MEDIAN_COLS if c in df.columns]
    scale = [c for c in SCALE_COLS if c in df.columns]
    onehot = ONE_HOT_COL in df.columns
    aggs = [F.expr(f"percentile({c}, 0.5)").alias(f"{c}_med") for c in median]
    aggs += [F.min(c).alias(f"{c}_mn") for c in scale]
    aggs += [F.max(c).alias(f"{c}_mx") for c in scale]
    if onehot:
        aggs += [
            F.collect_set(ONE_HOT_COL).alias("cats"),
            F.count(F.when(F.col(ONE_HOT_COL).isNull(), 1)).alias("cat_nulls"),
        ]
    stats = df.agg(*aggs).first() if aggs else None

    df = df.fillna({c: stats[f"{c}_med"] for c in median if stats[f"{c}_med"] is not None})
    df = fill_unknown_categories(df)
    df = clip_outliers_iqr(df, CLIP_COLS)
    df = df.withColumns(
        {
            f"{c}_norm": min_max_norm(F.col(c), stats[f"{c}_mn"], stats[f"{c}_mx"])
            for c in scale
            if stats[f"{c}_mn"] is not None
        }
    )
    if onehot:
        cats = set(stats["cats"]) | ({"Unknown"} if stats["cat_nulls"] else set())
        df = df.select("*", *one_hot_exprs(F.col(ONE_HOT_COL), list(cats), ONE_HOT_COL))
    df = derive_sales_features(df)
    return df.drop("source_rank")


def transform_sales(df_local: DataFrame, df_api: DataFrame) -> DataFrame:
    """§2.10 composite: the full reference transform chain
    (transform.py:131-244). Returns the standardized 19+-column sales
    table."""
    return standardize_sales(clean_sales(df_local, df_api))
