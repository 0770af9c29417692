"""Unit tests for the sales transform pipeline (SURVEY §5.2): boundary
buckets, deterministic dedup, date coercion, impute/clip/scale/one-hot, and
the composite transform_sales invariants."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bigdata_etl_elt_dashboard_spark.functions.cleaning import (
    normalize_name,
    parse_date,
    resolve_column,
    safe_div,
)
from bigdata_etl_elt_dashboard_spark.functions.features import (
    margin_category,
    min_max_norm,
    one_hot_exprs,
    order_size_category,
    shipping_speed_category,
)
from bigdata_etl_elt_dashboard_spark.operators import transforms as TR

from .fixtures import sales_sources


def test_normalize_name():
    assert normalize_name("  Order Date ") == "order_date"
    assert normalize_name("Item  Type") == "item_type"


def test_resolve_column_fuzzy(spark):
    df = spark.createDataFrame([(1,)], "x int").toDF("Order_ID")
    assert resolve_column(df, "order id") == "Order_ID"
    assert resolve_column(df, "ORDERID") == "Order_ID"
    assert resolve_column(df, "missing") is None


def test_parse_date_coerce(spark):
    df = spark.createDataFrame([("1/5/2020",), ("13/45/2020",), ("garbage",), (None,)], "s string")
    vals = [r[0] for r in df.select(parse_date("s").alias("d")).collect()]
    assert vals == [dt.date(2020, 1, 5), None, None, None]


def test_safe_div_null_on_zero(spark):
    df = spark.createDataFrame([(1.0, 0.0), (4.0, 2.0)], "a double, b double")
    vals = [r[0] for r in df.select(safe_div(F.col("a"), F.col("b")).alias("q")).collect()]
    assert vals == [None, 2.0]


def test_bucket_boundaries(spark):
    """The reference's asymmetric bounds: margin <0.10 low / <=0.30 medium;
    days <=3 fast / <=7 normal; units <50 small / <=200 medium."""
    df = spark.createDataFrame(
        [(0.0999, 3, 49), (0.10, 4, 50), (0.30, 7, 200), (0.301, 8, 201)],
        "m double, d int, u int",
    )
    rows = df.select(
        margin_category(F.col("m")).alias("mc"),
        shipping_speed_category(F.col("d")).alias("sc"),
        order_size_category(F.col("u")).alias("oc"),
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("low", "fast", "small"),
        ("medium", "normal", "medium"),
        ("medium", "normal", "medium"),
        ("high", "slow", "large"),
    ]


def test_min_max_norm_degenerate(spark):
    df = spark.createDataFrame([(5.0,), (5.0,)], "x double")
    vals = [r[0] for r in df.select(min_max_norm(F.col("x"), 5.0, 5.0).alias("n")).collect()]
    assert vals == [0.0, 0.0]  # max==min guard (transform.py:69-70)


def test_one_hot_drop_first_sorted(spark):
    df = spark.createDataFrame([("H",), ("C",), ("L",), ("M",)], "p string")
    cols = df.select(*one_hot_exprs(F.col("p"), ["H", "C", "L", "M"], "pri")).columns
    # sorted: C dropped (first alphabetical), H/L/M kept
    assert cols == ["pri_H", "pri_L", "pri_M"]


def test_dedup_keep_first_prefers_local(spark):
    local, api = sales_sources(spark)
    unioned = TR.union_sources(local, api)
    deduped = TR.dedup_keep_first(unioned)
    rows = {r["order_id"]: r for r in deduped.collect()}
    # id 5: three candidates (two local, one api) → local with units_sold=10
    # wins (source_rank 0 first, then pk — both local rows tie on pk so the
    # earlier-by-order-cols is kept deterministically)
    assert rows[5]["source_rank"] == 0
    # id 10/11 come from api only
    assert rows[10]["source_rank"] == 1


def test_impute_median(spark):
    df = spark.createDataFrame([(1.0,), (3.0,), (None,)], "x double")
    out = TR.impute_numeric_median(df, ("x",))
    assert sorted(r[0] for r in out.collect()) == [1.0, 2.0, 3.0]


def test_clip_iqr_bounds(spark):
    df = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4, 100]], "x double")
    out = TR.clip_outliers_iqr(df, ("x",))
    # q1=2, q3=4 (linear interp), iqr=2 → hi = 7
    assert max(r[0] for r in out.collect()) == 7.0


def test_transform_sales_composite(spark):
    local, api = sales_sources(spark)
    out = TR.transform_sales(local, api).cache()
    rows = {r["order_id"]: r for r in out.collect()}

    # malformed-date row 7 dropped; dup id 5 collapsed; null-PK row kept
    assert 7 not in rows
    assert out.filter(F.col("order_id") == 5).count() == 1
    assert out.filter(F.col("order_id").isNull()).count() == 1

    # median impute filled units_sold for id 6
    assert rows[6]["units_sold"] is not None
    # recompute fallback: id 6 revenue = units * price after impute
    assert rows[6]["total_revenue"] == rows[6]["units_sold"] * 3.0

    # outlier id 9 profit clipped below the planted 100000
    assert rows[9]["total_profit"] < 100000.0

    # derived + one-hot + norm columns exist
    for c in (
        "profit_per_unit",
        "shipping_days",
        "order_year",
        "margin_category",
        "units_sold_norm",
        "order_priority_H",
    ):
        assert c in out.columns, c

    # boundary semantics on real rows: id 1 → 3 days fast, 49 units small
    assert rows[1]["shipping_speed_category"] == "fast"
    assert rows[1]["order_size_category"] == "small"
    assert rows[2]["shipping_speed_category"] == "normal"
    assert rows[4]["order_size_category"] == "large"


def test_snapshot_delta_classifies_and_encodes_nulls(spark):
    """snapshot_delta: insert/delete/update/unchanged classification, and a
    NULL payload value must differ from the string 'NULL' (distinct hash
    encoding) while NULL == NULL compares as unchanged."""
    from bigdata_etl_elt_dashboard_spark.operators.warehouse import snapshot_delta

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "NULL"), (5, "x")],
        "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "NULL"), (4, "NULL"), (6, "y")],
        "k long, v string",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_delta(old, new, ["k"], ["v"]).collect()
    }
    assert got == {
        1: "unchanged",
        2: "update",
        3: "update",  # NULL -> 'NULL' is a real change, not a hash collision
        4: "unchanged",
        5: "delete",
        6: "insert",
    }


# -- fused-stat parity ------------------------------------------------------
# The oracle runs the reference chain one step per pass: each step's stats
# come from its own aggregate over the previous step's output. The fused
# transform_sales must give the same table from two stat passes.


def _oracle_min_max_scale(df, cols):
    bounds = df.agg(
        *[F.min(c).alias(f"{c}_mn") for c in cols],
        *[F.max(c).alias(f"{c}_mx") for c in cols],
    ).first()
    return df.withColumns(
        {
            f"{c}_norm": min_max_norm(F.col(c), bounds[f"{c}_mn"], bounds[f"{c}_mx"])
            for c in cols
            if bounds[f"{c}_mn"] is not None
        }
    )


def _oracle_one_hot(df, col):
    cats = sorted(r[0] for r in df.select(col).distinct().collect() if r[0] is not None)
    return df.select("*", *one_hot_exprs(F.col(col), cats, col))


def _oracle_transform_sales(local, api):
    from bigdata_etl_elt_dashboard_spark.functions.cleaning import normalize_names

    df = TR.union_sources(normalize_names(local), normalize_names(api))
    df = TR.clean_categories(df)
    df = TR.dedup_keep_first(df)
    df = TR.parse_sales_dates(df)
    df = TR.drop_null_order_dates(df)
    df = TR.impute_numeric_median(df, ("units_sold", "unit_price", "unit_cost", "total_profit"))
    df = TR.fill_unknown_categories(df)
    df = TR.clip_outliers_iqr(df, ("total_profit",))
    df = _oracle_min_max_scale(df, ("units_sold", "total_revenue"))
    df = _oracle_one_hot(df, "order_priority")
    df = TR.derive_sales_features(df)
    return df.drop("source_rank")


def _edge_rows(case):
    """Small clean sources, each bent to exercise one fused-stat edge."""
    rows = [
        ("Europe", "France", "Fruit", "Online", "H", "1/5/2020", 1, "1/8/2020", 1, 2.0, 1.0, 10.0, 5.0, 5.0),
        ("Europe", "Spain", "Meat", "Offline", "L", "2/5/2020", 2, "2/9/2020", 2, 3.0, 1.0, 20.0, 8.0, 12.0),
        ("Asia", "Japan", "Fruit", "Online", "M", "3/5/2020", 3, "3/7/2020", 3, 4.0, 2.0, 30.0, 9.0, 21.0),
        ("Asia", "China", "Cereal", "Offline", "C", "4/5/2020", 4, "4/6/2020", 4, 5.0, 2.0, 40.0, 20.0, 20.0),
    ]
    rows = [list(r) for r in rows]
    if case == "null_priority":
        rows[1][4] = None  # 'Unknown' joins the one-hot categories
    elif case == "fractional_median":
        rows.append(["Africa", "Kenya", "Meat", "Online", "H", "5/5/2020", 5, "5/6/2020", None, 2.0, 1.0, None, 3.0, 1.0])
    elif case == "null_profit":
        for r in rows:
            r[13] = None  # no median to fill, no quartiles to clip to
    elif case == "constant_revenue":
        for r in rows:
            r[11] = 25.0  # min == max → a 0.0 norm
    return [tuple(r) for r in rows]


@pytest.mark.parametrize(
    "case", ["planted", "null_priority", "fractional_median", "null_profit", "constant_revenue"]
)
def test_transform_sales_matches_step_per_pass_oracle(spark, case):
    from bigdata_etl_elt_dashboard_spark.schemas import SALES_RAW

    if case == "planted":
        local, api = sales_sources(spark)
    else:
        local = spark.createDataFrame(_edge_rows(case), SALES_RAW)
        api = spark.createDataFrame([], SALES_RAW)
    got = TR.transform_sales(local, api)
    want = _oracle_transform_sales(local, api)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    if case == "null_priority":
        assert "order_priority_Unknown" in got.columns
    if case == "fractional_median":
        row = got.filter(F.col("order_id") == 5).first()
        assert row["units_sold"] == 2  # median 2.5 cast into the int column
    if case == "null_profit":
        assert got.filter(F.col("total_profit").isNull()).count() == 0  # recomputed, not filled
    if case == "constant_revenue":
        assert {r[0] for r in got.select("total_revenue_norm").collect()} == {0.0}
