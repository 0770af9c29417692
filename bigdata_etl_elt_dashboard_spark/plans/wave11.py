"""Round-11 registry additions.

``supplier_pareto_cumshare_twopass`` — the EXECUTED ordered-prefix escape
hatch. SCALING.md's round-10 full-frame-window sweep classified the
pareto/ECDF family (``supplier_pareto_cumshare``, ``li_pareto_cum_share``,
``stat_ks_price_by_status``) as intrinsically ordered-cumulative: their
``SUM(x) OVER (ORDER BY ...)`` frames are post-aggregation dim-bounded
(supplier/part catalog), so the single-partition ordered window is safe
TODAY, with the two-pass range-partitioned machinery
(``operators/scale.grouped_running_sum`` with no group columns +
``operators/scale.global_total``) documented as the rewrite path should a
frame ever scale with data. Per the r10 verdict task 3, this query PROVES
the hatch is executable, not just documented: the exact supplier-pareto
readout (same oracle SQL, same column names, same total order) computed
with NO unpartitioned row-bearing window —

1. one partial-aggregated fact shuffle to per-supplier fixed-point units;
2. ``grouped_running_sum([], [_ord, s_suppkey], units, inclusive=True)``:
   ``repartitionByRange`` on the order keys (descending revenue encoded as
   a negated column), per-slice prefix sums windowed BY PARTITION ID,
   per-slice totals rolled up to a ≤ n_partitions-row frame whose
   cumulative offsets broadcast back — the only single-partition pass is
   over that partition-count-bounded frame;
3. the grand total rides ``global_total`` (partial sums → 1-row reduce →
   broadcast), never ``SUM() OVER ()``.

Bit-equivalence with the window form is asserted two ways: the driver
gates both queries against the SAME DuckDB oracle, and
``tests/test_scale_smoke.py::test_ordered_prefix_two_pass_matches_window``
compares the two forms row-for-row on multi-partition data (the
same-pattern companion to ``test_global_total_matches_full_frame_window``).

Determinism: ``units`` is an exact fixed-point BIGINT; (units DESC,
s_suppkey) is a total order, so range-boundary sampling can never split
ties ambiguously; every double derives from exact BIGINTs with one IEEE
division at output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scale import global_total, grouped_running_sum
from ..sources.catalog import table
from .registry import register

#: Shared with supplier_pareto_cumshare (plans/corpus_quality.py) — the
#: two-pass form must agree with the window form to the bit, so they gate
#: against the IDENTICAL oracle text.
_PARETO_ORACLE = """
        WITH per AS (
            SELECT l_suppkey AS s_suppkey,
                   SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)) * 10000)
                       AS BIGINT)) AS units
            FROM lineitem GROUP BY l_suppkey
        ),
        j AS (
            SELECT p.s_suppkey, s.s_name, p.units
            FROM per p JOIN supplier s ON p.s_suppkey = s.s_suppkey
        ),
        w AS (
            SELECT *,
                   SUM(units) OVER (
                       ORDER BY units DESC, s_suppkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_units,
                   SUM(units) OVER () AS total_units
            FROM j
        )
        SELECT s_suppkey, s_name,
               CAST(units AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue,
               CAST(cum_units AS DOUBLE) / CAST(total_units AS DOUBLE)
                   AS cum_share,
               (cum_units * 5 <= total_units * 4) AS in_top80
        FROM w ORDER BY cum_units, s_suppkey
"""


@register(
    "supplier_pareto_cumshare_twopass",
    oracle=_PARETO_ORACLE,
    doc="Supplier pareto concentration, TWO-PASS form: identical readout "
    "(and oracle) to supplier_pareto_cumshare, computed without any "
    "unpartitioned row-bearing window — the cumulative prefix rides "
    "operators/scale.grouped_running_sum over range partitions (the only "
    "single-partition sort is over the ≤ n_partitions-row slice-totals "
    "frame) and the denominator rides global_total. This is the executed "
    "escape hatch for the ordered-cumulative family should its frame ever "
    "scale with data (SCALING.md round-11 note); at today's dim-bounded "
    "cardinality both forms are safe and bit-equal.",
)
def supplier_pareto_cumshare_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    units = F.sum(
        F.round(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            * F.lit(10000)
        ).cast("long")
    )
    per = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(units.alias("units"))
    # descending revenue encoded as an ascending negated key (units >= 0,
    # so the BIGINT negation can never overflow); s_suppkey breaks ties —
    # a total order, required for reproducible range boundaries
    j = per.join(sup, "s_suppkey").withColumn("_ord", -F.col("units"))
    cum = grouped_running_sum(
        j, [], ["_ord", "s_suppkey"], "units", out_col="_cum", inclusive=True
    )
    # cum's base frame is already pinned inside grouped_running_sum, so
    # both global_total branches re-read frozen bytes: pin_input=False
    # skips a redundant checkpoint job without losing determinism
    tot = global_total(cum, [F.sum("units").alias("_total")], pin_input=False)
    return (
        tot.select(
            "s_suppkey",
            "s_name",
            (F.col("units").cast("double") / F.lit(10000).cast("double")).alias(
                "revenue"
            ),
            (F.col("_cum").cast("double") / F.col("_total").cast("double")).alias(
                "cum_share"
            ),
            (F.col("_cum") * 5 <= F.col("_total") * 4).alias("in_top80"),
            F.col("_cum"),
        )
        .orderBy("_cum", "s_suppkey")
        .drop("_cum")
    )


@register(
    "ev_click_view_outer_twin",
    oracle="""
        WITH clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        views AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'view'
        )
        SELECT c.event_id AS click_id,
               c.user_id AS user_id,
               c.ts AS click_ts,
               v.ts AS view_ts,
               v.value AS view_value
        FROM clicks c
        LEFT JOIN views v
          ON c.user_id = v.user_id
         AND v.ts >= c.ts - INTERVAL 10 MINUTE
         AND v.ts < c.ts
        ORDER BY click_id, view_ts
""",
    doc="Row-level LEFT range join — the batch twin of the round-11 "
    "streaming stream_click_view_join_outer (streaming/events.py): every "
    "click emitted, paired with the same user's views from the preceding "
    "10 minutes or null-extended when none matched. Rides "
    "operators/temporal.range_join, whose exact row-level LEFT semantics "
    "(two-bucket probe padding collapsed to exactly one null survivor per "
    "unmatched left row) were until now driver-gated only through the "
    "per-click AGGREGATE (ev_range_recent_views) — this row gates the raw "
    "pair/null rows the streaming form must reproduce. Scale shape: "
    "equi-join on (user_id, epoch bucket) + residual range predicate, "
    "never an inequality nested loop; the oracle's plain LEFT JOIN is the "
    "semantics spec, not the plan.",
)
def ev_click_view_outer_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import range_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = range_join(
        clicks, views, key="user_id", left_ts="ts", right_ts="ts", window_seconds=600
    )
    return joined.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("r_ts").alias("view_ts"),
        F.col("r_value").alias("view_value"),
    ).orderBy("click_id", "view_ts")


@register(
    "ev_click_view_full_twin",
    oracle="""
        WITH clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        views AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'view'
        )
        SELECT c.event_id AS click_id,
               COALESCE(c.user_id, v.user_id) AS user_id,
               c.ts AS click_ts,
               v.ts AS view_ts,
               v.value AS view_value
        FROM clicks c
        FULL JOIN views v
          ON c.user_id = v.user_id
         AND v.ts >= c.ts - INTERVAL 10 MINUTE
         AND v.ts < c.ts
        ORDER BY click_id, view_ts
""",
    doc="FULL OUTER range join — batch twin of the round-11 streaming "
    "stream_click_view_join_full: both sides total — every click emits "
    "(paired or null-extended) AND every view with no click following it "
    "within 10 minutes emits null-extended (the orphan-view class). The "
    "oracle's plain FULL JOIN is the semantics spec; the Spark plan "
    "never runs an inequality outer join: the click side rides the "
    "epoch-bucketed range_join (LEFT semantics), and the orphan views "
    "are a direct bucket-keyed LEFT ANTI probe — each click explodes to "
    "the two buckets its backward window covers, a view is an orphan iff "
    "no (user_id, bucket)-matching probe row satisfies the range "
    "residual. The click/view base is pinned ONCE (operators/scale.pin) "
    "and all three references read the frozen bytes — one fact scan, "
    "not four (the shared-frame-recompute class the registry plan lint "
    "rejects).",
)
def ev_click_view_full_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import pin
    from ..operators.temporal import range_join

    ev = table(spark, sf_dir, "events")
    # scan-budget: events scanned 4 times without it
    base = pin(
        ev.filter(F.col("event_type").isin("click", "view")).select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = base.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    pairs = range_join(
        clicks, views, key="user_id", left_ts="ts", right_ts="ts", window_seconds=600
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("r_ts").alias("view_ts"),
        F.col("r_value").alias("view_value"),
    )
    # forward probe: a click at bucket cb can claim views in buckets
    # {cb-1, cb}; a view with NO admissible probe row is an orphan
    cb = F.floor(F.unix_timestamp(F.col("ts")) / 600)
    probe = clicks.select(
        F.col("user_id").alias("_pu"),
        F.col("ts").alias("_pts"),
        F.explode(F.array(cb - 1, cb)).alias("_pb"),
    )
    vb = F.floor(F.unix_timestamp(F.col("ts")) / 600)
    orphan_views = views.join(
        probe,
        (F.col("user_id") == F.col("_pu"))
        & (vb == F.col("_pb"))
        & (F.col("ts") >= F.col("_pts") - F.expr("INTERVAL 600 SECONDS"))
        & (F.col("ts") < F.col("_pts")),
        "left_anti",
    ).select(
        F.lit(None).cast("long").alias("click_id"),
        F.col("user_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    return pairs.unionByName(orphan_views).orderBy("click_id", "view_ts")
