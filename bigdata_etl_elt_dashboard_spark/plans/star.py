"""Star-schema build as verifiable queries (SURVEY §2.1 S7, §2.3 J12, §2.5 W2).

The reference's two warehouse variants (dw_sales, etl_pipeline/load.py:51-139;
elt star schema, elt/hold.ipynb:cell13 + transforms.ipynb:cell20-29) mapped
onto the testdata: dim_date from o_orderdate, dim_geo from region×nation
(dim_country analog), fact from orders with FK resolution + the integrity
invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.warehouse import build_dim, fk_integrity, resolve_fk, snapshot_delta
from ..sources.catalog import table
from ..functions.exact_agg import xsum, xsum_sql
from .registry import register
from ..operators.scale import pin


def _dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    base = orders.select(F.col("o_orderdate").cast("date").alias("order_date"))
    return build_dim(
        base,
        ["order_date"],
        "date_id",
        extra_cols=[
            F.year("order_date").alias("order_year"),
            F.month("order_date").alias("order_month"),
        ],
    )


def _dim_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    base = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("country"))
    )
    return build_dim(base, ["region", "country"], "geo_id")


@register(
    "star_dim_date",
    oracle="""
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY order_date NULLS FIRST)
                    AS INTEGER) AS date_id,
               order_date,
               CAST(year(order_date) AS INTEGER) AS order_year,
               CAST(month(order_date) AS INTEGER) AS order_month
        FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders)
        ORDER BY date_id
    """,
    doc="S7+W2: dim_date with deterministic surrogate keys (load.py:161-176 "
    "sorts by order_date before insert — same order here, in-plan). The "
    "null natural key is a REAL dim member (the warehouse unknown-member "
    "row for undated facts) and its slot is pinned: NULLS FIRST = "
    "surrogate id 1 (Spark's ASC default, explicit in the oracle — r12 "
    "variant sweep caught the engines' opposite defaults).",
)
def star_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dim_date(spark, sf_dir)


@register(
    "star_dim_geo",
    oracle="""
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY region, country) AS INTEGER) AS geo_id,
               region, country
        FROM (
            SELECT DISTINCT r_name AS region, n_name AS country
            FROM nation JOIN region ON n_regionkey = r_regionkey
        )
        ORDER BY geo_id
    """,
    doc="S7+W2+A9: dim_country analog — composite natural key "
    "(region, country), surrogate id ordered by it (load.py:178-183).",
)
def star_dim_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dim_geo(spark, sf_dir)


_FACT_ORACLE = """
    WITH dim_date AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY order_date NULLS FIRST)
                    AS INTEGER) AS date_id, order_date
        FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders)
    ), dim_geo AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY region, country) AS INTEGER) AS geo_id,
               region, country
        FROM (
            SELECT DISTINCT r_name AS region, n_name AS country
            FROM nation JOIN region ON n_regionkey = r_regionkey
        )
    ), geo_of_cust AS (
        SELECT c_custkey, geo_id
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        JOIN dim_geo ON r_name = region AND n_name = country
    )
    SELECT o_orderkey AS sales_id, d.date_id, g.geo_id, o_totalprice
    FROM orders o
    LEFT JOIN dim_date d ON CAST(o.o_orderdate AS DATE) = d.order_date
    LEFT JOIN geo_of_cust g ON o.o_custkey = g.c_custkey
"""


def _fact_sales(
    spark: SparkSession,
    sf_dir: str,
    dim_date: DataFrame | None = None,
    dim_geo: DataFrame | None = None,
) -> DataFrame:
    """Unsorted fact build — the composable form: downstream consumers
    (integrity check, region report, one-big-table) join or aggregate it,
    where a global sort is a pure range-shuffle tax at fact scale.
    Consumers that ALSO join the dims afterwards pass their dim frames in
    so each dim is defined once; the fact build references each more than
    once (FK resolve + the geo_of_cust bridge), and the dims are
    broadcast-sized by nature."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")

    if dim_date is None:
        dim_date = _dim_date(spark, sf_dir)
    dim_date = dim_date.select("date_id", "order_date")
    if dim_geo is None:
        dim_geo = _dim_geo(spark, sf_dir)

    geo_of_cust = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", F.col("r_name").alias("region"), F.col("n_name").alias("country"))
    )
    geo_of_cust = resolve_fk(geo_of_cust, dim_geo, ["region", "country"], "geo_id", how="inner")

    fact = orders.select(
        F.col("o_orderkey").alias("sales_id"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_custkey",
        "o_totalprice",
    )
    fact = resolve_fk(fact, dim_date, ["order_date"], "date_id")
    # geo_of_cust is customer-cardinality (scales with SF) — no broadcast
    # hint; AQE size-gates the strategy (auto-broadcast at small SF, shuffle
    # join at scale).
    fact = fact.join(
        geo_of_cust.select("c_custkey", "geo_id"),
        fact.o_custkey == geo_of_cust.c_custkey,
        "left",
    )
    return fact.select("sales_id", "date_id", "geo_id", "o_totalprice")


@register(
    "star_fact_sales",
    oracle=_FACT_ORACLE + " ORDER BY sales_id",
    doc="J2–J5+J12: fact build — FK resolution via in-plan broadcast joins "
    "on natural keys (replaces the reference's dim read-back round-trip, "
    "load.py:178-199 + pandas merges 206-253).",
)
def star_fact_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fact_sales(spark, sf_dir).orderBy("sales_id")


@register(
    "star_fk_integrity",
    oracle=f"""
        SELECT COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE date_id IS NULL) AS date_id_unresolved,
               COUNT(*) FILTER (WHERE geo_id IS NULL) AS geo_id_unresolved
        FROM ({_FACT_ORACLE})
    """,
    doc="§2.9 rule 5 + §5.2 invariant: every fact FK resolves "
    "(anti-join-empty check, transform.py:118-121).",
)
def star_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = _fact_sales(spark, sf_dir)
    return fk_integrity(fact, ["date_id", "geo_id"])


@register(
    "star_region_report",
    oracle=f"""
        WITH fact AS ({_FACT_ORACLE}),
        dim_geo AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY region, country) AS INTEGER) AS geo_id,
                   region, country
            FROM (
                SELECT DISTINCT r_name AS region, n_name AS country
                FROM nation JOIN region ON n_regionkey = r_regionkey
            )
        )
        SELECT g.region, COUNT(*) AS n_sales, {xsum_sql("f.o_totalprice")} AS revenue
        FROM fact f JOIN dim_geo g ON f.geo_id = g.geo_id
        GROUP BY g.region ORDER BY g.region
    """,
    doc="J13+A4: analytic report over the built star schema "
    "(hold.ipynb:cell14 region report: COUNT + SUM per region).",
)
def star_region_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one geo build: the fact's FK resolution and the report join share it
    dim_geo = _dim_geo(spark, sf_dir)
    fact = _fact_sales(spark, sf_dir, dim_geo=dim_geo)
    return (
        fact.join(F.broadcast(dim_geo), "geo_id")
        .groupBy("region")
        .agg(F.count("*").alias("n_sales"), xsum(F.col("o_totalprice")).alias("revenue"))
        .orderBy("region")
    )


@register(
    "wh_incremental_rollup",
    oracle="""
        SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)),
                        '%Y-%m-%d') AS month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents_sum,
               CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS max_cents
        FROM orders
        GROUP BY month ORDER BY month
    """,
    doc="Incremental rollup MAINTENANCE — the partial-aggregate merge "
    "idiom every 100 TB warehouse lives on: the monthly rollup is "
    "computed as merge(old partials, delta partials) — the historical "
    "partition (orderdate < 1997-01-01) and the new-batch partition "
    "each produce per-month partials (count / cents sum / max, all "
    "decomposable aggregates), and the merge re-aggregates the "
    "PARTIALS (counts sum, sums sum, maxes max) without touching a "
    "single historical fact row again. The oracle computes the rollup "
    "from scratch over all of orders — a green row IS the proof that "
    "merge(old, delta) == full recompute, i.e. the refresh never needs "
    "to re-scan history. Both partition scans carry pushed date "
    "predicates; every aggregate is map-side combinable.",
)
def wh_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cutoff = "1997-01-01"
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format(
                F.date_trunc("month", F.col("o_orderdate").cast("date")),
                "yyyy-MM-dd",
            ).alias("month")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("cents_sum"),
            F.max(cents).alias("max_cents"),
        )

    # The split MUST be exhaustive: a NULL date satisfies neither `<` nor
    # `>=`, and an incremental refresh that drops undated facts is silent
    # data loss (r12 variant sweep: 81 oracle months vs 80 merged — the
    # null month vanished). Undated rows ride the delta batch.
    old = partials(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partials(
        orders.filter(
            (F.col("o_orderdate") >= cutoff) | F.col("o_orderdate").isNull()
        )
    )
    return (
        old.unionAll(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),  # counts merge by summing
            F.sum("cents_sum").alias("cents_sum"),
            F.max("max_cents").alias("max_cents"),
        )
        .orderBy("month")
    )


@register(
    "wh_snapshot_delta_orders",
    oracle="""
        WITH oldt AS (
            SELECT o_orderkey AS k,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderstatus AS st
            FROM orders
        ),
        newt AS (
            SELECT k,
                   CASE WHEN k % 13 = 0 THEN cents + 1000 ELSE cents END AS cents,
                   st
            FROM oldt WHERE k % 17 <> 0
            UNION ALL
            SELECT k + 100000000 AS k, cents, st FROM oldt WHERE k % 19 = 0
        ),
        j AS (
            SELECT o.k AS ok, n.k AS nk, o.cents AS oc, n.cents AS nc,
                   o.st AS os, n.st AS ns
            FROM oldt o FULL OUTER JOIN newt n ON o.k = n.k
        )
        SELECT CASE WHEN ok IS NULL THEN 'insert'
                    WHEN nk IS NULL THEN 'delete'
                    WHEN oc <> nc OR os <> ns THEN 'update'
                    ELSE 'unchanged' END AS change_type,
               COUNT(*) AS n
        FROM j GROUP BY change_type ORDER BY change_type
    """,
    doc="CDC snapshot diff (operators/warehouse.snapshot_delta): "
    "yesterday's orders snapshot vs a planted today extract (%%17 keys "
    "deleted, %%13 prices bumped +10.00, %%19 keys cloned as inserts) "
    "classified insert/delete/update/unchanged — the batch MERGE "
    "primitive. Both snapshots reduce to (key, md5 row-hash) BEFORE the "
    "FULL OUTER join, so the wide payload never shuffles and neither "
    "side needs to broadcast; compare columns are engine-stable exact "
    "renderings (integer cents, status string). The oracle compares the "
    "columns directly — hash equality must equal value equality.",
)
def wh_snapshot_delta_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    oldt = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderstatus").alias("st"),
    )
    newt = oldt.filter(F.col("k") % 17 != 0).select(
        "k",
        F.when(F.col("k") % 13 == 0, F.col("cents") + 1000)
        .otherwise(F.col("cents"))
        .alias("cents"),
        "st",
    ).unionAll(
        oldt.filter(F.col("k") % 19 == 0).select(
            (F.col("k") + 100000000).alias("k"), "cents", "st"
        )
    )
    delta = snapshot_delta(oldt, newt, ["k"], ["cents", "st"])
    return (
        delta.groupBy("change_type")
        .agg(F.count("*").alias("n"))
        .orderBy("change_type")
    )


@register(
    "wh_merge_upsert_orders",
    oracle="""
        WITH t AS (
            SELECT o_orderkey AS k,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderpriority AS prio
            FROM orders
        ),
        u AS (
            -- the update batch: %13 keys re-priced +10.00 and re-prioritized,
            -- %19 keys cloned as NEW keys, %17 keys flagged for delete
            SELECT k, cents + 1000 AS cents, 'MERGED' AS prio, false AS is_del
            FROM t WHERE k % 13 = 0 AND k % 17 <> 0
            UNION ALL
            SELECT k + 100000000 AS k, cents, 'INSERTED' AS prio, false
            FROM t WHERE k % 19 = 0
            UNION ALL
            SELECT k, cents, prio, true FROM t WHERE k % 17 = 0
        ),
        merged AS (
            SELECT COALESCE(u.k, t.k) AS k,
                   COALESCE(u.cents, t.cents) AS cents,
                   COALESCE(u.prio, t.prio) AS prio,
                   COALESCE(u.is_del, false) AS is_del
            FROM t FULL OUTER JOIN u ON t.k = u.k
        )
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS key_sum,
               CAST(SUM(cents) AS BIGINT) AS cents_sum,
               CAST(COUNT(*) FILTER (prio = 'MERGED') AS BIGINT) AS n_updated,
               CAST(COUNT(*) FILTER (prio = 'INSERTED') AS BIGINT) AS n_inserted
        FROM merged WHERE NOT is_del
    """,
    doc="Batch MERGE apply (operators/warehouse.merge_upsert): the "
    "WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED "
    "INSERT primitive as a derived plan — update batch planted from "
    "orders (%13 re-priced, %19 cloned as inserts, %17 flagged "
    "delete), applied by union + ONE keyed window (batch row wins per "
    "key), digested to exact integer sums. The oracle applies the same "
    "batch with a FULL OUTER join — the two formulations must agree "
    "exactly, proving update-wins, insert, delete, and pass-through "
    "paths all at once. Idempotent and replayable: no mutable store, "
    "same single merge-key shuffle a transactional MERGE would pay.",
)
def wh_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warehouse import merge_upsert

    orders = table(spark, sf_dir, "orders")
    # t is both the merge target and the base the planted batch derives
    # from (3 filtered projections)
    t = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    ).transform(pin)  # scan-budget: orders scanned 4 times without it
    u = (
        t.filter((F.col("k") % 13 == 0) & (F.col("k") % 17 != 0))
        .select("k", (F.col("cents") + 1000).alias("cents"), F.lit("MERGED").alias("prio"), F.lit(False).alias("is_del"))
        .unionAll(
            t.filter(F.col("k") % 19 == 0).select(
                (F.col("k") + 100000000).alias("k"), "cents", F.lit("INSERTED").alias("prio"), F.lit(False).alias("is_del")
            )
        )
        .unionAll(
            t.filter(F.col("k") % 17 == 0).select("k", "cents", "prio", F.lit(True).alias("is_del"))
        )
    )
    merged = merge_upsert(t, u, keys=["k"], delete_col="is_del")
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("key_sum"),
        F.sum("cents").alias("cents_sum"),
        F.count(F.when(F.col("prio") == "MERGED", 1)).alias("n_updated"),
        F.count(F.when(F.col("prio") == "INSERTED", 1)).alias("n_inserted"),
    )


@register(
    "star_one_big_table",
    oracle="""
        WITH dim_date AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY order_date) AS INTEGER) AS date_id,
                   order_date,
                   CAST(year(order_date) AS INTEGER) AS order_year,
                   CAST(month(order_date) AS INTEGER) AS order_month
            FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders)
        ), dim_geo AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY region, country) AS INTEGER) AS geo_id,
                   region, country
            FROM (
                SELECT DISTINCT r_name AS region, n_name AS country
                FROM nation JOIN region ON n_regionkey = r_regionkey
            )
        ), geo_of_cust AS (
            SELECT c_custkey, geo_id
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            JOIN dim_geo ON r_name = region AND n_name = country
        ), fact AS (
            SELECT o_orderkey AS sales_id, d.date_id, g.geo_id, o_totalprice
            FROM orders o
            LEFT JOIN dim_date d ON CAST(o.o_orderdate AS DATE) = d.order_date
            LEFT JOIN geo_of_cust g ON o.o_custkey = g.c_custkey
        )
        SELECT f.sales_id, d.order_date, d.order_year, d.order_month,
               g.region, g.country, f.o_totalprice
        FROM fact f
        LEFT JOIN dim_date d ON f.date_id = d.date_id
        LEFT JOIN dim_geo g ON f.geo_id = g.geo_id
        ORDER BY sales_id
    """,
    doc="The denormalized 'one big table' BI view (SURVEY §1.1 flat-table "
    "row; dashboard/app.py:67-81 joins the warehouse back flat exactly "
    "like this): the star fact re-joined through its dimensions into the "
    "wide consumer-facing relation. Both dims are broadcast BY NATURE — "
    "dim_date is calendar-bounded and dim_geo is region×nation-bounded, "
    "neither scales with fact rows — so the denormalization adds zero "
    "shuffles on top of the fact build; at 100 TB this is the "
    "materialized-view definition you'd refresh per partition.",
)
def star_one_big_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize each broadcast-by-nature dim ONCE (they are needed twice:
    # FK resolution inside the fact build + the wide rejoin here) — the
    # un-truncated plan rebuilt them per reference (10 scans at r03).
    dd = _dim_date(spark, sf_dir)
    dg = _dim_geo(spark, sf_dir)
    fact = _fact_sales(spark, sf_dir, dim_date=dd, dim_geo=dg)
    return (
        fact.join(F.broadcast(dd), "date_id", "left")
        .join(F.broadcast(dg), "geo_id", "left")
        .select(
            "sales_id",
            "order_date",
            "order_year",
            "order_month",
            "region",
            "country",
            "o_totalprice",
        )
        .orderBy("sales_id")
    )


@register(
    "ev_hierarchical_rollup",
    oracle="""
        SELECT strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents_sum,
               CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS max_cents
        FROM events
        GROUP BY 1, 2 ORDER BY month, event_type
    """,
    doc="HYPERTABLE-style hierarchical rollup (the TimescaleDB "
    "continuous-aggregate cascade): events roll to HOURLY partials, "
    "hours roll to DAILY partials, days roll to MONTHLY — each level "
    "re-aggregating only the level below (counts sum, sums sum, maxes "
    "max; all decomposable), never the raw events. The oracle computes "
    "the monthly rollup DIRECTLY from events, so a green row proves the "
    "cascade identity merge(merge(merge(raw))) == direct — the "
    "invariant that lets a 100 TB event store serve month queries from "
    "day partials and day queries from hour partials without ever "
    "re-touching raw rows, and refresh any level incrementally (see "
    "wh_incremental_rollup for the old+delta form of the same "
    "algebra). Three partial-aggregatable groupBys over strictly "
    "shrinking frames; the raw table is scanned exactly once.",
)
def ev_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(cents).alias("cents_sum"),
        F.max(cents).alias("max_cents"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("hour")).alias("day"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("cents_sum").alias("cents_sum"),
        F.max("max_cents").alias("max_cents"),
    )
    return (
        daily.groupBy(
            F.date_format(F.date_trunc("month", F.col("day")), "yyyy-MM-dd").alias(
                "month"
            ),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("cents_sum").alias("cents_sum"),
            F.max("max_cents").alias("max_cents"),
        )
        .orderBy("month", "event_type")
    )


@register(
    "wh_late_arriving_dim",
    oracle="""
        WITH known AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
        phase1 AS (
            SELECT COALESCE(k.c_mktsegment, 'UNKNOWN') AS segment,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders o LEFT JOIN known k ON o.o_custkey = k.c_custkey
            GROUP BY segment
        ),
        resolved AS (
            SELECT c.c_mktsegment AS segment,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY segment
        )
        SELECT COALESCE(p.segment, r.segment) AS segment,
               COALESCE(p.n_orders, 0) AS n_phase1,
               COALESCE(r.n_orders, 0) AS n_after_backfill,
               COALESCE(p.cents, 0) AS cents_phase1,
               COALESCE(r.cents, 0) AS cents_after_backfill
        FROM phase1 p FULL OUTER JOIN resolved r ON p.segment = r.segment
        ORDER BY segment
    """,
    doc="Late-arriving-dimension handling — the warehouse pattern where "
    "fact rows land BEFORE their dimension member exists: phase 1 "
    "resolves orders against the known dim slice (every 10th customer "
    "'late'), bucketing unresolved facts under an explicit UNKNOWN "
    "member instead of dropping them (an inner join would silently lose "
    "10% of revenue — the classic bug); after the dim backfill arrives, "
    "the re-resolved rollup is reported next to phase 1 per segment, so "
    "the UNKNOWN bucket's drain into real segments is auditable. Shape: "
    "two broadcast fact⋈dim rollups and a FULL OUTER merge of their "
    "segment-sized results; at 100 TB the backfill pass would re-resolve "
    "ONLY the UNKNOWN-keyed facts (the incremental form proven by "
    "wh_incremental_rollup) — run here over the full fact table so the "
    "oracle pins both phases end-to-end. Cents exact; counts BIGINT.",
)
def wh_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    known = customer.filter(F.col("c_custkey") % 10 != 0)
    cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    phase1 = (
        orders.join(
            F.broadcast(known.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == known.c_custkey,
            "left",
        )
        .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"))
        .agg(F.count("*").alias("n_orders"), cents)
    )
    resolved = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_orders"), cents)
    )
    p = phase1.select(
        F.col("segment").alias("p_seg"), F.col("n_orders").alias("p_n"),
        F.col("cents").alias("p_c"),
    )
    r = resolved.select(
        F.col("segment").alias("r_seg"), F.col("n_orders").alias("r_n"),
        F.col("cents").alias("r_c"),
    )
    return (
        p.join(r, p.p_seg == r.r_seg, "full_outer")
        .select(
            F.coalesce(F.col("p_seg"), F.col("r_seg")).alias("segment"),
            F.coalesce(F.col("p_n"), F.lit(0)).alias("n_phase1"),
            F.coalesce(F.col("r_n"), F.lit(0)).alias("n_after_backfill"),
            F.coalesce(F.col("p_c"), F.lit(0)).alias("cents_phase1"),
            F.coalesce(F.col("r_c"), F.lit(0)).alias("cents_after_backfill"),
        )
        .orderBy("segment")
    )
