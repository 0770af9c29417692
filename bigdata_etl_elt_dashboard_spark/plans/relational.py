"""Advanced relational shapes rounding out the SQL surface (SURVEY §2 J/A
families; beyond-reference, TPC-H skeletons adapted to this schema).

Four classic decision-support patterns the reference's dashboards would
need as they grow, each expressed as the one-shuffle-per-stage plan you'd
want at 100 TB:

- EXISTS semi-join (TPC-H Q4 shape): the fact⋈fact semi join shuffles on
  the join key once; the probe side never widens the build rows.
- HAVING over a keyed SUM with join-back (Q18 shape): the aggregate
  filter runs BEFORE the joins, so only qualifying orders reach them.
- Scalar-threshold + anti-join (Q22 shape): the global scalar is a 1-row
  aggregate broadcast back onto the row stream (never a window over the
  full table), and "no recent orders" is a hash left-anti join.
- Distinct-count diversity with a NOT-IN exclusion (Q16 shape): the
  exclusion list is an anti join; pair dedup is partial-aggregatable.

Determinism: counts and integral-quantity sums are exact integers;
account balances quantize to integer cents before summing, so every
aggregate is order-independent and hashes identically on DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import table
from .registry import register

#: Q18-style basket threshold (sum of integral quantities per order).
_BASKET_MIN_QTY = 250


@register(
    "orders_returned_semi",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE EXTRACT(year FROM o_orderdate) = 1995
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="EXISTS semi-join (TPC-H Q4 skeleton): 1995 orders with at least "
    "one returned line item, counted per priority. The EXISTS decorrelates "
    "to a LEFT SEMI hash join — the probe emits each order at most once "
    "(no duplicate inflation, no distinct needed) and carries no payload "
    "from the build side. Both sides are facts, so the join shuffles on "
    "the order key; the date filter prunes the probe side at the parquet "
    "scan before the shuffle.",
)
def orders_returned_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    returned = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        orders.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "cust_big_basket_orders",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey,
                   CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS sum_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING CAST(ROUND(SUM(l_quantity)) AS BIGINT) > {_BASKET_MIN_QTY}
        )
        SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice, b.sum_qty
        FROM big b
        JOIN orders o ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY b.sum_qty DESC, o.o_orderkey
        LIMIT 100
    """,
    doc="HAVING + join-back (TPC-H Q18 skeleton): orders whose total "
    f"quantity exceeds {_BASKET_MIN_QTY}, with their customer. The keyed "
    "SUM + HAVING runs FIRST (partial-aggregatable — map-side combine on "
    "l_orderkey), so only the rare qualifying orders flow into the "
    "orders/customer joins; quantities are integral doubles, so the sum "
    "is exact in any order and casts losslessly to BIGINT. Join "
    "strategies stay size-driven (AQE): both orders and customer scale "
    "with the fact table. Top-100 via TakeOrderedAndProject with an "
    "o_orderkey tie-break for cross-engine determinism.",
)
def cust_big_basket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("sum_qty"))
        .filter(F.col("sum_qty") > _BASKET_MIN_QTY)
    )
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("sum_qty"), "o_orderkey")
        .limit(100)
    )


@register(
    "cust_idle_rich_anti",
    oracle="""
        WITH pos AS (
            SELECT COUNT(*) AS n_pos,
                   SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS s_pos
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c_mktsegment,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                   / CAST(100 AS DOUBLE) AS total_acctbal
        FROM customer c, pos
        WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * pos.n_pos > pos.s_pos
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND EXTRACT(year FROM o.o_orderdate) = 1998)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    doc="Scalar threshold + anti-join (TPC-H Q22 skeleton): customers "
    "whose balance beats the average positive balance but who placed no "
    "1998 orders, rolled up per market segment. The global average is a "
    "1-row aggregate broadcast back onto the customer stream (a window "
    "over the full table would single-partition it at scale), and the "
    "above-average test is the exact integer cross-multiplication "
    "cents·n > Σcents — no float division before the filter. 'No recent "
    "orders' is a hash LEFT ANTI join against the year-pruned orders "
    "scan. Balance totals are exact integer cents with ONE final IEEE "
    "division.",
)
def cust_idle_rich_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.count("*").alias("n_pos"), F.sum(cents).alias("s_pos")
    )
    orders98 = (
        table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1998)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    rich = cust.join(F.broadcast(pos)).filter(cents * F.col("n_pos") > F.col("s_pos"))
    return (
        rich.join(orders98, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum(cents).cast("double") / F.lit(100).cast("double")).alias(
                "total_acctbal"
            ),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "part_supplier_diversity",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey
            FROM lineitem
            WHERE l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        )
        SELECT p.p_type,
               COUNT(DISTINCT pr.l_suppkey) AS n_suppliers,
               COUNT(DISTINCT pr.l_partkey) AS n_parts,
               COUNT(*) AS n_pairs
        FROM pairs pr JOIN part p ON pr.l_partkey = p.p_partkey
        GROUP BY p.p_type
        ORDER BY p.p_type
    """,
    doc="Supplier-diversity distinct counts with a NOT-IN exclusion "
    "(TPC-H Q16 skeleton): how many distinct suppliers and parts trade in "
    "each part type, excluding negative-balance suppliers. NOT IN (keys "
    "are non-null) becomes a hash LEFT ANTI join; the (part, supplier) "
    "pair dedup is a partial-aggregatable distinct BEFORE the part join, "
    "so the join and the distinct-count shuffle see deduplicated pairs, "
    "not raw line items. Join strategies are size-driven (AQE) — both "
    "part and supplier scale with SF. All outputs are exact integer "
    "counts.",
)
def part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    pairs = li.dropDuplicates(["l_partkey", "l_suppkey"]).join(
        bad, "l_suppkey", "left_anti"
    )
    return (
        pairs.join(part, pairs.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count_distinct(F.col("l_suppkey")).alias("n_suppliers"),
            F.count_distinct(F.col("l_partkey")).alias("n_parts"),
            F.count("*").alias("n_pairs"),
        )
        .orderBy("p_type")
    )


@register(
    "supplier_top_quarter_revenue",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                            AS BIGINT)) AS cents
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        ),
        mx AS (SELECT MAX(cents) AS m FROM rev)
        SELECT s.s_suppkey, s.s_name,
               CAST(r.cents AS DOUBLE) / CAST(100 AS DOUBLE) AS total_revenue
        FROM rev r
        JOIN supplier s ON r.l_suppkey = s.s_suppkey
        CROSS JOIN mx
        WHERE r.cents = mx.m
        ORDER BY s.s_suppkey
    """,
    doc="Argmax WITH TIES (TPC-H Q15 skeleton): the supplier(s) with "
    "maximum revenue in 1996Q1 — every tie survives, which LIMIT 1 "
    "ranking gets wrong. The quarter filter prunes at the parquet scan; "
    "revenue is one partial-aggregated keyed sum in exact integer "
    "cents; the maximum is a 1-row aggregate broadcast back, so ties "
    "compare integers (no float-equality trap — the reason the revenue "
    "stays in cents until output). Supplier join is size-driven (AQE).",
)
def supplier_top_quarter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    cents = F.sum(
        F.round(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
        ).cast("long")
    )
    rev = li.groupBy("l_suppkey").agg(cents.alias("cents"))
    mx = rev.agg(F.max("cents").alias("m"))
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("cents") == F.col("m"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("cents").cast("double") / F.lit(100).cast("double")).alias(
                "total_revenue"
            ),
        )
        .orderBy("s_suppkey")
    )


@register(
    "set_ops_all_part_multisets",
    oracle="""
        WITH ex AS (
            SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
            EXCEPT ALL
            SELECT l_partkey FROM lineitem WHERE l_tax < 0.03
        ),
        inter AS (
            SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
            INTERSECT ALL
            SELECT l_partkey FROM lineitem WHERE l_tax < 0.03
        )
        SELECT 'except_all' AS op, COUNT(*) AS n_rows,
               COUNT(DISTINCT l_partkey) AS n_keys
        FROM ex
        UNION ALL
        SELECT 'intersect_all' AS op, COUNT(*) AS n_rows,
               COUNT(DISTINCT l_partkey) AS n_keys
        FROM inter
        ORDER BY op
    """,
    doc="Multiset set operations (EXCEPT ALL / INTERSECT ALL) — the "
    "bag-semantics complement of the distinct INTERSECT/EXCEPT pair "
    "(set_ops_customer_years): per key the difference keeps "
    "max(0, c1−c2) copies and the intersection min(c1, c2), which "
    "distinct semantics collapse. Both compile to one hash aggregation "
    "per side plus a counted merge (no join explosion, no distinct "
    "before the op — multiplicity IS the payload); summarized as row/"
    "key counts per operator for a deterministic single-row-per-op "
    "gate. Part keys of returned line items vs low-tax line items.",
)
def set_ops_all_part_multisets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.filter(F.col("l_tax") < 0.03).select("l_partkey")
    ex = a.exceptAll(b).agg(
        F.lit("except_all").alias("op"),
        F.count("*").alias("n_rows"),
        F.count_distinct(F.col("l_partkey")).alias("n_keys"),
    )
    inter = a.intersectAll(b).agg(
        F.lit("intersect_all").alias("op"),
        F.count("*").alias("n_rows"),
        F.count_distinct(F.col("l_partkey")).alias("n_keys"),
    )
    return ex.unionAll(inter).orderBy("op")


@register(
    "part_small_qty_revenue",
    oracle="""
        WITH lp AS (
            SELECT l.l_partkey AS pk,
                   CAST(ROUND(l.l_quantity) AS BIGINT) AS qty,
                   CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_type = 'PROMO'
        ),
        w AS (
            SELECT qty, cents,
                   SUM(qty) OVER (PARTITION BY pk) AS s,
                   COUNT(*) OVER (PARTITION BY pk) AS n
            FROM lp
        )
        SELECT COUNT(*) AS n_small_orders,
               CAST(SUM(cents) AS BIGINT) AS cents_sum,
               CAST(SUM(cents) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
        FROM w WHERE 5 * qty * n < s
    """,
    doc="TPC-H Q17 skeleton — the CORRELATED SCALAR SUBQUERY shape "
    "('quantity below 20% of this part's average') decorrelated the way "
    "a 100 TB plan must run it: instead of re-executing a per-part "
    "average subquery per row (the naive correlated form) or a "
    "groupBy+self-join (two shuffles), the per-part sum/count ride a "
    "single partkey-keyed WINDOW over the filtered fact — one shuffle, "
    "no second scan. The 20%-of-average threshold evaluates as the "
    "exact integer cross-multiplication 5·qty·n < Σqty (quantities are "
    "integral), so the filter is bit-deterministic; revenue sums exact "
    "cents with the /100/7 renders as a fixed double sequence. The "
    "PROMO part filter arrives broadcast and prunes before the window.",
)
def part_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    promo = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        F.col("p_partkey").alias("l_partkey")
    )
    lp = li.join(F.broadcast(promo), "l_partkey")
    w = Window.partitionBy("l_partkey")
    flagged = lp.select(
        "qty",
        "cents",
        F.sum("qty").over(w).alias("s"),
        F.count("*").over(w).alias("n"),
    ).filter(5 * F.col("qty") * F.col("n") < F.col("s"))
    return flagged.agg(
        F.count("*").alias("n_small_orders"),
        F.sum("cents").alias("cents_sum"),
        (
            F.sum("cents").cast("double") / F.lit(100.0) / F.lit(7.0)
        ).alias("avg_yearly"),
    )


@register(
    "li_nation_trade_volume",
    oracle="""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(CAST(l.l_shipdate AS DATE)) AS INTEGER) AS l_year,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(ROUND(l.l_extendedprice
                                   * (1 - l.l_discount) * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE sn.n_name <> cn.n_name
          AND sn.n_regionkey = cn.n_regionkey
        GROUP BY 1, 2, 3
        ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 skeleton — bilateral trade volume: yearly revenue for "
    "every CROSS-NATION pair within a region (supplier's nation ships "
    "to a different customer nation), the two-role dimension pattern "
    "where the SAME nation table joins twice under different aliases. "
    "Plan shape for 100 TB: lineitem⋈orders is the one fact-fact "
    "shuffle; customer/supplier enrich keyed (AQE size-gates), and "
    "both nation lookups broadcast; the cross-nation + same-region "
    "predicate applies after the broadcast joins as a cheap residual. "
    "Revenue is the exact-cents quantized discount product; one "
    "partial-aggregated rollup onto the bounded "
    "(nation, nation, year) grid.",
)
def li_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year(F.col("l_shipdate").cast("date")).alias("l_year"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("cust_nation"),
        F.col("n_regionkey").alias("_cr"),
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("supp_nation"),
        F.col("n_regionkey").alias("_sr"),
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cn), "c_nationkey")
        .join(F.broadcast(sn), "s_nationkey")
        .filter(
            (F.col("supp_nation") != F.col("cust_nation"))
            & (F.col("_sr") == F.col("_cr"))
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "cust_order_count_histogram",
    oracle="""
        WITH oc AS (
            SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM oc GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 skeleton — the customer order-count DISTRIBUTION: how "
    "many customers placed exactly k (non-urgent) orders, INCLUDING the "
    "zero bucket. The load-bearing subtlety is the filter's position: "
    "the priority predicate lives in the LEFT JOIN's ON clause, so a "
    "customer whose every order is urgent still appears with count 0 — "
    "a WHERE clause would silently drop them (the classic outer-join "
    "filter-placement bug). COUNT(o_orderkey) counts matches, not rows, "
    "so the null-extended row contributes zero. Two chained "
    "partial-aggregatable rollups: one customer-keyed (the join's own "
    "shuffle key — no extra exchange), one onto the bounded count grid.",
)
def cust_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    oc = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        oc.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "li_promo_revenue_share",
    oracle="""
        SELECT strftime(date_trunc('month', CAST(l.l_shipdate AS DATE)),
                        '%Y-%m-%d') AS month,
               CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                             THEN CAST(ROUND(l.l_extendedprice
                                             * (1 - l.l_discount) * 100)
                                       AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS promo_cents,
               CAST(SUM(CAST(ROUND(l.l_extendedprice
                                   * (1 - l.l_discount) * 100) AS BIGINT))
                    AS BIGINT) AS total_cents,
               100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                     THEN CAST(ROUND(l.l_extendedprice
                                               * (1 - l.l_discount) * 100)
                                               AS BIGINT) ELSE 0 END)
                            AS DOUBLE)
                     / CAST(SUM(CAST(ROUND(l.l_extendedprice
                                           * (1 - l.l_discount) * 100)
                                     AS BIGINT)) AS DOUBLE)
                   AS promo_share_pct
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1 ORDER BY month
    """,
    doc="TPC-H Q14 skeleton — monthly promo revenue share: the "
    "conditional-numerator / unconditional-denominator ratio computed "
    "in ONE aggregation pass (a CASE inside SUM — never two scans or a "
    "self-join for the denominator). Both sums are exact cents; the "
    "percentage is one fixed-sequence double expression. The part type "
    "arrives via a broadcast-by-nature dim join before the month "
    "rollup.",
)
def li_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_format(
            F.date_trunc("month", F.col("l_shipdate").cast("date")), "yyyy-MM-dd"
        ).alias("month"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("cents")).otherwise(F.lit(0))
    )
    total = F.sum("cents")
    return (
        j.groupBy("month")
        .agg(
            promo.alias("promo_cents"),
            total.alias("total_cents"),
            (
                F.lit(100.0) * promo.cast("double") / total.cast("double")
            ).alias("promo_share_pct"),
        )
        .orderBy("month")
    )


@register(
    "li_or_predicate_revenue",
    oracle="""
        SELECT COUNT(*) AS n_items,
               CAST(SUM(CAST(ROUND(l.l_extendedprice
                                   * (1 - l.l_discount) * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_type = 'PROMO' AND p.p_size BETWEEN 1 AND 15
               AND CAST(ROUND(l.l_quantity) AS BIGINT) BETWEEN 1 AND 30)
           OR (p.p_type = 'ECONOMY' AND p.p_size BETWEEN 10 AND 30
               AND CAST(ROUND(l.l_quantity) AS BIGINT) BETWEEN 10 AND 40)
           OR (p.p_type = 'LARGE' AND p.p_size BETWEEN 20 AND 40
               AND CAST(ROUND(l.l_quantity) AS BIGINT) BETWEEN 20 AND 50)
    """,
    doc="TPC-H Q19 skeleton — the OR-of-conjunctions predicate: three "
    "disjoint (type, size-range, quantity-range) branches over the "
    "lineitem⋈part join. The plan point: the join stays a PARTKEY "
    "equi-join (broadcast dim) with the whole disjunction applied as a "
    "post-join residual filter — the naive reading puts the OR into the "
    "join condition, which degrades to a nested loop (Q19 is the "
    "classic optimizer test for exactly this). Part-side conjuncts "
    "(type, size) could additionally prune the dim before broadcast at "
    "scale. Revenue exact cents, one 1-row reduce.",
)
def li_or_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    branch = (
        (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(1, 15)
            & F.col("qty").between(1, 30)
        )
        | (
            (F.col("p_type") == "ECONOMY")
            & F.col("p_size").between(10, 30)
            & F.col("qty").between(10, 40)
        )
        | (
            (F.col("p_type") == "LARGE")
            & F.col("p_size").between(20, 40)
            & F.col("qty").between(20, 50)
        )
    )
    return j.filter(branch).agg(
        F.count("*").alias("n_items"),
        F.sum("cents").alias("revenue_cents"),
    )


@register(
    "supplier_return_blame",
    oracle="""
        WITH l1 AS (
            SELECT l.l_orderkey, l.l_suppkey
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_returnflag = 'R' AND o.o_orderstatus = 'F'
        ),
        blamed AS (
            SELECT l1.l_suppkey, COUNT(*) AS numwait
            FROM l1
            WHERE EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey
            )
            AND NOT EXISTS (
                SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_returnflag = 'R'
            )
            GROUP BY l1.l_suppkey
        )
        SELECT s.s_name AS s_name, b.numwait AS numwait
        FROM blamed b JOIN supplier s ON b.l_suppkey = s.s_suppkey
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    doc="TPC-H Q21 skeleton (suppliers-who-kept-orders-waiting), adapted "
    "to this schema's columns: for finalized orders, count per supplier "
    "the RETURNED lines where (a) the order involved at least one OTHER "
    "supplier (EXISTS) and (b) no other supplier's line was returned "
    "(NOT EXISTS) — the sole-blame attribution query, and the classic "
    "composition of a semi-join AND an anti-join against the same fact "
    "table with a same-key-different-entity residual. Spark plan: both "
    "quantifiers are orderkey-keyed LEFT SEMI / LEFT ANTI joins with the "
    "supplier-inequality as a join residual (never a correlated per-row "
    "subquery), over ONE candidate frame; top-20 is a "
    "TakeOrdered. Counts exact; no floats anywhere.",
)
def supplier_return_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supplier = table(spark, sf_dir, "supplier")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    blamed = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
            "anti",
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
    )
    return (
        blamed.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            blamed.l_suppkey == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "cust_returned_revenue_top",
    oracle="""
        SELECT c.c_custkey AS c_custkey,
               ANY_VALUE(c.c_name) AS c_name,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                        * CAST(100 - ROUND(l.l_discount * 100) AS BIGINT))
                    AS BIGINT) AS revenue_micropct
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey
        ORDER BY revenue_micropct DESC, c_custkey
        LIMIT 20
    """,
    doc="TPC-H Q10 skeleton: customers ranked by the revenue they returned "
    "— the who-is-hurting-us account review. Revenue stays EXACT to the "
    "last unit: price in cents times (100 − discount-pct) is an integer "
    "'micro-percent' quantity summed as BIGINT (the engine's standard "
    "no-float-accumulation discipline; display scaling is the consumer's "
    "one division). Spark plan: lineitem filtered to returns at the scan "
    "(pushed predicate), one orderkey join, a custkey rollup, a "
    "broadcast customer-name attach, TakeOrdered top-20 — fact tables "
    "shuffle once each, dims broadcast.",
)
def cust_returned_revenue_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100)).cast("long")
    )
    per_cust = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", rev.alias("rev"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_items"), F.sum("rev").alias("revenue_micropct"))
    )
    return (
        per_cust.join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .select("c_custkey", "c_name", "n_items", "revenue_micropct")
        .orderBy(F.desc("revenue_micropct"), "c_custkey")
        .limit(20)
    )


@register(
    "part_supplier_cnt_q16",
    oracle="""
        SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
               COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#45'
          AND p.p_type NOT LIKE 'MEDIUM%'
          AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
        GROUP BY brand, type, size
        ORDER BY supplier_cnt DESC, brand, type, size
        LIMIT 20
    """,
    doc="TPC-H Q16 skeleton (parts/supplier relationship counting), "
    "adapted to the lineitem-mediated part↔supplier link this schema "
    "carries: per (brand, type, size) — with the classic negated "
    "predicates (<> literal, NOT LIKE prefix pattern, IN value list) — "
    "count DISTINCT shipping suppliers, top-20. Exercises predicate "
    "forms no other registry query combines (NOT LIKE + IN-list + "
    "inequality pushed to the dimension scan) plus a distinct-count "
    "over a join. Spark plan: the filtered part dim broadcasts into "
    "lineitem, the count_distinct partial-aggregates on (group, supp) "
    "before the final rollup, and the head is a TakeOrdered — fact "
    "shuffles once, no global sort.",
)
def part_supplier_cnt_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    p = part.filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select(
        "p_partkey",
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        F.col("p_size").alias("size"),
    )
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("brand", "type", "size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "brand", "type", "size")
        .limit(20)
    )


@register(
    "mkt_share_nation_q8",
    oracle="""
        WITH vol AS (
            SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                            * CAST(100 - ROUND(l.l_discount * 100) AS BIGINT))
                        AS BIGINT) AS total_rev,
                   CAST(SUM(CASE WHEN n.n_name = 'NATION_7'
                                 THEN CAST(ROUND(l.l_extendedprice * 100)
                                           AS BIGINT)
                                      * CAST(100 - ROUND(l.l_discount * 100)
                                             AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS nation_rev
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY o_year
        )
        SELECT o_year, nation_rev, total_rev,
               CAST(nation_rev AS DOUBLE) / CAST(total_rev AS DOUBLE)
                   AS mkt_share
        FROM vol ORDER BY o_year
    """,
    doc="TPC-H Q8 skeleton (national market share): per order year, the "
    "share of discounted revenue supplied by NATION_7's suppliers — the "
    "conditional-aggregate-over-join pattern where the CASE runs inside "
    "the SAME rollup as the denominator (one pass, no second scan or "
    "self-join). Revenue is the engine's exact cents×(100−pct) BIGINT "
    "micro-percent unit; the share is ONE terminal double division. "
    "Spark plan: lineitem⋈orders is the only fact⋈fact shuffle; "
    "supplier and nation broadcast; ~7 result rows.",
)
def mkt_share_nation_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supplier = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100)).cast("long")
    )
    vol = (
        li.select("l_orderkey", "l_suppkey", rev.alias("rev"))
        .join(
            orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("o_year")
        .agg(
            F.sum("rev").alias("total_rev"),
            F.sum(
                F.when(F.col("n_name") == "NATION_7", F.col("rev")).otherwise(0)
            ).alias("nation_rev"),
        )
    )
    return vol.select(
        "o_year",
        "nation_rev",
        "total_rev",
        (F.col("nation_rev").cast("double") / F.col("total_rev").cast("double")).alias(
            "mkt_share"
        ),
    ).orderBy("o_year")


@register(
    "profit_nation_year_q9",
    oracle="""
        SELECT n.n_name AS n_name,
               EXTRACT(year FROM o.o_orderdate) AS o_year,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                        * CAST(100 - ROUND(l.l_discount * 100) AS BIGINT)
                        - CAST(ROUND(p.p_retailprice * 100) AS BIGINT) * 100
                          * CAST(ROUND(l.l_quantity) AS BIGINT))
                    AS BIGINT) AS profit_micropct,
               COUNT(*) AS n_lines
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY n_name, o_year
        ORDER BY n_name, o_year DESC
    """,
    doc="TPC-H Q9 skeleton (product-type profit by nation and year), "
    "adapted to this schema: profit = discounted revenue minus a "
    "retail-price×quantity cost proxy (the schema carries no "
    "ps_supplycost), per supplier nation per order year. Both terms "
    "live in the SAME exact integer unit (cent·percent: revenue is "
    "cents×(100−disc_pct), cost is cents×100×qty), so the difference "
    "sums as a BIGINT with no float accumulation anywhere. Spark plan: "
    "ONE lineitem⋈orders fact shuffle; part, supplier, nation all "
    "broadcast; the rollup is 25 nations × ~7 years.",
)
def profit_nation_year_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supplier = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    amount = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100)).cast("long")
        - F.round(F.col("p_retailprice") * 100).cast("long")
        * 100
        * F.round(F.col("l_quantity")).cast("long")
    )
    return (
        li.select("l_orderkey", "l_suppkey", "l_partkey", "l_quantity",
                  "l_extendedprice", "l_discount")
        .join(
            orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "o_year")
        .agg(
            F.sum(amount).alias("profit_micropct"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("n_name", F.col("o_year").desc())
    )


@register(
    "li_ship_latency_by_priority",
    oracle="""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_lines,
               COUNT(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 30 THEN 1 END)
                   AS n_within_30d,
               COUNT(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 90 THEN 1 END)
                   AS n_within_90d,
               CAST(COUNT(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 30
                               THEN 1 END) AS DOUBLE) / COUNT(*)
                   AS share_30d,
               CAST(COUNT(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 90
                               THEN 1 END) AS DOUBLE) / COUNT(*)
                   AS share_90d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    doc="TPC-H Q12 skeleton (shipping-latency service levels by "
    "priority), adapted to this schema's dates: per order priority, "
    "the share of lineitems shipped within 30 and 90 days of the "
    "order date — the two-level conditional-count-over-join pattern "
    "(Q12 counts high/low line priorities per shipmode; same shape, "
    "this schema's columns). Day lags are exact DATE subtraction "
    "integers; both service-level counts ride the SAME rollup as the "
    "denominator. Spark plan: one lineitem⋈orders shuffle, "
    "conditional aggregates, 5 result rows.",
)
def li_ship_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    j = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.count(F.when(lag_days <= 30, 1)).alias("n_within_30d"),
            F.count(F.when(lag_days <= 90, 1)).alias("n_within_90d"),
            (
                F.count(F.when(lag_days <= 30, 1)).cast("double")
                / F.count("*")
            ).alias("share_30d"),
            (
                F.count(F.when(lag_days <= 90, 1)).cast("double")
                / F.count("*")
            ).alias("share_90d"),
        )
        .orderBy("o_orderpriority")
    )
