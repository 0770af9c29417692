"""Round-6 registry additions: decision-support shapes beyond the round-5
surface (beyond-reference; TPC-H skeletons adapted to this schema, plus
stats / events / corpus / embedding / multimodal operators added in later
sections of this module).

The testdata lake has no ``partsupp`` table, so the Q2/Q11/Q20 skeletons
derive the supplier×part relation from ``lineitem`` — the supply "offer"
is the minimum observed unit price for a (part, supplier) pair. That keeps
the plan shapes the skeletons exist to exercise (correlated MIN with
join-back, group-share vs a keyed scalar threshold, aggregate-HAVING
semi-join chains) while staying a pure function of the parquet inputs.

Determinism: unit prices quantize to integer cents with ONE IEEE
multiply + divide + round in the same order on both engines; quantities
are integral doubles (exact BIGINT casts); every share comparison is an
integer cross-multiplication, never a float ratio.

At 100 TB: each query is one partial-aggregatable keyed shuffle over the
fact table plus dim joins that stay broadcastable (part/supplier/nation/
region scale with the catalog, not the fact stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scale import pin
from ..sources.catalog import table
from .registry import register

#: Q11-style share threshold: a part matters in a nation when it carries
#: more than 1/_SHARE_DENOM of that nation's supplied value.
_SHARE_DENOM = 1000


def _unit_cents(ep: str = "l_extendedprice", qty: str = "l_quantity") -> F.Column:
    """Observed unit price in integer cents: ROUND(ep * 100 / qty).

    ``ep`` has fixed 2dp granularity so ``ep * 100`` is an exactly-integral
    double; dividing by the integral quantity is one IEEE op; the single
    ROUND half-away-from-zero matches DuckDB's. Both engines evaluate the
    identical op sequence, so the quantization is bit-identical.
    """
    return F.round(F.col(ep) * F.lit(100) / F.col(qty)).cast("long")


@register(
    "part_min_cost_supplier_q2",
    oracle="""
        WITH offers AS MATERIALIZED (
            SELECT l_partkey, l_suppkey,
                   MIN(CAST(ROUND(l_extendedprice * 100 / l_quantity) AS BIGINT))
                       AS unit_cents
            FROM lineitem GROUP BY l_partkey, l_suppkey),
        best AS (
            SELECT l_partkey, MIN(unit_cents) AS best_cents
            FROM offers GROUP BY l_partkey)
        SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, r.r_name,
               b.best_cents, s.s_acctbal
        FROM offers o
        JOIN best b ON o.l_partkey = b.l_partkey AND o.unit_cents = b.best_cents
        JOIN part p ON p.p_partkey = o.l_partkey AND p.p_type = 'ECONOMY'
        JOIN supplier s ON s.s_suppkey = o.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        LIMIT 100
    """,
    doc="Correlated-MIN join-back (TPC-H Q2 skeleton, partsupp derived "
    "from lineitem): for every ECONOMY part, the supplier(s) offering the "
    "cheapest observed unit price, with their nation/region. The "
    "correlated subquery decorrelates into two keyed aggregates — offers "
    "per (part, supplier), then the per-part MIN — and an equi-join back "
    "on (partkey, min); ties keep every winning supplier, exactly Q2's "
    "semantics. The offers frame has two consumers; "
    "part/supplier/nation/region joins broadcast. "
    "Ordering is total (acctbal DESC, then unique supplier/part keys).",
)
def part_min_cost_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    offers = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_unit_cents()).alias("unit_cents"))
    )
    best = (
        offers.groupBy("l_partkey")
        .agg(F.min("unit_cents").alias("best_cents"))
        .withColumnRenamed("l_partkey", "b_partkey")  # disambiguate the self-derived join
    )
    winners = offers.join(
        best,
        (offers.l_partkey == best.b_partkey) & (offers.unit_cents == best.best_cents),
    ).select("l_partkey", "l_suppkey", "best_cents")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    return (
        winners.join(F.broadcast(part), winners.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), winners.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("p_partkey", "p_name", "s_name", "n_name", "r_name", "best_cents", "s_acctbal")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "supplier_important_share_q11",
    oracle=f"""
        WITH val AS MATERIALIZED (
            SELECT s_nationkey, l_partkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS val_cents
            FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
            GROUP BY s_nationkey, l_partkey),
        tot AS (
            SELECT s_nationkey, CAST(SUM(val_cents) AS BIGINT) AS tot_cents
            FROM val GROUP BY s_nationkey)
        SELECT n.n_name, v.l_partkey AS p_partkey, v.val_cents
        FROM val v
        JOIN tot t ON t.s_nationkey = v.s_nationkey
        JOIN nation n ON n.n_nationkey = v.s_nationkey
        WHERE v.val_cents * {_SHARE_DENOM} > t.tot_cents
        ORDER BY v.val_cents DESC, n.n_name, p_partkey
    """,
    doc="Group share vs keyed scalar threshold (TPC-H Q11 skeleton over "
    "all nations): parts carrying more than 1/"
    f"{_SHARE_DENOM} of their supplying nation's total traded value. "
    "Value per (nation, part) is one partial-aggregatable shuffle (the "
    "supplier join broadcasts before it, attaching the nation key to the "
    "fact stream); the nation totals reduce the same val frame "
    "and join back keyed on nation (25 rows, "
    "broadcast). The threshold compares integer cents by "
    "cross-multiplication; no float division anywhere.",
)
def supplier_important_share_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    val = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "l_partkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("val_cents"))
    )
    tot = val.groupBy("s_nationkey").agg(F.sum("val_cents").alias("tot_cents"))
    nat = table(spark, sf_dir, "nation")
    return (
        val.join(F.broadcast(tot), "s_nationkey")
        .filter(F.col("val_cents") * _SHARE_DENOM > F.col("tot_cents"))
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("n_name", F.col("l_partkey").alias("p_partkey"), "val_cents")
        .orderBy(F.desc("val_cents"), "n_name", "p_partkey")
    )


@register(
    "supplier_excess_ship_q20",
    oracle="""
        WITH sp AS (
            SELECT l_suppkey, l_partkey,
                   CAST(SUM(CASE WHEN l_shipdate >= DATE '1997-01-01'
                                  AND l_shipdate < DATE '1998-01-01'
                             THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS qty_1997,
                   CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                       AS qty_total
            FROM lineitem GROUP BY l_suppkey, l_partkey)
        SELECT s.s_name, n.n_name,
               COUNT(*) AS n_excess_parts,
               CAST(SUM(sp.qty_1997) AS BIGINT) AS qty_1997_sum
        FROM sp
        JOIN part p ON p.p_partkey = sp.l_partkey AND p.p_name LIKE '%red%'
        JOIN supplier s ON s.s_suppkey = sp.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE sp.qty_1997 * 2 > sp.qty_total AND sp.qty_1997 > 0
        GROUP BY s.s_name, n.n_name
        ORDER BY s.s_name
    """,
    doc="Aggregate-HAVING semi-join chain (TPC-H Q20 skeleton): suppliers "
    "who concentrated more than half of a red part's lifetime shipped "
    "quantity into 1997, counted per supplier. The (supplier, part) "
    "conditional/total quantity sums are ONE partial-aggregatable shuffle "
    "with the year split as a CASE inside the same aggregate (no second "
    "scan, no self-join); the rare qualifying pairs then join a broadcast "
    "filtered part dim and broadcast supplier/nation dims. Quantities are "
    "integral, so the >50% test is an exact integer comparison. Grouped "
    "output keyed by the unique s_name — total order.",
)
def supplier_excess_ship_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    in_1997 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date")) & (
        F.col("l_shipdate") < F.lit("1998-01-01").cast("date")
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.when(in_1997, qty).otherwise(F.lit(0))).alias("qty_1997"),
        F.sum(qty).alias("qty_total"),
    )
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    return (
        sp.filter((F.col("qty_1997") * 2 > F.col("qty_total")) & (F.col("qty_1997") > 0))
        .join(F.broadcast(part), sp.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), sp.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(
            F.count("*").alias("n_excess_parts"),
            F.sum("qty_1997").alias("qty_1997_sum"),
        )
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Statistics: classical hypothesis tests on exact integer moments
# ---------------------------------------------------------------------------

#: The five order priorities, pivoted by literal so every cross-group
#: reduction is a FIXED-order expression (never a SUM over a tiny frame,
#: whose accumulation order is partition-dependent).
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@register(
    "stat_anova_f_price_by_priority",
    oracle="""
        WITH m AS (
            SELECT o_orderpriority AS pr, COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS s,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)
                            * CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS q
            FROM orders GROUP BY o_orderpriority
        ),
        w AS (
            SELECT
                MAX(CASE WHEN pr = '1-URGENT' THEN n END) AS n1,
                MAX(CASE WHEN pr = '2-HIGH' THEN n END) AS n2,
                MAX(CASE WHEN pr = '3-MEDIUM' THEN n END) AS n3,
                MAX(CASE WHEN pr = '4-NOT SPECIFIED' THEN n END) AS n4,
                MAX(CASE WHEN pr = '5-LOW' THEN n END) AS n5,
                MAX(CASE WHEN pr = '1-URGENT' THEN s END) AS s1,
                MAX(CASE WHEN pr = '2-HIGH' THEN s END) AS s2,
                MAX(CASE WHEN pr = '3-MEDIUM' THEN s END) AS s3,
                MAX(CASE WHEN pr = '4-NOT SPECIFIED' THEN s END) AS s4,
                MAX(CASE WHEN pr = '5-LOW' THEN s END) AS s5,
                MAX(CASE WHEN pr = '1-URGENT' THEN q END) AS q1,
                MAX(CASE WHEN pr = '2-HIGH' THEN q END) AS q2,
                MAX(CASE WHEN pr = '3-MEDIUM' THEN q END) AS q3,
                MAX(CASE WHEN pr = '4-NOT SPECIFIED' THEN q END) AS q4,
                MAX(CASE WHEN pr = '5-LOW' THEN q END) AS q5
            FROM m
        )
        SELECT n_total, ss_between, ss_within,
               (ss_between / 4.0) / (ss_within / CAST(n_total - 5 AS DOUBLE)) AS f_stat
        FROM (
            SELECT ((((n1 + n2) + n3) + n4) + n5) AS n_total,
                   ((((CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)
                      + CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE))
                      + CAST(s3 AS DOUBLE)*CAST(s3 AS DOUBLE)/CAST(n3 AS DOUBLE))
                      + CAST(s4 AS DOUBLE)*CAST(s4 AS DOUBLE)/CAST(n4 AS DOUBLE))
                      + CAST(s5 AS DOUBLE)*CAST(s5 AS DOUBLE)/CAST(n5 AS DOUBLE))
                   - CAST(((((s1 + s2) + s3) + s4) + s5) AS DOUBLE)
                     * CAST(((((s1 + s2) + s3) + s4) + s5) AS DOUBLE)
                     / CAST(((((n1 + n2) + n3) + n4) + n5) AS DOUBLE) AS ss_between,
                   (CAST(((((q1 + q2) + q3) + q4) + q5) AS DOUBLE)
                   - CAST(((((s1 + s2) + s3) + s4) + s5) AS DOUBLE)
                     * CAST(((((s1 + s2) + s3) + s4) + s5) AS DOUBLE)
                     / CAST(((((n1 + n2) + n3) + n4) + n5) AS DOUBLE))
                   - (((((CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)
                      + CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE))
                      + CAST(s3 AS DOUBLE)*CAST(s3 AS DOUBLE)/CAST(n3 AS DOUBLE))
                      + CAST(s4 AS DOUBLE)*CAST(s4 AS DOUBLE)/CAST(n4 AS DOUBLE))
                      + CAST(s5 AS DOUBLE)*CAST(s5 AS DOUBLE)/CAST(n5 AS DOUBLE))
                   - CAST(((((s1 + s2) + s3) + s4) + s5) AS DOUBLE)
                     * CAST(((((s1 + s2) + s3) + s4) + s5) AS DOUBLE)
                     / CAST(((((n1 + n2) + n3) + n4) + n5) AS DOUBLE)) AS ss_within
            FROM w
        )
    """,
    doc="One-way ANOVA F-statistic for order totals across the five "
    "priorities. Distributed form: per-group exact BIGINT raw moments "
    "(n, Σx, Σx² in whole currency units — ONE map-side-combined shuffle "
    "onto 5 keys), pivoted by priority literal into a single row so that "
    "SSB = Σ Sⱼ²/nⱼ − S²/N and SSW = SST − SSB evaluate in a FIXED "
    "left-to-right IEEE sequence — bit-identical cross-engine (the "
    "classic pitfall, SUM(double) over the group frame, never appears). "
    "Whole units keep Σx² inside BIGINT to ~3e7 rows; beyond that the "
    "moment sums move to DECIMAL(38,0) on both engines.",
)
def stat_anova_f_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    units = F.round(F.col("o_totalprice")).cast("long")
    m = o.groupBy(F.col("o_orderpriority").alias("pr")).agg(
        F.count("*").alias("n"), F.sum(units).alias("s"), F.sum(units * units).alias("q")
    )
    pivots = []
    for i, p in enumerate(_PRIORITIES, start=1):
        for c in ("n", "s", "q"):
            pivots.append(F.max(F.when(F.col("pr") == p, F.col(c))).alias(f"{c}{i}"))
    w = m.agg(*pivots)

    def chain_sum(prefix: str) -> F.Column:
        acc = F.col(f"{prefix}1")
        for i in range(2, 6):
            acc = acc + F.col(f"{prefix}{i}")
        return acc

    def d(col: F.Column) -> F.Column:
        return col.cast("double")

    n_total = chain_sum("n")
    s_total, q_total = chain_sum("s"), chain_sum("q")
    between = d(F.col("s1")) * d(F.col("s1")) / d(F.col("n1"))
    for i in range(2, 6):
        between = between + d(F.col(f"s{i}")) * d(F.col(f"s{i}")) / d(F.col(f"n{i}"))
    ssb = between - d(s_total) * d(s_total) / d(n_total)
    sst = d(q_total) - d(s_total) * d(s_total) / d(n_total)
    ssw = sst - ssb
    return w.select(
        n_total.alias("n_total"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        ((ssb / F.lit(4.0)) / (ssw / d(n_total - 5))).alias("f_stat"),
    )


@register(
    "stat_kruskal_wallis_price_by_priority",
    oracle="""
        WITH counts AS MATERIALIZED (
            SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS v,
                   o_orderpriority AS pr, COUNT(*) AS c
            FROM orders WHERE o_totalprice IS NOT NULL GROUP BY v, pr),
        vals AS MATERIALIZED (
            SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM counts GROUP BY v),
        mr AS (
            SELECT v,
                   2 * CAST(COALESCE(SUM(cv) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) + cv + 1 AS mr2
            FROM vals),
        rj AS (
            SELECT pr, CAST(SUM(c * mr2) AS BIGINT) AS r2,
                   CAST(SUM(c) AS BIGINT) AS n
            FROM counts JOIN mr USING (v) GROUP BY pr),
        tie AS (
            SELECT CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS t3 FROM vals),
        w AS (
            SELECT
                MAX(CASE WHEN pr = '1-URGENT' THEN n END) AS n1,
                MAX(CASE WHEN pr = '2-HIGH' THEN n END) AS n2,
                MAX(CASE WHEN pr = '3-MEDIUM' THEN n END) AS n3,
                MAX(CASE WHEN pr = '4-NOT SPECIFIED' THEN n END) AS n4,
                MAX(CASE WHEN pr = '5-LOW' THEN n END) AS n5,
                MAX(CASE WHEN pr = '1-URGENT' THEN r2 END) AS r1,
                MAX(CASE WHEN pr = '2-HIGH' THEN r2 END) AS r2_,
                MAX(CASE WHEN pr = '3-MEDIUM' THEN r2 END) AS r3,
                MAX(CASE WHEN pr = '4-NOT SPECIFIED' THEN r2 END) AS r4,
                MAX(CASE WHEN pr = '5-LOW' THEN r2 END) AS r5
            FROM rj)
        SELECT n_total, h_stat,
               h_stat / NULLIF(1.0 - CAST(t3 AS DOUBLE)
                   / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                      * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)), 0.0)
                   AS h_corrected
        FROM (
            SELECT ((((n1 + n2) + n3) + n4) + n5) AS n_total,
                   12.0 / (CAST(((((n1 + n2) + n3) + n4) + n5) AS DOUBLE)
                           * (CAST(((((n1 + n2) + n3) + n4) + n5) AS DOUBLE) + 1.0))
                   * (((((CAST(r1 AS DOUBLE) / 2.0) * (CAST(r1 AS DOUBLE) / 2.0) / CAST(n1 AS DOUBLE)
                        + (CAST(r2_ AS DOUBLE) / 2.0) * (CAST(r2_ AS DOUBLE) / 2.0) / CAST(n2 AS DOUBLE))
                        + (CAST(r3 AS DOUBLE) / 2.0) * (CAST(r3 AS DOUBLE) / 2.0) / CAST(n3 AS DOUBLE))
                        + (CAST(r4 AS DOUBLE) / 2.0) * (CAST(r4 AS DOUBLE) / 2.0) / CAST(n4 AS DOUBLE))
                        + (CAST(r5 AS DOUBLE) / 2.0) * (CAST(r5 AS DOUBLE) / 2.0) / CAST(n5 AS DOUBLE))
                   - 3.0 * (CAST(((((n1 + n2) + n3) + n4) + n5) AS DOUBLE) + 1.0) AS h_stat,
                   t3
            FROM w, tie
        )
    """,
    doc="Kruskal-Wallis H across the five order priorities, with midrank "
    "tie handling and tie correction. Ranks never materialize per row: "
    "totals quantize to whole units and the rank machinery runs on the "
    "DISTINCT-VALUE frame (bounded by the price RANGE, not the row count "
    "— the scale argument for the single ordered cumulative window over "
    "it), where doubled midranks 2R = 2·(#smaller) + count + 1 stay "
    "integral. Per-group doubled rank sums Σc·2R are exact BIGINTs from "
    "one keyed shuffle over the (value, priority) counts; H evaluates "
    "on the 5-literal pivot in a fixed IEEE "
    "sequence, and the tie term Σ(t³−t) is an exact BIGINT (switch to "
    "DECIMAL(38,0) past ~2e6 rows of one value). 1-row tie frame joins "
    "by bounded cross join.",
)
def stat_kruskal_wallis_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # sample = PRICED orders (missing measurements excluded both sides —
    # r12 variant sweep: a null rank-grid row shifts every midrank)
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    v = F.round(F.col("o_totalprice")).cast("long")
    counts = (
        o.groupBy(v.alias("v"), F.col("o_orderpriority").alias("pr"))
        .agg(F.count("*").alias("c"))
    )
    vals = counts.groupBy("v").agg(F.sum("c").alias("cv"))
    # ordered cumulative over the bounded distinct-value frame
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    mr = vals.select(
        "v",
        (2 * F.coalesce(F.sum("cv").over(cum), F.lit(0)) + F.col("cv") + 1).alias("mr2"),
    )
    rj = (
        counts.join(mr, "v")
        .groupBy("pr")
        .agg(F.sum(F.col("c") * F.col("mr2")).alias("r2"), F.sum("c").alias("n"))
    )
    pivots = []
    for i, p in enumerate(_PRIORITIES, start=1):
        pivots.append(F.max(F.when(F.col("pr") == p, F.col("n"))).alias(f"n{i}"))
        pivots.append(F.max(F.when(F.col("pr") == p, F.col("r2"))).alias(f"r{i}"))
    w = rj.agg(*pivots)
    tie = vals.agg(F.sum(F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv")).alias("t3"))

    def d(col: F.Column) -> F.Column:
        return col.cast("double")

    n_total = (((F.col("n1") + F.col("n2")) + F.col("n3")) + F.col("n4")) + F.col("n5")
    acc = (d(F.col("r1")) / 2.0) * (d(F.col("r1")) / 2.0) / d(F.col("n1"))
    for i in range(2, 6):
        acc = acc + (d(F.col(f"r{i}")) / 2.0) * (d(F.col(f"r{i}")) / 2.0) / d(F.col(f"n{i}"))
    h = F.lit(12.0) / (d(n_total) * (d(n_total) + 1.0)) * acc - 3.0 * (d(n_total) + 1.0)
    correction = F.nullif(
        F.lit(1.0) - d(F.col("t3")) / (d(n_total) * d(n_total) * d(n_total) - d(n_total)),
        F.lit(0.0),
    )
    return (
        w.crossJoin(tie)  # 1-row × 1-row
        .select(
            n_total.alias("n_total"),
            h.alias("h_stat"),
            (h / correction).alias("h_corrected"),
        )
    )


#: Chow-test breakpoint: split the daily-revenue series at this date.
_CHOW_BREAK = "1998-07-01"


@register(
    "stat_chow_break_daily_revenue",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS t,
                   (o_orderdate >= DATE '{_CHOW_BREAK}') AS late,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders GROUP BY o_orderdate),
        m AS (
            SELECT late, COUNT(*) AS n,
                   CAST(SUM(t) AS BIGINT) AS st,
                   CAST(SUM(t * t) AS BIGINT) AS stt,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(t * y) AS BIGINT) AS sty,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM daily GROUP BY late),
        w AS (
            SELECT
                MAX(CASE WHEN NOT late THEN n END) AS n1,
                MAX(CASE WHEN NOT late THEN st END) AS st1,
                MAX(CASE WHEN NOT late THEN stt END) AS stt1,
                MAX(CASE WHEN NOT late THEN sy END) AS sy1,
                MAX(CASE WHEN NOT late THEN sty END) AS sty1,
                MAX(CASE WHEN NOT late THEN syy END) AS syy1,
                MAX(CASE WHEN late THEN n END) AS n2,
                MAX(CASE WHEN late THEN st END) AS st2,
                MAX(CASE WHEN late THEN stt END) AS stt2,
                MAX(CASE WHEN late THEN sy END) AS sy2,
                MAX(CASE WHEN late THEN sty END) AS sty2,
                MAX(CASE WHEN late THEN syy END) AS syy2
            FROM m)
        SELECT n1 AS n_pre, n2 AS n_post,
               ssr1 + ssr2 AS ssr_split, ssr_pool,
               ((ssr_pool - (ssr1 + ssr2)) / 2.0)
                   / NULLIF((ssr1 + ssr2) / CAST(n1 + n2 - 4 AS DOUBLE), 0.0)
                   AS chow_f
        FROM (
            SELECT n1, n2,
                   (CAST(n1 AS DOUBLE) * CAST(syy1 AS DOUBLE)
                    - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE)
                    - (CAST(n1 AS DOUBLE) * CAST(sty1 AS DOUBLE)
                       - CAST(st1 AS DOUBLE) * CAST(sy1 AS DOUBLE))
                      * (CAST(n1 AS DOUBLE) * CAST(sty1 AS DOUBLE)
                         - CAST(st1 AS DOUBLE) * CAST(sy1 AS DOUBLE))
                      / NULLIF(CAST(n1 AS DOUBLE) * CAST(stt1 AS DOUBLE)
                               - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE), 0.0))
                   / CAST(n1 AS DOUBLE) AS ssr1,
                   (CAST(n2 AS DOUBLE) * CAST(syy2 AS DOUBLE)
                    - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE)
                    - (CAST(n2 AS DOUBLE) * CAST(sty2 AS DOUBLE)
                       - CAST(st2 AS DOUBLE) * CAST(sy2 AS DOUBLE))
                      * (CAST(n2 AS DOUBLE) * CAST(sty2 AS DOUBLE)
                         - CAST(st2 AS DOUBLE) * CAST(sy2 AS DOUBLE))
                      / NULLIF(CAST(n2 AS DOUBLE) * CAST(stt2 AS DOUBLE)
                               - CAST(st2 AS DOUBLE) * CAST(st2 AS DOUBLE), 0.0))
                   / CAST(n2 AS DOUBLE) AS ssr2,
                   (CAST(n1 + n2 AS DOUBLE) * CAST(syy1 + syy2 AS DOUBLE)
                    - CAST(sy1 + sy2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE)
                    - (CAST(n1 + n2 AS DOUBLE) * CAST(sty1 + sty2 AS DOUBLE)
                       - CAST(st1 + st2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE))
                      * (CAST(n1 + n2 AS DOUBLE) * CAST(sty1 + sty2 AS DOUBLE)
                         - CAST(st1 + st2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE))
                      / NULLIF(CAST(n1 + n2 AS DOUBLE) * CAST(stt1 + stt2 AS DOUBLE)
                               - CAST(st1 + st2 AS DOUBLE) * CAST(st1 + st2 AS DOUBLE), 0.0))
                   / CAST(n1 + n2 AS DOUBLE) AS ssr_pool
            FROM w
        )
    """,
    doc=f"Chow structural-break F-test on the daily-revenue linear trend "
    f"at {_CHOW_BREAK}: fits OLS y~t on the pre/post regimes and on the "
    "pooled series purely from exact BIGINT moment sums (n, Σt, Σt², Σy, "
    "Σty, Σy² per regime — whole currency units per day; day index from "
    "a date subtraction). ONE keyed shuffle onto dates (calendar-bounded "
    "output), one 2-key reduction, then every residual sum of squares is "
    "a closed form over the 2-regime literal pivot in fixed IEEE order — "
    "bit-identical cross-engine; NULLIF guards the degenerate one-day "
    "regimes. Pooled moments derive from the regime sums by exact "
    "integer addition (no third pass).",
)
def stat_chow_break_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderdate").agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y")
    )
    daily = daily.select(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("t"),
        (F.col("o_orderdate") >= F.lit(_CHOW_BREAK).cast("date")).alias("late"),
        "y",
    )
    m = daily.groupBy("late").agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    pivots = []
    for i, cond in ((1, ~F.col("late")), (2, F.col("late"))):
        for c in ("n", "st", "stt", "sy", "sty", "syy"):
            pivots.append(F.max(F.when(cond, F.col(c))).alias(f"{c}{i}"))
    w = m.agg(*pivots)

    def d(col) -> F.Column:
        return col.cast("double")

    def ssr(n, st, stt, sy, sty) -> F.Column:
        syy = {"n1": "syy1", "n2": "syy2"}.get(n)
        nn, stc, sttc, syc, styc = (F.col(x) for x in (n, st, stt, sy, sty))
        syyc = F.col(syy) if syy else F.col("syy1") + F.col("syy2")
        if syy is None:  # pooled: exact integer sums of the regime moments
            nn = F.col("n1") + F.col("n2")
            stc = F.col("st1") + F.col("st2")
            sttc = F.col("stt1") + F.col("stt2")
            syc = F.col("sy1") + F.col("sy2")
            styc = F.col("sty1") + F.col("sty2")
        sxy = d(nn) * d(styc) - d(stc) * d(syc)
        sxx = F.nullif(d(nn) * d(sttc) - d(stc) * d(stc), F.lit(0.0))
        return (d(nn) * d(syyc) - d(syc) * d(syc) - sxy * sxy / sxx) / d(nn)

    ssr1 = ssr("n1", "st1", "stt1", "sy1", "sty1")
    ssr2 = ssr("n2", "st2", "stt2", "sy2", "sty2")
    ssr_pool = ssr("pool", "", "", "", "")
    split = ssr1 + ssr2
    chow = ((ssr_pool - split) / F.lit(2.0)) / F.nullif(
        split / d(F.col("n1") + F.col("n2") - 4), F.lit(0.0)
    )
    return w.select(
        F.col("n1").alias("n_pre"),
        F.col("n2").alias("n_post"),
        split.alias("ssr_split"),
        ssr_pool.alias("ssr_pool"),
        chow.alias("chow_f"),
    )


@register(
    "stat_hodges_lehmann_yoy_shift",
    oracle="""
        WITH d96 AS MATERIALIZED (
            SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
            FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
              AND o_totalprice IS NOT NULL
            GROUP BY o_orderdate),
        d97 AS MATERIALIZED (
            SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
            FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
              AND o_totalprice IS NOT NULL
            GROUP BY o_orderdate),
        diffs AS MATERIALIZED (
            SELECT d97.y - d96.y AS diff FROM d96, d97),
        ranked AS (
            SELECT diff,
                   ROW_NUMBER() OVER (ORDER BY diff) AS rn,
                   COUNT(*) OVER () AS n
            FROM diffs)
        SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
               CAST(SUM(diff) AS BIGINT) AS mid_sum_cents,
               CAST(SUM(diff) AS DOUBLE) / COUNT(*) / 100.0 AS hl_shift
        FROM ranked
        WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    """,
    doc="Hodges-Lehmann estimator of the 1996→1997 daily-revenue shift: "
    "the median of all pairwise differences between 1997 and 1996 daily "
    "totals (integer cents). The pair space is calendar × calendar "
    "(≤366² regardless of row count — the reason the full cross join is "
    "admissible at 100 TB; the per-day totals are the only fact-sized "
    "shuffle, one scan of orders feeding both year frames via pruned "
    "date filters). Median via the two middle order statistics of the "
    "integer diffs — their mean is ≤1 IEEE add + 2 exact divisions, "
    "bit-identical cross-engine; selection by ROW_NUMBER over equal "
    "integers is value-deterministic even though row identity is not.",
)
def stat_hodges_lehmann_yoy_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")

    def year_frame(year: int) -> DataFrame:
        # priced orders only (r12 variant sweep: an all-null-price day
        # yields a NULL daily total whose pairwise diffs sort at opposite
        # ends of the two engines' median scan)
        return (
            o.filter((F.year("o_orderdate") == year) & F.col("o_totalprice").isNotNull())
            .groupBy("o_orderdate")
            .agg(cents)
            .select("y")
        )

    d96 = year_frame(1996)
    d97 = year_frame(1997).withColumnRenamed("y", "y97")
    diffs = d97.crossJoin(F.broadcast(d96)).select((F.col("y97") - F.col("y")).alias("diff"))
    ranked = diffs.select(
        "diff",
        F.row_number().over(Window.orderBy("diff")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return mid.agg(
        F.max("n").alias("n_pairs"),
        F.sum("diff").alias("mid_sum_cents"),
        (F.sum("diff").cast("double") / F.count("*") / F.lit(100.0)).alias("hl_shift"),
    )


# ---------------------------------------------------------------------------
# Event analytics: concurrency, growth accounting, campaign range join
# ---------------------------------------------------------------------------


@register(
    "ev_concurrent_sessions_peak",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '10 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
            FROM marked),
        spans AS (
            SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) // 60 AS m0,
                   CAST(floor(epoch(MAX(ts))) AS BIGINT) // 60 AS m1
            FROM sessions GROUP BY user_id, sess),
        minutes AS (
            SELECT UNNEST(generate_series(m0, m1)) AS m FROM spans),
        per_minute AS (
            SELECT m, COUNT(*) AS c FROM minutes GROUP BY m)
        SELECT CAST(to_timestamp((m // 1440) * 86400) AS DATE) AS day,
               CAST(MAX(c) AS BIGINT) AS peak_concurrency,
               CAST(COUNT(*) AS BIGINT) AS active_minutes
        FROM per_minute
        GROUP BY day
        ORDER BY day
    """,
    doc="Peak concurrent 10-minute-gap sessions per day, by the interval-"
    "cover method: each session covers its [start, end] minute range "
    "(explode factor bounded by session LENGTH, which the gap timeout "
    "bounds — linear, never quadratic), per-minute concurrency is one "
    "keyed count, and the daily peak is a second bounded rollup "
    "(calendar-sized output). Native session_window does the "
    "sessionization in one keyed shuffle; everything downstream is exact "
    "integer epoch-minute arithmetic, identical on both engines "
    "(floor-epoch matches the ns→us truncation path).",
)
def ev_concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    spans = ev.groupBy(F.session_window("ts", "10 minutes"), "user_id").agg(
        (F.floor(F.min(F.col("ts").cast("long"))) / 60).cast("long").alias("m0_raw"),
        (F.floor(F.max(F.col("ts").cast("long"))) / 60).cast("long").alias("m1_raw"),
    )
    # integer floor-division: cast("long") after /60 truncates toward zero,
    # which differs from // for negatives — epochs here are positive, but we
    # mirror DuckDB's // exactly via floor()
    spans = spans.select(
        F.floor(F.col("m0_raw")).alias("m0"), F.floor(F.col("m1_raw")).alias("m1")
    )
    minutes = spans.select(F.explode(F.sequence("m0", "m1")).alias("m"))
    per_minute = minutes.groupBy("m").agg(F.count("*").alias("c"))
    return (
        per_minute.groupBy(
            F.to_date(F.timestamp_seconds(F.floor(F.col("m") / 1440) * 86400)).alias("day")
        )
        .agg(
            F.max("c").cast("long").alias("peak_concurrency"),
            F.count("*").cast("long").alias("active_minutes"),
        )
        .orderBy("day")
    )


@register(
    "ev_user_lifecycle_weekly",
    oracle="""
        WITH uw AS MATERIALIZED (
            SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
            FROM events),
        states AS (
            SELECT wk,
                   CASE WHEN lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
                             IS NULL THEN 'new'
                        WHEN wk - lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
                             = 7 THEN 'retained'
                        ELSE 'resurrected' END AS state
            FROM uw),
        weekly AS (
            SELECT wk,
                   CAST(COUNT(*) AS BIGINT) AS n_active,
                   CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_new,
                   CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_retained,
                   CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_resurrected
            FROM states GROUP BY wk)
        SELECT wk, n_active, n_new, n_retained, n_resurrected,
               COALESCE(lag(n_active) OVER (ORDER BY wk), 0) - n_retained
                   AS n_churned_from_prev
        FROM weekly
        ORDER BY wk
    """,
    doc="Weekly growth accounting (the new/retained/resurrected/churned "
    "ledger): one distinct (user, ISO week) shuffle, a per-user lag "
    "window classifying each active week, one weekly rollup, and churn "
    "derived ARITHMETICALLY as lag(active) − retained on the calendar-"
    "bounded weekly frame — no second pass over users, no future-looking "
    "join. All counts exact integers; Spark's and DuckDB's date_trunc "
    "both snap to ISO Monday.",
)
def ev_user_lifecycle_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    lag_wk = F.lag("wk").over(Window.partitionBy("user_id").orderBy("wk"))
    states = uw.select(
        "wk",
        F.when(lag_wk.isNull(), F.lit("new"))
        .when(F.datediff(F.col("wk"), lag_wk) == 7, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("state"),
    )
    weekly = states.groupBy("wk").agg(
        F.count("*").alias("n_active"),
        F.sum(F.when(F.col("state") == "new", 1).otherwise(0)).alias("n_new"),
        F.sum(F.when(F.col("state") == "retained", 1).otherwise(0)).alias("n_retained"),
        F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0)).alias("n_resurrected"),
    )
    churn = F.coalesce(F.lag("n_active").over(Window.orderBy("wk")), F.lit(0)) - F.col(
        "n_retained"
    )
    return weekly.select(
        "wk", "n_active", "n_new", "n_retained", "n_resurrected",
        churn.alias("n_churned_from_prev"),
    ).orderBy("wk")


#: Campaign calendar (inclusive start, exclusive end) — a broadcast dim for
#: the range join; weekly flights over the events month.
_CAMPAIGNS = (
    ("launch_wave", "2024-01-02", "2024-01-09"),
    ("mid_flight", "2024-01-09", "2024-01-16"),
    ("retarget", "2024-01-16", "2024-01-23"),
    ("closeout", "2024-01-23", "2024-01-31"),
)


@register(
    "ev_campaign_window_join",
    oracle="""
        WITH campaigns(name, d0, d1) AS (
            VALUES ('launch_wave', DATE '2024-01-02', DATE '2024-01-09'),
                   ('mid_flight', DATE '2024-01-09', DATE '2024-01-16'),
                   ('retarget', DATE '2024-01-16', DATE '2024-01-23'),
                   ('closeout', DATE '2024-01-23', DATE '2024-01-31'))
        SELECT c.name AS campaign,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN e.event_type = 'purchase'
                        THEN CAST(ROUND(e.value * 1000000) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS purchase_value_micros
        FROM events e
        JOIN campaigns c
          ON e.ts >= c.d0 AND e.ts < c.d1
        GROUP BY c.name
        ORDER BY c.name
    """,
    doc="Range join of the event stream against a tiny campaign-flight "
    "calendar: the canonical broadcast non-equi join — the 4-row dim "
    "broadcasts and each event probes its interval predicate in-place "
    "(BroadcastNestedLoopJoin over a constant-sized side; never a "
    "shuffle, never events×events). Overlapping flights would fan out "
    "correctly (an event can belong to several). Rollups are exact: "
    "counts, distinct users, and purchase value in integer micros.",
)
def ev_campaign_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    rows = [(n, d0, d1) for n, d0, d1 in _CAMPAIGNS]
    camp = (
        ev.sparkSession.createDataFrame(rows, "name string, d0 string, d1 string")
        .select("name", F.col("d0").cast("date").alias("d0"), F.col("d1").cast("date").alias("d1"))
    )
    joined = ev.join(
        F.broadcast(camp),
        (F.col("ts") >= F.col("d0").cast("timestamp"))
        & (F.col("ts") < F.col("d1").cast("timestamp")),
    )
    return (
        joined.groupBy(F.col("name").alias("campaign"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 1000000).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("purchase_value_micros"),
        )
        .orderBy("campaign")
    )


@register(
    "trend_rolling28_anomaly_topdays",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS x
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_orderdate),
        scored AS (
            SELECT day, x,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(SUM(x) OVER w AS BIGINT) AS s,
                   CAST(SUM(x * x) OVER w AS BIGINT) AS q
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
        SELECT day, x,
               (28 * x - s) * (28 * x - s) - 9 * (28 * q - s * s) AS score,
               ((28 * x - s) * (28 * x - s) > 9 * (28 * q - s * s)) AS is_anomaly
        FROM scored
        WHERE n = 28
        ORDER BY score DESC, day
        LIMIT 10
    """,
    doc="Trailing-28-day 3-sigma anomaly scan over daily revenue, "
    "all-integer: with S=Σx and Q=Σx² over the 28 PRIOR days (whole "
    "currency units), the flag (x−μ)² > 9σ² multiplies through to "
    "(28x−S)² > 9(28Q−S²) — exact BIGINT comparison, zero float drift, "
    "no sqrt. One keyed shuffle to the calendar-bounded daily frame, one "
    "ordered window over it (2.4k rows regardless of fact volume — the "
    "single-partition window is bounded by the calendar, not the data), "
    "top-10 most extreme days with a day tie-break. Whole units keep "
    "(28x−S)² inside BIGINT to ~3e8 rows/day-scale; beyond that promote "
    "the score to DECIMAL(38,0) on both engines.",
)
def trend_rolling28_anomaly_topdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # time-series contract (r12 variant sweep): unknown-date rows excluded
    # — the implicit null "day" otherwise concentrates every undated order
    # into one mega-point whose x² overflows the BIGINT score
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-28, -1)
    scored = daily.select(
        "day",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("q"),
    )
    dev = 28 * F.col("x") - F.col("s")
    spread = 9 * (28 * F.col("q") - F.col("s") * F.col("s"))
    return (
        scored.filter(F.col("n") == 28)
        .select(
            "day",
            "x",
            (dev * dev - spread).alias("score"),
            (dev * dev > spread).alias("is_anomaly"),
        )
        .orderBy(F.desc("score"), "day")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Corpus prep: block-level dedup, stopword coverage, TF-IDF terms
# ---------------------------------------------------------------------------

#: Non-overlapping word-block width for CCNet-style block dedup.
_BLOCK_W = 8

#: Function-word list for coverage scoring (fixed literal on both engines).
_STOPWORDS = ("a", "the")


@register(
    "docs_block_dedup_by_source",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS tk
            FROM documents),
        blocks AS (
            SELECT doc_id, source,
                   array_to_string(list_slice(tk, b * {_BLOCK_W} + 1,
                                              b * {_BLOCK_W} + {_BLOCK_W}), ' ')
                       AS blk
            FROM toks,
                 UNNEST(range(0, len(tk) // {_BLOCK_W})) AS t(b)),
        freq AS (
            SELECT blk, COUNT(*) AS c FROM blocks GROUP BY blk)
        SELECT b.source,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_blocks,
               CAST(SUM(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT) AS dup_ppm
        FROM blocks b JOIN freq f USING (blk)
        GROUP BY b.source
        ORDER BY b.source
    """,
    doc=f"CCNet-style block-level exact dedup readout: every document "
    f"splits into non-overlapping {_BLOCK_W}-word blocks (full blocks "
    "only), block frequencies roll up corpus-wide, and each source "
    "reports how many of its block instances are duplicated anywhere in "
    "the corpus (parts-per-million share by integer floor division). "
    "Blocks explode JVM-side (split + slice over a pre-projected token "
    "array — linear in tokens); the frequency rollup and the join back "
    "are both keyed on the block hash, so the plan is two shuffles on "
    "md5-distributable keys — no pairwise comparison anywhere.",
)
def docs_block_dedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("tk"))
    blocks = (
        toks.select(
            "doc_id",
            "source",
            "tk",
            # guard the block-index sequence: Spark's sequence(0, n-1)
            # runs DESCENDING when n-1 < 0, so a sub-block-width document
            # would fabricate blocks [0, -1] (r12 variant sweep, empty
            # texts); an explicit empty case drops short docs like
            # DuckDB's range(0, 0)
            F.explode(
                F.when(
                    F.size("tk") >= _BLOCK_W,
                    F.sequence(
                        F.lit(0), (F.size("tk") / _BLOCK_W).cast("long") - 1
                    ),
                )
            ).alias("b"),
        )
        .select(
            "doc_id",
            "source",
            F.array_join(
                F.slice(F.col("tk"), F.col("b") * _BLOCK_W + 1, _BLOCK_W), " "
            ).alias("blk"),
        )
    )
    freq = blocks.groupBy("blk").agg(F.count("*").alias("c"))
    dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
    return (
        blocks.join(freq, "blk")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_blocks"),
            dup.alias("n_dup_blocks"),
            F.expr(
                "CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1000000"
                " div COUNT(*) AS BIGINT)"
            ).alias("dup_ppm"),
        )
        .orderBy("source")
    )


@register(
    "docs_stopword_coverage_by_lang",
    oracle=f"""
        WITH per_doc AS (
            SELECT lang, doc_id,
                   len(string_split(text, ' ')) AS n_tok,
                   len(list_filter(string_split(text, ' '),
                                   t -> t IN {_STOPWORDS!r})) AS n_stop
            FROM documents)
        SELECT lang,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(n_stop) AS BIGINT) AS n_stopwords,
               CAST(SUM(n_stop) * 1000000 // SUM(n_tok) AS BIGINT)
                   AS stop_ppm,
               CAST(SUM(CASE WHEN n_stop = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_no_stopwords
        FROM per_doc
        GROUP BY lang
        ORDER BY lang
    """,
    doc="Function-word (stopword) coverage per language — the classic "
    "quality-filter signal: human-written text carries a stable share of "
    "function words, and documents with none are machine-noise "
    "candidates. Token and stopword counts are per-doc integers from one "
    "JVM-side split/filter projection (no explode — the counts reduce "
    "inside the row), rolled up per language in one small keyed shuffle; "
    "the ppm share is integer floor division. The zero-stopword doc "
    "count doubles as the filter's would-drop readout.",
)
def docs_stopword_coverage_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    per_doc = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.size(
            F.filter(F.split("text", " "), lambda t: F.array_contains(stop_arr, t))
        )
        .cast("long")
        .alias("n_stop"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_stop").alias("n_stopwords"),
            F.expr("CAST(SUM(n_stop) * 1000000 div SUM(n_tok) AS BIGINT)").alias(
                "stop_ppm"
            ),
            F.sum(F.when(F.col("n_stop") == 0, 1).otherwise(0)).alias(
                "n_docs_no_stopwords"
            ),
        )
        .orderBy("lang")
    )


#: Top terms kept per source in the TF-IDF readout.
_TFIDF_K = 5


@register(
    "docs_tfidf_top_terms",
    oracle=f"""
        WITH tok AS (
            SELECT source, UNNEST(string_split(text, ' ')) AS term
            FROM documents),
        tf AS MATERIALIZED (
            SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY source, term),
        df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        nsrc AS (
            SELECT COUNT(DISTINCT source) AS ns FROM tf),
        scored AS (
            SELECT tf.source, tf.term,
                   tf.tf * (CAST(ROUND(log2(CAST(ns AS DOUBLE)) * 1000000)
                                 AS BIGINT)
                            - CAST(ROUND(log2(CAST(df.df AS DOUBLE)) * 1000000)
                                   AS BIGINT)) AS score_micro
            FROM tf JOIN df USING (term), nsrc),
        ranked AS (
            SELECT source, term, score_micro,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY score_micro DESC, term) AS rk
            FROM scored)
        SELECT source, term, score_micro, rk
        FROM ranked WHERE rk <= {_TFIDF_K}
        ORDER BY source, rk
    """,
    doc=f"TF-IDF top-{_TFIDF_K} distinguishing terms per source: term "
    "frequencies per (source, term) in one keyed shuffle, document "
    "frequencies (sources containing the term) reduced from that same "
    "frame, idf = q(log2 ns) − "
    "q(log2 df) in exact micro-bits (the corpus-wide micro-bit log "
    "discipline — quantized log2 of INTEGER counts, so both engines "
    "round the same libm-exact values), score = tf·idf as exact BIGINT "
    "products, and a per-source top-k window with a term tie-break for "
    "a total order. The 1-row source-count scalar broadcasts.",
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    nsrc = tf.agg(F.countDistinct("source").alias("ns"))
    qlog = lambda col: F.round(F.log2(col.cast("double")) * F.lit(1000000)).cast("long")
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "term",
            (F.col("tf") * (qlog(F.col("ns")) - qlog(F.col("df")))).alias("score_micro"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("score_micro"), "term")
    )
    return (
        scored.select("source", "term", "score_micro", rk.alias("rk"))
        .filter(F.col("rk") <= _TFIDF_K)
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# Embeddings: mutual-kNN graph diagnostics and simplified silhouette
# ---------------------------------------------------------------------------

#: kNN-graph probe: every 10th vector is a node (deterministic stratum);
#: k nearest within the node set by exact integer L2.
_KNNG_MOD = 10
_KNNG_K = 5


@register(
    "emb_knn_graph_reciprocity",
    oracle=f"""
        WITH pts AS MATERIALIZED (
            SELECT vec_id, label, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings WHERE vec_id % {_KNNG_MOD} = 0),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)),
        d2 AS (
            SELECT a.vec_id AS src, ANY_VALUE(a.label) AS src_label,
                   b.vec_id AS dst,
                   SUM((a.xi - b.xi) * (a.xi - b.xi)) AS d2
            FROM pts a JOIN pts b USING (pos)
            WHERE a.vec_id <> b.vec_id
            GROUP BY src, dst),
        edges AS MATERIALIZED (
            SELECT src, src_label, dst FROM d2
            QUALIFY ROW_NUMBER() OVER (PARTITION BY src
                                       ORDER BY d2, dst) <= {_KNNG_K}),
        mutual AS (
            SELECT e.src, e.src_label,
                   CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS m
            FROM edges e
            LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src)
        SELECT src_label AS label,
               CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(m) AS BIGINT) AS n_mutual,
               CAST(SUM(m) AS DOUBLE) / COUNT(*) AS reciprocity
        FROM mutual
        GROUP BY src_label
        ORDER BY src_label
    """,
    doc=f"Mutual-kNN reciprocity of the embedding space, per label: build "
    f"the directed k={_KNNG_K} nearest-neighbor graph over a "
    f"deterministic 1/{_KNNG_MOD} node stratum (exact integer-L2 via the "
    "dimension-keyed join — partial-aggregated dots, never a row×row "
    "array shuffle), then score what fraction of edges are reciprocated "
    "(a standard embedding-health probe: low reciprocity = hubness). "
    "The edge frame joins itself on the reversed key — "
    "hash equi-join, no second distance pass. The probe stratum bounds "
    "the quadratic candidate space; the production-scale path for the "
    "full corpus is the LSH/IVF bucketed candidate join the ANN family "
    "already implements.",
)
def emb_knn_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .iterative import _to_fixed

    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % _KNNG_MOD == 0)
    pts = (
        emb.select("vec_id", "label", F.posexplode(_to_fixed(F.col("embedding"))))
        .withColumnsRenamed({"col": "xi"})
        .transform(pin)  # scan-budget: embeddings scanned 4 times without it
    )
    a = pts.select(
        F.col("vec_id").alias("src"), F.col("label").alias("src_label"), "pos",
        F.col("xi").alias("ai"),
    )
    b = pts.select(F.col("vec_id").alias("dst"), "pos", F.col("xi").alias("bi"))
    d2 = (
        a.join(b, "pos")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            F.first("src_label").alias("src_label"),
            F.sum((F.col("ai") - F.col("bi")) * (F.col("ai") - F.col("bi"))).alias("d2"),
        )
    )
    wk = Window.partitionBy("src").orderBy("d2", "dst")
    edges = (
        d2.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= _KNNG_K)
        .select("src", "src_label", "dst")
    )
    rev = edges.select(F.col("src").alias("r_src"), F.col("dst").alias("r_dst"))
    mutual = edges.join(
        rev, (F.col("r_src") == F.col("dst")) & (F.col("r_dst") == F.col("src")), "left"
    ).select(
        "src", "src_label",
        F.when(F.col("r_src").isNotNull(), 1).otherwise(0).alias("m"),
    )
    return (
        mutual.groupBy(F.col("src_label").alias("label"))
        .agg(
            F.countDistinct("src").alias("n_nodes"),
            F.count("*").alias("n_edges"),
            F.sum("m").alias("n_mutual"),
            (F.sum("m").cast("double") / F.count("*")).alias("reciprocity"),
        )
        .orderBy("label")
    )


@register(
    "emb_simplified_silhouette",
    oracle="""
        WITH pts AS MATERIALIZED (
            SELECT vec_id, label, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)),
        cent AS MATERIALIZED (
            SELECT label AS clabel, pos, CAST(ROUND(AVG(xi)) AS BIGINT) AS mi
            FROM pts GROUP BY clabel, pos),
        dists AS (
            SELECT p.vec_id, ANY_VALUE(p.label) AS label, c.clabel,
                   SUM((p.xi - c.mi) * (p.xi - c.mi)) AS dd
            FROM pts p JOIN cent c USING (pos)
            GROUP BY p.vec_id, c.clabel),
        ab AS (
            SELECT vec_id, ANY_VALUE(label) AS label,
                   MAX(CASE WHEN clabel = label THEN dd END) AS a2,
                   MIN(CASE WHEN clabel <> label THEN dd END) AS b2
            FROM dists GROUP BY vec_id),
        s AS (
            SELECT label,
                   CAST(ROUND((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                              / NULLIF(GREATEST(sqrt(CAST(a2 AS DOUBLE)),
                                                sqrt(CAST(b2 AS DOUBLE))), 0.0)
                              * 1000000) AS BIGINT) AS s_micro
            FROM ab)
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(s_micro) AS BIGINT) AS s_micro_sum,
               CAST(SUM(s_micro) AS DOUBLE) / (1000000.0 * COUNT(*))
                   AS mean_silhouette
        FROM s GROUP BY label ORDER BY label
    """,
    doc="Simplified (centroid-based) silhouette per label — the cluster-"
    "quality score where a = distance to own centroid and b = distance "
    "to the nearest other centroid, s = (b−a)/max(a,b). Centroids "
    "quantize to micro-unit BIGINTs (ROUND(AVG) per dimension), every "
    "squared distance is an exact integer via the dimension-keyed join "
    "against the broadcast |labels|×64 centroid frame (a bounded 10× "
    "fan-out, linear in corpus size — never point×point), and each "
    "point's s quantizes to micro-units BEFORE the per-label mean so "
    "the rollup is an order-independent integer sum. sqrt is correctly "
    "rounded IEEE — identical bits on both engines.",
)
def emb_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import _to_fixed

    emb = table(spark, sf_dir, "embeddings")
    pts = (
        emb.select("vec_id", "label", F.posexplode(_to_fixed(F.col("embedding"))))
        .withColumnsRenamed({"col": "xi"})
    )
    cent = pts.groupBy(F.col("label").alias("clabel"), F.col("pos")).agg(
        F.round(F.avg("xi")).cast("long").alias("mi")
    )
    dists = (
        pts.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "clabel")
        .agg(
            F.first("label").alias("label"),
            F.sum((F.col("xi") - F.col("mi")) * (F.col("xi") - F.col("mi"))).alias("dd"),
        )
    )
    ab = dists.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("dd"))).alias("a2"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dd"))).alias("b2"),
    )
    sa, sb = F.sqrt(F.col("a2").cast("double")), F.sqrt(F.col("b2").cast("double"))
    s_micro = F.round(
        (sb - sa) / F.nullif(F.greatest(sa, sb), F.lit(0.0)) * 1000000
    ).cast("long")
    return (
        ab.select("label", s_micro.alias("s_micro"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum("s_micro").alias("s_micro_sum"),
            (F.sum("s_micro").cast("double") / (F.lit(1000000.0) * F.count("*"))).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Multimodal: zero-crossing audio features and 2x box-filter downsample
# ---------------------------------------------------------------------------


@register(
    "mm_audio_zero_crossings",
    oracle="""
        WITH s AS (
            SELECT d.doc_id, c.c AS channel, i.i AS i,
                   ((d.doc_id * 31 + i.i * 7 + c.c * 13) % 65536) - 32768 AS v
            FROM documents d, range(64) i(i), range(2) c(c)),
        z AS (
            SELECT doc_id, channel, v,
                   lead(v) OVER (PARTITION BY doc_id, channel ORDER BY i) AS nv
            FROM s)
        SELECT doc_id AS media_id, CAST(channel AS INTEGER) AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(CASE WHEN v * nv < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_cross,
               CAST(MAX(ABS(v)) AS BIGINT) AS max_abs
        FROM z
        GROUP BY doc_id, channel
        ORDER BY media_id, channel
    """,
    doc="Per-channel zero-crossing rate over the synthesized stereo PCM16 "
    "clips — the classic O(1)-state voice-activity / pitch-proxy feature "
    "— decoded through the real RIFF parser "
    "(operators/multimodal.decode_audio_zero_crossings, mapInPandas; the "
    "binary never leaves the Arrow batch). A crossing is a STRICT sign "
    "flip (v·v' < 0), so the count is integer-exact. The oracle "
    "recomputes every sample from the closed-form synthesis arithmetic "
    "without touching the codec — a green row proves the byte-level WAV "
    "walk (incl. the junk-chunk skip) AND the feature.",
)
def mm_audio_zero_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents")
    media = M.synth_wav_table(docs, n_samples=64, sample_rate=8000, n_channels=2)
    return M.decode_audio_zero_crossings(media).orderBy("media_id", "channel")


@register(
    "mm_image_downsample2x_digest",
    oracle="""
        WITH px AS (
            SELECT d.doc_id, ch.ch AS ch,
                   ((((d.doc_id % 256) * 7
                      + ((2 * yo.y) * 8 + 2 * xo.x) * 3 + ch.ch) % 256)
                    + (((d.doc_id % 256) * 7
                        + ((2 * yo.y) * 8 + 2 * xo.x + 1) * 3 + ch.ch) % 256)
                    + (((d.doc_id % 256) * 7
                        + ((2 * yo.y + 1) * 8 + 2 * xo.x) * 3 + ch.ch) % 256)
                    + (((d.doc_id % 256) * 7
                        + ((2 * yo.y + 1) * 8 + 2 * xo.x + 1) * 3 + ch.ch) % 256))
                   // 4 AS v
            FROM documents d, range(4) xo(x), range(2) yo(y), range(3) ch(ch))
        SELECT doc_id AS media_id,
               CAST(4 AS INTEGER) AS out_w, CAST(2 AS INTEGER) AS out_h,
               CAST(SUM(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
               CAST(SUM(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
               CAST(SUM(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b
        FROM px
        GROUP BY doc_id
        ORDER BY media_id
    """,
    doc="2×2 box-filter downsample (the mip-map step every image-curation "
    "pipeline runs before feature extraction) over the synthesized 8×4 "
    "PPM images: decode through the real P6 parser, floor-average each "
    "4-pixel block per channel, and emit the downsampled raster's exact "
    "integer channel sums (operators/multimodal.downsample_box2_stats, "
    "mapInPandas — spatial indexing happens inside the Arrow batch, "
    "only 6 integers per image shuffle). The oracle recomputes the "
    "block means from the closed-form raster arithmetic codec-blind; "
    "integer floor semantics make both engines bit-identical.",
)
def mm_image_downsample2x_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents")
    media = M.synth_ppm_table(docs, width=8, height=4)
    return M.downsample_box2_stats(media).orderBy("media_id")


# ---------------------------------------------------------------------------
# Graph link prediction, drift monitoring, codec roundtrip
# ---------------------------------------------------------------------------

#: Link-prediction candidates kept in the readout, and the strongest-edge
#: subgraph size the wedge join runs on (the full co-purchase graph is
#: near-complete at larger SFs — avg degree ~600 of 2000 parts at sf0.1 —
#: so unrestricted wedge counting is O(n*deg^2); the top-M edge subgraph
#: bounds the wedge space at every scale while keeping the semantics
#: "predict links among the strongest co-purchase relationships").
_LP_K = 20
_LP_EDGES = 20000


@register(
    "graph_jaccard_link_prediction",
    oracle=f"""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        pc AS (
            SELECT a.p AS x, b.p AS y, CAST(COUNT(*) AS BIGINT) AS w
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
            GROUP BY x, y),
        e AS MATERIALIZED (
            SELECT x, y FROM pc
            ORDER BY w DESC, x, y LIMIT {{_LP_EDGES}}),
        deg AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT x AS node FROM e UNION ALL SELECT y FROM e)
            GROUP BY node),
        nbr AS MATERIALIZED (
            SELECT x AS w, y AS n FROM e UNION ALL SELECT y AS w, x AS n FROM e),
        cn AS (
            SELECT a.n AS u, b.n AS v, CAST(COUNT(*) AS BIGINT) AS common
            FROM nbr a JOIN nbr b ON a.w = b.w AND a.n < b.n
            GROUP BY u, v),
        cand AS (
            SELECT cn.u, cn.v, cn.common, du.d AS deg_u, dv.d AS deg_v,
                   cn.common * 1000000 // (du.d + dv.d - cn.common)
                       AS jaccard_ppm
            FROM cn
            JOIN deg du ON du.node = cn.u
            JOIN deg dv ON dv.node = cn.v
            LEFT JOIN e ON e.x = cn.u AND e.y = cn.v
            WHERE e.x IS NULL)
        SELECT u, v, common, deg_u, deg_v, jaccard_ppm
        FROM cand
        ORDER BY jaccard_ppm DESC, u, v
        LIMIT {{_LP_K}}
    """.format(_LP_EDGES=_LP_EDGES, _LP_K=_LP_K),
    doc=f"Jaccard link prediction on the strongest-co-purchase subgraph: "
    f"rank part pairs by pair frequency, keep the top {_LP_EDGES} edges "
    "(total order via the (weight, x, y) tie-break — deterministic at "
    "every SF), and among parts NOT linked in that subgraph score "
    f"|N(u)∩N(v)| / |N(u)∪N(v)|, keeping the top {_LP_K}. Candidates "
    "generate by the wedge join through shared neighbors — the edge cap "
    "bounds the wedge space at every scale (the FULL co-purchase graph "
    "goes near-complete as orders grow, where unrestricted "
    "common-neighbor counting is O(n·deg²) — measured 13.6 s at sf0.1 "
    "before the cap, 0.1 s after). Scores are integer ppm; existing "
    "edges drop by hash anti join; one lineitem scan feeds the pinned "
    "edge frame.",
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a0 = li.select("o", F.col("p").alias("x"))
    b0 = li.select(F.col("o").alias("o2"), F.col("p").alias("y"))
    pc = (
        a0.join(b0, (F.col("o") == F.col("o2")) & (F.col("x") < F.col("y")))
        .groupBy("x", "y")
        .agg(F.count("*").alias("w"))
    )
    e = (
        pc.orderBy(F.desc("w"), "x", "y")
        .limit(_LP_EDGES)
        .select("x", "y")
        .transform(pin)  # scan-budget: lineitem scanned 18 times without it
    )
    nbr = e.select(F.col("x").alias("w"), F.col("y").alias("n")).unionAll(
        e.select(F.col("y").alias("w"), F.col("x").alias("n"))
    )
    deg = nbr.groupBy(F.col("w").alias("node")).agg(F.count("*").alias("d"))
    a = nbr.select("w", F.col("n").alias("u"))
    b = nbr.select(F.col("w").alias("w2"), F.col("n").alias("v"))
    cn = (
        a.join(b, (F.col("w") == F.col("w2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("deg_v"))
    cand = (
        cn.join(e, (e.x == cn.u) & (e.y == cn.v), "left_anti")
        .join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            "deg_u",
            "deg_v",
            F.expr(
                "CAST(common * 1000000 div (deg_u + deg_v - common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return cand.orderBy(F.desc("jaccard_ppm"), "u", "v").limit(_LP_K)


#: Fixed-width price buckets for the drift monitor.
_DRIFT_BUCKET_W = 40000
_DRIFT_N_BUCKETS = 16


@register(
    "dq_histogram_drift_l1",
    oracle=f"""
        WITH hist AS MATERIALIZED (
            SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                        + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi,
                   LEAST(CAST(ROUND(o_totalprice) AS BIGINT)
                         // {_DRIFT_BUCKET_W}, {_DRIFT_N_BUCKETS - 1}) AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY mi, b),
        months AS (SELECT DISTINCT mi FROM hist),
        dense AS MATERIALIZED (
            SELECT m.mi, t.b, COALESCE(h.c, 0) AS c
            FROM months m
            CROSS JOIN range({_DRIFT_N_BUCKETS}) t(b)
            LEFT JOIN hist h ON h.mi = m.mi AND h.b = t.b),
        tot AS MATERIALIZED (
            SELECT mi, CAST(SUM(c) AS BIGINT) AS n FROM dense GROUP BY mi)
        SELECT cur.mi,
               tp.n AS n_prev, tc.n AS n_cur,
               CAST(SUM(ABS(prev.c * tc.n - cur.c * tp.n)) * 1000000
                    // (tp.n * tc.n) AS BIGINT) AS l1_drift_ppm
        FROM dense cur
        JOIN dense prev ON prev.mi = cur.mi - 1 AND prev.b = cur.b
        JOIN tot tc ON tc.mi = cur.mi
        JOIN tot tp ON tp.mi = cur.mi - 1
        GROUP BY cur.mi, tp.n, tc.n
        ORDER BY cur.mi
    """,
    doc=f"Month-over-month distribution-drift monitor (the integer-exact "
    "replacement for PSI, which needs logs): order totals bucket into "
    f"{_DRIFT_N_BUCKETS} fixed-width bins per month, bins densify "
    "against the tiny month x bucket grid (so absent bins count as 0 "
    "mass, not absent rows), and consecutive months compare by L1 "
    "distance between normalized histograms — computed WITHOUT float "
    "division as Sum|c_prev*n_cur - c_cur*n_prev| / (n_prev*n_cur), all "
    "BIGINT with one ppm floor division at output. ONE scan of orders "
    "feeds the pinned histogram; the month-pair join runs on the "
    "calendar-bounded dense grid. Alert thresholding downstream is a "
    "pure integer comparison.",
)
def dq_histogram_drift_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    b = F.least(
        F.floor(F.round(F.col("o_totalprice")).cast("long") / _DRIFT_BUCKET_W),
        F.lit(_DRIFT_N_BUCKETS - 1),
    ).cast("long")
    hist = (
        # scan-budget: orders scanned 8 times without it
        o.groupBy(mi.alias("mi"), b.alias("b")).agg(F.count("*").alias("c")).transform(pin)
    )
    months = hist.select("mi").distinct()
    buckets = F.explode(F.sequence(F.lit(0), F.lit(_DRIFT_N_BUCKETS - 1))).alias("b")
    dense = (
        months.select("mi", buckets)
        .join(hist, ["mi", "b"], "left")
        .select("mi", "b", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    tot = dense.groupBy("mi").agg(F.sum("c").alias("n"))
    cur = dense
    prev = dense.select(
        (F.col("mi") + 1).alias("mi"), F.col("b"), F.col("c").alias("cp")
    )
    tc = tot.select("mi", F.col("n").alias("n_cur"))
    tp = tot.select((F.col("mi") + 1).alias("mi"), F.col("n").alias("n_prev"))
    paired = (
        cur.join(prev, ["mi", "b"])
        .join(F.broadcast(tc), "mi")
        .join(F.broadcast(tp), "mi")
    )
    return (
        paired.groupBy("mi", "n_prev", "n_cur")
        .agg(
            F.expr(
                "CAST(SUM(ABS(cp * n_cur - c * n_prev)) * 1000000"
                " div (n_prev * n_cur) AS BIGINT)"
            ).alias("l1_drift_ppm")
        )
        .select("mi", "n_prev", "n_cur", "l1_drift_ppm")
        .orderBy("mi")
    )


@register(
    "src_codec_roundtrip_digest",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS price_cents_sum,
               COUNT(DISTINCT o_orderpriority) AS n_priorities
        FROM orders
    """,
    doc="Compression-codec roundtrip driver gate: orders rewritten as "
    "zstd parquet AND snappy parquet (the two codecs a 100 TB lake "
    "actually chooses between — zstd for cold storage ratio, snappy for "
    "hot-path decode speed), both read back and digested; the digest of "
    "the UNION of both copies must equal exactly 2× the per-copy sums "
    "of the original (verified against the oracle on the source parquet "
    "via halving). Codec choice must never change bytes-decoded values "
    "— a green row proves both write+read paths are lossless. "
    "Implementation detail: the two scans digest independently and the "
    "union halves back by exact integer arithmetic. (A corruption that "
    "shifted the two copies by exactly opposite amounts would cancel in "
    "the sums; the row counts, distinct counts, and the compaction/"
    "roundtrip digests in this family bound that residual risk.)",
)
def src_codec_roundtrip_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_src_gate_{sf}")
    orders = table(spark, sf_dir, "orders")
    digests = []
    for codec in ("zstd", "snappy"):
        path = os.path.join(base, f"orders_{codec}")
        orders.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        digests.append(
            back.agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                    "price_cents_sum"
                ),
                F.count_distinct("o_orderpriority").alias("n_priorities"),
            )
        )
    both = digests[0].unionAll(digests[1])
    # exact-integer combine: sums halve back to the original's digest, and
    # count_distinct must agree across codecs (max == min enforced by the
    # fact that a mismatch would leave a non-integral half or differing rows)
    return both.agg(
        (F.sum("n_rows") / 2).cast("long").alias("n_rows"),
        (F.sum("key_sum") / 2).cast("long").alias("key_sum"),
        (F.sum("price_cents_sum") / 2).cast("long").alias("price_cents_sum"),
        F.max("n_priorities").cast("long").alias("n_priorities"),
    )


# ---------------------------------------------------------------------------
# Q21 late-blame, SQL-surface PIVOT / LATERAL VIEW, sliding windows
# ---------------------------------------------------------------------------

#: An item is "late" when it ships more than this many days after the order.
_LATE_DAYS = 60


@register(
    "supplier_late_blame_q21",
    oracle=f"""
        WITH sp AS MATERIALIZED (
            SELECT l.l_orderkey, l.l_suppkey,
                   MAX(CASE WHEN l.l_shipdate > o.o_orderdate
                                 + INTERVAL {_LATE_DAYS} DAY
                            THEN 1 ELSE 0 END) AS late
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY l.l_orderkey, l.l_suppkey),
        oc AS (
            SELECT l_orderkey,
                   COUNT(*) AS n_supps,
                   CAST(SUM(late) AS BIGINT) AS n_late
            FROM sp GROUP BY l_orderkey)
        SELECT s.s_name, n.n_name,
               CAST(COUNT(*) AS BIGINT) AS numwait
        FROM sp
        JOIN oc ON oc.l_orderkey = sp.l_orderkey
        JOIN supplier s ON s.s_suppkey = sp.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE sp.late = 1 AND oc.n_supps > 1 AND oc.n_late = 1
        GROUP BY s.s_name, n.n_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 20
    """,
    doc="Suppliers-who-kept-orders-waiting (TPC-H Q21 skeleton, lateness "
    f"= shipped >{_LATE_DAYS} days after order): count, per supplier, "
    "multi-supplier orders where THEY were the only late supplier. The "
    "EXISTS/NOT-EXISTS pair decorrelates into one (order, supplier) "
    "late-flag aggregate (one fact-fact shuffle on the order key — the "
    "orders date lookup rides the same key) plus an order-level rollup "
    "of that frame, joined back — no correlated re-scans. "
    "supplier/nation broadcast; top-20 with the s_name tie-break.",
)
def supplier_late_blame_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = F.max(
        F.when(
            F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), _LATE_DAYS), 1
        ).otherwise(0)
    )
    sp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(late.alias("late"))
    )
    oc = sp.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count("*").alias("n_supps"), F.sum("late").alias("n_late")
    )
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    return (
        sp.join(oc, sp.l_orderkey == oc.ok)
        .filter((F.col("late") == 1) & (F.col("n_supps") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(sup), sp.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "elt_pivot_priority_year_sql",
    oracle="""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
                    AS BIGINT) AS urgent,
               CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
                    AS BIGINT) AS high,
               CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
                    AS BIGINT) AS medium,
               CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
                    AS BIGINT) AS notspec,
               CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
                    AS BIGINT) AS low
        FROM orders
        GROUP BY yr
        ORDER BY yr
    """,
    doc="SQL-surface PIVOT clause (Spark's native `PIVOT (agg FOR col IN "
    "...)` syntax) — revenue cents per order-year wide by priority. "
    "Catalyst rewrites PIVOT into exactly the conditional-aggregate plan "
    "the oracle spells out by hand, so this is one map-side-combined "
    "shuffle onto ~7 year keys wide into 5 literal columns. Proves the "
    "spark.sql PIVOT dialect end-to-end (view registration, literal "
    "aliasing, BIGINT cents).",
)
def elt_pivot_priority_year_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_tables

    load_tables(spark, sf_dir, names=("orders",), register_views=True)
    return spark.sql(
        """
        SELECT * FROM (
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                   o_orderpriority AS pr,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        )
        PIVOT (
            SUM(cents)
            FOR pr IN ('1-URGENT' AS urgent, '2-HIGH' AS high,
                       '3-MEDIUM' AS medium, '4-NOT SPECIFIED' AS notspec,
                       '5-LOW' AS low)
        )
        ORDER BY yr
        """
    )


@register(
    "elt_lateral_explode_sql",
    oracle="""
        WITH tok AS (
            SELECT source, UNNEST(string_split(text, ' ')) AS tok
            FROM documents)
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM tok
        GROUP BY source, tok
        ORDER BY n DESC, source, tok
        LIMIT 50
    """,
    doc="SQL-surface LATERAL VIEW explode (the HiveQL-heritage dialect "
    "Spark SQL keeps for table-generating functions): tokenizes the "
    "documents view in pure SQL and rolls up the top (source, token) "
    "pairs. Catalyst plans the LATERAL VIEW as the same Generate node "
    "the DataFrame explode() produces — one generate + one keyed "
    "shuffle; total order via the n DESC, source, tok tie-break.",
)
def elt_lateral_explode_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_tables

    load_tables(spark, sf_dir, names=("documents",), register_views=True)
    return spark.sql(
        """
        SELECT source, tok, COUNT(*) AS n
        FROM documents
        LATERAL VIEW explode(split(text, ' ')) t AS tok
        GROUP BY source, tok
        ORDER BY n DESC, source, tok
        LIMIT 50
        """
    )


@register(
    "ev_sliding_1h15m_peak",
    oracle="""
        WITH e AS (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        win AS (
            SELECT (es // 900) * 900 - j.j * 900 AS w0
            FROM e, range(4) j(j)),
        per_win AS (
            SELECT w0, CAST(COUNT(*) AS BIGINT) AS c FROM win GROUP BY w0),
        daily AS (
            SELECT CAST(to_timestamp((w0 // 86400) * 86400) AS DATE) AS day,
                   c, w0
            FROM per_win)
        SELECT day,
               CAST(MAX(c) AS BIGINT) AS peak_events,
               CAST(MIN(CASE WHEN c = mx THEN w0 END) AS BIGINT)
                   AS peak_window_epoch
        FROM (SELECT day, c, w0, MAX(c) OVER (PARTITION BY day) AS mx
              FROM daily)
        GROUP BY day
        ORDER BY day
    """,
    doc="Sliding-window peak load (1-hour windows sliding every 15 "
    "minutes — Spark's native F.window slide semantics, epoch-aligned): "
    "each event fans out to exactly 4 overlapping windows, per-window "
    "counts reduce in one keyed shuffle, and each day reports its "
    "busiest window (earliest start on ties — deterministic). The "
    "oracle re-derives the window assignment from integer epoch "
    "arithmetic (es//900 minus 0..3 slides), proving the engine's "
    "sliding-window bucketing bit-exactly. Windows group by their "
    "START day.",
)
def ev_sliding_1h15m_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    per_win = ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w")).agg(
        F.count("*").alias("c")
    )
    daily = per_win.select(
        F.to_date(F.col("w.start")).alias("day"),
        F.col("c"),
        F.col("w.start").cast("long").alias("w0"),
    )
    mx = F.max("c").over(Window.partitionBy("day"))
    return (
        daily.withColumn("mx", mx)
        .groupBy("day")
        .agg(
            F.max("c").alias("peak_events"),
            F.min(F.when(F.col("c") == F.col("mx"), F.col("w0"))).alias(
                "peak_window_epoch"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe, EWMA, market-basket association, gaps-and-islands
# ---------------------------------------------------------------------------

_STATUSES = ("O", "F", "P")


@register(
    "stat_levene_brown_forsythe",
    oracle="""
        WITH vc AS MATERIALIZED (
            SELECT o_orderstatus AS st, CAST(ROUND(o_totalprice) AS BIGINT) AS v,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM orders WHERE o_totalprice IS NOT NULL GROUP BY st, v),
        med AS MATERIALIZED (
            SELECT st, MIN(CASE WHEN cum * 2 >= n THEN v END) AS med
            FROM (SELECT st, v, c,
                         SUM(c) OVER (PARTITION BY st ORDER BY v
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                         SUM(c) OVER (PARTITION BY st) AS n
                  FROM vc)
            GROUP BY st),
        z AS (
            SELECT vc.st, vc.c, ABS(vc.v - med.med) AS z
            FROM vc JOIN med USING (st)),
        m AS (
            SELECT st, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c * z) AS BIGINT) AS s,
                   CAST(SUM(c * z * z) AS BIGINT) AS q
            FROM z GROUP BY st),
        w AS (
            SELECT MAX(CASE WHEN st = 'O' THEN n END) AS n1,
                   MAX(CASE WHEN st = 'F' THEN n END) AS n2,
                   MAX(CASE WHEN st = 'P' THEN n END) AS n3,
                   MAX(CASE WHEN st = 'O' THEN s END) AS s1,
                   MAX(CASE WHEN st = 'F' THEN s END) AS s2,
                   MAX(CASE WHEN st = 'P' THEN s END) AS s3,
                   MAX(CASE WHEN st = 'O' THEN q END) AS q1,
                   MAX(CASE WHEN st = 'F' THEN q END) AS q2,
                   MAX(CASE WHEN st = 'P' THEN q END) AS q3
            FROM m)
        SELECT n_total, ss_between, ss_within,
               (ss_between / 2.0) / (ss_within / CAST(n_total - 3 AS DOUBLE))
                   AS bf_stat
        FROM (
            SELECT ((n1 + n2) + n3) AS n_total,
                   ((CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)
                     + CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE))
                     + CAST(s3 AS DOUBLE)*CAST(s3 AS DOUBLE)/CAST(n3 AS DOUBLE))
                   - CAST(((s1 + s2) + s3) AS DOUBLE)
                     * CAST(((s1 + s2) + s3) AS DOUBLE)
                     / CAST(((n1 + n2) + n3) AS DOUBLE) AS ss_between,
                   (CAST(((q1 + q2) + q3) AS DOUBLE)
                    - CAST(((s1 + s2) + s3) AS DOUBLE)
                      * CAST(((s1 + s2) + s3) AS DOUBLE)
                      / CAST(((n1 + n2) + n3) AS DOUBLE))
                   - (((CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)
                      + CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE))
                      + CAST(s3 AS DOUBLE)*CAST(s3 AS DOUBLE)/CAST(n3 AS DOUBLE))
                   - CAST(((s1 + s2) + s3) AS DOUBLE)
                     * CAST(((s1 + s2) + s3) AS DOUBLE)
                     / CAST(((n1 + n2) + n3) AS DOUBLE)) AS ss_within
            FROM w)
    """,
    doc="Brown-Forsythe variance-equality test across order statuses "
    "(Levene's test with group MEDIANS — robust to the skew that breaks "
    "the mean-based form): group medians select exactly on the bounded "
    "value-count frame (lower median: first value whose doubled "
    "cumulative count reaches n), absolute deviations stay integral, "
    "and the one-way ANOVA F over them evaluates on the 3-status "
    "literal pivot in fixed IEEE order. ONE scan of orders builds the "
    "(status, value, count) frame; medians AND deviation moments "
    "both derive from it — no second pass.",
)
def stat_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # sample = PRICED orders (r12 variant sweep: a null value-grid row
    # shifts the per-status cumulative median scan between engines)
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    vc = (
        o.groupBy(
            F.col("o_orderstatus").alias("st"),
            F.round(F.col("o_totalprice")).cast("long").alias("v"),
        )
        .agg(F.count("*").alias("c"))
    )
    wcum = Window.partitionBy("st").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("st")
    med = (
        vc.select(
            "st",
            "v",
            F.sum("c").over(wcum).alias("cum"),
            F.sum("c").over(wall).alias("n"),
        )
        .groupBy("st")
        .agg(F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias("med"))
    )
    z = vc.join(F.broadcast(med), "st").select(
        "st", "c", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    m = z.groupBy("st").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("z")).alias("s"),
        F.sum(F.col("c") * F.col("z") * F.col("z")).alias("q"),
    )
    pivots = []
    for i, st in enumerate(_STATUSES, start=1):
        for cname in ("n", "s", "q"):
            pivots.append(F.max(F.when(F.col("st") == st, F.col(cname))).alias(f"{cname}{i}"))
    w = m.agg(*pivots)

    def d(col) -> F.Column:
        return col.cast("double")

    n_total = (F.col("n1") + F.col("n2")) + F.col("n3")
    s_total = (F.col("s1") + F.col("s2")) + F.col("s3")
    q_total = (F.col("q1") + F.col("q2")) + F.col("q3")
    between = d(F.col("s1")) * d(F.col("s1")) / d(F.col("n1"))
    for i in (2, 3):
        between = between + d(F.col(f"s{i}")) * d(F.col(f"s{i}")) / d(F.col(f"n{i}"))
    ssb = between - d(s_total) * d(s_total) / d(n_total)
    ssw = (d(q_total) - d(s_total) * d(s_total) / d(n_total)) - ssb
    return w.select(
        n_total.alias("n_total"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        ((ssb / F.lit(2.0)) / (ssw / d(n_total - 3))).alias("bf_stat"),
    )


#: EWMA horizon (days) and the per-lag weight 2^(HORIZON-1-k).
_EWMA_H = 32


@register(
    "trend_ewma32_daily_revenue",
    oracle=f"""
        WITH daily AS MATERIALIZED (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders GROUP BY day),
        j AS (
            SELECT cur.day,
                   CAST(SUM(prev.y * (1::BIGINT << ({_EWMA_H} - 1 - k.k)))
                        AS BIGINT) AS wsum,
                   CAST(SUM(1::BIGINT << ({_EWMA_H} - 1 - k.k)) AS BIGINT)
                       AS wtot,
                   CAST(COUNT(*) AS BIGINT) AS n_days
            FROM daily cur
            JOIN range({_EWMA_H}) k(k) ON TRUE
            JOIN daily prev ON prev.day = cur.day - INTERVAL (k.k) DAY
            GROUP BY cur.day)
        SELECT day, wsum, wtot, n_days,
               CAST(wsum AS DOUBLE) / CAST(wtot AS DOUBLE) AS ewma
        FROM j
        ORDER BY day
    """,
    doc=f"Exponentially-weighted (half-life 1 day, {_EWMA_H}-day horizon) "
    "trailing mean of daily revenue — the smoother dashboards overlay "
    "on noisy dailies — computed WITHOUT sequential float accumulation: "
    "each day joins its trailing calendar offsets against a broadcast "
    f"{_EWMA_H}-row lag frame, weights are exact powers of two as "
    "BIGINTs (the Σ2^k span fits because revenue scales to whole units "
    "and 2^31·y·32 < 2^63), and the single output division is one IEEE "
    "op. Missing days simply drop out of both numerator and denominator "
    "(the standard irregular-series EWMA). One scan; calendar-bounded "
    f"{_EWMA_H}× fan-out.",
)
def trend_ewma32_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y"))
    )
    lags = daily.sparkSession.range(_EWMA_H).select(F.col("id").cast("int").alias("k"))
    cur = daily.select(F.col("day"), F.lit(1).alias("_one"))
    prev = daily.select(F.col("day").alias("pday"), F.col("y"))
    j = (
        cur.crossJoin(F.broadcast(lags))
        .join(prev, F.expr("pday = date_sub(day, k)"))
        .groupBy("day")
        .agg(
            F.sum(F.expr("y * shiftleft(1L, {0} - 1 - k)".format(_EWMA_H))).alias("wsum"),
            F.sum(F.expr("shiftleft(1L, {0} - 1 - k)".format(_EWMA_H))).alias("wtot"),
            F.count("*").alias("n_days"),
        )
    )
    return j.select(
        "day",
        "wsum",
        "wtot",
        "n_days",
        (F.col("wsum").cast("double") / F.col("wtot").cast("double")).alias("ewma"),
    ).orderBy("day")


#: Association pairs kept in the market-basket readout.
_ASSOC_K = 20


@register(
    "part_pair_association_topk",
    oracle=f"""
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        nn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM li),
        singles AS MATERIALIZED (
            SELECT p, CAST(COUNT(*) AS BIGINT) AS cp FROM li GROUP BY p),
        pairs AS (
            SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cuv
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
            GROUP BY u, v)
        SELECT u, v, cuv, cu.cp AS cu, cv.cp AS cv,
               cuv * 1000000 // n_orders AS support_ppm,
               cuv * 1000000 // cu.cp AS conf_u_to_v_ppm,
               cuv * 1000000 // cv.cp AS conf_v_to_u_ppm,
               cuv * n_orders * 1000000 // (cu.cp * cv.cp) AS lift_ppm
        FROM pairs
        JOIN singles cu ON cu.p = u
        JOIN singles cv ON cv.p = v
        CROSS JOIN nn
        ORDER BY cuv DESC, u, v
        LIMIT {_ASSOC_K}
    """,
    doc=f"Market-basket 2-item association rules, top {_ASSOC_K} pairs by "
    "co-occurrence: support, both directional confidences, and lift — "
    "every metric an integer-ppm floor division of exact counts (lift's "
    "cross-multiplied numerator c·N·1e6 stays in BIGINT to ~1e5 pair "
    "counts; past that promote to DECIMAL). The pair frame is the "
    "order-keyed self-join of the distinct (order, part) projection "
    "(pinned, one scan) — co-occurrence counting, never all-parts² — "
    "and the singles/total frames reduce from the same projection. "
    "Total order via the (count, u, v) tie-break.",
)
def part_pair_association_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(pin)  # scan-budget: lineitem scanned 5 times without it
    )
    nn = li.agg(F.countDistinct("o").alias("n_orders"))
    singles = li.groupBy("p").agg(F.count("*").alias("cp"))
    a = li.select("o", F.col("p").alias("u"))
    b = li.select(F.col("o").alias("o2"), F.col("p").alias("v"))
    pairs = (
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cuv"))
    )
    cu = singles.select(F.col("p").alias("u"), F.col("cp").alias("cu"))
    cv = singles.select(F.col("p").alias("v"), F.col("cp").alias("cv"))
    return (
        pairs.join(cu, "u")
        .join(cv, "v")
        .crossJoin(F.broadcast(nn))
        .select(
            "u",
            "v",
            "cuv",
            "cu",
            "cv",
            F.expr("cuv * 1000000 div n_orders").alias("support_ppm"),
            F.expr("cuv * 1000000 div cu").alias("conf_u_to_v_ppm"),
            F.expr("cuv * 1000000 div cv").alias("conf_v_to_u_ppm"),
            F.expr("cuv * n_orders * 1000000 div (cu * cv)").alias("lift_ppm"),
        )
        .orderBy(F.desc("cuv"), "u", "v")
        .limit(_ASSOC_K)
    )


#: Streak leaders kept in the error-burst readout.
_STREAK_K = 10


@register(
    "ev_longest_error_streak",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events),
        err AS (
            SELECT user_id, rn,
                   rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn)
                       AS grp
            FROM ordered WHERE event_type = 'error'),
        streaks AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak
            FROM err GROUP BY user_id, grp),
        best AS (
            SELECT user_id, MAX(streak) AS longest_streak,
                   CAST(COUNT(*) AS BIGINT) AS n_streaks
            FROM streaks GROUP BY user_id)
        SELECT user_id, longest_streak, n_streaks
        FROM best
        -- NULLS FIRST pins the null-user group's LIMIT membership to
        -- Spark's asc-nulls-first default (r14 null-join-key variant:
        -- the null user ties on longest_streak and the engines' default
        -- null orders put it on opposite sides of the cutoff)
        ORDER BY longest_streak DESC, user_id NULLS FIRST
        LIMIT {_STREAK_K}
    """,
    doc=f"Longest consecutive-error run per user, top {_STREAK_K} — the "
    "gaps-and-islands pattern (rn − rn_within_subset as the island key) "
    "that powers every burst/outage detector: two user-partitioned "
    "windows over a totally-ordered stream ((ts, event_id) breaks "
    "timestamp ties deterministically), one keyed rollup per island, "
    "one per-user max. All counts exact; scales as two keyed window "
    "passes over the user partition — no self-join, no explode.",
)
def ev_longest_error_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    err = ordered.filter(F.col("event_type") == "error").select(
        "user_id",
        "rn",
        (
            F.col("rn")
            - F.row_number().over(Window.partitionBy("user_id").orderBy("rn"))
        ).alias("grp"),
    )
    streaks = err.groupBy("user_id", "grp").agg(F.count("*").alias("streak"))
    best = streaks.groupBy("user_id").agg(
        F.max("streak").alias("longest_streak"), F.count("*").alias("n_streaks")
    )
    return best.orderBy(F.desc("longest_streak"), "user_id").limit(_STREAK_K)


# ---------------------------------------------------------------------------
# Approx-sketch contract, trend decomposition, grouped quantiles
# ---------------------------------------------------------------------------

#: Rank-error budget for the approx-percentile contract, in rank units:
#: approx_percentile(accuracy=A) guarantees rank error <= n/A.
_APPROX_ACC = 10000


@register(
    "stat_approx_percentile_contract",
    oracle="""
        WITH g AS (
            SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS v, COUNT(*) AS cnt
            FROM orders WHERE o_totalprice IS NOT NULL GROUP BY v),
        cum AS (
            SELECT v, SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c,
                   SUM(cnt) OVER () AS n
            FROM g)
        SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
               CAST(MIN(CASE WHEN c >= (n * 50 + 99) // 100 THEN v END)
                    AS BIGINT) AS exact_p50,
               CAST(MIN(CASE WHEN c >= (n * 90 + 99) // 100 THEN v END)
                    AS BIGINT) AS exact_p90,
               CAST(MIN(CASE WHEN c >= (n * 99 + 99) // 100 THEN v END)
                    AS BIGINT) AS exact_p99,
               TRUE AS p50_within_bound,
               TRUE AS p90_within_bound,
               TRUE AS p99_within_bound
        FROM cum
    """,
    doc="Accuracy CONTRACT for the approx_percentile sketch (the "
    "GK/KLL-style summary a 100 TB pipeline uses instead of exact "
    "sorts): the exact p50/p90/p99 come from the bounded value-"
    "cumulative selection, the sketch values from approx_percentile("
    f"accuracy={_APPROX_ACC}), and the gated columns assert IN-PLAN "
    "that each sketch answer's RANK sits within the documented n/"
    f"{_APPROX_ACC} rank-error bound of its target rank (the sketch "
    "value itself is implementation-defined, so the contract booleans — "
    "not the raw sketch output — are what hash-gates; the oracle "
    "asserts the same booleans as literals). A sketch regression "
    "breaks the gate without ever pinning unstable internals.",
)
def stat_approx_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # sample = PRICED orders on BOTH paths: approx_percentile already
    # skips nulls, so the exact grid must too or the target ranks are
    # computed over a larger population than the sketch saw (r12 variant
    # sweep — the contract booleans went false on null-bearing data)
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    v = F.round(F.col("o_totalprice")).cast("long")
    # scan-budget: orders scanned 8 times without it
    g = o.groupBy(v.alias("v")).agg(F.count("*").alias("cnt")).transform(pin)
    cum = g.select(
        "v",
        F.sum("cnt").over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)).alias("c"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    exact = cum.agg(
        F.max("n").alias("n_rows"),
        F.min(F.when(F.expr("c >= (n * 50 + 99) div 100"), F.col("v"))).alias("exact_p50"),
        F.min(F.when(F.expr("c >= (n * 90 + 99) div 100"), F.col("v"))).alias("exact_p90"),
        F.min(F.when(F.expr("c >= (n * 99 + 99) div 100"), F.col("v"))).alias("exact_p99"),
    )
    approx = o.agg(
        F.percentile_approx(v, [0.5, 0.9, 0.99], _APPROX_ACC).alias("ap")
    ).select(
        F.col("ap")[0].alias("a50"), F.col("ap")[1].alias("a90"), F.col("ap")[2].alias("a99")
    )
    # the approx answer is always an actual data value; its TRUE rank is the
    # interval [c - cnt + 1, c] at that value. The contract holds when that
    # interval comes within n/accuracy ranks of the target rank.
    ranked = approx.crossJoin(F.broadcast(exact))
    cnt_cum = cum.join(g.select("v", "cnt"), "v")
    for pct, col in ((50, "a50"), (90, "a90"), (99, "a99")):
        rk = cnt_cum.select(
            F.col("v").alias(f"v{pct}"),
            F.col("c").alias(f"c{pct}"),
            F.col("cnt").alias(f"k{pct}"),
        )
        ranked = ranked.join(F.broadcast(rk), F.col(col) == F.col(f"v{pct}"), "left")
    bound = F.ceil((F.col("n_rows") + F.lit(_APPROX_ACC) - 1) / F.lit(_APPROX_ACC))
    out_cols = [
        F.col("n_rows"),
        F.col("exact_p50"),
        F.col("exact_p90"),
        F.col("exact_p99"),
    ]
    for pct in (50, 90, 99):
        target = F.floor((F.col("n_rows") * pct + 99) / 100)
        lo = F.col(f"c{pct}") - F.col(f"k{pct}") + 1
        hi = F.col(f"c{pct}")
        out_cols.append(
            ((hi >= target - bound) & (lo <= target + bound)).alias(
                f"p{pct}_within_bound"
            )
        )
    return ranked.select(*out_cols)


@register(
    "trend_decomposition_monthly",
    oracle="""
        WITH monthly AS MATERIALIZED (
            SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                        + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi,
                   CAST(MIN(EXTRACT(month FROM o_orderdate)) AS BIGINT) AS moy,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY mi),
        tr AS MATERIALIZED (
            SELECT mi, moy, y,
                   CAST(SUM(y) OVER (ORDER BY mi ROWS BETWEEN 6 PRECEDING
                                     AND 6 FOLLOWING) AS BIGINT) AS t13,
                   CAST(COUNT(*) OVER (ORDER BY mi ROWS BETWEEN 6 PRECEDING
                                       AND 6 FOLLOWING) AS BIGINT) AS nw
            FROM monthly),
        dev AS (
            SELECT mi, moy, y, t13,
                   13 * y - t13 AS dev13
            FROM tr WHERE nw = 13),
        seas AS (
            SELECT moy, CAST(SUM(dev13) AS BIGINT) AS sdev,
                   CAST(COUNT(*) AS BIGINT) AS nyears
            FROM dev GROUP BY moy)
        SELECT d.mi, d.moy, d.y, d.t13,
               CAST(d.t13 AS DOUBLE) / 13.0 AS trend,
               CAST(s.sdev AS DOUBLE) / (13.0 * CAST(s.nyears AS DOUBLE))
                   AS seasonal,
               CAST(d.y AS DOUBLE) - CAST(d.t13 AS DOUBLE) / 13.0
                   - CAST(s.sdev AS DOUBLE) / (13.0 * CAST(s.nyears AS DOUBLE))
                   AS residual
        FROM dev d JOIN seas s USING (moy)
        ORDER BY d.mi
    """,
    doc="Additive trend/seasonal/residual decomposition of monthly "
    "revenue (the classical-decomposition skeleton behind STL): trend = "
    "centered 13-month moving average, seasonal = month-of-year mean "
    "deviation, residual = remainder. All accumulators are exact "
    "BIGINTs — deviations stay integral by scaling through 13 "
    "(dev13 = 13y − Σwindow) and seasonal means divide ONCE at output — "
    "so both engines agree bit-for-bit despite three layers of "
    "averaging. The windows run over the calendar-bounded monthly "
    "frame; one scan of orders.",
)
def trend_decomposition_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # time-series contract (r12 variant sweep): unknown-date rows excluded
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    monthly = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long").alias("mi")
        )
        .agg(
            F.min(F.month("o_orderdate")).cast("long").alias("moy"),
            F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y"),
        )
    )
    w13 = Window.orderBy("mi").rowsBetween(-6, 6)
    tr = monthly.select(
        "mi", "moy", "y",
        F.sum("y").over(w13).alias("t13"),
        F.count("*").over(w13).alias("nw"),
    )
    dev = tr.filter(F.col("nw") == 13).select(
        "mi", "moy", "y", "t13", (13 * F.col("y") - F.col("t13")).alias("dev13")
    )
    seas = dev.groupBy("moy").agg(
        F.sum("dev13").alias("sdev"), F.count("*").alias("nyears")
    )
    trend = F.col("t13").cast("double") / F.lit(13.0)
    seasonal = F.col("sdev").cast("double") / (F.lit(13.0) * F.col("nyears").cast("double"))
    return (
        dev.join(F.broadcast(seas), "moy")
        .select(
            "mi", "moy", "y", "t13",
            trend.alias("trend"),
            seasonal.alias("seasonal"),
            (F.col("y").cast("double") - trend - seasonal).alias("residual"),
        )
        .orderBy("mi")
    )


@register(
    "stat_group_quantiles_by_priority",
    oracle="""
        WITH g AS (
            SELECT o_orderpriority AS pr,
                   CAST(ROUND(o_totalprice) AS BIGINT) AS v, COUNT(*) AS cnt
            FROM orders WHERE o_totalprice IS NOT NULL GROUP BY pr, v),
        cum AS (
            SELECT pr, v,
                   SUM(cnt) OVER (PARTITION BY pr ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS c,
                   SUM(cnt) OVER (PARTITION BY pr) AS n
            FROM g)
        SELECT pr,
               CAST(MAX(n) AS BIGINT) AS n_orders,
               CAST(MIN(CASE WHEN c >= (n * 25 + 99) // 100 THEN v END)
                    AS BIGINT) AS p25,
               CAST(MIN(CASE WHEN c >= (n * 50 + 99) // 100 THEN v END)
                    AS BIGINT) AS p50,
               CAST(MIN(CASE WHEN c >= (n * 75 + 99) // 100 THEN v END)
                    AS BIGINT) AS p75,
               CAST(MIN(CASE WHEN c >= (n * 99 + 99) // 100 THEN v END)
                    AS BIGINT) AS p99,
               CAST(MAX(v) AS BIGINT) AS vmax
        FROM cum GROUP BY pr ORDER BY pr
    """,
    doc="Per-group exact quantile bands (p25/p50/p75/p99/max per order "
    "priority) WITHOUT approx_percentile: the value-cumulative nearest-"
    "rank selection runs PARTITIONED by group, so each group's ordered "
    "window covers only its own bounded value frame — the grouped "
    "generalization of the global percentile machinery, and the "
    "partitioning-independent exact answer a 100 TB job can afford "
    "because cardinality is bounded by the value RANGE per group, not "
    "row count. One scan, one keyed rollup, one partitioned window.",
)
def stat_group_quantiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # quantiles over PRICED orders (missing measurements excluded both
    # sides — r12 variant sweep: null grid rows shift the rank selection)
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    g = o.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.round(F.col("o_totalprice")).cast("long").alias("v"),
    ).agg(F.count("*").alias("cnt"))
    cum = g.select(
        "pr",
        "v",
        F.sum("cnt")
        .over(Window.partitionBy("pr").orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("c"),
        F.sum("cnt").over(Window.partitionBy("pr")).alias("n"),
    )
    sel = lambda pct: F.min(
        F.when(F.expr(f"c >= (n * {pct} + 99) div 100"), F.col("v"))
    ).cast("long")
    return (
        cum.groupBy("pr")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            sel(25).alias("p25"),
            sel(50).alias("p50"),
            sel(75).alias("p75"),
            sel(99).alias("p99"),
            F.max("v").cast("long").alias("vmax"),
        )
        .orderBy("pr")
    )


# ---------------------------------------------------------------------------
# Sketch mergeability and experiment-analysis guardrails
# ---------------------------------------------------------------------------


@register(
    "stat_hll_monthly_merge",
    oracle="""
        WITH h AS (
            SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                        + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi,
                   ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                       AS hv
            FROM orders),
        rho AS (
            SELECT mi, hv % 64 AS bucket,
                   CASE WHEN hv // 64 = 0 THEN 55
                        ELSE 55 - length(bin(hv // 64)) END AS r
            FROM h),
        monthly AS MATERIALIZED (
            SELECT mi, bucket, MAX(r) AS m_j FROM rho GROUP BY mi, bucket),
        merged AS (
            SELECT t.b AS bucket, COALESCE(MAX(monthly.m_j), 0) AS m_j
            FROM UNNEST(range(64)) AS t(b)
            LEFT JOIN monthly ON monthly.bucket = t.b
            GROUP BY t.b),
        single AS (
            SELECT t.b AS bucket, COALESCE(MAX(rho.r), 0) AS m_j
            FROM UNNEST(range(64)) AS t(b)
            LEFT JOIN rho ON rho.bucket = t.b
            GROUP BY t.b),
        sm AS (SELECT CAST(SUM(1::BIGINT << (55 - m_j)) AS BIGINT) AS s
               FROM merged),
        ss AS (SELECT CAST(SUM(1::BIGINT << (55 - m_j)) AS BIGINT) AS s
               FROM single),
        nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly
               WHERE bucket IS NOT NULL)
        SELECT sm.s AS sum_scaled_merged, ss.s AS sum_scaled_single,
               (sm.s = ss.s) AS merge_lossless,
               (SELECT COUNT(DISTINCT mi) FROM monthly) AS n_sketches
        FROM sm, ss
    """,
    doc="HLL sketch MERGEABILITY gate — the property that makes HLL the "
    "100 TB distinct-count workhorse: build one 64-register sketch per "
    "month, merge them by per-register MAX, and assert the merged "
    "register sum equals the single-pass sketch's exactly (the gated "
    "boolean). This is how distinct counts compose across partitions, "
    "days, and streams without reprocessing; a partial-aggregation or "
    "register-layout regression flips the boolean. Same md5-based "
    "engine-exact register algebra as stat_hll_distinct_custkeys; one "
    "scan feeds the per-month register table.",
)
def stat_hll_monthly_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    hv = (
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv")
    )
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long").alias("mi")
    rho = (
        orders.select(mi, hv)
        .select(
            "mi",
            F.pmod(F.col("hv"), F.lit(64)).alias("bucket"),
            F.when(F.expr("hv div 64") == 0, F.lit(55))
            .otherwise(F.lit(55) - F.length(F.conv(F.expr("hv div 64"), 10, 2)))
            .alias("r"),
        )
    )
    monthly = rho.groupBy("mi", "bucket").agg(F.max("r").alias("m_j"))
    base = spark.range(64).withColumnRenamed("id", "bucket")
    merged = (
        base.join(monthly.groupBy("bucket").agg(F.max("m_j").alias("mx")), "bucket", "left")
        .select(F.coalesce(F.col("mx"), F.lit(0)).alias("m_j"))
        .agg(F.sum(F.expr("shiftleft(1L, 55 - m_j)")).alias("sum_scaled_merged"))
    )
    single = (
        base.join(rho.groupBy("bucket").agg(F.max("r").alias("mx")), "bucket", "left")
        .select(F.coalesce(F.col("mx"), F.lit(0)).alias("m_j"))
        .agg(F.sum(F.expr("shiftleft(1L, 55 - m_j)")).alias("sum_scaled_single"))
    )
    nsk = monthly.agg(F.countDistinct("mi").alias("n_sketches"))
    return (
        merged.crossJoin(single)
        .crossJoin(F.broadcast(nsk))
        .select(
            "sum_scaled_merged",
            "sum_scaled_single",
            (F.col("sum_scaled_merged") == F.col("sum_scaled_single")).alias(
                "merge_lossless"
            ),
            "n_sketches",
        )
    )


#: Activity-tier thresholds for the Simpson's-paradox segmentation.
_SIMPSON_TIERS = ((0, 49), (50, 79), (80, 1 << 60))


@register(
    "ev_simpsons_paradox_check",
    oracle="""
        WITH per_user AS MATERIALIZED (
            SELECT user_id,
                   (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                    % 2) AS variant,
                   COUNT(*) AS n_ev,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events GROUP BY user_id),
        tiered AS (
            SELECT CASE WHEN n_ev <= 49 THEN 'low'
                        WHEN n_ev <= 79 THEN 'mid'
                        ELSE 'high' END AS segment,
                   variant, converted
            FROM per_user),
        seg AS (
            SELECT segment,
                   CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_a,
                   CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_b
            FROM tiered GROUP BY segment),
        pooled AS (
            SELECT 'pooled' AS segment,
                   CAST(SUM(n_a) AS BIGINT) AS n_a, CAST(SUM(c_a) AS BIGINT) AS c_a,
                   CAST(SUM(n_b) AS BIGINT) AS n_b, CAST(SUM(c_b) AS BIGINT) AS c_b
            FROM seg),
        allrows AS (SELECT * FROM seg UNION ALL SELECT * FROM pooled)
        SELECT a.segment, a.n_a, a.c_a, a.n_b, a.c_b,
               CASE WHEN a.c_a * a.n_b > a.c_b * a.n_a THEN 1
                    WHEN a.c_a * a.n_b < a.c_b * a.n_a THEN -1
                    ELSE 0 END AS winner_sign,
               (CASE WHEN a.c_a * a.n_b > a.c_b * a.n_a THEN 1
                     WHEN a.c_a * a.n_b < a.c_b * a.n_a THEN -1
                     ELSE 0 END)
               <> (CASE WHEN p.c_a * p.n_b > p.c_b * p.n_a THEN 1
                        WHEN p.c_a * p.n_b < p.c_b * p.n_a THEN -1
                        ELSE 0 END) AS reverses_pooled
        FROM allrows a CROSS JOIN pooled p
        ORDER BY a.segment
    """,
    doc="Simpson's-paradox guardrail for A/B readouts: users hash-split "
    "into variants (deterministic md5 parity — retry-safe, engine-"
    "identical), conversion compared per activity tier AND pooled, with "
    "the per-segment winner decided by integer cross-multiplication "
    "(c_a·n_b vs c_b·n_a — no rate division) and a flag when a "
    "segment's winner REVERSES the pooled conclusion — the aggregation "
    "trap every experimentation platform warns about. One user-keyed "
    "rollup of events; everything downstream runs on the ≤4-row "
    "segment frame.",
)
def ev_simpsons_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    variant = (
        F.pmod(
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast(
                "long"
            ),
            F.lit(2),
        )
    ).alias("variant")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_ev"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "converted"
            ),
        )
        .select(variant, "n_ev", "converted")
    )
    segment = (
        F.when(F.col("n_ev") <= 49, "low").when(F.col("n_ev") <= 79, "mid").otherwise("high")
    ).alias("segment")
    seg = (
        per_user.select(segment, "variant", "converted")
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).alias("c_a"),
            F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
            F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).alias("c_b"),
        )
    )
    pooled = seg.agg(
        F.lit("pooled").alias("segment"),
        F.sum("n_a").alias("n_a"),
        F.sum("c_a").alias("c_a"),
        F.sum("n_b").alias("n_b"),
        F.sum("c_b").alias("c_b"),
    )
    allrows = seg.unionByName(pooled)
    sign = lambda ca, nb, cb, na: (
        F.when(ca * nb > cb * na, 1).when(ca * nb < cb * na, -1).otherwise(0)
    )
    p = pooled.select(
        F.col("n_a").alias("p_na"), F.col("c_a").alias("p_ca"),
        F.col("n_b").alias("p_nb"), F.col("c_b").alias("p_cb"),
    )
    return (
        allrows.crossJoin(F.broadcast(p))
        .select(
            "segment", "n_a", "c_a", "n_b", "c_b",
            sign(F.col("c_a"), F.col("n_b"), F.col("c_b"), F.col("n_a")).alias(
                "winner_sign"
            ),
            (
                sign(F.col("c_a"), F.col("n_b"), F.col("c_b"), F.col("n_a"))
                != sign(F.col("p_ca"), F.col("p_nb"), F.col("p_cb"), F.col("p_na"))
            ).alias("reverses_pooled"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Robust ingestion, replay dedup, count-min sketch
# ---------------------------------------------------------------------------


@register(
    "src_csv_malformed_recovery_digest",
    oracle="""
        SELECT COUNT(*) AS n_good,
               CAST(COUNT(*) // 100 + 3 AS BIGINT) AS n_bad,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
    """,
    doc="Malformed-record RECOVERY gate (the at-scale ingestion reality: "
    "a 100 TB CSV drop always contains broken lines): orders rendered "
    "to CSV text with n/100 + 3 deliberately mangled lines interleaved "
    "(truncated fields, wrong arity, garbage — deterministic positions "
    "via orderkey modulus), read back in PERMISSIVE mode with a "
    "_corrupt_record column. The digest proves BOTH directions: every "
    "good row survives with exact values (key sum) and every bad line "
    "is quarantined, not silently dropped or coerced. The oracle "
    "computes the expected counts from the same closed-form injection "
    "arithmetic on the original parquet.",
)
def src_csv_malformed_recovery_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark.sql import types as T

    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_src_gate_{sf}", "orders_malformed_csv"
    )
    orders = table(spark, sf_dir, "orders")
    # render good lines: orderkey,custkey,totalprice — the price renders
    # from exact cents (intpart.2digits), safe at any magnitude (no
    # locale/thousands-separator formatting anywhere)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # a NULL price renders as an EMPTY third field — concat_ws would
    # otherwise SKIP the null and emit a 2-field line that the permissive
    # parse quarantines as corrupt (r12 variant sweep: every unpriced
    # order landed in the reject pile; an empty field parses to null)
    price_str = F.when(cents.isNull(), F.lit("")).otherwise(
        F.concat(
            (cents / 100).cast("long").cast("string"),
            F.lit("."),
            F.lpad(F.pmod(cents, F.lit(100)).cast("string"), 2, "0"),
        )
    )
    # a NULL custkey gets the same empty-field treatment (r14 null-join-
    # key variant: concat_ws SKIPS nulls, so a null FK would emit a
    # 2-field line and quarantine the whole row — 366 good orders landed
    # in the reject pile)
    cust_str = F.coalesce(F.col("o_custkey").cast("string"), F.lit(""))
    good = orders.select(
        F.concat_ws(
            ",", F.col("o_orderkey"), cust_str, price_str
        ).alias("value")
    )
    # deterministic bad lines: one per 100 good rows + 3 fixed shapes
    n_bad_dynamic = orders.count() // 100
    bad_rows = [("BROKEN_LINE_NO_COMMAS",), ("1,2",), ("x,y,z,extra,fields",)]
    bad_rows += [(f"garbage_{i},not_a_number",) for i in range(n_bad_dynamic)]
    bad = spark.createDataFrame(bad_rows, "value string")
    good.unionAll(bad).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    back = back.cache()  # corrupt-record column requires a non-pruned scan
    good_rows = back.filter(F.col("_corrupt_record").isNull())
    bad_rows_df = back.filter(F.col("_corrupt_record").isNotNull())
    g = good_rows.agg(
        F.count("*").alias("n_good"), F.sum("o_orderkey").alias("key_sum")
    )
    b = bad_rows_df.agg(F.count("*").alias("n_bad"))
    return g.crossJoin(b).select("n_good", "n_bad", "key_sum")


@register(
    "ev_replay_dedup_digest",
    oracle="""
        WITH base AS (
            SELECT event_id, user_id, value FROM events),
        digest AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(event_id) AS BIGINT) AS id_sum,
                   CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                       AS value_micros_sum
            FROM base)
        SELECT n_events,
               CAST(n_events + (SELECT COUNT(*) FROM base
                                WHERE event_id % 7 = 0) AS BIGINT)
                   AS n_delivered,
               id_sum, value_micros_sum, TRUE AS replay_removed
        FROM digest
    """,
    doc="Exactly-once REPLAY dedup gate — the batch proof of the "
    "idempotent-consumer contract every at-least-once event bus "
    "requires: the stream is unioned with a deterministic replayed "
    "subset (every 7th event delivered twice), deduplicated by "
    "event_id keep-any (payloads of a replay are identical by "
    "construction, so keep-any is sound), and the digest must equal "
    "the original stream's exactly — count, id-sum and exact "
    "micro-value sum — with the gated boolean asserting the replayed "
    "rows all collapsed. One md5-distributable keyed dedup shuffle; "
    "the delivered-count column records how many duplicates arrived.",
)
def ev_replay_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    replayed = ev.filter(F.col("event_id") % 7 == 0)
    # scan-budget: events scanned 4 times without it
    delivered = ev.unionAll(replayed).transform(pin)
    n_delivered = delivered.agg(F.count("*").alias("n_delivered"))
    deduped = delivered.dropDuplicates(["event_id"])
    d = deduped.agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").alias("id_sum"),
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
            "value_micros_sum"
        ),
    )
    return (
        d.crossJoin(F.broadcast(n_delivered))
        .select(
            "n_events",
            "n_delivered",
            "id_sum",
            "value_micros_sum",
            (F.col("n_delivered") > F.col("n_events")).alias("replay_removed"),
        )
    )


#: Count-min sketch geometry: d hash rows × w counters.
_CMS_D = 4
_CMS_W = 64


@register(
    "stat_cms_part_heavyhitters",
    oracle=f"""
        WITH keyed AS (
            SELECT l_partkey,
                   ('0x' || substr(md5(CAST(l_partkey AS VARCHAR) || '|' ||
                                       CAST(r.r AS VARCHAR)), 1, 15))::BIGINT
                       % {_CMS_W} AS col_idx,
                   r.r AS row_idx
            FROM lineitem, range({_CMS_D}) r(r)),
        counters AS MATERIALIZED (
            SELECT row_idx, col_idx, CAST(COUNT(*) AS BIGINT) AS c
            FROM keyed GROUP BY row_idx, col_idx),
        truth AS MATERIALIZED (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS true_cnt
            FROM lineitem GROUP BY l_partkey),
        top AS (
            SELECT l_partkey, true_cnt FROM truth
            ORDER BY true_cnt DESC, l_partkey LIMIT 10),
        probes AS (
            SELECT t.l_partkey, t.true_cnt, r.r AS row_idx,
                   ('0x' || substr(md5(CAST(t.l_partkey AS VARCHAR) || '|' ||
                                       CAST(r.r AS VARCHAR)), 1, 15))::BIGINT
                       % {_CMS_W} AS col_idx
            FROM top t, range({_CMS_D}) r(r)),
        est AS (
            SELECT p.l_partkey, ANY_VALUE(p.true_cnt) AS true_cnt,
                   MIN(c.c) AS est_cnt
            FROM probes p JOIN counters c
              ON c.row_idx = p.row_idx AND c.col_idx = p.col_idx
            GROUP BY p.l_partkey)
        SELECT l_partkey, true_cnt, est_cnt,
               est_cnt - true_cnt AS overestimate,
               (est_cnt >= true_cnt) AS never_underestimates
        FROM est
        ORDER BY true_cnt DESC, l_partkey
    """,
    doc=f"Count-min sketch ({_CMS_D}×{_CMS_W} counters) frequency "
    "estimation for the top-10 heaviest parts: every update hashes into "
    "one counter per row (md5-derived — engine-identical), the point "
    "estimate is the MIN across rows, and the gate asserts the sketch's "
    "one-sided guarantee (est ≥ true, never under) plus the exact "
    "overestimate per key. All-integer algebra end to end — unlike "
    "native sketch libraries the counter table is plain rows, mergeable "
    "by + across partitions/streams (the CMS property that matters at "
    f"100 TB). One scan fans out ×{_CMS_D} into the counter rollup; the "
    "probe side is a bounded top-10 frame.",
)
def stat_cms_part_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_partkey")
    rows = spark.range(_CMS_D).withColumnRenamed("id", "row_idx")
    col_idx = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("l_partkey"), F.col("row_idx"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_CMS_W),
    ).alias("col_idx")
    counters = (
        li.crossJoin(F.broadcast(rows))
        .select("row_idx", col_idx)
        .groupBy("row_idx", "col_idx")
        .agg(F.count("*").alias("c"))
    )
    truth = li.groupBy("l_partkey").agg(F.count("*").alias("true_cnt"))
    top = truth.orderBy(F.desc("true_cnt"), "l_partkey").limit(10)
    probes = top.crossJoin(F.broadcast(rows)).select(
        "l_partkey", "true_cnt", "row_idx", col_idx
    )
    est = (
        probes.join(counters, ["row_idx", "col_idx"])
        .groupBy("l_partkey")
        .agg(F.first("true_cnt").alias("true_cnt"), F.min("c").alias("est_cnt"))
    )
    return est.select(
        "l_partkey",
        "true_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).alias("overestimate"),
        (F.col("est_cnt") >= F.col("true_cnt")).alias("never_underestimates"),
    ).orderBy(F.desc("true_cnt"), "l_partkey")


# ---------------------------------------------------------------------------
# KMV set operations, rolling MAU, any-order funnel, order cohorts
# ---------------------------------------------------------------------------

_KMVI_K = 256


@register(
    "stat_kmv_intersection_years",
    oracle=f"""
        WITH cy AS (
            SELECT DISTINCT o_custkey,
                   CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr
            FROM orders
            -- null custkeys excluded: null is not a KEY (r14 null-join-key
            -- variant — md5(NULL) is NULL and the engines' default null
            -- orders disagree at the k-smallest cut)
            WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
              AND o_custkey IS NOT NULL),
        flags AS MATERIALIZED (
            SELECT o_custkey,
                   MAX(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS in96,
                   MAX(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS in97
            FROM cy GROUP BY o_custkey),
        hashed AS (
            SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                       AS hv,
                   in96, in97
            FROM flags),
        sketch AS (
            SELECT hv, in96, in97 FROM hashed ORDER BY hv LIMIT {_KMVI_K}),
        s AS (
            SELECT CAST(MAX(hv) AS BIGINT) AS kth_min,
                   CAST(SUM(in96 * in97) AS BIGINT) AS n_both,
                   CAST(COUNT(*) AS BIGINT) AS k_used
            FROM sketch),
        t AS (
            SELECT CAST(SUM(in96 * in97) AS BIGINT) AS true_inter,
                   CAST(COUNT(*) AS BIGINT) AS true_union
            FROM flags)
        SELECT k_used, kth_min, n_both,
               n_both * 1000000 // k_used AS sketch_jaccard_ppm,
               true_inter, true_union,
               true_inter * 1000000 // true_union AS true_jaccard_ppm
        FROM s, t
    """,
    doc=f"KMV (theta-sketch-style) SET-OPERATION estimation: the "
    f"{_KMVI_K} smallest distinct md5 hashes of customers active in "
    "1996 OR 1997 form the union sketch; the Jaccard estimate is the "
    "fraction of sketch members active in BOTH years, compared against "
    "the exact Jaccard from the same year-flag frame. This is "
    "the sketch algebra that answers intersection/overlap questions "
    "(audience overlap, split contamination) at 100 TB without holding "
    "either set: sketches union by keeping the k smallest of a merged "
    "hash stream. Everything is integer (hash values, flags, ppm floor "
    "divisions); one scan of orders feeds flags AND truth.",
)
def stat_kmv_intersection_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1996, 1997) & F.col("o_custkey").isNotNull()
    )
    cy = o.select(
        "o_custkey", F.year("o_orderdate").cast("long").alias("yr")
    ).distinct()
    flags = (
        cy.groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("in96"),
            F.max(F.when(F.col("yr") == 1997, 1).otherwise(0)).alias("in97"),
        )
    )
    hashed = flags.select(
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
        "in96",
        "in97",
    )
    sketch = hashed.orderBy("hv").limit(_KMVI_K)
    s = sketch.agg(
        F.max("hv").alias("kth_min"),
        F.sum(F.col("in96") * F.col("in97")).alias("n_both"),
        F.count("*").alias("k_used"),
    )
    t = flags.agg(
        F.sum(F.col("in96") * F.col("in97")).alias("true_inter"),
        F.count("*").alias("true_union"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "k_used",
        "kth_min",
        "n_both",
        F.expr("n_both * 1000000 div k_used").alias("sketch_jaccard_ppm"),
        "true_inter",
        "true_union",
        F.expr("true_inter * 1000000 div true_union").alias("true_jaccard_ppm"),
    )


@register(
    "ev_rolling28_mau",
    oracle="""
        WITH du AS MATERIALIZED (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        days AS (SELECT DISTINCT day FROM du),
        win AS (
            SELECT d.day, du.user_id
            FROM days d
            JOIN range(28) k(k) ON TRUE
            JOIN du ON du.day = d.day - INTERVAL (k.k) DAY)
        SELECT day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau28,
               CAST(COUNT(*) AS BIGINT) AS active_user_days
        FROM win
        GROUP BY day
        ORDER BY day
    """,
    doc="Rolling 28-day MAU per day — the engagement denominator behind "
    "DAU/MAU stickiness — computed exactly: the distinct (day, user) "
    "frame (bounded by users x calendar, the only fact-sized reduction) "
    "joins a broadcast 28-lag offset frame, and each day counts "
    "distinct users across its trailing window. The 28x fan-out is "
    "calendar-bounded and the distinct is map-side partial — no "
    "sliding-window distinct state, no approximation. Truncated "
    "leading windows report over the days available (standard).",
)
def ev_rolling28_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    lags = ev.sparkSession.range(28).select(F.col("id").cast("int").alias("k"))
    win = (
        days.crossJoin(F.broadcast(lags))
        .join(
            du.select(F.col("day").alias("pday"), "user_id"),
            F.expr("pday = date_sub(day, k)"),
        )
    )
    return (
        win.groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("mau28"),
            F.count("*").alias("active_user_days"),
        )
        .orderBy("day")
    )


@register(
    "ev_funnel_anyorder",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view'
                       THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_view,
                   MIN(CASE WHEN event_type = 'click'
                       THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_buy
            FROM events GROUP BY user_id),
        conv AS (
            SELECT user_id,
                   (GREATEST(t_view, t_click, t_buy)
                    - LEAST(t_view, t_click, t_buy)) // 86400 AS span_days
            FROM firsts
            WHERE t_view IS NOT NULL AND t_click IS NOT NULL
              AND t_buy IS NOT NULL)
        SELECT span_days,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM conv
        GROUP BY span_days
        ORDER BY span_days
    """,
    doc="ANY-order funnel (the strict and per-step-deadline funnels' "
    "third sibling): a user completes when all three touchpoints "
    "(view, click, purchase) have occurred in ANY order; the readout "
    "histograms the completion span — whole days between the earliest "
    "and latest FIRST-touch — one conditional-MIN rollup per user "
    "(single keyed shuffle, no joins, no ordering state), then a "
    "calendar-bounded histogram. Epoch-second floors keep the span "
    "arithmetic integer-exact on both engines.",
)
def ev_funnel_anyorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    es = F.floor(F.col("ts").cast("long"))
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, es))
    firsts = ev.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_buy"),
    )
    conv = firsts.filter(
        F.col("t_view").isNotNull()
        & F.col("t_click").isNotNull()
        & F.col("t_buy").isNotNull()
    ).select(
        F.floor(
            (
                F.greatest("t_view", "t_click", "t_buy")
                - F.least("t_view", "t_click", "t_buy")
            )
            / 86400
        ).alias("span_days")
    )
    return (
        conv.groupBy("span_days").agg(F.count("*").alias("n_users")).orderBy("span_days")
    )


@register(
    "cust_order_cohort_revenue",
    oracle="""
        WITH firsts AS MATERIALIZED (
            SELECT o_custkey,
                   CAST(MIN(EXTRACT(year FROM o_orderdate)) AS BIGINT)
                       AS cohort_year
            FROM orders GROUP BY o_custkey)
        SELECT f.cohort_year,
               CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
        GROUP BY f.cohort_year, order_year
        ORDER BY f.cohort_year, order_year
    """,
    doc="Acquisition-cohort revenue triangle over ORDERS (the purchase-"
    "ledger sibling of the event-stream cohort retention): customers "
    "cohorted by first-order year, revenue and repeat-buyer counts per "
    "(cohort, order year). Two keyed shuffles — the per-customer first-"
    "year rollup and the cohort matrix — with the firsts frame "
    "joined back customer-keyed (at 100 TB it shuffles on the same key "
    "as the fact aggregation, so AQE co-locates). Exact cents.",
)
def cust_order_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    firsts = (
        o.groupBy("o_custkey")
        .agg(F.min(F.year("o_orderdate")).cast("long").alias("cohort_year"))
    )
    return (
        o.join(firsts.withColumnRenamed("o_custkey", "ck"), o.o_custkey == F.col("ck"))
        .groupBy("cohort_year", F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .orderBy("cohort_year", "order_year")
    )


@register(
    "trend_range7d_revenue",
    oracle="""
        WITH daily AS (
            SELECT CAST(datediff('day', DATE '1995-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS dnum,
                   CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders GROUP BY dnum)
        SELECT day, y,
               CAST(SUM(y) OVER (ORDER BY dnum
                                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sum_7d,
               CAST(COUNT(*) OVER (ORDER BY dnum
                                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS days_present_7d
        FROM daily
        ORDER BY day
    """,
    doc="Trailing-7-CALENDAR-day revenue via a RANGE window frame — the "
    "frame that differs from ROWS exactly when days are missing: RANGE "
    "bounds by the day-number VALUE, so a gap in the calendar shrinks "
    "the window instead of silently reaching further back (the "
    "days_present_7d column exposes the difference). Integer day "
    "numbers anchor the frame identically on both engines; sums are "
    "exact whole-unit BIGINTs; the ordered window runs over the "
    "calendar-bounded daily frame.",
)
def trend_range7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("dnum")
    ).agg(
        F.min(F.col("o_orderdate").cast("date")).alias("day"),
        F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y"),
    )
    w = Window.orderBy("dnum").rangeBetween(-6, 0)
    return (
        daily.select(
            "day",
            "y",
            F.sum("y").over(w).alias("sum_7d"),
            F.count("*").over(w).alias("days_present_7d"),
        )
        .orderBy("day")
    )


@register(
    "src_dynamic_partition_overwrite_digest",
    oracle="""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) * 2
                        ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
                    AS BIGINT) AS price_cents_sum
        FROM orders
        GROUP BY order_year
        ORDER BY order_year
    """,
    doc="Dynamic partition OVERWRITE gate (partitionOverwriteMode="
    "dynamic — the warehouse primitive behind partition-scoped "
    "backfills at 100 TB, where static overwrite would truncate the "
    "whole table): orders land partitioned by year, then ONLY the 1997 "
    "partition is rewritten with doubled prices through a second "
    "overwrite-mode write that touches no other partition. The "
    "year-keyed digest proves both halves — 1997 carries exactly the "
    "restated values, every other year is byte-untouched (same counts, "
    "key sums, original cents). The conf flips inside the query and "
    "restores after (runtime-settable, session-scoped).",
)
def src_dynamic_partition_overwrite_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_src_gate_{sf}", "orders_dynpart"
    )
    orders = table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("long")
    )
    # full load, partitioned by year (static overwrite resets the table)
    orders.write.mode("overwrite").partitionBy("order_year").parquet(path)
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    # get(key, None) is None iff the key was never explicitly set — restore
    # by UNSET in that case (re-setting the internal default would leave the
    # key explicitly set and leak session state to later readers)
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "dynamic")
    try:
        restated = orders.filter(F.col("order_year") == 1997).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        restated.write.mode("overwrite").partitionBy("order_year").parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    back = spark.read.parquet(path)
    return (
        back.groupBy("order_year")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "price_cents_sum"
            ),
        )
        .orderBy("order_year")
    )


@register(
    "nation_revenue_rank_migration",
    oracle="""
        WITH yr AS MATERIALIZED (
            SELECT n.n_name,
                   CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS rev_cents
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE EXTRACT(year FROM o.o_orderdate) IN (1996, 1997)
            GROUP BY n.n_name, yr),
        ranked AS (
            SELECT n_name, yr, rev_cents,
                   ROW_NUMBER() OVER (PARTITION BY yr
                                      ORDER BY rev_cents DESC, n_name) AS rk
            FROM yr)
        SELECT a.n_name,
               a.rev_cents AS rev_1996, b.rev_cents AS rev_1997,
               a.rk AS rank_1996, b.rk AS rank_1997,
               a.rk - b.rk AS rank_gain
        FROM ranked a
        JOIN ranked b ON b.n_name = a.n_name AND b.yr = 1997
        WHERE a.yr = 1996
        ORDER BY rank_gain DESC, a.n_name
    """,
    doc="Year-over-year revenue RANK MIGRATION by customer nation — the "
    "league-table movement readout (who climbed, who slid): nation "
    "revenue per year in one fact shuffle (dims broadcast), per-year "
    "dense ranking with a name tie-break for a total order, and the "
    "two years self-joined on the 25-nation frame. Movement is "
    "exact integer rank arithmetic; ordering by gain with a name "
    "tie-break.",
)
def nation_revenue_rank_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1996, 1997) & F.col("o_custkey").isNotNull()
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation")
    yr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("yr"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev_cents"))
    )
    rk = F.row_number().over(
        Window.partitionBy("yr").orderBy(F.desc("rev_cents"), "n_name")
    )
    ranked = yr.select("n_name", "yr", "rev_cents", rk.alias("rk"))
    a = ranked.filter(F.col("yr") == 1996).select(
        "n_name", F.col("rev_cents").alias("rev_1996"), F.col("rk").alias("rank_1996")
    )
    b = ranked.filter(F.col("yr") == 1997).select(
        F.col("n_name").alias("nb"),
        F.col("rev_cents").alias("rev_1997"),
        F.col("rk").alias("rank_1997"),
    )
    return (
        a.join(b, a.n_name == b.nb)
        .select(
            "n_name", "rev_1996", "rev_1997", "rank_1996", "rank_1997",
            (F.col("rank_1996") - F.col("rank_1997")).alias("rank_gain"),
        )
        .orderBy(F.desc("rank_gain"), "n_name")
    )


@register(
    "li_pareto_cum_share",
    oracle="""
        WITH pr AS MATERIALIZED (
            SELECT l_partkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS rev
            FROM lineitem GROUP BY l_partkey),
        ranked AS (
            SELECT rev,
                   ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rk,
                   SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(rev) OVER () AS total,
                   COUNT(*) OVER () AS n_parts
            FROM pr)
        SELECT CAST(MAX(n_parts) AS BIGINT) AS n_parts,
               CAST(MAX(total) AS BIGINT) AS total_cents,
               CAST(MIN(CASE WHEN cum * 5 >= total * 4 THEN rk END) AS BIGINT)
                   AS k80,
               CAST(MIN(CASE WHEN cum * 2 >= total THEN rk END) AS BIGINT)
                   AS k50,
               CAST(MIN(CASE WHEN cum * 5 >= total * 4 THEN rk END) * 1000000
                    // MAX(n_parts) AS BIGINT) AS k80_share_ppm
        FROM ranked
    """,
    doc="Pareto concentration of part revenue (the 80/20 readout): parts "
    "rank by revenue under a total order (revenue DESC, key tie-break), "
    "and the smallest prefix covering 80% / 50% of total revenue is "
    "selected by integer cross-multiplied cumulative comparisons (cum·5 "
    "≥ total·4 — no percentage floats). One fact shuffle to part "
    "revenues; the ordered window runs over the part-dim-sized frame "
    "(catalog-bounded). k80 as a ppm share of the catalog closes the "
    "'how concentrated is the business' question exactly.",
)
def li_pareto_cum_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    pr = (
        li.groupBy("l_partkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev"))
    )
    wo = Window.orderBy(F.desc("rev"), "l_partkey")
    # row_number() is IntegerType; the ppm share multiplies rk by 1e6, which
    # overflows INT under ANSI once the catalog passes ~2147 parts (caught
    # by the 8x probe at sf0.1) — widen at the source
    ranked = pr.select(
        "rev",
        F.row_number().over(wo).cast("long").alias("rk"),
        F.sum("rev").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("rev").over(Window.partitionBy()).alias("total"),
        F.count("*").over(Window.partitionBy()).alias("n_parts"),
    )
    return ranked.agg(
        F.max("n_parts").cast("long").alias("n_parts"),
        F.max("total").cast("long").alias("total_cents"),
        F.min(F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rk")))
        .cast("long")
        .alias("k80"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("rk")))
        .cast("long")
        .alias("k50"),
        F.expr(
            "CAST(MIN(CASE WHEN cum * 5 >= total * 4 THEN rk END) * 1000000"
            " div MAX(n_parts) AS BIGINT)"
        ).alias("k80_share_ppm"),
    )


@register(
    "agg_hist2d_qty_price",
    oracle="""
        SELECT LEAST(CAST(ROUND(l_quantity) AS BIGINT) // 10, 4) AS qty_bin,
               LEAST(CAST(ROUND(l_extendedprice) AS BIGINT) // 20000, 4)
                   AS price_bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
                   AS discount_pct_sum
        FROM lineitem
        GROUP BY qty_bin, price_bin
        ORDER BY qty_bin, price_bin
    """,
    doc="2-D histogram (quantity × price, 5×5 bins with top-capped "
    "overflow bins) — the joint-distribution readout behind every "
    "density heat map: one map-side-combined shuffle onto ≤25 bin "
    "pairs, integer floor-division binning identical on both engines, "
    "and an exact discount-mass column per cell so the heat map can "
    "color by a second measure. At 100 TB this is the canonical "
    "constant-output full-scan aggregate.",
)
def agg_hist2d_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    qty_bin = F.least(
        F.floor(F.round(F.col("l_quantity")).cast("long") / 10), F.lit(4)
    ).cast("long")
    price_bin = F.least(
        F.floor(F.round(F.col("l_extendedprice")).cast("long") / 20000), F.lit(4)
    ).cast("long")
    return (
        li.groupBy(qty_bin.alias("qty_bin"), price_bin.alias("price_bin"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("l_discount") * 100).cast("long")).alias(
                "discount_pct_sum"
            ),
        )
        .orderBy("qty_bin", "price_bin")
    )


@register(
    "dq_column_profile_wide",
    oracle="""
        WITH prof AS (
            SELECT 'o_orderstatus' AS col_name,
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   CAST(MIN(LENGTH(CAST(o_orderstatus AS VARCHAR))) AS BIGINT)
                       AS min_len,
                   CAST(MAX(LENGTH(CAST(o_orderstatus AS VARCHAR))) AS BIGINT)
                       AS max_len
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority',
                   CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
                   CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(MIN(LENGTH(CAST(o_orderpriority AS VARCHAR))) AS BIGINT),
                   CAST(MAX(LENGTH(CAST(o_orderpriority AS VARCHAR))) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'o_custkey',
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(MIN(LENGTH(CAST(o_custkey AS VARCHAR))) AS BIGINT),
                   CAST(MAX(LENGTH(CAST(o_custkey AS VARCHAR))) AS BIGINT)
            FROM orders)
        SELECT * FROM prof ORDER BY col_name
    """,
    doc="Wide column-profiling pass (the schema-drift early-warning "
    "every ingestion runs): per column — distinct cardinality, null "
    "count, and rendered min/max length — computed for three probe "
    "columns in ONE scan via simultaneous conditional aggregates, then "
    "unpivoted to a (column, metrics) long frame. The Spark side "
    "computes all metrics in a single agg row and stack()s it; the "
    "oracle spells the same numbers as three UNION'd aggregates. "
    "Integer-only metrics (no avg-length float).",
)
def dq_column_profile_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cols = ("o_orderstatus", "o_orderpriority", "o_custkey")
    aggs = []
    for c in cols:
        aggs.extend(
            [
                F.countDistinct(c).alias(f"{c}__nd"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nn"),
                F.min(F.length(F.col(c).cast("string"))).cast("long").alias(f"{c}__mn"),
                F.max(F.length(F.col(c).cast("string"))).cast("long").alias(f"{c}__mx"),
            ]
        )
    one = o.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}__nd, {c}__nn, {c}__mn, {c}__mx" for c in cols
    )
    return (
        one.select(
            F.expr(
                f"stack({len(cols)}, {stack_expr}) AS "
                "(col_name, n_distinct, n_null, min_len, max_len)"
            )
        )
        .orderBy("col_name")
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH: recall gain from probing Hamming-1 buckets
# ---------------------------------------------------------------------------


def _multiprobe_oracle() -> str:
    from .similarity_gate import _ANN_K, _NQ, _PLANES_VALUES_SQL, _SIGS_SQL

    bits = 6  # _ANN_BITS: probe the exact bucket + each Hamming-1 bucket
    sigs_sql = _SIGS_SQL.replace("{PLANES}", _PLANES_VALUES_SQL)
    return f"""
        WITH {sigs_sql},
        qsig AS (SELECT vec_id AS qid, table_id, sig FROM sigs
                 WHERE vec_id < {_NQ}),
        probes AS (
            SELECT qid, table_id,
                   CASE WHEN j.j = {bits} THEN sig
                        ELSE xor(sig, CAST(1 AS BIGINT) << j.j) END AS sig,
                   (j.j = {bits}) AS exact_probe
            FROM qsig, range({bits} + 1) j(j)),
        cand_multi AS MATERIALIZED (
            SELECT DISTINCT p.qid, c.vec_id
            FROM probes p JOIN sigs c
              ON c.table_id = p.table_id AND c.sig = p.sig
             AND c.vec_id <> p.qid),
        cand_single AS MATERIALIZED (
            SELECT DISTINCT p.qid, c.vec_id
            FROM probes p JOIN sigs c
              ON c.table_id = p.table_id AND c.sig = p.sig
             AND c.vec_id <> p.qid
            WHERE p.exact_probe),
        qp AS (SELECT vec_id AS qid, pos, xi AS qi FROM pts
               WHERE vec_id < {_NQ}),
        d2 AS (
            SELECT p.vec_id, q.qid, SUM((p.xi - q.qi) * (p.xi - q.qi)) AS d2
            FROM pts p JOIN qp q USING (pos)
            WHERE p.vec_id <> q.qid
            GROUP BY 1, 2),
        topk AS (
            SELECT qid, vec_id FROM d2
            QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY d2, vec_id) <= {_ANN_K}),
        per_q AS (
            SELECT t.qid,
                   COUNT(CASE WHEN s.vec_id IS NOT NULL THEN 1 END) AS hit_s,
                   COUNT(CASE WHEN m.vec_id IS NOT NULL THEN 1 END) AS hit_m
            FROM topk t
            LEFT JOIN cand_single s ON s.qid = t.qid AND s.vec_id = t.vec_id
            LEFT JOIN cand_multi m ON m.qid = t.qid AND m.vec_id = t.vec_id
            GROUP BY t.qid),
        ns AS (SELECT qid, COUNT(*) AS n FROM cand_single GROUP BY qid),
        nm AS (SELECT qid, COUNT(*) AS n FROM cand_multi GROUP BY qid),
        miss AS (
            SELECT s.qid, COUNT(*) AS n_missing
            FROM cand_single s
            LEFT JOIN cand_multi m ON m.qid = s.qid AND m.vec_id = s.vec_id
            WHERE m.vec_id IS NULL GROUP BY s.qid)
        SELECT p.qid AS query_id,
               CAST(COALESCE(ns.n, 0) AS BIGINT) AS n_cand_single,
               CAST(COALESCE(nm.n, 0) AS BIGINT) AS n_cand_multi,
               CAST(p.hit_s AS BIGINT) AS hits_single,
               CAST(p.hit_m AS BIGINT) AS hits_multi,
               (p.hit_m >= p.hit_s) AS recall_never_drops,
               (COALESCE(miss.n_missing, 0) = 0) AS superset_ok
        FROM per_q p
        LEFT JOIN ns USING (qid)
        LEFT JOIN nm USING (qid)
        LEFT JOIN miss ON miss.qid = p.qid
        ORDER BY query_id
    """


@register(
    "sim_ann_multiprobe_gain",
    oracle=_multiprobe_oracle(),
    doc="MULTI-PROBE LSH gain digest (Lv et al.'s multi-probe idea over "
    "the existing 16-table 6-bit hyperplane scheme): each query probes "
    "its exact bucket PLUS every Hamming-1 bucket (one flipped "
    "signature bit) per table — 7 probes instead of 1 — trading probe "
    "fan-out for recall without adding tables or signature bits. The "
    "gate compares candidate mass and exact-integer-L2 top-5 capture "
    "between single-probe and multi-probe per query, and asserts two "
    "invariants in-plan: the multi-probe candidate set is a SUPERSET "
    "of single-probe, and recall never drops. Same micro-quantized "
    "integer signature algebra as the ANN digest family (planes as "
    "broadcast data, signature-keyed equi-joins, never all-pairs); "
    "embeddings scanned twice (pinned signatures + truth kernel).",
)
def sim_ann_multiprobe_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .iterative import _to_fixed
    from .similarity_gate import _ANN_BITS, _ANN_K, _NQ, _int_signatures

    emb = table(spark, sf_dir, "embeddings")
    sigs = _int_signatures(spark, emb)  # pinned (vec_id, table_id, sig)
    qsig = sigs.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("qid"), "table_id", "sig"
    )
    probes = qsig.select(
        "qid", "table_id", "sig", F.explode(F.sequence(F.lit(0), F.lit(_ANN_BITS))).alias("j")
    ).select(
        "qid",
        "table_id",
        F.when(F.col("j") == _ANN_BITS, F.col("sig"))
        .otherwise(F.expr("sig ^ shiftleft(1L, j)"))
        .alias("sig"),
        (F.col("j") == _ANN_BITS).alias("exact_probe"),
    )
    csigs = sigs.select(F.col("vec_id"), F.col("table_id").alias("t2"), F.col("sig").alias("s2"))
    joined = probes.join(
        csigs,
        (F.col("t2") == F.col("table_id"))
        & (F.col("s2") == F.col("sig"))
        & (F.col("vec_id") != F.col("qid")),
    )
    cand_multi = joined.select("qid", "vec_id").distinct()
    cand_single = (
        joined.filter(F.col("exact_probe")).select("qid", "vec_id").distinct()
    )
    pts = emb.select(
        "vec_id", F.posexplode(_to_fixed(F.col("embedding")))
    ).withColumnsRenamed({"col": "xi"})
    qp = pts.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("qid"), "pos", F.col("xi").alias("qi")
    )
    d2 = (
        pts.join(qp, "pos")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum((F.col("xi") - F.col("qi")) * (F.col("xi") - F.col("qi"))).alias("d2"))
    )
    topk = (
        d2.withColumn(
            "_rn", F.row_number().over(Window.partitionBy("qid").orderBy("d2", "vec_id"))
        )
        .filter(F.col("_rn") <= _ANN_K)
        .select("qid", "vec_id")
    )
    # every tail-join side below is bounded by the _NQ=20 query set
    # (candidate lists, per-qid counts), but the planner cannot see that
    # and plans SortMergeJoins; explicit broadcasts keep them off it.
    # Join strategy never changes join semantics.
    per_q = (
        topk.join(
            F.broadcast(
                cand_single.select(
                    F.col("qid").alias("sq"), F.col("vec_id").alias("sv")
                )
            ),
            (F.col("sq") == F.col("qid")) & (F.col("sv") == F.col("vec_id")),
            "left",
        )
        .join(
            F.broadcast(
                cand_multi.select(
                    F.col("qid").alias("mq"), F.col("vec_id").alias("mv")
                )
            ),
            (F.col("mq") == F.col("qid")) & (F.col("mv") == F.col("vec_id")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count(F.when(F.col("sv").isNotNull(), 1)).alias("hit_s"),
            F.count(F.when(F.col("mv").isNotNull(), 1)).alias("hit_m"),
        )
    )
    ns = cand_single.groupBy("qid").agg(F.count("*").alias("n_s"))
    nm = cand_multi.groupBy("qid").agg(F.count("*").alias("n_m"))
    miss = (
        cand_single.join(F.broadcast(cand_multi), ["qid", "vec_id"], "left_anti")
        .groupBy("qid")
        .agg(F.count("*").alias("n_missing"))
    )
    return (
        per_q.join(F.broadcast(ns), "qid", "left")
        .join(F.broadcast(nm), "qid", "left")
        .join(F.broadcast(miss), "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_s"), F.lit(0)).alias("n_cand_single"),
            F.coalesce(F.col("n_m"), F.lit(0)).alias("n_cand_multi"),
            F.col("hit_s").alias("hits_single"),
            F.col("hit_m").alias("hits_multi"),
            (F.col("hit_m") >= F.col("hit_s")).alias("recall_never_drops"),
            (F.coalesce(F.col("n_missing"), F.lit(0)) == 0).alias("superset_ok"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Write-audit-publish, experiment power analysis
# ---------------------------------------------------------------------------


@register(
    "wh_write_audit_publish_digest",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS price_cents_sum,
               TRUE AS audit_passed,
               TRUE AS dirty_stage_rejected
        FROM orders
    """,
    doc="Write-Audit-Publish (WAP) gate — the Iceberg-era publish "
    "discipline: data lands in a STAGING location, an audit pass runs "
    "the DQ contract (no null keys, no negative totals, exact expected "
    "row count), and only a passing stage swaps into the published "
    "location. The query exercises BOTH paths: a deliberately dirty "
    "stage (one negative-total row injected) must fail its audit and "
    "never publish, then the clean stage audits green and publishes; "
    "the digest reads the PUBLISHED table and asserts both booleans. "
    "The swap is the same tmp-dir + atomic-rename idiom as "
    "compact_parquet. A green row proves bad data cannot reach "
    "consumers through this path.",
)
def wh_write_audit_publish_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_src_gate_{sf}")
    stage, published = os.path.join(base, "wap_stage"), os.path.join(base, "wap_published")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_expected = orders.count()

    def audit(path: str, expected: int) -> bool:
        df = spark.read.parquet(path)
        bad = df.filter(
            F.col("o_orderkey").isNull() | (F.col("o_totalprice") < 0)
        ).count()
        return bad == 0 and df.count() == expected

    def publish(src_path: str) -> None:
        tmp = published + "_swap"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(src_path, tmp)
        shutil.rmtree(published, ignore_errors=True)
        os.replace(tmp, published)

    # path 1: dirty stage (one poisoned row) — audit must reject
    dirty = orders.unionAll(
        spark.createDataFrame(
            [(999999999, 1, -1.0)], "o_orderkey long, o_custkey long, o_totalprice double"
        )
    )
    dirty.write.mode("overwrite").parquet(stage)
    dirty_rejected = not audit(stage, n_expected)

    # path 2: clean stage — audit passes, publish swaps it in
    orders.write.mode("overwrite").parquet(stage)
    audit_passed = audit(stage, n_expected)
    if audit_passed:
        publish(stage)

    back = spark.read.parquet(published)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "price_cents_sum"
        ),
        F.lit(bool(audit_passed)).alias("audit_passed"),
        F.lit(bool(dirty_rejected)).alias("dirty_stage_rejected"),
    )


#: two-sided alpha=0.05 and power=0.80 normal quantiles, precomputed — libm
#: never runs at query time on either engine
_Z_ALPHA = 1.959963984540054
_Z_BETA = 0.8416212335729143


@register(
    "ev_ab_power_mde",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                    % 2) AS variant,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 14
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id),
        arms AS (
            SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_a,
                   CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_b,
                   CAST(SUM(converted) AS BIGINT) AS c_all,
                   CAST(COUNT(*) AS BIGINT) AS n_all
            FROM per_user)
        SELECT n_a, n_b, c_all, n_all,
               ({_Z_ALPHA!r} + {_Z_BETA!r})
               * sqrt((CAST(c_all AS DOUBLE) / CAST(n_all AS DOUBLE))
                      * (1.0 - CAST(c_all AS DOUBLE) / CAST(n_all AS DOUBLE))
                      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
                   AS mde_abs
        FROM arms
    """,
    doc="A/B test POWER analysis: the minimum detectable effect (absolute "
    "conversion-rate lift, two-sided α=0.05, power 0.80) the current "
    "hash-split sample sizes can resolve — the number that tells an "
    "experimenter whether to keep collecting (conversion = heavy "
    "purchaser, >= 14 purchases — a median split with real variance). "
    "mde = (z_α+z_β)·"
    "√(p̄(1−p̄)(1/n_a+1/n_b)) with the normal quantiles PRECOMPUTED as "
    "literals (no libm at query time), exact integer arm counts from "
    "one user-keyed rollup, and one fixed IEEE op sequence — "
    "bit-identical cross-engine. Completes the experiment toolkit "
    "(z-test, SRM check, Simpson's guardrail, power).",
)
def ev_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    variant = F.pmod(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(2),
    )
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14, 1
        )
        .otherwise(0)
        .alias("converted")
    ).select(variant.alias("variant"), "converted")
    arms = per_user.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum("converted").alias("c_all"),
        F.count("*").alias("n_all"),
    )
    p = F.col("c_all").cast("double") / F.col("n_all").cast("double")
    mde = (F.lit(_Z_ALPHA) + F.lit(_Z_BETA)) * F.sqrt(
        p
        * (F.lit(1.0) - p)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return arms.select("n_a", "n_b", "c_all", "n_all", mde.alias("mde_abs"))


# ---------------------------------------------------------------------------
# Katz centrality (integer path counts), Matryoshka prefix-dim recall
# ---------------------------------------------------------------------------


@register(
    "graph_katz_centrality_3step",
    oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        e AS MATERIALIZED (
            SELECT DISTINCT a.p AS x, b.p AS y
            FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
        w1 AS MATERIALIZED (
            SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY x),
        w2 AS MATERIALIZED (
            SELECT e.x AS node, CAST(SUM(w1.c) AS BIGINT) AS c
            FROM e JOIN w1 ON w1.node = e.y GROUP BY e.x),
        w3 AS (
            SELECT e.x AS node, CAST(SUM(w2.c) AS BIGINT) AS c
            FROM e JOIN w2 ON w2.node = e.y GROUP BY e.x)
        SELECT w1.node AS part,
               w1.c AS paths_1, w2.c AS paths_2, w3.c AS paths_3,
               64 * w1.c + 8 * w2.c + w3.c AS katz_scaled
        FROM w1 JOIN w2 USING (node) JOIN w3 USING (node)
        ORDER BY katz_scaled DESC, part
        LIMIT 25
    """,
    doc="Truncated Katz centrality on the co-purchase graph (k ≤ 3, "
    "attenuation α = 1/8): centrality = Σ αᵏ·(walks of length k from "
    "the node), held EXACT by scaling through α⁻³ — katz_scaled = "
    "64·w₁ + 8·w₂ + w₃ with every walk count an exact BIGINT from "
    "iterated edge-keyed aggregations (the PageRank integer-mass "
    "discipline applied to walk counting; two sparse matrix-vector "
    "products, each one keyed shuffle over the pinned directed edge "
    "list). Top-25 with a node tie-break. No damping-float anywhere.",
)
def graph_katz_centrality_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select("o", F.col("p").alias("x"))
    b = li.select(F.col("o").alias("o2"), F.col("p").alias("y"))
    e = (
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("x") != F.col("y")))
        .select("x", "y")
        .distinct()
        .transform(pin)  # scan-budget: lineitem scanned 12 times without it
    )
    w1 = e.groupBy(F.col("x").alias("node")).agg(F.count("*").alias("c"))
    w2 = (
        e.join(w1.withColumnRenamed("node", "y1"), F.col("y1") == e.y)
        .groupBy(F.col("x").alias("node"))
        .agg(F.sum("c").alias("c"))
    )
    w3 = (
        e.join(
            w2.select(F.col("node").alias("y2"), F.col("c").alias("c2")),
            F.col("y2") == e.y,
        )
        .groupBy(F.col("x").alias("node"))
        .agg(F.sum("c2").alias("c"))
    )
    return (
        w1.select("node", F.col("c").alias("paths_1"))
        .join(w2.select("node", F.col("c").alias("paths_2")), "node")
        .join(w3.select("node", F.col("c").alias("paths_3")), "node")
        .select(
            F.col("node").alias("part"),
            "paths_1",
            "paths_2",
            "paths_3",
            (64 * F.col("paths_1") + 8 * F.col("paths_2") + F.col("paths_3")).alias(
                "katz_scaled"
            ),
        )
        .orderBy(F.desc("katz_scaled"), "part")
        .limit(25)
    )


#: Matryoshka probe: prefix dimensionality whose recall is compared to the
#: full 64-dim exact top-k (first _MRL_PREFIX of 64 dims).
_MRL_PREFIX = 16
_MRL_NQ = 10
_MRL_K = 5


@register(
    "emb_prefix_dim_recall",
    oracle=f"""
        WITH pts AS MATERIALIZED (
            SELECT vec_id, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)),
        qp AS (SELECT vec_id AS qid, pos, xi AS qi FROM pts
               WHERE vec_id < {_MRL_NQ}),
        d2 AS MATERIALIZED (
            SELECT p.vec_id, q.qid,
                   SUM((p.xi - q.qi) * (p.xi - q.qi)) AS d_full,
                   SUM(CASE WHEN p.pos < {_MRL_PREFIX}
                            THEN (p.xi - q.qi) * (p.xi - q.qi) ELSE 0 END)
                       AS d_prefix
            FROM pts p JOIN qp q USING (pos)
            WHERE p.vec_id <> q.qid
            GROUP BY 1, 2),
        top_full AS (
            SELECT qid, vec_id FROM d2
            QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY d_full, vec_id) <= {_MRL_K}),
        top_prefix AS (
            SELECT qid, vec_id FROM d2
            QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY d_prefix, vec_id) <= {_MRL_K})
        SELECT f.qid AS query_id,
               CAST(COUNT(p.vec_id) AS BIGINT) AS prefix_hits,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(COUNT(p.vec_id) AS DOUBLE) / COUNT(*) AS prefix_recall
        FROM top_full f
        LEFT JOIN top_prefix p ON p.qid = f.qid AND p.vec_id = f.vec_id
        GROUP BY f.qid
        ORDER BY query_id
    """,
    doc=f"Matryoshka-style PREFIX-dimension retrieval probe: how much of "
    f"the exact 64-dim top-{_MRL_K} does a {_MRL_PREFIX}-dim prefix "
    "search recover? (The MRL question — can the index store a short "
    "prefix and re-rank with full vectors — answered per query as "
    "exact-integer prefix recall.) Both distance fields compute in ONE "
    "dimension-keyed pass (the prefix sum is a CASE inside the same "
    "aggregate — no second join), both top-k selections run on the "
    "distance frame with deterministic tie-breaks, and recall "
    "is a count ratio. Bounded query set; corpus-linear. On THIS "
    "synthetic corpus the vectors are near-isotropic random, so prefix "
    "recall sits near the random baseline (~0-2 of 5) — the honest "
    "readout that this space is NOT matryoshka-trained; the probe's "
    "value is the measurement, which would light up on MRL-trained "
    "embeddings.",
)
def emb_prefix_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .iterative import _to_fixed

    emb = table(spark, sf_dir, "embeddings")
    pts = (
        emb.select("vec_id", F.posexplode(_to_fixed(F.col("embedding"))))
        .withColumnsRenamed({"col": "xi"})
        .transform(pin)  # scan-budget: embeddings scanned 4 times without it
    )
    qp = pts.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("qid"), "pos", F.col("xi").alias("qi")
    )
    diff2 = (F.col("xi") - F.col("qi")) * (F.col("xi") - F.col("qi"))
    d2 = (
        pts.join(qp, "pos")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(diff2).alias("d_full"),
            F.sum(F.when(F.col("pos") < _MRL_PREFIX, diff2).otherwise(F.lit(0))).alias(
                "d_prefix"
            ),
        )
    )
    sel = lambda col: F.row_number().over(Window.partitionBy("qid").orderBy(col, "vec_id"))
    top_full = d2.withColumn("_r", sel(F.col("d_full"))).filter(F.col("_r") <= _MRL_K)
    top_prefix = (
        d2.withColumn("_r", sel(F.col("d_prefix")))
        .filter(F.col("_r") <= _MRL_K)
        .select(F.col("qid").alias("pq"), F.col("vec_id").alias("pv"))
    )
    return (
        top_full.join(
            top_prefix,
            (F.col("pq") == F.col("qid")) & (F.col("pv") == F.col("vec_id")),
            "left",
        )
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count(F.when(F.col("pv").isNotNull(), 1)).alias("prefix_hits"),
            F.count("*").alias("k"),
            (
                F.count(F.when(F.col("pv").isNotNull(), 1)).cast("double") / F.count("*")
            ).alias("prefix_recall"),
        )
        .orderBy("query_id")
    )


@register(
    "trend_max_drawdown_daily",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY day),
        dd AS (
            SELECT day, y,
                   CAST(MAX(y) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS peak,
                   CAST(MAX(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                        - y AS BIGINT) AS drawdown
            FROM daily)
        SELECT CAST(MAX(drawdown) AS BIGINT) AS max_drawdown,
               CAST(MIN(CASE WHEN drawdown = mx THEN day END) AS DATE)
                   AS trough_day,
               CAST(MAX(peak) AS BIGINT) AS peak_value,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM (SELECT *, MAX(drawdown) OVER () AS mx FROM dd)
    """,
    doc="Maximum drawdown of the daily-revenue series (the running-"
    "max-minus-current readout finance monitors live on): an ordered "
    "running MAX over the calendar-bounded daily frame, drawdown per "
    "day as exact integer subtraction, and the deepest trough selected "
    "with an earliest-day tie-break. Every value BIGINT; one fact "
    "shuffle, one bounded window.",
)
def trend_max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # time-series contract (r12 variant sweep): unknown-date rows excluded
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y")
    )
    runmax = F.max("y").over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0))
    dd = daily.select(
        "day", "y", runmax.alias("peak"), (runmax - F.col("y")).alias("drawdown")
    )
    dd = dd.withColumn("mx", F.max("drawdown").over(Window.partitionBy()))
    return dd.agg(
        F.max("drawdown").alias("max_drawdown"),
        F.min(F.when(F.col("drawdown") == F.col("mx"), F.col("day"))).alias(
            "trough_day"
        ),
        F.max("peak").alias("peak_value"),
        F.count("*").alias("n_days"),
    )


@register(
    "li_vwap_part_month",
    oracle="""
        WITH v AS (
            SELECT l_partkey,
                   CAST(EXTRACT(year FROM l_shipdate) * 12
                        + EXTRACT(month FROM l_shipdate) AS BIGINT) AS mi,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS value_cents,
                   CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                       AS qty
            FROM lineitem GROUP BY l_partkey, mi)
        SELECT l_partkey, mi, value_cents, qty,
               CAST(value_cents AS DOUBLE) / CAST(qty AS DOUBLE) / 100.0
                   AS vwap
        FROM v
        WHERE l_partkey < 20
        ORDER BY l_partkey, mi
    """,
    doc="Volume-weighted average price per (part, ship-month) — the "
    "price-integrity monitor's unit economics: exact integer value and "
    "quantity sums from ONE map-side-combined shuffle, the division "
    "deferred to output (two IEEE ops, engine-identical). The gated "
    "slice keeps the first 20 parts (bounded output); the full frame "
    "is what a pricing dashboard would consume. Note the denominator "
    "can never be 0 (quantities are >= 1 by schema), so the division "
    "needs no guard — documented rather than assumed.",
)
def li_vwap_part_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    v = (
        li.groupBy(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("long").alias("mi"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "value_cents"
            ),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
        )
    )
    return (
        v.filter(F.col("l_partkey") < 20)
        .select(
            "l_partkey",
            "mi",
            "value_cents",
            "qty",
            (
                F.col("value_cents").cast("double") / F.col("qty").cast("double") / 100.0
            ).alias("vwap"),
        )
        .orderBy("l_partkey", "mi")
    )


@register(
    "wh_merge_delete_branch_digest",
    oracle="""
        WITH merged AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) * 2
                        ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END
                       AS cents
            FROM orders
            WHERE o_orderkey % 20 <> 0)
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(cents) AS BIGINT) AS price_cents_sum
        FROM merged
    """,
    doc="MERGE WHEN MATCHED DELETE branch gate (the half of full MERGE "
    "semantics wh_merge_upsert_orders doesn't exercise): the update "
    "batch restates every 10th order at double price but flags every "
    "20th for DELETION — operators/warehouse.merge_upsert applies "
    "update/delete/insert in one keyed window pass (union + row_number, "
    "single merge-key shuffle). The digest proves all three outcomes at "
    "once: deleted keys absent from the sums, restated keys carry the "
    "doubled cents, untouched rows intact. Oracle recomputes the "
    "post-merge state closed-form from the source parquet.",
)
def wh_merge_delete_branch_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warehouse import merge_upsert

    orders = table(spark, sf_dir, "orders")
    batch = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("_delete", F.col("o_orderkey") % 20 == 0)
    )
    merged = merge_upsert(orders, batch, keys=["o_orderkey"], delete_col="_delete")
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "price_cents_sum"
        ),
    )


@register(
    "stat_weekly_block_maxima",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
                       AS wk,
                   CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders GROUP BY wk, day),
        maxima AS MATERIALIZED (
            SELECT wk, CAST(MAX(y) AS BIGINT) AS block_max
            FROM daily GROUP BY wk),
        g AS (SELECT block_max AS v, COUNT(*) AS cnt FROM maxima GROUP BY v),
        cum AS (
            SELECT v, SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c,
                   SUM(cnt) OVER () AS n
            FROM g)
        SELECT CAST(MAX(n) AS BIGINT) AS n_weeks,
               CAST(MIN(CASE WHEN c >= (n * 50 + 99) // 100 THEN v END)
                    AS BIGINT) AS median_weekly_max,
               CAST(MIN(CASE WHEN c >= (n * 90 + 99) // 100 THEN v END)
                    AS BIGINT) AS p90_weekly_max,
               CAST(MIN(CASE WHEN c >= (n * 98 + 99) // 100 THEN v END)
                    AS BIGINT) AS p98_weekly_max,
               CAST(MAX(v) AS BIGINT) AS record_weekly_max
        FROM cum
    """,
    doc="Extreme-value BLOCK MAXIMA analysis of daily revenue (the "
    "model-free half of a GEV study — the empirical return levels "
    "capacity planning reads before any distribution fit): the maximum "
    "daily total per ISO week, then exact nearest-rank quantiles of "
    "those maxima via the value-cumulative selection (p90 ≈ the "
    "10-week return level, p98 ≈ the yearly). All integers; two "
    "calendar-bounded rollups; no libm, no fitted parameters — the "
    "numbers a GEV fit would have to reproduce.",
)
def stat_weekly_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date")).cast("date").alias("wk"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y"))
    maxima = daily.groupBy("wk").agg(F.max("y").alias("block_max"))
    g = maxima.groupBy(F.col("block_max").alias("v")).agg(F.count("*").alias("cnt"))
    cum = g.select(
        "v",
        F.sum("cnt").over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)).alias("c"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    sel = lambda pct: F.min(
        F.when(F.expr(f"c >= (n * {pct} + 99) div 100"), F.col("v"))
    ).cast("long")
    return cum.agg(
        F.max("n").cast("long").alias("n_weeks"),
        sel(50).alias("median_weekly_max"),
        sel(90).alias("p90_weekly_max"),
        sel(98).alias("p98_weekly_max"),
        F.max("v").cast("long").alias("record_weekly_max"),
    )


@register(
    "graph_ktruss_edge_support",
    oracle=f"""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        pc AS (
            SELECT a.p AS x, b.p AS y, CAST(COUNT(*) AS BIGINT) AS w
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
            GROUP BY x, y),
        e AS MATERIALIZED (
            SELECT x, y FROM pc ORDER BY w DESC, x, y LIMIT 20000),
        tri AS (
            SELECT e1.x AS a, e1.y AS b, e2.y AS c
            FROM e e1
            JOIN e e2 ON e2.x = e1.y
            JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        support AS (
            SELECT x, y, CAST(COUNT(*) AS BIGINT) AS sup
            FROM (SELECT a AS x, b AS y FROM tri
                  UNION ALL SELECT b AS x, c AS y FROM tri
                  UNION ALL SELECT a AS x, c AS y FROM tri)
            GROUP BY x, y)
        SELECT x, y, sup,
               (sup >= 2) AS in_4truss
        FROM support
        ORDER BY sup DESC, x, y
        LIMIT 20
    """,
    doc="k-truss edge support on the strongest-co-purchase subgraph "
    "(same top-20k-edge cap as the link predictor — the wedge-space "
    "bound): an edge's support is the number of triangles containing "
    "it, the quantity truss decomposition peels on (an edge in the "
    "k-truss needs support ≥ k−2; the gated boolean marks the 4-truss). "
    "Triangles enumerate ONCE each as oriented a<b<c chains (the "
    "compact-forward pattern triangles/k-core share), then each "
    "triangle credits all THREE of its edges via a 3-way projection "
    "union — true per-edge support (an apex-wedge shortcut here would "
    "silently drop triangles whose third vertex precedes the edge, "
    "caught by the brute-force audit). Top-20 with full tie-breaks.",
)
def graph_ktruss_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a0 = li.select("o", F.col("p").alias("x"))
    b0 = li.select(F.col("o").alias("o2"), F.col("p").alias("y"))
    pc = (
        a0.join(b0, (F.col("o") == F.col("o2")) & (F.col("x") < F.col("y")))
        .groupBy("x", "y")
        .agg(F.count("*").alias("w"))
    )
    # scan-budget: lineitem scanned 18 times without it
    e = pc.orderBy(F.desc("w"), "x", "y").limit(20000).select("x", "y").transform(pin)
    e2 = e.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    e3 = e.select(F.col("x").alias("x3"), F.col("y").alias("y3"))
    tri = (
        e.join(e2, F.col("x2") == F.col("y"))
        .join(e3, (F.col("x3") == F.col("x")) & (F.col("y3") == F.col("y2")))
        .select(F.col("x").alias("a"), F.col("y").alias("b"), F.col("y2").alias("c"))
    )
    support = (
        tri.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionAll(tri.select(F.col("b").alias("x"), F.col("c").alias("y")))
        .unionAll(tri.select(F.col("a").alias("x"), F.col("c").alias("y")))
        .groupBy("x", "y")
        .agg(F.count("*").alias("sup"))
    )
    return (
        support.select("x", "y", "sup", (F.col("sup") >= 2).alias("in_4truss"))
        .orderBy(F.desc("sup"), "x", "y")
        .limit(20)
    )


@register(
    "stat_turning_points_test",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS y
            FROM orders GROUP BY day),
        lagged AS (
            SELECT y,
                   lag(y) OVER (ORDER BY day) AS prev,
                   lead(y) OVER (ORDER BY day) AS next
            FROM daily),
        tp AS (
            SELECT CAST(SUM(CASE WHEN (y > prev AND y > next)
                                   OR (y < prev AND y < next)
                            THEN 1 ELSE 0 END) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) + 2 AS n
            FROM lagged WHERE prev IS NOT NULL AND next IS NOT NULL)
        SELECT n AS n_days, t AS turning_points,
               CAST(2 * (n - 2) AS DOUBLE) / 3.0 AS expected_tp,
               (CAST(16 * n AS DOUBLE) - 29.0) / 90.0 AS var_tp,
               (CAST(t AS DOUBLE) - CAST(2 * (n - 2) AS DOUBLE) / 3.0)
                   / sqrt((CAST(16 * n AS DOUBLE) - 29.0) / 90.0) AS z_score
        FROM tp
    """,
    doc="Turning-points randomness test on daily revenue (the peaks-and-"
    "troughs companion of the runs test: a random series has E[T] = "
    "2(n−2)/3 local extrema; too few means trend, too many means "
    "oscillation): one lag/lead window over the calendar-bounded daily "
    "frame, exact integer extremum counts (strict inequalities — "
    "plateau days count as non-turning, documented), and the classical "
    "z-score evaluated in one fixed IEEE sequence with variance "
    "(16n−29)/90. Exact cents keep day comparisons tie-exact on both "
    "engines.",
)
def stat_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "y", F.lag("y").over(w).alias("prev"), F.lead("y").over(w).alias("next")
    )
    tp = lagged.filter(F.col("prev").isNotNull() & F.col("next").isNotNull()).agg(
        F.sum(
            F.when(
                ((F.col("y") > F.col("prev")) & (F.col("y") > F.col("next")))
                | ((F.col("y") < F.col("prev")) & (F.col("y") < F.col("next"))),
                1,
            ).otherwise(0)
        ).alias("t"),
        (F.count("*") + 2).alias("n"),
    )
    exp = (2 * (F.col("n") - 2)).cast("double") / F.lit(3.0)
    var = ((16 * F.col("n")).cast("double") - F.lit(29.0)) / F.lit(90.0)
    return tp.select(
        F.col("n").alias("n_days"),
        F.col("t").alias("turning_points"),
        exp.alias("expected_tp"),
        var.alias("var_tp"),
        ((F.col("t").cast("double") - exp) / F.sqrt(var)).alias("z_score"),
    )


#: Rich-club threshold: the top-RC nodes by degree on the capped subgraph.
_RC_TOP = 50
#: C(_RC_TOP, 2) as an integer literal: DuckDB's `/` yields DOUBLE and a
#: float divisor turns `//` into plain division whose BIGINT cast ROUNDS
#: (642448.98 -> 642449) instead of flooring — integer divisor only
_RC_POSSIBLE = _RC_TOP * (_RC_TOP - 1) // 2


@register(
    "graph_rich_club_coefficient",
    oracle=f"""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        pc AS (
            SELECT a.p AS x, b.p AS y, CAST(COUNT(*) AS BIGINT) AS w
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
            GROUP BY x, y),
        e AS MATERIALIZED (
            SELECT x, y FROM pc ORDER BY w DESC, x, y LIMIT 20000),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT x AS node FROM e UNION ALL SELECT y FROM e)
            GROUP BY node),
        rich AS MATERIALIZED (
            SELECT node FROM deg ORDER BY d DESC, node LIMIT {_RC_TOP}),
        inner_e AS (
            SELECT COUNT(*) AS m_rich
            FROM e
            JOIN rich rx ON rx.node = e.x
            JOIN rich ry ON ry.node = e.y)
        SELECT CAST({_RC_TOP} AS BIGINT) AS n_rich,
               CAST(m_rich AS BIGINT) AS edges_among_rich,
               CAST({_RC_POSSIBLE} AS BIGINT) AS possible,
               CAST(m_rich * 1000000 // {_RC_POSSIBLE} AS BIGINT)
                   AS rich_club_ppm
        FROM inner_e
    """,
    doc=f"Rich-club coefficient of the strongest-co-purchase subgraph: "
    f"how densely the {_RC_TOP} highest-degree parts interconnect "
    "(edges among them over C(n,2) possible, as integer ppm) — the "
    "hub-interconnection diagnostic behind assortativity readings. "
    "Rich-node selection is a total-ordered top-k on the degree frame "
    "(degree DESC, node tie-break), membership tests are two broadcast "
    "semi-joins against the 50-row rich set, and the capped edge "
    "subgraph bounds everything (the link-predictor scale argument). "
    "All integers.",
)
def graph_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a0 = li.select("o", F.col("p").alias("x"))
    b0 = li.select(F.col("o").alias("o2"), F.col("p").alias("y"))
    pc = (
        a0.join(b0, (F.col("o") == F.col("o2")) & (F.col("x") < F.col("y")))
        .groupBy("x", "y")
        .agg(F.count("*").alias("w"))
    )
    # scan-budget: lineitem scanned 10 times without it
    e = pc.orderBy(F.desc("w"), "x", "y").limit(20000).select("x", "y").transform(pin)
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    rich = deg.orderBy(F.desc("d"), "node").limit(_RC_TOP).select("node")
    inner = (
        e.join(F.broadcast(rich.withColumnRenamed("node", "rx")), F.col("rx") == e.x)
        .join(F.broadcast(rich.withColumnRenamed("node", "ry")), F.col("ry") == e.y)
        .agg(F.count("*").alias("m_rich"))
    )
    possible = _RC_TOP * (_RC_TOP - 1) // 2
    return inner.select(
        F.lit(_RC_TOP).cast("long").alias("n_rich"),
        F.col("m_rich").alias("edges_among_rich"),
        F.lit(possible).cast("long").alias("possible"),
        F.expr(f"CAST(m_rich * 1000000 div {possible} AS BIGINT)").alias(
            "rich_club_ppm"
        ),
    )


@register(
    "stat_sign_test_paired_months",
    oracle="""
        WITH daily AS MATERIALIZED (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS y
            FROM orders GROUP BY day),
        paired AS (
            SELECT cur.y AS yc, prev.y AS yp
            FROM daily cur
            JOIN daily prev ON prev.day = cur.day - INTERVAL 28 DAY),
        s AS (
            SELECT CAST(SUM(CASE WHEN yc > yp THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                   CAST(SUM(CASE WHEN yc <> yp THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_eff
            FROM paired)
        SELECT n_pos, n_eff,
               (2.0 * CAST(n_pos AS DOUBLE) - CAST(n_eff AS DOUBLE)
                - CASE WHEN 2 * n_pos > n_eff THEN 1.0
                       WHEN 2 * n_pos < n_eff THEN -1.0 ELSE 0.0 END)
               / sqrt(CAST(n_eff AS DOUBLE)) AS z_score
        FROM s
    """,
    doc="Paired SIGN test of 28-day-over-28-day revenue growth (the "
    "median-shift test with no symmetry assumption — the nonparametric "
    "family's third member beside Mann-Whitney and the runs test): each "
    "day pairs with the day exactly 4 weeks earlier by a calendar-keyed "
    "self-join (same weekday — removes the dominant weekly cycle), "
    "positives and non-ties count exactly in integer cents, and the "
    "continuity-corrected normal z evaluates in one fixed IEEE "
    "sequence. One scan; the pair join runs on the calendar-"
    "bounded daily frame.",
)
def stat_sign_test_paired_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y"))
    )
    prev = daily.select(F.col("day").alias("pday"), F.col("y").alias("yp"))
    paired = daily.join(prev, F.expr("pday = date_sub(day, 28)"))
    s = paired.agg(
        F.sum(F.when(F.col("y") > F.col("yp"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("y") != F.col("yp"), 1).otherwise(0)).alias("n_eff"),
    )
    npos_d = F.col("n_pos").cast("double")
    neff_d = F.col("n_eff").cast("double")
    cc = (
        F.when(2 * F.col("n_pos") > F.col("n_eff"), F.lit(1.0))
        .when(2 * F.col("n_pos") < F.col("n_eff"), F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    return s.select(
        "n_pos",
        "n_eff",
        ((2.0 * npos_d - neff_d - cc) / F.sqrt(neff_d)).alias("z_score"),
    )


_PURITY_CELLS = 8


@register(
    "emb_ivf_cell_purity",
    oracle=f"""
        WITH pts AS MATERIALIZED (
            SELECT vec_id, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)),
        labels AS (SELECT vec_id, label FROM embeddings),
        cents AS (SELECT vec_id AS cell, pos, xi AS mi FROM pts
                  WHERE vec_id < {_PURITY_CELLS}),
        dists AS (
            SELECT p.vec_id, c.cell, SUM((p.xi - c.mi) * (p.xi - c.mi)) AS d2
            FROM pts p JOIN cents c USING (pos)
            GROUP BY p.vec_id, c.cell),
        assign AS MATERIALIZED (
            SELECT vec_id, cell FROM dists
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cell) = 1),
        cl AS (
            SELECT a.cell, l.label, CAST(COUNT(*) AS BIGINT) AS c
            FROM assign a JOIN labels l USING (vec_id)
            GROUP BY a.cell, l.label),
        per_cell AS (
            SELECT cell, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(MAX(c) AS BIGINT) AS top
            FROM cl GROUP BY cell)
        SELECT cell, n AS n_members, top AS top_label_count,
               top * 1000000 // n AS purity_ppm
        FROM per_cell
        ORDER BY cell
    """,
    doc=f"Cluster PURITY of the {_PURITY_CELLS}-cell IVF coarse quantizer "
    "against the true labels — the external-validity companion of the "
    "internal silhouette score: every vector assigns to its nearest "
    "lowest-id centroid by exact integer L2 (the sim_ivf_cell_digest "
    "assignment, deterministic cell tie-break), and each cell reports "
    "the share of its dominant label as integer ppm. Low purity with "
    "good silhouette means the quantizer's cells cut across semantic "
    "labels — the readout that sizes nprobe. One dimension-keyed "
    "distance pass; embeddings scanned twice (points + labels), both "
    "cheap projections.",
)
def emb_ivf_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .iterative import _to_fixed

    emb = table(spark, sf_dir, "embeddings")
    pts = (
        emb.select("vec_id", F.posexplode(_to_fixed(F.col("embedding"))))
        .withColumnsRenamed({"col": "xi"})
    )
    cents = pts.filter(F.col("vec_id") < _PURITY_CELLS).select(
        F.col("vec_id").alias("cell"), "pos", F.col("xi").alias("mi")
    )
    dists = (
        pts.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cell")
        .agg(F.sum((F.col("xi") - F.col("mi")) * (F.col("xi") - F.col("mi"))).alias("d2"))
    )
    assign = (
        dists.withColumn(
            "_r", F.row_number().over(Window.partitionBy("vec_id").orderBy("d2", "cell"))
        )
        .filter(F.col("_r") == 1)
        .select("vec_id", "cell")
    )
    labels = emb.select("vec_id", "label")
    cl = assign.join(labels, "vec_id").groupBy("cell", "label").agg(F.count("*").alias("c"))
    per_cell = cl.groupBy("cell").agg(F.sum("c").alias("n"), F.max("c").alias("top"))
    return per_cell.select(
        "cell",
        F.col("n").alias("n_members"),
        F.col("top").alias("top_label_count"),
        F.expr("top * 1000000 div n").alias("purity_ppm"),
    ).orderBy("cell")


@register(
    "src_nested_json_roundtrip_digest",
    oracle="""
        WITH li AS (
            SELECT l_orderkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS cents,
                   CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                       AS qty
            FROM lineitem GROUP BY l_orderkey)
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(n_items) AS BIGINT) AS item_sum,
               CAST(SUM(cents) AS BIGINT) AS cents_sum,
               CAST(SUM(qty) AS BIGINT) AS qty_sum
        FROM li
    """,
    doc="Nested semi-structured ROUNDTRIP gate: each order's line items "
    "roll up into a STRUCT(n_items, cents, qty) nested under the order "
    "key, serialize through to_json, re-parse with from_json against an "
    "explicit nested schema, and the digest over the RE-PARSED structs "
    "must equal the closed-form rollup on the source parquet — proving "
    "the JSON write→read path is lossless for nested types (the "
    "event-envelope pattern every Kafka topic uses). JVM-side "
    "to_json/from_json only; integers end to end so JSON number "
    "formatting can't drift.",
)
def src_nested_json_roundtrip_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    li = table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.struct(
            F.count("*").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
        ).alias("payload")
    )
    as_json = nested.select("l_orderkey", F.to_json("payload").alias("js"))
    schema = T.StructType(
        [
            T.StructField("n_items", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("qty", T.LongType()),
        ]
    )
    back = as_json.select(
        "l_orderkey", F.from_json("js", schema).alias("payload")
    )
    return back.agg(
        F.count("*").alias("n_orders"),
        F.sum("l_orderkey").alias("key_sum"),
        F.sum("payload.n_items").alias("item_sum"),
        F.sum("payload.cents").alias("cents_sum"),
        F.sum("payload.qty").alias("qty_sum"),
    )


@register(
    "stat_mad_robust_outlier_days",
    oracle="""
        WITH daily AS MATERIALIZED (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders WHERE o_orderdate IS NOT NULL
              AND o_totalprice IS NOT NULL GROUP BY day),
        med AS (
            SELECT MIN(CASE WHEN c * 2 >= n THEN v END) AS m
            FROM (SELECT y AS v,
                         SUM(1) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS c,
                         COUNT(*) OVER () AS n
                  FROM daily)),
        dev AS MATERIALIZED (
            SELECT day, y, ABS(y - m) AS ad FROM daily, med),
        mad AS (
            SELECT MIN(CASE WHEN c * 2 >= n THEN v END) AS mad
            FROM (SELECT ad AS v,
                         SUM(1) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) AS c,
                         COUNT(*) OVER () AS n
                  FROM dev))
        SELECT day, y, ad AS abs_dev,
               ad * 1000000 // NULLIF(mad, 0) AS robust_z_ppm
        FROM dev, mad
        ORDER BY ad DESC, day
        LIMIT 10
    """,
    doc="MAD-based robust outlier days (median absolute deviation — the "
    "outlier detector a heavy-tailed revenue series needs where "
    "mean/sigma breaks down): lower-median of the daily totals, "
    "lower-median of the absolute deviations, and each day's robust "
    "z as integer ppm of the MAD (NULLIF-guarded). Both medians select "
    "on ordered cumulative counts over the calendar-bounded daily "
    "frame — exact, partitioning-independent; top-10 by deviation with "
    "a day tie-break. The conventional 1.4826 consistency constant is "
    "deliberately NOT baked in (it assumes normality); consumers scale "
    "the ppm as their model warrants.",
)
def stat_mad_robust_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # time-series contract (r12 variant sweep): unknown-date rows excluded,
    # and unpriced rows too — a day with only unpriced orders is a NULL
    # point that the two engines' median scans order at opposite ends
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y"))
        .transform(pin)  # scan-budget: orders scanned 4 times without it
    )

    def lower_median(df, col):
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return (
            df.select(
                F.col(col).alias("v"),
                F.sum(F.lit(1)).over(w).alias("c"),
                F.count("*").over(Window.partitionBy()).alias("n"),
            )
            .agg(F.min(F.when(F.col("c") * 2 >= F.col("n"), F.col("v"))).alias("m"))
        )

    med = lower_median(daily, "y")
    dev = daily.crossJoin(F.broadcast(med)).select(
        "day", "y", F.abs(F.col("y") - F.col("m")).alias("ad")
    )
    mad = lower_median(dev, "ad").withColumnRenamed("m", "mad")
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "day",
            "y",
            F.col("ad").alias("abs_dev"),
            F.expr("ad * 1000000 div NULLIF(mad, 0)").alias("robust_z_ppm"),
        )
        .orderBy(F.desc("abs_dev"), "day")
        .limit(10)
    )


@register(
    "trend_backtest_snaive_mase",
    oracle="""
        WITH daily AS MATERIALIZED (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders GROUP BY day),
        f AS (
            SELECT cur.day, cur.y, prev.y AS yhat,
                   ABS(cur.y - prev.y) AS ae
            FROM daily cur JOIN daily prev
              ON prev.day = cur.day - INTERVAL 7 DAY),
        n AS (
            SELECT naive.day, ABS(naive.y - lag1.y) AS ae1
            FROM daily naive JOIN daily lag1
              ON lag1.day = naive.day - INTERVAL 1 DAY)
        SELECT CAST((SELECT COUNT(*) FROM f) AS BIGINT) AS n_forecasts,
               CAST((SELECT SUM(ae) FROM f) AS BIGINT) AS sae_snaive,
               CAST((SELECT COUNT(*) FROM n) AS BIGINT) AS n_naive,
               CAST((SELECT SUM(ae1) FROM n) AS BIGINT) AS sae_naive1,
               (CAST((SELECT SUM(ae) FROM f) AS DOUBLE)
                / CAST((SELECT COUNT(*) FROM f) AS DOUBLE))
               / ((CAST((SELECT SUM(ae1) FROM n) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM n) AS DOUBLE)))
                   AS mase
    """,
    doc="Seasonal-naive (lag-7) forecast backtest with MASE — THE "
    "baseline every revenue forecaster must beat, scored against the "
    "lag-1 naive denominator (textbook MASE): same-weekday forecasts "
    "via a calendar-keyed self-join on the pinned daily frame, absolute "
    "errors exact in whole units, and the final ratio two divisions in "
    "fixed order. MASE < 1 means weekly seasonality carries real "
    "signal over naive persistence — the go/no-go for any fancier "
    "model. One scan; calendar-bounded joins.",
)
def trend_backtest_snaive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y"))
        .transform(pin)  # scan-budget: orders scanned 4 times without it
    )
    prev7 = daily.select(F.col("day").alias("p7"), F.col("y").alias("y7"))
    f = daily.join(prev7, F.expr("p7 = date_sub(day, 7)")).select(
        F.abs(F.col("y") - F.col("y7")).alias("ae")
    )
    prev1 = daily.select(F.col("day").alias("p1"), F.col("y").alias("y1"))
    n1 = daily.join(prev1, F.expr("p1 = date_sub(day, 1)")).select(
        F.abs(F.col("y") - F.col("y1")).alias("ae1")
    )
    fa = f.agg(F.count("*").alias("n_forecasts"), F.sum("ae").alias("sae_snaive"))
    na = n1.agg(F.count("*").alias("n_naive"), F.sum("ae1").alias("sae_naive1"))
    return fa.crossJoin(F.broadcast(na)).select(
        "n_forecasts",
        "sae_snaive",
        "n_naive",
        "sae_naive1",
        (
            (F.col("sae_snaive").cast("double") / F.col("n_forecasts").cast("double"))
            / (F.col("sae_naive1").cast("double") / F.col("n_naive").cast("double"))
        ).alias("mase"),
    )


#: Ljung-Box portmanteau horizon (weekly: lags 1..7).
_LB_LAGS = 7


def _lb_oracle() -> str:
    ks = list(range(1, _LB_LAGS + 1))
    pivot = ",\n                   ".join(
        f"MAX(CASE WHEN k = {k} THEN sxy END) AS sxy{k},\n"
        f"                   MAX(CASE WHEN k = {k} THEN a END) AS a{k},\n"
        f"                   MAX(CASE WHEN k = {k} THEN b END) AS b{k},\n"
        f"                   MAX(CASE WHEN k = {k} THEN m END) AS m{k}"
        for k in ks
    )
    rho = "\n               ".join(
        f"(CAST(sxy{k} AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
        f" * (CAST(a{k} AS DOUBLE) + CAST(b{k} AS DOUBLE))"
        f" + CAST(m{k} AS DOUBLE)"
        f" * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        f" * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / den AS rho{k},"
        for k in ks
    )
    qsum = " + ".join(
        f"rho{k} * rho{k} / (CAST(n AS DOUBLE) - {k}.0)" for k in ks
    )
    return f"""
        WITH daily AS MATERIALIZED (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders GROUP BY day),
        base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS s,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM daily),
        lagged AS (
            SELECT k.k,
                   CAST(SUM(cur.y * prev.y) AS BIGINT) AS sxy,
                   CAST(SUM(cur.y) AS BIGINT) AS a,
                   CAST(SUM(prev.y) AS BIGINT) AS b,
                   CAST(COUNT(*) AS BIGINT) AS m
            FROM range(1, {_LB_LAGS} + 1) k(k)
            JOIN daily cur ON TRUE
            JOIN daily prev ON prev.day = cur.day - INTERVAL (k.k) DAY
            GROUP BY k.k),
        piv AS (
            SELECT {pivot}
            FROM lagged),
        rhos AS (
            SELECT n, s,
               {rho}
               1 AS _dummy
            FROM base, piv,
                 (SELECT CAST(syy AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           / CAST(n AS DOUBLE) AS den
                  FROM base))
        SELECT n AS n_days,
               {", ".join(f"rho{k}" for k in ks)},
               CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ({qsum})
                   AS lb_q
        FROM rhos
    """


@register(
    "stat_ljung_box_weekly",
    oracle=_lb_oracle(),
    doc=f"Ljung-Box portmanteau test over lags 1..{_LB_LAGS} of daily "
    "revenue — the is-there-ANY-weekly-autocorrelation gate run before "
    "fitting seasonal models: each lag's autocovariance assembles from "
    "exact BIGINT moment sums (Σy·y_lag, partial sums, counts via the "
    "calendar-keyed lag joins — n²-scaled integer forms would overflow, "
    "so the mean-centering runs in double over a FIXED op sequence, the "
    "Welch-t discipline), lags pivot by literal into one row, and "
    "Q = n(n+2)·Σρ̂²/(n−k) evaluates left-to-right. The per-lag ρ̂ "
    "columns double as the correlogram readout. One scan; 7-lag "
    "calendar-bounded fan-out.",
)
def stat_ljung_box_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y"))
    )
    base = daily.agg(
        F.count("*").alias("n"), F.sum("y").alias("s"), F.sum(F.col("y") * F.col("y")).alias("syy")
    )
    lags = daily.sparkSession.range(1, _LB_LAGS + 1).select(
        F.col("id").cast("int").alias("k")
    )
    prev = daily.select(F.col("day").alias("pday"), F.col("y").alias("py"))
    lagged = (
        daily.crossJoin(F.broadcast(lags))
        .join(prev, F.expr("pday = date_sub(day, k)"))
        .groupBy("k")
        .agg(
            F.sum(F.col("y") * F.col("py")).alias("sxy"),
            F.sum("y").alias("a"),
            F.sum("py").alias("b"),
            F.count("*").alias("m"),
        )
    )
    pivots = []
    for k in range(1, _LB_LAGS + 1):
        for c in ("sxy", "a", "b", "m"):
            pivots.append(F.max(F.when(F.col("k") == k, F.col(c))).alias(f"{c}{k}"))
    piv = lagged.agg(*pivots)
    j = base.crossJoin(F.broadcast(piv))

    def d(c):
        return c.cast("double")

    mean = d(F.col("s")) / d(F.col("n"))
    den = d(F.col("syy")) - d(F.col("s")) * d(F.col("s")) / d(F.col("n"))
    out = [F.col("n").alias("n_days")]
    rhos = []
    for k in range(1, _LB_LAGS + 1):
        rho = (
            d(F.col(f"sxy{k}"))
            - mean * (d(F.col(f"a{k}")) + d(F.col(f"b{k}")))
            + d(F.col(f"m{k}")) * mean * mean
        ) / den
        rhos.append((k, rho))
        out.append(rho.alias(f"rho{k}"))
    q = rhos[0][1] * rhos[0][1] / (d(F.col("n")) - F.lit(1.0))
    for k, rho in rhos[1:]:
        q = q + rho * rho / (d(F.col("n")) - F.lit(float(k)))
    out.append((d(F.col("n")) * (d(F.col("n")) + 2.0) * q).alias("lb_q"))
    return j.select(*out)


# ---------------------------------------------------------------------------
# Single-frequency spectral power (the weekly DFT bin)
# ---------------------------------------------------------------------------

#: micro-quantized cos/sin weights for the period-7 DFT bin, indexed by
#: (day - epoch) % 7 — computed ONCE here and embedded as literals in BOTH
#: engines' plans, so the quantization is identical by construction
import math as _math

_DFT_COS = tuple(
    int(_math.floor(_math.cos(2.0 * _math.pi * k / 7.0) * 1000000 + 0.5))
    for k in range(7)
)
_DFT_SIN = tuple(
    int(_math.floor(_math.sin(2.0 * _math.pi * k / 7.0) * 1000000 + 0.5))
    for k in range(7)
)


def _dft_oracle() -> str:
    cw = " ".join(f"WHEN {k} THEN {_DFT_COS[k]}" for k in range(7))
    sw = " ".join(f"WHEN {k} THEN {_DFT_SIN[k]}" for k in range(7))
    return f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY day),
        w AS (
            SELECT y,
                   CASE (day - DATE '1970-01-01') % 7 {cw} END AS cw,
                   CASE (day - DATE '1970-01-01') % 7 {sw} END AS sw
            FROM daily),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS s,
                   CAST(SUM(y * cw) AS BIGINT) AS c_micro,
                   CAST(SUM(y * sw) AS BIGINT) AS s_micro,
                   CAST(SUM(cw) AS BIGINT) AS wc,
                   CAST(SUM(sw) AS BIGINT) AS ws
            FROM w)
        SELECT n AS n_days, c_micro, s_micro,
               (CAST(c_micro AS DOUBLE) / 1000000.0
                - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(wc AS DOUBLE) / 1000000.0))
               * (CAST(c_micro AS DOUBLE) / 1000000.0
                  - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(wc AS DOUBLE) / 1000000.0))
               + (CAST(s_micro AS DOUBLE) / 1000000.0
                  - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(ws AS DOUBLE) / 1000000.0))
                 * (CAST(s_micro AS DOUBLE) / 1000000.0
                    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(ws AS DOUBLE) / 1000000.0))
                   AS weekly_power
        FROM agg
    """


@register(
    "stat_weekly_dft_power",
    oracle=_dft_oracle(),
    doc="Single-frequency DFT power at the weekly period — the spectral "
    "readout that complements Ljung-Box (is there autocorrelation?) and "
    "the seasonal index (what shape?) with HOW MUCH of the signal sits "
    "at exactly 1/7 cycles/day: cos/sin weights at the period-7 bin are "
    "micro-quantized INTEGER literals indexed by (day − epoch) mod 7 "
    "(the same literal table on both engines by construction — no "
    "per-row libm), so the Goertzel-style projections Σy·cos and Σy·sin "
    "accumulate as exact BIGINTs in one pass over the calendar-bounded "
    "daily frame. Mean-centering folds in at output — C−ȳ·Σcos, "
    "S−ȳ·Σsin — and the power |C|²+|S|² evaluates in one fixed IEEE "
    "sequence. One scan, one bounded rollup; the readout a capacity "
    "planner squints at before committing to weekly autoscaling. "
    "Width headroom: Σy·w stays in BIGINT to ~9e12 whole units/day "
    "(micro-weights × 2.4k days); beyond that promote the projections "
    "to DECIMAL(38,0)/HUGEINT on both engines (the rolling-28 scan's "
    "documented convention).",
)
def stat_weekly_dft_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time-series contract (r12 variant sweep): unknown-date rows excluded
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("y")
    )
    dow = F.pmod(F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01"))), F.lit(7))
    cw = F.element_at(F.array(*[F.lit(c) for c in _DFT_COS]), dow + 1).cast("long")
    sw = F.element_at(F.array(*[F.lit(s) for s in _DFT_SIN]), dow + 1).cast("long")
    agg = daily.select("y", cw.alias("cw"), sw.alias("sw")).agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("cw")).alias("c_micro"),
        F.sum(F.col("y") * F.col("sw")).alias("s_micro"),
        F.sum("cw").alias("wc"),
        F.sum("sw").alias("ws"),
    )

    def d(c):
        return c.cast("double")

    mean = d(F.col("s")) / d(F.col("n"))
    cc = d(F.col("c_micro")) / F.lit(1000000.0) - mean * (
        d(F.col("wc")) / F.lit(1000000.0)
    )
    sc = d(F.col("s_micro")) / F.lit(1000000.0) - mean * (
        d(F.col("ws")) / F.lit(1000000.0)
    )
    return agg.select(
        F.col("n").alias("n_days"),
        "c_micro",
        "s_micro",
        (cc * cc + sc * sc).alias("weekly_power"),
    )


# ---------------------------------------------------------------------------
# Z-order layout: file-skipping effectiveness of interleaved-bit clustering
# ---------------------------------------------------------------------------

#: files the layout probe packs each ordering into (ntile buckets = the
#: per-file min/max zone map a lakehouse scan consults)
_ZORD_FILES = 32


def _spread16_sql(v: str) -> str:
    """Bit-spread a 16-bit value into even bit positions (SQL, BIGINT).

    Every sub-expression is FULLY parenthesized: DuckDB gives `|`, `&`,
    and `<<` equal precedence with left associativity (the PostgreSQL
    rule), so `a | b << 8` parses as `(a | b) << 8` — silently wrong
    bits, caught by the parity gate on first run."""
    s = f"(({v}) & 65535)"
    s = f"((({s}) | (({s}) << 8)) & 16711935)"       # 0x00FF00FF
    s = f"((({s}) | (({s}) << 4)) & 252645135)"      # 0x0F0F0F0F
    s = f"((({s}) | (({s}) << 2)) & 858993459)"      # 0x33333333
    s = f"((({s}) | (({s}) << 1)) & 1431655765)"     # 0x55555555
    return s


@register(
    "scale_zorder_file_skipping",
    oracle=f"""
        WITH base AS MATERIALIZED (
            SELECT o_orderkey,
                   CAST(o_custkey & 65535 AS BIGINT) AS ck,
                   CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') & 65535
                        AS BIGINT) AS di
            FROM orders
            WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL),
        z AS (
            SELECT o_orderkey, ck, di,
                   CAST({_spread16_sql('ck')}
                        | ({_spread16_sql('di')} << 1) AS BIGINT) AS zval
            FROM base),
        bucketed AS (
            SELECT ck, di,
                   NTILE({_ZORD_FILES}) OVER (ORDER BY zval, o_orderkey)
                       AS zfile,
                   NTILE({_ZORD_FILES}) OVER (ORDER BY di, o_orderkey)
                       AS dfile
            FROM z),
        zstats AS (
            SELECT 'zorder' AS layout,
                   CAST(SUM(w_ck) AS BIGINT) AS sum_ck_width,
                   CAST(SUM(w_di) AS BIGINT) AS sum_di_width
            FROM (SELECT MAX(ck) - MIN(ck) + 1 AS w_ck,
                         MAX(di) - MIN(di) + 1 AS w_di
                  FROM bucketed GROUP BY zfile)),
        dstats AS (
            SELECT 'date_sorted' AS layout,
                   CAST(SUM(w_ck) AS BIGINT) AS sum_ck_width,
                   CAST(SUM(w_di) AS BIGINT) AS sum_di_width
            FROM (SELECT MAX(ck) - MIN(ck) + 1 AS w_ck,
                         MAX(di) - MIN(di) + 1 AS w_di
                  FROM bucketed GROUP BY dfile))
        SELECT layout, CAST({_ZORD_FILES} AS BIGINT) AS n_files,
               sum_ck_width, sum_di_width,
               CAST(sum_ck_width AS DOUBLE) / {_ZORD_FILES}.0 AS avg_ck_width,
               CAST(sum_di_width AS DOUBLE) / {_ZORD_FILES}.0 AS avg_di_width
        FROM (SELECT * FROM zstats UNION ALL SELECT * FROM dstats)
        ORDER BY layout
    """,
    doc=f"Z-ORDER layout effectiveness — the file-skipping readout behind "
    "every lakehouse OPTIMIZE ZORDER decision: interleave the low 16 "
    "bits of customer key and day index (pure shift/mask arithmetic — "
    "the classic even-bit spread, identical BIGINT ops on both "
    f"engines), pack rows into {_ZORD_FILES} equal files under (a) "
    "z-value order and (b) plain date order, and compare the per-file "
    "min/max ZONE-MAP widths on BOTH dimensions. Date-sorted files are "
    "narrow on date and full-width on customer (customer-key predicates "
    "prune nothing); z-ordered files are moderately narrow on BOTH — "
    "exactly the trade a two-dimensional scan workload wants, now as an "
    "exact-integer number instead of folklore. NTILE with an orderkey "
    "tie-break is a total order, so file assignment is deterministic. "
    "Scale posture, honestly: the two NTILE windows are GLOBAL sorts of "
    "the fact (fine at diagnostic scale; the gate runs them exactly) — "
    "at 100 TB the same assignment comes from repartitionByRange(32, "
    "zval, orderkey) whose per-partition min/max ARE the zone maps, one "
    "range shuffle and no single-partition stage; this query is the "
    "exact-arithmetic twin a layout job validates against on a sample.",
)
def scale_zorder_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    def spread16(col):
        v = col.bitwiseAND(F.lit(65535))
        for shift, mask in ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765)):
            v = (
                v.bitwiseOR(F.shiftleft(v, shift))
            ).bitwiseAND(F.lit(mask))
        return v

    # dated, keyed rows only (r12 variant sweep: a NULL day index nulls
    # the z-value and the two engines tile null keys at opposite ends;
    # r14 null-join-key variant: a NULL custkey does the same through ck)
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_custkey").isNotNull()
    )
    base = o.select(
        "o_orderkey",
        F.col("o_custkey").bitwiseAND(F.lit(65535)).cast("long").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01")))
        .bitwiseAND(F.lit(65535))
        .cast("long")
        .alias("di"),
    )
    z = base.select(
        "o_orderkey",
        "ck",
        "di",
        (
            spread16(F.col("ck")).bitwiseOR(F.shiftleft(spread16(F.col("di")), 1))
        ).alias("zval"),
    )
    bucketed = z.select(
        "ck",
        "di",
        F.ntile(_ZORD_FILES).over(Window.orderBy("zval", "o_orderkey")).alias("zfile"),
        F.ntile(_ZORD_FILES).over(Window.orderBy("di", "o_orderkey")).alias("dfile"),
    )

    def stats(file_col, name):
        per = bucketed.groupBy(file_col).agg(
            (F.max("ck") - F.min("ck") + 1).alias("w_ck"),
            (F.max("di") - F.min("di") + 1).alias("w_di"),
        )
        return per.agg(
            F.lit(name).alias("layout"),
            F.sum("w_ck").alias("sum_ck_width"),
            F.sum("w_di").alias("sum_di_width"),
        )

    out = stats("zfile", "zorder").unionAll(stats("dfile", "date_sorted"))
    return out.select(
        "layout",
        F.lit(_ZORD_FILES).cast("long").alias("n_files"),
        "sum_ck_width",
        "sum_di_width",
        (F.col("sum_ck_width").cast("double") / F.lit(float(_ZORD_FILES))).alias(
            "avg_ck_width"
        ),
        (F.col("sum_di_width").cast("double") / F.lit(float(_ZORD_FILES))).alias(
            "avg_di_width"
        ),
    ).orderBy("layout")
