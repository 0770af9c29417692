"""Distributed statistics with exact integer moment sums (SURVEY §7.5).

Pearson correlation and closed-form OLS regression from raw moments:
``corr = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²))``.

Naive ``F.corr``/``F.covar`` accumulate doubles, so results drift with
partitioning and disagree with any other engine in the last ulps — they
can't be hash-gated. Here both measures are quantized to their fixed
decimal granularity (discount = 2dp, quantity/price = integral cents),
every moment is an exact BIGINT sum (order-independent, map-side
partial-aggregatable — ONE shuffle per group-by), and only the final
closed-form expression runs in IEEE doubles — sqrt is correctly rounded
per IEEE-754, so both engines emit identical bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import table
from .registry import register
from ..operators.scale import pin


def _moments(x: Column, y: Column) -> list[Column]:
    """Exact integer raw moments: n, Σx, Σy, Σx², Σy², Σxy."""
    return [
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    ]


# moment products n*Σxy etc. overflow BIGINT once group sizes pass ~1e5 at
# real price magnitudes (the sf0.1 sweep caught the Cohen's d sibling) —
# widen to HUGEINT / DECIMAL(38,0) BEFORE multiplying; the exact integer
# then converts to the same nearest double on both engines
_CORR_SQL = """
    (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE))
    / sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
           * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
"""

_D38 = "decimal(38,0)"


def _corr_col() -> Column:
    n = F.col("n").cast(_D38)
    sx, sy = F.col("sx").cast(_D38), F.col("sy").cast(_D38)
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt(
        (n * sxx - sx * sx).cast("double") * (n * syy - sy * sy).cast("double")
    )
    return num / den


@register(
    "stat_corr_discount_qty",
    oracle=f"""
        WITH m AS (
            SELECT p.p_type,
                   COUNT(*) AS n,
                   SUM(CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS sx,
                   SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS sy,
                   SUM(CAST(ROUND(l.l_discount * 100) AS BIGINT)
                       * CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS sxx,
                   SUM(CAST(ROUND(l.l_quantity) AS BIGINT)
                       * CAST(ROUND(l.l_quantity) AS BIGINT)) AS syy,
                   SUM(CAST(ROUND(l.l_discount * 100) AS BIGINT)
                       * CAST(ROUND(l.l_quantity) AS BIGINT)) AS sxy
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_type
        )
        SELECT p_type, n, {_CORR_SQL} AS corr_dq
        FROM m ORDER BY p_type
    """,
    doc="Pearson correlation (discount vs quantity) per part type from "
    "exact integer raw moments — partitioning-independent where F.corr "
    "is not: the five moment sums are BIGINT (map-side combined, one "
    "shuffle on p_type after the broadcast part join), and only the "
    "final closed form touches IEEE doubles (sqrt is correctly rounded, "
    "so the result is bit-identical across engines). The scale-invariance "
    "of Pearson r makes the 100× quantization drop out exactly.",
)
def stat_corr_discount_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    x = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_quantity")).cast("long")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(*_moments(x, y))
    )
    return m.select("p_type", "n", _corr_col().alias("corr_dq")).orderBy("p_type")


@register(
    "stat_ols_price_vs_qty",
    oracle="""
        WITH m AS (
            SELECT o.o_orderpriority,
                   COUNT(*) AS n,
                   SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS sx,
                   SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS sy,
                   SUM(CAST(ROUND(l.l_quantity) AS BIGINT)
                       * CAST(ROUND(l.l_quantity) AS BIGINT)) AS sxx,
                   SUM(CAST(ROUND(l.l_quantity) AS BIGINT)
                       * CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS sxy
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderpriority
        )
        SELECT o_orderpriority, n,
               (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                     AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                       AS DOUBLE)) / 100.0 AS slope,
               (CAST(sy AS DOUBLE) / 100.0
                - (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                        AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                          AS DOUBLE)) / 100.0
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS intercept
        FROM m ORDER BY o_orderpriority
    """,
    doc="Closed-form simple OLS per order priority: extendedprice (cents) "
    "regressed on quantity — slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept "
    "= (Σy − slope·Σx)/n, every moment an exact BIGINT sum. This is "
    "distributed least squares as a pure aggregation: the fact table "
    "shuffles ONCE (keyed on the group), moments partial-aggregate "
    "map-side, and the per-group solve is O(1) driver-free arithmetic — "
    "the shape that scales to 100 TB where an iterative solver would "
    "need multiple passes. The fact⋈fact join (lineitem⋈orders) relies "
    "on AQE to pick the join strategy — neither side broadcasts.",
)
def stat_ols_price_vs_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    x = F.round(F.col("l_quantity")).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(x * y).alias("sxy"),
        )
    )
    n = F.col("n").cast(_D38)
    sx, sy = F.col("sx").cast(_D38), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope_cents = (n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx).cast(
        "double"
    )
    slope = slope_cents / F.lit(100.0)
    intercept = (
        sy.cast("double") / F.lit(100.0) - slope * sx.cast("double")
    ) / n.cast("double")
    return m.select(
        "o_orderpriority", "n", slope.alias("slope"), intercept.alias("intercept")
    ).orderBy("o_orderpriority")


@register(
    "stat_mad_outlier_counts",
    oracle="""
        WITH c AS (
            SELECT o_orderstatus,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        med AS (
            SELECT o_orderstatus,
                   CAST(ROUND(quantile_cont(cents, 0.5)) AS BIGINT) AS med_c
            FROM c GROUP BY o_orderstatus
        ),
        dev AS (
            SELECT c.o_orderstatus, abs(c.cents - m.med_c) AS dev_c
            FROM c JOIN med m USING (o_orderstatus)
        ),
        mad AS (
            SELECT o_orderstatus, quantile_cont(dev_c, 0.5) AS mad_c
            FROM dev GROUP BY o_orderstatus
        )
        SELECT d.o_orderstatus, COUNT(*) AS n,
               MIN(m.mad_c) AS mad_c,
               COUNT(CASE WHEN d.dev_c > 3 * m.mad_c THEN 1 END) AS n_outliers
        FROM dev d JOIN mad m USING (o_orderstatus)
        GROUP BY d.o_orderstatus ORDER BY d.o_orderstatus
    """,
    doc="Robust outlier detection via median absolute deviation (MAD), "
    "the breakdown-resistant complement of the IQR rule (F15/F20): flag "
    "rows whose |x − median| exceeds 3×MAD. Drift-proofing: prices "
    "quantize to integer cents FIRST, the median is re-rounded to an "
    "integer, so deviations are exact BIGINTs and the MAD interpolates "
    "two integers (k or k+0.5 — both exactly representable), making the "
    "3×MAD threshold comparison bit-deterministic on any engine. Two "
    "keyed aggregation passes + one join of the 3-row median table back "
    "onto the fact (broadcast) — exact per-group percentile sorts per "
    "group; at 100 TB swap stage one for percentile_approx.",
)
def stat_mad_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).transform(pin)  # scan-budget: orders scanned 4 times without it
    med = c.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(cents, 0.5)")).cast("long").alias("med_c")
    )
    dev = c.join(F.broadcast(med), "o_orderstatus").select(
        "o_orderstatus", F.abs(F.col("cents") - F.col("med_c")).alias("dev_c")
    )
    mad = dev.groupBy("o_orderstatus").agg(
        F.expr("percentile(dev_c, 0.5)").alias("mad_c")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.min("mad_c").alias("mad_c"),
            F.count(F.when(F.col("dev_c") > 3 * F.col("mad_c"), 1)).alias(
                "n_outliers"
            ),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "stat_daily_zscore_anomaly",
    oracle="""
        WITH d AS (
            SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
            FROM events GROUP BY event_type, day
        ),
        m AS (
            SELECT event_type, COUNT(*) AS nd, SUM(n) AS s, SUM(n * n) AS q
            FROM d GROUP BY event_type
        )
        SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.n,
               CASE WHEN m.nd * m.q > m.s * m.s
                    THEN CAST(d.n * m.nd - m.s AS DOUBLE)
                         / sqrt(CAST(m.nd * m.q - m.s * m.s AS DOUBLE))
                    END AS z,
               ((d.n * m.nd - m.s) * (d.n * m.nd - m.s)
                   > 4 * (m.nd * m.q - m.s * m.s)) AS is_anomaly
        FROM d JOIN m USING (event_type)
        ORDER BY event_type, day
    """,
    doc="Daily-volume z-score anomaly per event type — the statistical "
    "upgrade of the 2x-average rule (ev_daily_volume_anomaly): "
    "z = (n·D − S)/sqrt(D·Q − S²) from exact integer moment sums over "
    "the per-day counts, and the |z| > 2 flag evaluates as the integer "
    "cross-multiplication (nD−S)² > 4(DQ−S²) — no float threshold at "
    "the decision boundary. Day rollup is one keyed shuffle over "
    "events; the per-type moment table (a handful of rows) broadcasts "
    "back onto the daily rows.",
)
def stat_daily_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    m = d.groupBy("event_type").agg(
        F.count("*").alias("nd"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("q"),
    )
    j = d.join(F.broadcast(m), "event_type")
    num = F.col("n") * F.col("nd") - F.col("s")
    den2 = F.col("nd") * F.col("q") - F.col("s") * F.col("s")
    z = F.when(den2 > 0, num.cast("double") / F.sqrt(den2.cast("double")))
    return (
        j.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            z.alias("z"),
            (num * num > 4 * den2).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "stat_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS dst,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS src
            FROM events
        ),
        pairs AS (
            SELECT src, dst, COUNT(*) AS n
            FROM seq WHERE src IS NOT NULL GROUP BY src, dst
        ),
        tot AS (SELECT src, SUM(n) AS n_src FROM pairs GROUP BY src)
        SELECT p.src, p.dst, p.n, p.n / t.n_src AS p
        FROM pairs p JOIN tot t USING (src)
        ORDER BY p.src, p.dst
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(dst | src) = n(src→dst) / n(src→*) — the "
    "sequence-statistics pass behind next-event prediction and funnel "
    "modeling. One keyed window (lag per user, ts+event_id tie-break "
    "for determinism) then two tiny aggregations; probabilities are "
    "exact bigint rationals — one IEEE division each, engine-identical. "
    "The |types|² transition table broadcasts anywhere downstream.",
)
def stat_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("dst"),
        F.lag("event_type").over(w).alias("src"),
    ).filter(F.col("src").isNotNull())
    pairs = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    tot = pairs.groupBy("src").agg(F.sum("n").alias("n_src"))
    return (
        pairs.join(F.broadcast(tot), "src")
        .select("src", "dst", "n", (F.col("n") / F.col("n_src")).alias("p"))
        .orderBy("src", "dst")
    )


_EQUIDEPTH_QS = [i / 10.0 for i in range(1, 10)]


@register(
    "stat_equidepth_hist_totalprice",
    oracle=f"""
        WITH c AS (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
        ),
        b AS (
            SELECT quantile_cont(cents, {_EQUIDEPTH_QS}) AS bnds FROM c
        ),
        assigned AS (
            SELECT c.cents,
                   1 + len(list_filter(b.bnds, x -> x < c.cents)) AS bucket
            FROM c CROSS JOIN b
        )
        SELECT bucket, COUNT(*) AS n_orders,
               CAST(MIN(cents) AS DOUBLE) / CAST(100 AS DOUBLE) AS lo_price,
               CAST(MAX(cents) AS DOUBLE) / CAST(100 AS DOUBLE) AS hi_price
        FROM assigned GROUP BY bucket ORDER BY bucket
    """,
    doc="Equi-depth (decile) histogram of order totals — the "
    "skew-resistant complement of the fixed-width 30-bin histogram "
    "(A17): bucket boundaries are the 10%..90% exact percentiles of "
    "integer cents, so each boundary is an integer or integer+0.5 — "
    "exactly representable, making 'boundary < value' decisions "
    "bit-deterministic on both engines. The 9-value boundary array "
    "computes in one aggregation and broadcasts to the assignment "
    "scan (the same two-pass shape an ANALYZE equi-depth stats "
    "collector uses at scale); per-bucket rollup is one keyed shuffle.",
)
def stat_equidepth_hist_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    c = orders.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    qs = ", ".join(str(q) for q in _EQUIDEPTH_QS)
    b = c.agg(F.expr(f"percentile(cents, array({qs}))").alias("bnds"))
    assigned = c.crossJoin(F.broadcast(b)).select(
        "cents",
        (
            1
            + F.size(F.filter(F.col("bnds"), lambda x: x < F.col("cents")))
        ).alias("bucket"),
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            (F.min("cents").cast("double") / F.lit(100).cast("double")).alias(
                "lo_price"
            ),
            (F.max("cents").cast("double") / F.lit(100).cast("double")).alias(
                "hi_price"
            ),
        )
        .orderBy("bucket")
    )


_CM_ROWS = 3  # count-min depth (independent hash rows)
_CM_WIDTH = 256  # count-min width (buckets per row)
_CM_TOPK = 10


@register(
    "stat_countmin_heavy_hitters",
    oracle=f"""
        WITH counts AS (
            SELECT o_custkey, COUNT(*) AS true_n FROM orders GROUP BY o_custkey
        ),
        hashed AS (
            SELECT c.o_custkey, c.true_n, t.r,
                   ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' ||
                                       CAST(c.o_custkey AS VARCHAR)), 1, 8))::BIGINT
                       % {_CM_WIDTH} AS bucket
            FROM counts c CROSS JOIN UNNEST(range({_CM_ROWS})) AS t(r)
        ),
        counters AS (
            SELECT r, bucket, SUM(true_n) AS cnt FROM hashed GROUP BY r, bucket
        ),
        top AS (
            SELECT o_custkey, true_n FROM counts
            QUALIFY ROW_NUMBER() OVER (ORDER BY true_n DESC, o_custkey) <= {_CM_TOPK}
        )
        SELECT h.o_custkey, h.true_n,
               CAST(MIN(c.cnt) AS BIGINT) AS cm_estimate,
               CAST(MIN(c.cnt) - h.true_n AS BIGINT) AS overestimate
        FROM hashed h
        JOIN counters c ON c.r = h.r AND c.bucket = h.bucket
        JOIN top t ON t.o_custkey = h.o_custkey
        GROUP BY h.o_custkey, h.true_n
        ORDER BY h.true_n DESC, h.o_custkey
    """,
    doc=f"Count-min sketch ({_CM_ROWS}×{_CM_WIDTH}, md5-derived bucket "
    "hashes) over per-customer order counts, probed for the top-10 true "
    "heavy hitters — the bounded-memory frequency sketch behind "
    "streaming heavy-hitter detection, here with an EXACT oracle: both "
    "engines derive identical buckets from the same md5 prefix, so the "
    "sketch counters, the min-over-rows estimates, and the (provably "
    "non-negative) overestimates match bit-for-bit — unlike "
    "approx_count_distinct-style sketches this one is hash-gateable. "
    "Plan: one keyed count, a 3-way row explode into a "
    f"{_CM_ROWS}×{_CM_WIDTH}-cell counter table (map-side partial agg "
    "collapses it before the shuffle), and a broadcast probe of the "
    "top-k keys — sketch memory is constant regardless of input scale.",
)
def stat_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(F.count("*").alias("true_n"))
    hashed = counts.select(
        "o_custkey",
        "true_n",
        F.explode(F.array(*[F.lit(r) for r in range(_CM_ROWS)])).alias("r"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("o_custkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CM_WIDTH,
    )
    counters = hashed.groupBy("r", "bucket").agg(F.sum("true_n").alias("cnt"))
    top = (
        counts.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("true_n"), F.asc("o_custkey"))),
        )
        .filter(F.col("rk") <= _CM_TOPK)
        .select("o_custkey")
    )
    return (
        hashed.join(F.broadcast(top), "o_custkey")
        .join(counters, ["r", "bucket"])
        .groupBy("o_custkey", "true_n")
        .agg(F.min("cnt").alias("cm_estimate"))
        .select(
            "o_custkey",
            "true_n",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("true_n")).alias("overestimate"),
        )
        .orderBy(F.desc("true_n"), "o_custkey")
    )


@register(
    "stat_chi2_priority_status",
    oracle="""
        WITH obs AS (
            SELECT o_orderpriority AS priority, o_orderstatus AS status,
                   COUNT(*) AS observed
            FROM orders GROUP BY priority, status
        ),
        tot AS (
            SELECT priority, status, observed,
                   SUM(observed) OVER (PARTITION BY priority) AS row_tot,
                   SUM(observed) OVER (PARTITION BY status) AS col_tot,
                   SUM(observed) OVER () AS n
            FROM obs
        )
        SELECT priority, status, observed,
               CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
               (CAST(n * observed - row_tot * col_tot AS DOUBLE)
                * CAST(n * observed - row_tot * col_tot AS DOUBLE))
                   / CAST(n AS DOUBLE) / CAST(row_tot AS DOUBLE)
                   / CAST(col_tot AS DOUBLE) AS chi2_term
        FROM tot ORDER BY priority, status
    """,
    doc="Chi-square test of independence between order priority and "
    "status, emitted as per-cell contributions: "
    "χ²_cell = (N·O − R·C)² / (N·R·C) from exact BIGINT marginal sums "
    "(the algebraic rearrangement of (O−E)²/E that defers ALL floating "
    "point to one fixed expression tree per cell — summing cell terms "
    "would reorder FP additions across engines, per-cell rows are "
    "bit-deterministic). The contingency table is one keyed count; "
    "marginals are windows over the tiny post-agg cell set, so the "
    "fact is scanned once and everything downstream is metadata-sized "
    "at any scale. N·O fits BIGINT through ~sf100; the (N·O−R·C) "
    "difference is cast to double BEFORE squaring so the square never "
    "overflows the integer domain.",
)
def stat_chi2_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count("*").alias("observed"))
    tot = obs.select(
        "priority",
        "status",
        "observed",
        F.sum("observed").over(Window.partitionBy("priority")).alias("row_tot"),
        F.sum("observed").over(Window.partitionBy("status")).alias("col_tot"),
        F.sum("observed").over(Window.partitionBy()).alias("n"),
    )
    num = (
        F.col("n") * F.col("observed") - F.col("row_tot") * F.col("col_tot")
    ).cast("double")
    return tot.select(
        "priority",
        "status",
        "observed",
        (
            (F.col("row_tot") * F.col("col_tot")).cast("double")
            / F.col("n").cast("double")
        ).alias("expected"),
        (
            num
            * num
            / F.col("n").cast("double")
            / F.col("row_tot").cast("double")
            / F.col("col_tot").cast("double")
        ).alias("chi2_term"),
    ).orderBy("priority", "status")


# ------------------------- distinct-count sketch --------------------------

_KMV_K = 256


@register(
    "stat_kmv_distinct_custkeys",
    oracle=f"""
        WITH d AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_custkey IS NOT NULL),
        h AS (SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
                  AS hv
              FROM d),
        k AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
        kv AS (SELECT MAX(hv) AS kth_min_hash, COUNT(*) AS k_used FROM k),
        t AS (SELECT COUNT(*) AS true_distinct FROM d)
        SELECT k_used, kth_min_hash, true_distinct,
               CAST(k_used - 1 AS DOUBLE) * 4294967296.0
                   / CAST(kth_min_hash AS DOUBLE) AS est_distinct,
               CAST(k_used - 1 AS DOUBLE) * 4294967296.0
                   / CAST(kth_min_hash AS DOUBLE)
                   / CAST(true_distinct AS DOUBLE) - 1.0 AS rel_err
        FROM kv CROSS JOIN t
    """,
    doc=f"KMV (k-minimum-values) distinct-count sketch over order custkeys, "
    f"k={_KMV_K}: hash every key to a uniform 32-bit value (md5 prefix — "
    "engine-portable), keep the k smallest, estimate distinct = (k-1)·2³² / "
    "kth_min. Unlike HyperLogLog (approx_count_distinct) the sketch is "
    "DETERMINISTIC, so the estimate itself is hash-gateable against the "
    "oracle, reported next to the true distinct and signed relative error. "
    "Plan: the k-smallest selection is a TakeOrdered — per-partition "
    "partial top-k merged on the driver, no global sort — and the sketch "
    "is mergeable by construction (union = k smallest of the union), the "
    "property that makes KMV a streaming/distributed sketch at 100 TB.",
)
def stat_kmv_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    # null is not a KEY: excluded on both sides (r14 null-join-key
    # variant — md5(NULL) is NULL, and the engines' default null sort
    # orders put the null hash on opposite sides of the k-smallest cut)
    d = orders.select("o_custkey").filter(F.col("o_custkey").isNotNull()).distinct()
    h = d.select(
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv")
    )
    kv = (
        h.orderBy("hv")
        .limit(_KMV_K)
        .agg(F.max("hv").alias("kth_min_hash"), F.count("*").alias("k_used"))
    )
    t = d.agg(F.count("*").alias("true_distinct"))
    est = (F.col("k_used") - 1).cast("double") * F.lit(4294967296.0) / F.col(
        "kth_min_hash"
    ).cast("double")
    return kv.crossJoin(t).select(
        "k_used",
        "kth_min_hash",
        "true_distinct",
        est.alias("est_distinct"),
        (est / F.col("true_distinct").cast("double") - F.lit(1.0)).alias("rel_err"),
    )


# ----------------------------- Bloom filter -------------------------------

_BF_BITS = 8192
_BF_HASHES = 3


@register(
    "stat_bloom_customer_probe",
    oracle=f"""
        WITH members AS (SELECT DISTINCT o_custkey AS key FROM orders),
        bits AS (
            SELECT DISTINCT
                   ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' ||
                                       CAST(m.key AS VARCHAR)), 1, 8))::BIGINT
                       % {_BF_BITS} AS pos
            FROM members m CROSS JOIN UNNEST(range({_BF_HASHES})) AS t(r)
        ),
        probe AS (
            SELECT c.c_custkey AS key, t.r,
                   ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' ||
                                       CAST(c.c_custkey AS VARCHAR)), 1, 8))::BIGINT
                       % {_BF_BITS} AS pos
            FROM customer c CROSS JOIN UNNEST(range({_BF_HASHES})) AS t(r)
        ),
        pos_keys AS (
            SELECT p.key FROM probe p JOIN bits b ON b.pos = p.pos
            GROUP BY p.key HAVING COUNT(DISTINCT p.r) = {_BF_HASHES}
        ),
        s AS (
            SELECT (SELECT COUNT(*) FROM members) AS n_members,
                   (SELECT COUNT(*) FROM bits) AS bits_set,
                   (SELECT COUNT(*) FROM customer) AS probes,
                   (SELECT COUNT(*) FROM pos_keys) AS positives,
                   (SELECT COUNT(*) FROM pos_keys pk
                     WHERE pk.key NOT IN (SELECT key FROM members))
                       AS false_positives
        )
        SELECT n_members, bits_set, probes, positives, false_positives,
               CAST(false_positives AS DOUBLE)
                   / CAST(NULLIF(probes - n_members, 0) AS DOUBLE) AS fp_rate
        FROM s
    """,
    doc=f"Bloom-filter membership sketch, built and probed entirely as "
    f"relational ops: an m={_BF_BITS}-bit filter with {_BF_HASHES} "
    "md5-derived hash functions over the customers that placed orders, "
    "probed with EVERY customer; reports set bits, positives, and the "
    "measured false-positive rate among true non-members. The bit array "
    "is a distinct-position table (≤ m rows, broadcast to the probe side "
    "— at 100 TB this is exactly Spark's own runtime BloomFilter "
    "injection, here made explicit and engine-portable so the FP behavior "
    "itself is hash-gated). Build = one explode + distinct; probe = one "
    "broadcast equi-join on bit position + a keyed count — no shuffle of "
    "the probe side beyond its own aggregation.",
)
def stat_bloom_customer_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    rs = F.explode(F.array(*[F.lit(r) for r in range(_BF_HASHES)])).alias("r")

    def pos_col() -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("r").cast("string"),
                            F.lit(":"),
                            F.col("key").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _BF_BITS
        ).alias("pos")

    members = (
        orders.select(F.col("o_custkey").alias("key"))
        .distinct()
        .transform(pin)  # scan-budget: orders scanned 5 times without it
    )
    bits = members.select("key", rs).select(pos_col()).distinct()
    probe = cust.select(F.col("c_custkey").alias("key"), rs).select(
        "key", "r", pos_col()
    )
    pos_keys = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("key")
        .agg(F.countDistinct("r").alias("nr"))
        .filter(F.col("nr") == _BF_HASHES)
        .select("key")
    )
    s = (
        members.agg(F.count("*").alias("n_members"))
        .crossJoin(bits.agg(F.count("*").alias("bits_set")))
        .crossJoin(cust.agg(F.count("*").alias("probes")))
        .crossJoin(pos_keys.agg(F.count("*").alias("positives")))
        .crossJoin(
            pos_keys.join(members, "key", "left_anti").agg(
                F.count("*").alias("false_positives")
            )
        )
    )
    non_members = F.col("probes") - F.col("n_members")
    return s.select(
        "n_members",
        "bits_set",
        "probes",
        "positives",
        "false_positives",
        (
            F.col("false_positives").cast("double")
            / F.when(non_members == 0, F.lit(None))
            .otherwise(non_members)
            .cast("double")
        ).alias("fp_rate"),
    )


# ----------------------------- k-anonymity --------------------------------

_KANON_K = 5


@register(
    "dq_k_anonymity_customer",
    oracle=f"""
        WITH classes AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
                   COUNT(*) AS class_size
            FROM customer GROUP BY 1, 2, 3
        )
        SELECT class_size, COUNT(*) AS n_classes,
               CAST(SUM(class_size) AS BIGINT) AS n_rows,
               CAST(class_size < {_KANON_K} AS INTEGER) AS at_risk
        FROM classes GROUP BY class_size ORDER BY class_size
    """,
    doc=f"k-anonymity profile (k={_KANON_K}) of the customer table under "
    "the quasi-identifier (nation, market segment, account-balance "
    "thousand-band) — the privacy audit run before releasing or training "
    "on user-adjacent data: every row in an equivalence class smaller "
    "than k is re-identifiable by its quasi-identifiers alone. Emits the "
    "class-size histogram with at-risk flags (rows in flagged classes "
    "need suppression or generalization). Two chained aggregations, both "
    "partial-aggregatable; the second runs on the already-collapsed "
    "class table — the 100 TB cost is one shuffle of (QI, count) pairs.",
)
def dq_k_anonymity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("acctbal_band"),
    ).agg(F.count("*").alias("class_size"))
    return (
        classes.groupBy("class_size")
        .agg(F.count("*").alias("n_classes"), F.sum("class_size").alias("n_rows"))
        .select(
            "class_size",
            "n_classes",
            "n_rows",
            (F.col("class_size") < _KANON_K).cast("int").alias("at_risk"),
        )
        .orderBy("class_size")
    )


@register(
    "stat_ks_price_by_status",
    oracle="""
        WITH s AS (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                   COUNT(*) FILTER (o_orderstatus = 'O') AS c1,
                   COUNT(*) FILTER (o_orderstatus = 'F') AS c2
            FROM orders
            WHERE o_orderstatus IN ('O', 'F') AND o_totalprice IS NOT NULL
            GROUP BY cents
        ),
        cum AS (
            SELECT cents,
                   SUM(c1) OVER (ORDER BY cents) AS cum1,
                   SUM(c2) OVER (ORDER BY cents) AS cum2,
                   SUM(c1) OVER () AS n1,
                   SUM(c2) OVER () AS n2
            FROM s
        )
        SELECT CAST(n1 AS BIGINT) AS n_open, CAST(n2 AS BIGINT) AS n_filled,
               CAST(ABS(cum1 * n2 - cum2 * n1) AS BIGINT) AS d_num,
               CAST(ABS(cum1 * n2 - cum2 * n1) AS DOUBLE)
                   / CAST(n1 * n2 AS DOUBLE) AS ks_d,
               CAST(cents AS DOUBLE) / CAST(100 AS DOUBLE) AS at_price
        FROM cum
        QUALIFY ROW_NUMBER() OVER (ORDER BY ABS(cum1 * n2 - cum2 * n1) DESC,
                                   cents) = 1
    """,
    doc="Two-sample Kolmogorov-Smirnov distance between the order-total "
    "distributions of open vs filled orders — the nonparametric "
    "distribution-drift test behind data-shift monitors (no normality "
    "assumption, unlike the z/t family). Exactness: both ECDFs live on "
    "the integer-cents grid pre-aggregated to DISTINCT values, and the "
    "sup statistic maximizes the integer cross-multiplication "
    "|cum1·n2 − cum2·n1| — no per-row float division, so the argmax and "
    "tie-break (lowest price) are exact on both engines; ONE final IEEE "
    "division emits D. Shape: one keyed count shuffle onto distinct "
    "cents, then an ordered cumulative window over the distinct-value "
    "grid (bounded by price-point cardinality, not row count — the "
    "standard KS shape; at extreme scale where n1·n2 nears 2^63, switch "
    "the comparison to the per-row double ECDF difference, identical "
    "IEEE ops row-wise).",
)
def stat_ks_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # sample = PRICED orders (missing measurements are excluded on both
    # sides, the standard statistical treatment — r12 variant sweep: an
    # implicit null-cents ECDF point sorts at opposite ends per engine)
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F") & F.col("o_totalprice").isNotNull()
    )
    s = o.groupBy(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    ).agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("c1"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("c2"),
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy()
    cum = s.select(
        "cents",
        F.sum("c1").over(wc).alias("cum1"),
        F.sum("c2").over(wc).alias("cum2"),
        F.sum("c1").over(wt).alias("n1"),
        F.sum("c2").over(wt).alias("n2"),
    )
    d = cum.withColumn(
        "d_num", F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    )
    wr = Window.orderBy(F.desc("d_num"), "cents")
    return (
        d.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            F.col("n1").alias("n_open"),
            F.col("n2").alias("n_filled"),
            "d_num",
            (F.col("d_num").cast("double") / (F.col("n1") * F.col("n2")).cast("double")).alias("ks_d"),
            (F.col("cents").cast("double") / F.lit(100).cast("double")).alias("at_price"),
        )
    )


@register(
    "stat_welch_t_price_by_status",
    oracle="""
        WITH m AS (
            SELECT o_orderstatus AS st,
                   COUNT(*) AS n,
                   SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS sx,
                   SUM(CAST(ROUND(o_totalprice) AS BIGINT)
                       * CAST(ROUND(o_totalprice) AS BIGINT)) AS sxx
            FROM orders WHERE o_orderstatus IN ('O', 'F')
            GROUP BY o_orderstatus
        ),
        w AS (
            SELECT
                MAX(CASE WHEN st = 'O' THEN n END) AS n1,
                MAX(CASE WHEN st = 'F' THEN n END) AS n2,
                MAX(CASE WHEN st = 'O' THEN sx END) AS sx1,
                MAX(CASE WHEN st = 'F' THEN sx END) AS sx2,
                MAX(CASE WHEN st = 'O' THEN sxx END) AS sxx1,
                MAX(CASE WHEN st = 'F' THEN sxx END) AS sxx2
            FROM m
        )
        SELECT n1 AS n_open, n2 AS n_filled,
               (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   - (CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS mean_diff,
               ((CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   - (CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
               / sqrt(
                   ((CAST(sxx1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                     - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
                        / CAST(n1 AS DOUBLE) / CAST(n1 - 1 AS DOUBLE)
                        / CAST(n1 AS DOUBLE)
                    + (CAST(sxx2 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
                        / CAST(n2 AS DOUBLE) / CAST(n2 - 1 AS DOUBLE)
                        / CAST(n2 AS DOUBLE))
                 ) AS t_stat
        FROM w
    """,
    doc="Welch's unequal-variance t-statistic comparing open vs filled "
    "order totals — the parametric mean-shift companion of the KS test. "
    "Distributed form: per-group exact BIGINT raw moments (n, Σx, Σx² "
    "in integer cents — ONE map-side-combined shuffle onto 2 keys), "
    "then the closed form t = (m1−m2)/√(s1²/n1 + s2²/n2) evaluated in "
    "a FIXED sequence of IEEE ops on those exact integers, so both "
    "engines emit identical bits (sqrt is correctly rounded; no "
    "accumulation-order variance anywhere). Totals quantize to WHOLE "
    "currency units (not cents) so the Σx² BIGINT sum keeps ~3e7 rows "
    "of headroom, and the n·Σx²−(Σx)² closed form evaluates in double "
    "(the products exceed int64; the op sequence is fixed, so the "
    "double path stays bit-deterministic cross-engine).",
)
def stat_welch_t_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus").isin("O", "F"))
    units = F.round(F.col("o_totalprice")).cast("long")
    m = o.groupBy(F.col("o_orderstatus").alias("st")).agg(
        F.count("*").alias("n"),
        F.sum(units).alias("sx"),
        F.sum(units * units).alias("sxx"),
    )
    w = m.agg(
        F.max(F.when(F.col("st") == "O", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("st") == "F", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("st") == "O", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("st") == "F", F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("st") == "O", F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("st") == "F", F.col("sxx"))).alias("sxx2"),
    )
    mean1 = F.col("sx1").cast("double") / F.col("n1").cast("double")
    mean2 = F.col("sx2").cast("double") / F.col("n2").cast("double")
    # variance closed form in DOUBLE space: n·Σx² overflows BIGINT even in
    # whole units, and both engines run the identical IEEE op sequence on
    # the exact integer sums, so the double path is still bit-deterministic
    var_term = (
        (
            F.col("sxx1").cast("double") * F.col("n1").cast("double")
            - F.col("sx1").cast("double") * F.col("sx1").cast("double")
        )
        / F.col("n1").cast("double")
        / (F.col("n1") - 1).cast("double")
        / F.col("n1").cast("double")
        + (
            F.col("sxx2").cast("double") * F.col("n2").cast("double")
            - F.col("sx2").cast("double") * F.col("sx2").cast("double")
        )
        / F.col("n2").cast("double")
        / (F.col("n2") - 1).cast("double")
        / F.col("n2").cast("double")
    )
    return w.select(
        F.col("n1").alias("n_open"),
        F.col("n2").alias("n_filled"),
        (mean1 - mean2).alias("mean_diff"),
        ((mean1 - mean2) / F.sqrt(var_term)).alias("t_stat"),
    )


@register(
    "supplier_nation_herfindahl",
    oracle="""
        WITH per AS (
            SELECT n.n_name AS nation, l.l_suppkey,
                   SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)) AS BIGINT))
                       AS u
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY n.n_name, l.l_suppkey
        )
        SELECT nation,
               COUNT(*) AS n_suppliers,
               CAST(SUM(u) AS BIGINT) AS total_units,
               CAST(SUM(u * u) AS BIGINT) AS sum_sq_units,
               CAST(SUM(u * u) AS DOUBLE)
                   / (CAST(SUM(u) AS DOUBLE) * CAST(SUM(u) AS DOUBLE)) AS hhi
        FROM per
        GROUP BY nation
        ORDER BY nation
    """,
    doc="Herfindahl-Hirschman concentration index of supplier revenue "
    "within each nation — the market-concentration statistic (HHI = "
    "Σ share², 1/n = perfectly even, 1 = monopoly) behind supplier-risk "
    "and source-domination dashboards. Exactness: per-supplier revenue "
    "quantizes to whole-currency BIGINT units (one map-side-combined "
    "shuffle on (nation, suppkey)), Σu and Σu² stay exact integers, and "
    "HHI's single division runs on exact-int→double conversions in a "
    "fixed op sequence ((Σu)² exceeds int64, so the square is formed in "
    "double — bit-deterministic cross-engine). Second rollup hits ~25 "
    "nation keys; the algebraic identity HHI = Σu²/(Σu)² avoids "
    "computing any per-supplier share column.",
)
def supplier_nation_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    units = F.sum(
        F.round(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
            "long"
        )
    )
    per = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "l_suppkey")
        .agg(units.alias("u"))
    )
    return (
        per.groupBy("nation")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("u").alias("total_units"),
            F.sum(F.col("u") * F.col("u")).alias("sum_sq_units"),
        )
        .select(
            "nation",
            "n_suppliers",
            "total_units",
            "sum_sq_units",
            (
                F.col("sum_sq_units").cast("double")
                / (F.col("total_units").cast("double") * F.col("total_units").cast("double"))
            ).alias("hhi"),
        )
        .orderBy("nation")
    )


@register(
    "stat_gini_user_activity",
    oracle="""
        WITH per AS (
            SELECT user_id, COUNT(*) AS x FROM events GROUP BY user_id
        ),
        grid AS (
            SELECT x, COUNT(*) AS nv FROM per GROUP BY x
        ),
        cum AS (
            SELECT x, nv, SUM(nv) OVER (ORDER BY x) AS c FROM grid
        ),
        m AS (
            SELECT CAST(SUM(nv) AS BIGINT) AS n,
                   CAST(SUM(x * nv) AS BIGINT) AS s0,
                   CAST(SUM(x * (nv * (c - nv) + (nv * (nv + 1)) // 2))
                        AS BIGINT) AS s1
            FROM cum
        )
        SELECT n AS n_users, s0 AS n_events,
               CAST(2 * s1 - (n + 1) * s0 AS DOUBLE)
                   / CAST(n * s0 AS DOUBLE) AS gini
        FROM m
    """,
    doc="Gini coefficient of per-user event activity — the inequality "
    "statistic (0 = uniform, →1 = one user dominates) behind "
    "power-user/bot dashboards, via the sorted-rank identity "
    "G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) evaluated on the DISTINCT-COUNT "
    "VALUE GRID, not per-user rows: users sharing activity count v "
    "occupy a contiguous rank run, and Σi·x over that run collapses to "
    "v·(n_v·cum_prev + n_v(n_v+1)/2) — exact integers (n_v(n_v+1) is "
    "even, so the // 2 is exact). The global ordered window therefore "
    "runs over distinct activity VALUES (log-scale bounded — a corpus "
    "with 10^10 users has ~10^5 distinct counts under any power law), "
    "never over billions of per-user rows; same shape as the "
    "Mann-Whitney rank-sum grid. One keyed count shuffle, one grid "
    "rollup, three exact BIGINT moments, ONE final double division.",
)
def stat_gini_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(F.count("*").alias("x"))
    grid = per.groupBy("x").agg(F.count("*").alias("nv"))
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grid.select("x", "nv", F.sum("nv").over(wc).alias("c"))
    run_rank_sum = F.col("nv") * (F.col("c") - F.col("nv")) + F.expr(
        "(nv * (nv + 1)) div 2"
    )
    m = cum.agg(
        F.sum("nv").alias("n"),
        F.sum(F.col("x") * F.col("nv")).alias("s0"),
        F.sum(F.col("x") * run_rank_sum).alias("s1"),
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.col("s0").alias("n_events"),
        (
            (2 * F.col("s1") - (F.col("n") + 1) * F.col("s0")).cast("double")
            / (F.col("n") * F.col("s0")).cast("double")
        ).alias("gini"),
    )


@register(
    "stat_autocorr_daily_revenue",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS r
            FROM orders GROUP BY 1
        ),
        pairs AS (
            SELECT a.r AS x, b.r AS y
            FROM daily a JOIN daily b ON b.d = a.d + INTERVAL 1 DAY
        ),
        m AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
            FROM pairs
        )
        SELECT n AS n_pairs,
               (CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(syy AS DOUBLE) * CAST(n AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS lag1_autocorr
        FROM m
    """,
    doc="Lag-1 autocorrelation of the daily revenue series — the "
    "time-series memory check behind anomaly baselines (near 0 = "
    "day-over-day independence, high = momentum/seasonality the z-score "
    "monitors must model). The consecutive-day pairing is an EQUI-join "
    "of the per-day rollup with itself on d+1 (never a window over raw "
    "orders — the series is post-agg, day-cardinality), daily revenues "
    "quantize to whole-unit BIGINT, the five Pearson moments are exact "
    "integer sums, and the closed form runs in the fixed-sequence "
    "double path (moment products exceed int64). Missing days "
    "self-handle: a gap simply contributes no pair.",
)
def stat_autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("r")
    )
    a = daily.select(F.col("d").alias("da"), F.col("r").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("r").alias("y"))
    pairs = a.join(b, F.col("db") == F.date_add(F.col("da"), 1)).select("x", "y")
    m = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    return m.select(
        F.col("n").alias("n_pairs"),
        (
            (sxyd * nd - sxd * syd)
            / F.sqrt((sxxd * nd - sxd * sxd) * (syyd * nd - syd * syd))
        ).alias("lag1_autocorr"),
    )


@register(
    "dq_benford_first_digit",
    oracle="""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INTEGER) AS d
            FROM orders WHERE o_totalprice > 0
        ),
        m AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
        t AS (SELECT SUM(n) AS total FROM m)
        SELECT m.d AS digit, m.n,
               CAST(m.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS observed,
               log10(1.0 + 1.0 / m.d) AS benford_expected,
               CAST(m.n AS DOUBLE) / CAST(t.total AS DOUBLE)
                   - log10(1.0 + 1.0 / m.d) AS deviation
        FROM m, t
        ORDER BY digit
    """,
    doc="Benford's-law first-digit audit of order totals — the classic "
    "fabricated-data screen (organic amounts follow P(d) = log10(1+1/d); "
    "uniform or spiked digits flag synthetic or manipulated records). "
    "First digit extracts from the integer-cents rendering (string of an "
    "exact BIGINT — no float formatting ambiguity), one count shuffle "
    "onto ≤9 keys, totals via a 1-row aggregate joined back, and the "
    "observed/expected/deviation columns are fixed-sequence double "
    "expressions on exact integers (log10 of the 9 constant ratios is "
    "correctly rounded identically on both engines).",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    m = o.select(digit.alias("d")).groupBy("d").agg(F.count("*").alias("n"))
    t = m.agg(F.sum("n").alias("total"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    observed = F.col("n").cast("double") / F.col("total").cast("double")
    return (
        m.join(F.broadcast(t))
        .select(
            F.col("d").alias("digit"),
            "n",
            observed.alias("observed"),
            expected.alias("benford_expected"),
            (observed - expected).alias("deviation"),
        )
        .orderBy("digit")
    )


@register(
    "li_return_rate_wilson",
    oracle="""
        WITH m AS (
            SELECT p.p_brand,
                   COUNT(*) AS n,
                   COUNT(*) FILTER (l.l_returnflag = 'R') AS r
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        )
        SELECT p_brand, n, r,
               CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
               ((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
                - 1.96 * sqrt(
                    ((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                     * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE)))
                    / CAST(n AS DOUBLE)
                    + (1.96 * 1.96)
                      / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
               / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)) AS wilson_lower
        FROM m
        ORDER BY p_brand
    """,
    doc="Return rate per brand with the Wilson-score 95% lower bound — "
    "ranking under uncertainty (sort by the lower bound, not the raw "
    "rate, so a 2/3 brand never outranks a 180/600 one); the standard "
    "fix for small-sample rate leaderboards. Counts are exact integers "
    "from ONE map-side-combined shuffle onto brand keys; the Wilson "
    "closed form runs in an identical fixed sequence of IEEE ops on "
    "both engines (sqrt correctly rounded, z = 1.96 literal), so the "
    "doubles hash identically without rounding.",
)
def li_return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("r"),
        )
    )
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    phat = rd / nd
    z2 = F.lit(1.96) * F.lit(1.96)
    wilson = (
        phat
        + z2 / (F.lit(2.0) * nd)
        - F.lit(1.96)
        * F.sqrt(
            (phat * (F.lit(1.0) - phat)) / nd
            + z2 / (F.lit(4.0) * nd * nd)
        )
    ) / (F.lit(1.0) + z2 / nd)
    return m.select(
        "p_brand", "n", "r", phat.alias("rate"), wilson.alias("wilson_lower")
    ).orderBy("p_brand")


@register(
    "stat_cusum_daily_revenue",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS x
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
        ),
        tot AS (
            SELECT d, x, COUNT(*) OVER () AS n,
                   CAST(SUM(x) OVER () AS BIGINT) AS t
            FROM daily
        ),
        dev AS (
            SELECT d, x, n, t,
                   CAST(SUM(n * x - t) OVER (ORDER BY d) AS BIGINT) AS s
            FROM tot
        ),
        cus AS (
            SELECT d, x, n, t, s,
                   s - LEAST(MIN(s) OVER (ORDER BY d), 0) AS c
            FROM dev
        )
        SELECT d, x,
               CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS cusum_units,
               10 * c > n * t AS alarm
        FROM cus
        ORDER BY d
    """,
    doc="CUSUM upward-drift detection over daily revenue — the "
    "sequential change-point monitor (Page 1954) that accumulates "
    "deviation from the series mean and alarms when the cumulative "
    "excursion exceeds 10% of total volume. The textbook recursion "
    "C_t = max(0, C_{t-1} + x_t − k) is non-associative, so it is "
    "re-expressed CLOSED-FORM as S_t − min_{0≤i≤t} S_i with "
    "S_t = Σ(n·x_i − T), S_0 = 0 (the zero start floors the running "
    "min — a series opening above its mean still reports the full "
    "excursion): two ordered windows (running sum, running "
    "min) over the POST-AGG day series — bounded cardinality, never "
    "the fact table. Everything up to the output stays exact BIGINT "
    "(deviations scaled by n to avoid fractional means), the alarm is "
    "the integer cross-multiplication 10·C > n·T, and ONE double "
    "division renders the excursion per day.",
)
def stat_cusum_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # time-series contract (r12 variant sweep): unknown-date rows excluded
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("x")
    )
    wt = Window.partitionBy()
    wr = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dev = daily.select(
        "d",
        "x",
        F.count("*").over(wt).alias("n"),
        F.sum("x").over(wt).alias("t"),
    ).withColumn("s", F.sum(F.col("n") * F.col("x") - F.col("t")).over(wr))
    # S_0 = 0 belongs in the running minimum (C_t = S_t - min_{0<=i<=t} S_i):
    # floor the min at zero so a series starting above its mean still reports
    # the full excursion.
    cus = dev.withColumn(
        "c", F.col("s") - F.least(F.min("s").over(wr), F.lit(0))
    )
    return cus.select(
        "d",
        "x",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("cusum_units"),
        (10 * F.col("c") > F.col("n") * F.col("t")).alias("alarm"),
    ).orderBy("d")


@register(
    "li_basket_type_lift",
    oracle="""
        WITH ot AS (
            SELECT DISTINCT l.l_orderkey, p.p_type
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ot),
        tc AS (SELECT p_type, COUNT(*) AS c FROM ot GROUP BY p_type),
        pairs AS (
            SELECT a.p_type AS type_a, b.p_type AS type_b, COUNT(*) AS cab
            FROM ot a JOIN ot b ON a.l_orderkey = b.l_orderkey
                                AND a.p_type < b.p_type
            GROUP BY 1, 2
        )
        SELECT p.type_a, p.type_b, p.cab,
               CAST(p.cab AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
                   / (CAST(ta.c AS DOUBLE) * CAST(tb.c AS DOUBLE)) AS lift
        FROM pairs p
        JOIN tc ta ON p.type_a = ta.p_type
        JOIN tc tb ON p.type_b = tb.p_type
        CROSS JOIN n
        ORDER BY type_a, type_b
    """,
    doc="Market-basket lift between part types: lift = "
    "P(A,B)/(P(A)·P(B)) over order baskets — >1 means the types are "
    "bought together more than independence predicts (the association "
    "statistic behind cross-sell rules; the retail cousin of PMI, which "
    "measures the same quantity over adjacent tokens). Shape: one "
    "distinct (order, type) projection — the per-order type set is "
    "bounded by the 6-value type dimension, so the within-order "
    "self-join fans out at most C(6,2) pairs per order — then "
    "partial-aggregated pair counts and two broadcast-scale joins "
    "against the 6-row type-count table. Counts exact; lift is one "
    "fixed-sequence double expression.",
)
def li_basket_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    ot = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_type")
        .distinct()
        .transform(pin)  # scan-budget: lineitem and part scanned 5 times without it
    )
    n = ot.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    tc = ot.groupBy("p_type").agg(F.count("*").alias("c"))
    a = ot.select(F.col("l_orderkey"), F.col("p_type").alias("type_a"))
    b = ot.select(F.col("l_orderkey").alias("_ok"), F.col("p_type").alias("type_b"))
    pairs = (
        a.join(b, (a.l_orderkey == b._ok) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("cab"))
    )
    ta = tc.select(F.col("p_type").alias("type_a"), F.col("c").alias("_ca"))
    tb = tc.select(F.col("p_type").alias("type_b"), F.col("c").alias("_cb"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .join(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "cab",
            (
                F.col("cab").cast("double") * F.col("n_orders").cast("double")
                / (F.col("_ca").cast("double") * F.col("_cb").cast("double"))
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "stat_runs_test_daily_revenue",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS x
            FROM orders GROUP BY 1
        ),
        med AS (
            SELECT CAST(ROUND(quantile_cont(CAST(x AS DOUBLE), 0.5) * 2)
                        AS BIGINT) AS med2
            FROM daily
        ),
        signs AS (
            SELECT d, 2 * x > med2 AS up
            FROM daily, med
            WHERE 2 * x <> med2
        ),
        runs AS (
            SELECT up,
                   CASE WHEN up = LAG(up) OVER (ORDER BY d) THEN 0 ELSE 1 END
                       AS brk
            FROM signs
        ),
        m AS (
            SELECT COUNT(*) FILTER (up) AS n1,
                   COUNT(*) FILTER (NOT up) AS n2,
                   COALESCE(SUM(brk), 1) AS r
            FROM runs
        )
        SELECT n1, n2, CAST(r AS BIGINT) AS n_runs,
               (CAST(r AS DOUBLE)
                - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   / CAST(n1 + n2 AS DOUBLE) + 1.0))
               / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                         - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                         * (CAST(n1 + n2 AS DOUBLE) - 1.0))) AS z
        FROM m
    """,
    doc="Wald-Wolfowitz runs test on daily revenue around its median — "
    "the randomness check behind 'is this series trending or i.i.d.' "
    "(too few runs = momentum/regime, too many = oscillation). "
    "Determinism: the median comparison is the integer 2·x vs "
    "round(2·median) (quantile_cont's midpoint interpolation is a "
    "half-integer — doubling keeps it integral and both engines round "
    "the same double), exact-median days drop per the classical test, "
    "runs count from one ordered lag over the bounded day series, and "
    "the z closed form is a fixed double sequence on exact integer "
    "counts. The first run's NULL lag counts via the COALESCE floor.",
)
def stat_runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("x")
    )
    med2 = daily.agg(
        F.round(F.expr("percentile(CAST(x AS DOUBLE), 0.5)") * 2)
        .cast("long")
        .alias("med2")
    )
    signs = (
        daily.join(F.broadcast(med2))
        .filter(2 * F.col("x") != F.col("med2"))
        .select("d", (2 * F.col("x") > F.col("med2")).alias("up"))
    )
    w = Window.orderBy("d")
    runs = signs.select(
        "up",
        F.when(F.col("up") == F.lag("up").over(w), F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk"),
    )
    m = runs.agg(
        F.count(F.when(F.col("up"), 1)).alias("n1"),
        F.count(F.when(~F.col("up"), 1)).alias("n2"),
        F.coalesce(F.sum("brk"), F.lit(1)).alias("r"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    rd = F.col("r").cast("double")
    mu = F.lit(2.0) * n1d * n2d / nd + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n1d
        * n2d
        * (F.lit(2.0) * n1d * n2d - n1d - n2d)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    return m.select(
        "n1", "n2", F.col("r").alias("n_runs"), ((rd - mu) / F.sqrt(var)).alias("z")
    )


@register(
    "wh_orders_checksum",
    oracle="""
        WITH canon AS (
            SELECT COALESCE(CAST(o_orderkey AS VARCHAR), '<null>') || '|' ||
                   COALESCE(CAST(o_custkey AS VARCHAR), '<null>') || '|' ||
                   COALESCE(o_orderstatus, '<null>') || '|' ||
                   COALESCE(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR),
                            '<null>') || '|' ||
                   COALESCE(strftime(o_orderdate, '%Y-%m-%d'), '<null>') || '|' ||
                   COALESCE(o_orderpriority, '<null>') AS row_str
            FROM orders
        )
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(('0x' || substr(md5(row_str), 1, 10))::BIGINT)
                    AS BIGINT) AS checksum,
               MIN(('0x' || substr(md5(row_str), 1, 10))::BIGINT) AS min_row_hash,
               MAX(('0x' || substr(md5(row_str), 1, 10))::BIGINT) AS max_row_hash
        FROM canon
    """,
    doc="Order-independent table checksum of orders — the cross-replica "
    "integrity primitive behind CDC validation and migration sign-off "
    "(two copies match iff n_rows and the commutative hash-sum match; "
    "row order, partitioning, and file layout all drop out). Each row "
    "canonicalizes through ENGINE-STABLE renderings (DECIMAL(15,2) for "
    "the price, ISO date — the dq_profile stringification rules) before "
    "md5; the 40-bit hash prefix sums in BIGINT with ~2^23 rows of "
    "headroom per 2^63 (at larger scale, accumulate per-partition mod a "
    "prime). One aggregation pass, map-side combined, no shuffle beyond "
    "the final 1-row reduce.",
)
def wh_orders_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # Null fields render as an EXPLICIT token: concat_ws silently SKIPS
    # nulls (collapsing the field count — "a||b" vs "ab" ambiguity) and
    # SQL `||` nulls the whole row string (dropping the row from the
    # hash-sum while n_rows still counts it). Both are checksum bugs the
    # r12 variant sweep caught; a null-faithful canonicalization must
    # distinguish null from empty and keep every row hashable.
    nul = F.lit("<null>")
    row_str = F.concat_ws(
        "|",
        F.coalesce(F.col("o_orderkey").cast("string"), nul),
        F.coalesce(F.col("o_custkey").cast("string"), nul),
        F.coalesce(F.col("o_orderstatus"), nul),
        F.coalesce(F.col("o_totalprice").cast("decimal(15,2)").cast("string"), nul),
        F.coalesce(F.date_format("o_orderdate", "yyyy-MM-dd"), nul),
        F.coalesce(F.col("o_orderpriority"), nul),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 10), 16, 10).cast("long")
    return o.select(h.alias("h")).agg(
        F.count("*").alias("n_rows"),
        F.sum("h").alias("checksum"),
        F.min("h").alias("min_row_hash"),
        F.max("h").alias("max_row_hash"),
    )


@register(
    "ev_error_rate_pchart",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d,
                   COUNT(*) AS n,
                   COUNT(*) FILTER (event_type = 'error') AS errs
            FROM events GROUP BY 1
        ),
        tot AS (SELECT SUM(n) AS tn, SUM(errs) AS te FROM daily)
        SELECT d.d, d.n, d.errs,
               CAST(d.errs AS DOUBLE) / CAST(d.n AS DOUBLE) AS p_day,
               CAST(t.te AS DOUBLE) / CAST(t.tn AS DOUBLE) AS p_bar,
               (CAST(d.errs AS DOUBLE) * CAST(t.tn AS DOUBLE)
                - CAST(d.n AS DOUBLE) * CAST(t.te AS DOUBLE))
               * (CAST(d.errs AS DOUBLE) * CAST(t.tn AS DOUBLE)
                  - CAST(d.n AS DOUBLE) * CAST(t.te AS DOUBLE))
               > 9.0 * CAST(t.te AS DOUBLE)
                 * (CAST(t.tn AS DOUBLE) - CAST(t.te AS DOUBLE))
                 * CAST(d.n AS DOUBLE)
                   AS out_of_control
        FROM daily d CROSS JOIN tot t
        ORDER BY d.d
    """,
    doc="Attribute control chart (p-chart) for the daily error rate — "
    "the SPC monitor that flags days whose defect proportion exceeds "
    "3σ binomial limits around the grand rate p̄. The out-of-control "
    "test is algebraically cleared of divisions and the sqrt: "
    "(e·N − n·E)² > 9·E·(N−E)·n (square |e/n − E/N| > 3·√(p̄(1−p̄)/n), "
    "then multiply through by n²·N²; the N² cancels against "
    "p̄(1−p̄) = E(N−E)/N²), so it runs as "
    "a fixed product-comparison on exact-int-derived doubles — no "
    "rounding, no per-row sqrt, identical bits cross-engine. One keyed "
    "day rollup plus a 1-row grand-total broadcast.",
)
def ev_error_rate_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("errs"),
    )
    tot = daily.agg(F.sum("n").alias("tn"), F.sum("errs").alias("te"))
    ed, nd = F.col("errs").cast("double"), F.col("n").cast("double")
    tnd, ted = F.col("tn").cast("double"), F.col("te").cast("double")
    dev = ed * tnd - nd * ted
    return (
        daily.join(F.broadcast(tot))
        .select(
            "d",
            "n",
            "errs",
            (ed / nd).alias("p_day"),
            (ted / tnd).alias("p_bar"),
            (dev * dev > F.lit(9.0) * ted * (tnd - ted) * nd).alias(
                "out_of_control"
            ),
        )
        .orderBy("d")
    )


@register(
    "stat_mannwhitney_price_by_status",
    oracle="""
        WITH v AS (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                   COUNT(*) FILTER (o_orderstatus = 'O') AS c1,
                   COUNT(*) FILTER (o_orderstatus = 'F') AS c2
            FROM orders WHERE o_orderstatus IN ('O', 'F')
              AND o_totalprice IS NOT NULL
            GROUP BY cents
        ),
        r AS (
            SELECT c1, c2, c1 + c2 AS m,
                   COALESCE(SUM(c1 + c2) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_prev
            FROM v
        ),
        m AS (
            SELECT SUM(c1) AS n1, SUM(c2) AS n2,
                   SUM(c1 * (2 * cum_prev + m + 1)) AS r1d,
                   SUM(m * m * m - m) AS ties
            FROM r
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               CAST(r1d - n1 * (n1 + 1) AS DOUBLE) / CAST(2 AS DOUBLE) AS u1,
               (CAST(r1d - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
               / (CAST(2 AS DOUBLE) * sqrt(
                   CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(12 AS DOUBLE)
                   * (CAST(n1 + n2 + 1 AS DOUBLE)
                      - CAST(ties AS DOUBLE)
                        / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))))
                   AS z
        FROM m
    """,
    doc="Mann-Whitney U rank-sum test (open vs filled order totals) — "
    "the nonparametric location test completing the family (KS = shape, "
    "Welch = means, runs = randomness, this = stochastic dominance). "
    "Exactness: pooled ranking runs over DISTINCT integer cents with "
    "per-value group counts; tied ranks average to halves, so DOUBLED "
    "rank sums stay integral — R1·2 = Σc1·(2·cum_prev + m + 1) is an "
    "exact BIGINT (one ordered cumulative window over the distinct-value "
    "grid, the KS shape), as is the tie-correction Σ(m³−m). The z "
    "closed form (normal approximation with tie-corrected variance) is "
    "a fixed double sequence on those integers. U reported at half "
    "units via one exact division.",
)
def stat_mannwhitney_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # sample = PRICED orders (missing measurements excluded both sides —
    # r12 variant sweep; same contract as stat_ks)
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F") & F.col("o_totalprice").isNotNull()
    )
    v = o.groupBy(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    ).agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("c1"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("c2"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    r = v.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("m"),
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0)).alias(
            "cum_prev"
        ),
    )
    m = r.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cum_prev") + F.col("m") + 1)).alias("r1d"),
        F.sum(F.col("m") * F.col("m") * F.col("m") - F.col("m")).alias("ties"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u1d = (F.col("r1d") - F.col("n1") * (F.col("n1") + 1)).cast("double")
    var = (
        n1d
        * n2d
        / F.lit(12).cast("double")
        * (
            (F.col("n1") + F.col("n2") + 1).cast("double")
            - F.col("ties").cast("double") / (nd * (nd - F.lit(1.0)))
        )
    )
    return m.select(
        "n1",
        "n2",
        (u1d / F.lit(2).cast("double")).alias("u1"),
        ((u1d - n1d * n2d) / (F.lit(2).cast("double") * F.sqrt(var))).alias("z"),
    )


# ----------------------- churn hazard (survival input) ---------------------

_CHURN_CENSOR_S = 7 * 86400  # active within the last 7 days == censored


@register(
    "ev_churn_hazard_table",
    oracle=f"""
        WITH u AS (
            SELECT user_id,
                   CAST(floor(epoch(MIN(ts))) AS BIGINT) AS f,
                   CAST(floor(epoch(MAX(ts))) AS BIGINT) AS l
            FROM events GROUP BY user_id
        ),
        mx AS (SELECT MAX(l) AS m FROM u),
        lif AS (
            SELECT (l - f) // 86400 AS t_days,
                   CAST(m - l >= {_CHURN_CENSOR_S} AS INTEGER) AS churned
            FROM u CROSS JOIN mx
        ),
        g AS (
            SELECT t_days, COUNT(*) AS n_ending,
                   CAST(SUM(churned) AS BIGINT) AS n_churned
            FROM lif GROUP BY t_days
        )
        SELECT t_days,
               CAST(SUM(n_ending) OVER (ORDER BY t_days DESC) AS BIGINT)
                   AS n_at_risk,
               n_churned,
               CAST(n_churned AS DOUBLE)
                   / CAST(SUM(n_ending) OVER (ORDER BY t_days DESC) AS DOUBLE)
                   AS hazard
        FROM g ORDER BY t_days
    """,
    doc="Discrete churn HAZARD table — the exact Kaplan-Meier input for "
    "user-lifetime survival analysis: per observed lifetime t (days "
    "between a user's first and last event), how many users were still "
    "at risk at t (reverse-cumulative count over the lifetime grid) and "
    "how many churned exactly at t — users active within the final "
    f"{_CHURN_CENSOR_S // 86400} days of the corpus are CENSORED "
    "(their lifetime ends the observation, not the user). The KM "
    "survival curve is a cumulative product of (1 - hazard): emitted "
    "here as the exact ingredient table because exp/ln cross-engine "
    "drift would poison a hash gate, while at_risk/churned counts and "
    "the single per-row division are bit-deterministic. Shape: one "
    "user_id rollup (map-side combined), a 1-row max broadcast, then "
    "windows over the bounded lifetime-day grid — never event rows.",
)
def ev_churn_hazard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("long")).alias("f"),
        F.max(F.col("ts").cast("long")).alias("l"),
    )
    mx = u.agg(F.max("l").alias("m"))
    lif = u.join(F.broadcast(mx)).select(
        # exact integer floor-div, bit-for-bit with the oracle's `//`
        # (double division then truncation would route an integer
        # quantity through IEEE float for no reason)
        F.expr("(l - f) div 86400").alias("t_days"),
        (F.col("m") - F.col("l") >= _CHURN_CENSOR_S).cast("int").alias("churned"),
    )
    g = lif.groupBy("t_days").agg(
        F.count("*").alias("n_ending"), F.sum("churned").alias("n_churned")
    )
    w = Window.orderBy(F.desc("t_days")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.select(
            "t_days",
            F.sum("n_ending").over(w).alias("n_at_risk"),
            "n_churned",
        )
        .select(
            "t_days",
            "n_at_risk",
            "n_churned",
            (
                F.col("n_churned").cast("double")
                / F.col("n_at_risk").cast("double")
            ).alias("hazard"),
        )
        .orderBy("t_days")
    )


@register(
    "trend_locf_daily_price",
    oracle="""
        WITH daily AS (
            SELECT o_orderpriority AS priority,
                   CAST(o_orderdate AS DATE) AS d,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM orders GROUP BY 1, 2
        ),
        b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
        grid AS (
            SELECT p.priority, CAST(t.gd AS DATE) AS d
            FROM (SELECT DISTINCT priority FROM daily) p
            CROSS JOIN b,
                 UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS t(gd)
        ),
        j AS (
            SELECT g.priority, g.d, daily.s, daily.n
            FROM grid g LEFT JOIN daily
              ON g.priority = daily.priority AND g.d = daily.d
        ),
        f AS (
            SELECT priority, d, s IS NULL AS was_filled,
                   last_value(s IGNORE NULLS)
                       OVER (PARTITION BY priority ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS fs,
                   last_value(n IGNORE NULLS)
                       OVER (PARTITION BY priority ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS fn
            FROM j
        )
        SELECT priority, strftime(d, '%Y-%m-%d') AS day, was_filled,
               CAST(fs AS DOUBLE) / CAST(fn AS DOUBLE) / 100.0
                   AS mean_price
        FROM f WHERE fs IS NOT NULL
        ORDER BY priority, day
    """,
    doc="Last-observation-carried-forward imputation (LOCF) — the "
    "time-series gap-fill every monitoring/feature pipeline needs when "
    "a day has no observations: the full calendar × priority grid left-"
    "joins the daily rollup and missing days inherit the PREVIOUS day's "
    "value via last(ignorenulls) over an ordered per-priority frame. "
    "Exactness trick: the carried value is not the float mean but the "
    "exact integer (cents-sum, count) PAIR — both carried forward "
    "independently, divided once at output — so filled rows are "
    "bit-identical to their source rows on both engines. Leading days "
    "before a priority's first observation drop (nothing to carry). "
    "Shape: one daily rollup, a bounded calendar fan-out, one keyed "
    "ordered window over the day grid — never event rows; was_filled "
    "flags imputed rows for downstream honesty.",
)
def trend_locf_daily_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s"),
        F.count("*").alias("n"),
    )
    b = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    grid = (
        daily.select("priority")
        .distinct()
        .crossJoin(F.broadcast(b))
        .select(
            "priority",
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d"),
        )
    )
    j = grid.join(daily, ["priority", "d"], "left")
    w = (
        Window.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = j.select(
        "priority",
        "d",
        F.col("s").isNull().alias("was_filled"),
        F.last("s", ignorenulls=True).over(w).alias("fs"),
        F.last("n", ignorenulls=True).over(w).alias("fn"),
    )
    return (
        f.filter(F.col("fs").isNotNull())
        .select(
            "priority",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "was_filled",
            (
                F.col("fs").cast("double") / F.col("fn").cast("double")
                / F.lit(100.0)
            ).alias("mean_price"),
        )
        .orderBy("priority", "day")
    )


@register(
    "stat_spearman_chars_value",
    oracle="""
        WITH base AS (
            SELECT CAST(n_chars AS BIGINT) AS x,
                   CAST(doc_id % 97 AS BIGINT) AS y
            FROM documents
        ),
        rx AS (
            SELECT x, COUNT(*) AS c FROM base GROUP BY x
        ),
        rx2 AS (
            SELECT x,
                   2 * (COALESCE(SUM(c) OVER (ORDER BY x
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0)) + c + 1 AS r2
            FROM rx
        ),
        ry AS (SELECT y, COUNT(*) AS c FROM base GROUP BY y),
        ry2 AS (
            SELECT y,
                   2 * (COALESCE(SUM(c) OVER (ORDER BY y
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0)) + c + 1 AS r2
            FROM ry
        ),
        ranked AS (
            SELECT rx2.r2 AS u, ry2.r2 AS v
            FROM base JOIN rx2 USING (x) JOIN ry2 USING (y)
        ),
        m AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(u) AS HUGEINT) AS su,
                   CAST(SUM(v) AS HUGEINT) AS sv,
                   CAST(SUM(u * v) AS HUGEINT) AS suv,
                   CAST(SUM(u * u) AS HUGEINT) AS suu,
                   CAST(SUM(v * v) AS HUGEINT) AS svv
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(n * suv - su * sv AS DOUBLE)
                   / sqrt(CAST(n * suu - su * su AS DOUBLE)
                          * CAST(n * svv - sv * sv AS DOUBLE))
                   AS spearman_rho
        FROM m
    """,
    doc="Spearman rank correlation — the rank-based (monotone, outlier-"
    "robust) complement of stat_corr's Pearson, here between document "
    "length and a derived value column: Pearson computed ON THE RANKS, "
    "with ties taking the classical AVERAGE rank. Exactness trick: the "
    "average rank of a tie group, (first + last)/2, is a half-integer — "
    "DOUBLING it (r2 = 2·offset + count + 1) keeps every rank an exact "
    "BIGINT, and Pearson is scale-invariant, so rho over the doubled "
    "ranks equals rho over the true ranks with all moment sums exact "
    "integers and ONE closed-form double at the end. Shape: two value-"
    "keyed count rollups, cumulative windows over the bounded distinct-"
    "value grids (never the row stream), two joins back, one 1-row "
    "moment reduce. Overflow posture: with doubled ranks ~2n, the "
    "closed-form products n·Σu² ≈ 1.33·n⁴ outgrow BIGINT already near "
    "n ≈ 5·10⁴ rows, so the combine runs in 128-bit-exact arithmetic on "
    "BOTH engines — DECIMAL(38,0) moments here, HUGEINT in the oracle — "
    "exact to n ≈ 4·10⁹ rows, with one identical cast to double at the "
    "end (double-before-multiply would silently diverge past 2⁵³).",
)
def stat_spearman_chars_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        F.col("n_chars").cast("long").alias("x"),
        (F.col("doc_id") % 97).cast("long").alias("y"),
    )

    def doubled_ranks(col: str):
        counts = base.groupBy(col).agg(F.count("*").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return counts.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).alias("r2"),
        )

    rx = doubled_ranks("x").withColumnRenamed("r2", "u")
    ry = doubled_ranks("y").withColumnRenamed("r2", "v")
    ranked = base.join(rx, "x").join(ry, "y")
    # 128-bit-exact combine: the BIGINT moment sums are promoted to
    # DECIMAL(38,0) BEFORE the closed-form products (n·Σu² ≈ 1.33·n⁴
    # overflows int64 near n ≈ 5e4 rows; decimal keeps it exact to
    # n ≈ 4e9, matching the oracle's HUGEINT bit-for-bit).
    dec = "decimal(38,0)"
    m = ranked.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("u").cast(dec).alias("su"),
        F.sum("v").cast(dec).alias("sv"),
        F.sum(F.col("u") * F.col("v")).cast(dec).alias("suv"),
        F.sum(F.col("u") * F.col("u")).cast(dec).alias("suu"),
        F.sum(F.col("v") * F.col("v")).cast(dec).alias("svv"),
    )
    num = F.col("n") * F.col("suv") - F.col("su") * F.col("sv")
    dx = F.col("n") * F.col("suu") - F.col("su") * F.col("su")
    dy = F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")
    return m.select(
        F.col("n").cast("long").alias("n"),
        (
            num.cast("double")
            / F.sqrt(dx.cast("double") * dy.cast("double"))
        ).alias("spearman_rho"),
    )


# --------------------------- HyperLogLog sketch ----------------------------

_HLL_M = 64  # buckets (p = 6 prefix bits)
#: alpha_m * m^2 * 2^55 — the full estimator numerator, precomputed in
#: Python and injected as ONE literal on both engines (alpha involves a
#: division; computing it engine-side would risk libm/order drift)
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_C = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 55)


@register(
    "stat_hll_distinct_custkeys",
    oracle=f"""
        WITH h AS (
            SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                       AS hv
            FROM orders
        ),
        rho AS (
            SELECT hv % {_HLL_M} AS bucket,
                   CASE WHEN hv // {_HLL_M} = 0 THEN 55
                        ELSE 55 - length(bin(hv // {_HLL_M})) END AS r
            FROM h
        ),
        regs AS (
            SELECT t.b AS bucket, COALESCE(MAX(rho.r), 0) AS m_j
            FROM UNNEST(range({_HLL_M})) AS t(b)
            LEFT JOIN rho ON rho.bucket = t.b
            GROUP BY t.b
        ),
        s AS (
            SELECT CAST(SUM(1::BIGINT << (55 - m_j)) AS BIGINT) AS sum_scaled,
                   COUNT(CASE WHEN m_j = 0 THEN 1 END) AS n_zero_buckets
            FROM regs
        ),
        t AS (SELECT COUNT(DISTINCT o_custkey) AS true_distinct FROM orders)
        SELECT {_HLL_M} AS m, sum_scaled, n_zero_buckets, true_distinct,
               {_HLL_C!r} / CAST(sum_scaled AS DOUBLE) AS est_distinct,
               {_HLL_C!r} / CAST(sum_scaled AS DOUBLE)
                   / CAST(true_distinct AS DOUBLE) - 1.0 AS rel_err
        FROM s CROSS JOIN t
    """,
    doc=f"HyperLogLog distinct-count sketch over order custkeys (m="
    f"{_HLL_M} registers), the mergeable fixed-size counterpart of the "
    "KMV sketch (stat_kmv_distinct_custkeys) and the deterministic twin "
    "of Spark's approx_count_distinct: md5-hash each key to 60 uniform "
    "bits, bucket on the low 6, register = max leading-zero rank of the "
    "remaining 54. EXACT cross-engine algebra: every per-row quantity is "
    "an integer; the harmonic-mean denominator Σ2^-M_j is held as the "
    "SCALED integer Σ2^(55-M_j) (≤ 64·2^55, fits BIGINT), and the "
    "estimator constant α·m²·2^55 is ONE Python-precomputed literal, so "
    "the estimate is a single identical IEEE division on both engines — "
    "a hash-gateable HLL, unlike the engine-native implementations whose "
    "sketch layout is private. Raw estimator only (no small-range linear-"
    "counting branch: it needs ln at runtime — libm drift; the reported "
    "n_zero_buckets is exactly the signal a consumer needs to decide the "
    "correction applies). Plan: one scan → 64-row register rollup "
    "(partial max before the shuffle); the register table is the ENTIRE "
    "state at any scale — union-mergeable across partitions, streams, "
    "or days, which is why HLL is the 100 TB distinct-count workhorse.",
)
def stat_hll_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    hv = (
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv")
    )
    rho = orders.select(hv).select(
        F.pmod(F.col("hv"), F.lit(_HLL_M)).alias("bucket"),
        F.when(F.expr(f"hv div {_HLL_M}") == 0, F.lit(55))
        .otherwise(F.lit(55) - F.length(F.conv(F.expr(f"hv div {_HLL_M}"), 10, 2)))
        .alias("r"),
    )
    regs = (
        spark.range(_HLL_M)
        .withColumnRenamed("id", "bucket")
        .join(rho.groupBy("bucket").agg(F.max("r").alias("mx")), "bucket", "left")
        .select(F.coalesce(F.col("mx"), F.lit(0)).alias("m_j"))
    )
    s = regs.agg(
        F.sum(F.expr("shiftleft(1L, 55 - m_j)")).alias("sum_scaled"),
        F.count(F.when(F.col("m_j") == 0, 1)).alias("n_zero_buckets"),
    )
    t = orders.agg(F.count_distinct("o_custkey").alias("true_distinct"))
    est = F.lit(_HLL_C) / F.col("sum_scaled").cast("double")
    return s.crossJoin(t).select(
        F.lit(_HLL_M).alias("m"),
        "sum_scaled",
        "n_zero_buckets",
        "true_distinct",
        est.alias("est_distinct"),
        (est / F.col("true_distinct").cast("double") - F.lit(1.0)).alias("rel_err"),
    )


# ------------------------- Mann–Kendall trend test -------------------------


@register(
    "stat_mann_kendall_daily_revenue",
    oracle="""
        WITH d AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS c
            FROM orders GROUP BY day
        ),
        s AS (
            SELECT CAST(SUM(CASE WHEN b.c > a.c THEN 1
                                 WHEN b.c < a.c THEN -1 ELSE 0 END)
                        AS BIGINT) AS s_stat
            FROM d a JOIN d b ON a.day < b.day
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
        ties AS (
            SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
                       AS tie_term
            FROM (SELECT COUNT(*) AS t FROM d GROUP BY c HAVING COUNT(*) > 1)
        ),
        v AS (
            SELECT (n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term) AS var18
            FROM n CROSS JOIN ties
        )
        SELECT n.n AS n_days, s.s_stat, v.var18,
               CASE WHEN s.s_stat > 0 THEN
                        CAST(s.s_stat - 1 AS DOUBLE)
                            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    WHEN s.s_stat < 0 THEN
                        CAST(s.s_stat + 1 AS DOUBLE)
                            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    ELSE 0.0 END AS z_score
        FROM s CROSS JOIN n CROSS JOIN v
    """,
    doc="Mann–Kendall monotone-trend test over daily revenue — the "
    "nonparametric is-this-series-drifting check (no normality or "
    "linearity assumption; the robust complement of stat_ols and "
    "stat_cusum): S = Σ sign-comparisons over all day pairs, the "
    "tie-corrected variance, and the continuity-corrected z. The day "
    "grain makes the pair self-join CALENDAR-bounded (n≈2.4k days → "
    "~6M sign comparisons regardless of fact-table size), so the "
    "quadratic lives on a frame that does not grow with the data — the "
    "same bounded-grid argument as the ECDF/runs tests. S, the tie "
    "term, and 18·Var are exact integers; z is a fixed sequence of "
    "IEEE ops identical on both engines.",
)
def stat_mann_kendall_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c")
    ).transform(pin)  # scan-budget: orders scanned 4 times without it
    a = d.select(F.col("day").alias("day_a"), F.col("c").alias("c_a"))
    b = d.select(F.col("day").alias("day_b"), F.col("c").alias("c_b"))
    s = (
        a.join(b, F.col("day_a") < F.col("day_b"))
        .agg(
            F.sum(
                F.when(F.col("c_b") > F.col("c_a"), 1)
                .when(F.col("c_b") < F.col("c_a"), -1)
                .otherwise(0)
            ).cast("long").alias("s_stat")
        )
    )
    n = d.agg(F.count("*").cast("long").alias("n"))
    ties = (
        d.groupBy("c")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).cast("long").alias("tie_term")
        )
    )
    j = s.crossJoin(n).crossJoin(ties).select(
        "n",
        "s_stat",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_term")
        ).alias("var18"),
    )
    sd = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    return j.select(
        F.col("n").alias("n_days"),
        "s_stat",
        "var18",
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double") / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
        .alias("z_score"),
    )


@register(
    "stat_cohens_d_price_by_status",
    oracle="""
        WITH m AS (
            SELECT o_orderstatus AS st,
                   COUNT(*) AS n,
                   SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS sx,
                   SUM(CAST(ROUND(o_totalprice) AS BIGINT)
                       * CAST(ROUND(o_totalprice) AS BIGINT)) AS sxx
            FROM orders WHERE o_orderstatus IN ('O', 'F')
            GROUP BY o_orderstatus
        ),
        w AS (
            SELECT
                MAX(CASE WHEN st = 'O' THEN n END) AS n1,
                MAX(CASE WHEN st = 'F' THEN n END) AS n2,
                MAX(CASE WHEN st = 'O' THEN sx END) AS sx1,
                MAX(CASE WHEN st = 'F' THEN sx END) AS sx2,
                MAX(CASE WHEN st = 'O' THEN sxx END) AS sxx1,
                MAX(CASE WHEN st = 'F' THEN sxx END) AS sxx2
            FROM m
        )
        SELECT n1 AS n_open, n2 AS n_filled,
               (CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2)
                   / sqrt((CAST(CAST(n1 AS HUGEINT) * sxx1
                                - CAST(sx1 AS HUGEINT) * sx1 AS DOUBLE) / n1
                           + CAST(CAST(n2 AS HUGEINT) * sxx2
                                  - CAST(sx2 AS HUGEINT) * sx2 AS DOUBLE) / n2)
                          / (n1 + n2 - 2)) AS cohens_d,
               ((CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2)
                   / sqrt((CAST(CAST(n1 AS HUGEINT) * sxx1
                                - CAST(sx1 AS HUGEINT) * sx1 AS DOUBLE) / n1
                           + CAST(CAST(n2 AS HUGEINT) * sxx2
                                  - CAST(sx2 AS HUGEINT) * sx2 AS DOUBLE) / n2)
                          / (n1 + n2 - 2)) )
                   * (1.0 - 3.0 / (4.0 * (n1 + n2 - 2) - 1.0)) AS hedges_g
        FROM w
    """,
    doc="Cohen's d (pooled-SD standardized mean difference) with the "
    "Hedges' g small-sample correction — the EFFECT-SIZE companion of "
    "stat_welch_t (a t-statistic says whether a difference exists; d "
    "says whether it's big enough to matter, the number an experiment "
    "readout should lead with). Same distributed shape as the t-test: "
    "per-group exact BIGINT raw moments in one pass, a 2-row pivot, and "
    "one fixed IEEE sequence — the pooled variance numerators n·Σx²−"
    "(Σx)² stay exact integers (dollar-rounded so squares fit int64, "
    "the Welch convention here). g's correction factor is pure "
    "arithmetic of exact counts.",
)
def stat_cohens_d_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    x = F.round(F.col("o_totalprice")).cast("long")
    m = (
        orders.filter(F.col("o_orderstatus").isin("O", "F"))
        .groupBy(F.col("o_orderstatus").alias("st"))
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sxx"),
        )
    )
    w = m.agg(
        F.max(F.when(F.col("st") == "O", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("st") == "F", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("st") == "O", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("st") == "F", F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("st") == "O", F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("st") == "F", F.col("sxx"))).alias("sxx2"),
    )
    mean_diff = (
        F.col("sx1").cast("double") / F.col("n1")
        - F.col("sx2").cast("double") / F.col("n2")
    )
    pooled = F.sqrt(
        (
            (
                F.col("n1").cast(_D38) * F.col("sxx1")
                - F.col("sx1").cast(_D38) * F.col("sx1")
            ).cast("double")
            / F.col("n1")
            + (
                F.col("n2").cast(_D38) * F.col("sxx2")
                - F.col("sx2").cast(_D38) * F.col("sx2")
            ).cast("double")
            / F.col("n2")
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = mean_diff / pooled
    g = d * (
        F.lit(1.0)
        - F.lit(3.0) / (F.lit(4.0) * (F.col("n1") + F.col("n2") - 2) - F.lit(1.0))
    )
    return w.select(
        F.col("n1").alias("n_open"),
        F.col("n2").alias("n_filled"),
        d.alias("cohens_d"),
        g.alias("hedges_g"),
    )


@register(
    "stat_theilsen_monthly_revenue",
    oracle="""
        WITH m AS MATERIALIZED (
            SELECT EXTRACT(year FROM o_orderdate) * 12
                       + EXTRACT(month FROM o_orderdate) AS t,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS c
            FROM orders GROUP BY t
        ),
        p AS (
            SELECT a.t AS t1, b.t AS t2,
                   (b.c - a.c) * 1000000 AS num, (b.t - a.t) AS den
            FROM m a JOIN m b ON a.t < b.t
        ),
        sl AS (
            SELECT t1, t2,
                   (num - (((num % den) + den) % den)) / den AS slope_micro
            FROM p
        ),
        r AS (
            SELECT slope_micro,
                   ROW_NUMBER() OVER (ORDER BY slope_micro, t1, t2) AS rn,
                   COUNT(*) OVER () AS n_pairs
            FROM sl
        )
        SELECT (SELECT COUNT(*) FROM m) AS n_months,
               n_pairs,
               CAST(slope_micro AS BIGINT) AS median_slope_micro,
               CAST(slope_micro AS DOUBLE) / 1000000.0
                   AS slope_cents_per_month
        FROM r WHERE rn = (n_pairs + 1) // 2
    """,
    doc="Theil–Sen robust trend estimator over monthly revenue: the "
    "(lower) median of all pairwise slopes — the outlier-immune "
    "companion to stat_mann_kendall_daily_revenue (MK decides IF a "
    "monotone trend exists, Theil–Sen says HOW STEEP). Slopes are exact "
    "integers: cents×10⁶ FLOOR-divided by the month gap via the "
    "sign-safe identity (a − pmod(a,b))/b — Spark's `div` truncates "
    "toward zero while DuckDB's `//` floors, so neither engine's native "
    "operator is used on the (often negative) numerators. The pair grid "
    "is CALENDAR-bounded (~84 months → ~3.5k pairs regardless of data "
    "volume), so the single-partition median window is a constant-size "
    "reduce at any scale; the fact table contributes one month-keyed "
    "rollup.",
)
def stat_theilsen_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    m = (
        orders.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("t")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"))
    )
    a = m.select(F.col("t").alias("t1"), F.col("c").alias("c1"))
    b = m.select(F.col("t").alias("t2"), F.col("c").alias("c2"))
    num = (F.col("c2") - F.col("c1")) * 1000000
    den = F.col("t2") - F.col("t1")
    sl = (
        a.join(b, F.col("t1") < F.col("t2"))
        .select(
            "t1",
            "t2",
            ((num - F.pmod(num, den)) / den).cast("long").alias("slope_micro"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("slope_micro", "t1", "t2")
    ranked = sl.select(
        "slope_micro",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(
            Window.partitionBy()
        ).alias("n_pairs"),
    )
    # integer lower-median index: (n+1) div 2
    med = ranked.filter(F.expr("rn = (n_pairs + 1) div 2"))
    return med.crossJoin(m.agg(F.count("*").alias("n_months"))).select(
        "n_months",
        "n_pairs",
        F.col("slope_micro").alias("median_slope_micro"),
        (F.col("slope_micro").cast("double") / 1000000.0).alias(
            "slope_cents_per_month"
        ),
    )


@register(
    "stat_kendall_tau_revenue_orders",
    oracle="""
        WITH d AS MATERIALIZED (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS x,
                   COUNT(*) AS y
            FROM orders GROUP BY day
        ),
        p AS (
            SELECT CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END
                       AS conc,
                   CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END
                       AS disc,
                   CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
                   CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
            FROM d a JOIN d b ON a.day < b.day
        ),
        m AS (
            SELECT (SELECT COUNT(*) FROM d) AS n_days,
                   COUNT(*) AS n_pairs,
                   CAST(SUM(conc) AS BIGINT) AS concordant,
                   CAST(SUM(disc) AS BIGINT) AS discordant,
                   CAST(SUM(tx) AS BIGINT) AS tx_pairs,
                   CAST(SUM(ty) AS BIGINT) AS ty_pairs
            FROM p
        )
        SELECT n_days, n_pairs, concordant, discordant, tx_pairs, ty_pairs,
               CAST(concordant - discordant AS DOUBLE)
               / sqrt(CAST(n_pairs - tx_pairs AS DOUBLE)
                      * CAST(n_pairs - ty_pairs AS DOUBLE)) AS tau_b
        FROM m
    """,
    doc="Kendall's tau-b between daily revenue and daily order count — "
    "the tie-corrected rank association between volume and value "
    "(Mann-Kendall answers 'does revenue trend over TIME'; this "
    "answers 'do busier days earn proportionally more'). Concordant / "
    "discordant / tie counts are exact integers over the "
    "CALENDAR-bounded day-pair grid (~2.4k days → ~2.9M sign "
    "comparisons regardless of data volume — the "
    "stat_mann_kendall_daily_revenue argument); tau-b's closed form "
    "(C−D)/√((n₀−n₁)(n₀−n₂)) is one fixed IEEE sequence. The fact "
    "table contributes a single day-keyed rollup.",
)
def stat_kendall_tau_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    d = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"),
            F.count("*").alias("y"),
        )
    )
    a = d.select(F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    prod = (F.col("xb") - F.col("xa")) * (F.col("yb") - F.col("ya"))
    p = a.join(b, F.col("da") < F.col("db")).select(
        F.when(prod > 0, 1).otherwise(0).alias("conc"),
        F.when(prod < 0, 1).otherwise(0).alias("disc"),
        F.when(F.col("xa") == F.col("xb"), 1).otherwise(0).alias("tx"),
        F.when(F.col("ya") == F.col("yb"), 1).otherwise(0).alias("ty"),
    )
    m = p.agg(
        F.count("*").alias("n_pairs"),
        F.sum("conc").alias("concordant"),
        F.sum("disc").alias("discordant"),
        F.sum("tx").alias("tx_pairs"),
        F.sum("ty").alias("ty_pairs"),
    ).crossJoin(d.agg(F.count("*").alias("n_days")))
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        (F.col("n_pairs") - F.col("tx_pairs")).cast("double")
        * (F.col("n_pairs") - F.col("ty_pairs")).cast("double")
    )
    return m.select(
        "n_days", "n_pairs", "concordant", "discordant", "tx_pairs", "ty_pairs",
        tau.alias("tau_b"),
    )


@register(
    "ev_markov_3step_mass",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS dst,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS src
            FROM events
        ),
        pairs AS MATERIALIZED (
            SELECT src, dst, COUNT(*) AS n
            FROM seq WHERE src IS NOT NULL GROUP BY src, dst
        ),
        tot AS MATERIALIZED (
            SELECT src, CAST(SUM(n) AS BIGINT) AS n_src
            FROM pairs GROUP BY src
        ),
        p AS (SELECT pairs.src, pairs.dst, pairs.n, tot.n_src
              FROM pairs JOIN tot USING (src)),
        m0 AS (
            SELECT src AS event_type,
                   1000000000 // (SELECT COUNT(*) FROM tot) AS m
            FROM tot
        ),
        m1 AS MATERIALIZED (
            SELECT p.dst AS event_type,
                   CAST(SUM((m0.m * p.n) // p.n_src) AS BIGINT) AS m
            FROM m0 JOIN p ON m0.event_type = p.src GROUP BY p.dst
        ),
        m2 AS MATERIALIZED (
            SELECT p.dst AS event_type,
                   CAST(SUM((m1.m * p.n) // p.n_src) AS BIGINT) AS m
            FROM m1 JOIN p ON m1.event_type = p.src GROUP BY p.dst
        ),
        m3 AS (
            SELECT p.dst AS event_type,
                   CAST(SUM((m2.m * p.n) // p.n_src) AS BIGINT) AS m
            FROM m2 JOIN p ON m2.event_type = p.src GROUP BY p.dst
        )
        SELECT event_type, m AS mass_units,
               CAST(m AS DOUBLE) / 1000000000.0 AS mass_share
        FROM m3 ORDER BY event_type
    """,
    doc="Three-step Markov mass propagation — where does engagement "
    "concentrate after a few transitions: 10⁹ integer mass units start "
    "uniformly over the event types and redistribute three times "
    "through the empirical transition matrix, every per-edge flow an "
    "EXACT floor-divided integer (the graph_pagerank_3iter mass "
    "discipline — no float matrix powers, sub-unit truncation loss is "
    "deterministic and identical on both engines; all quantities "
    "non-negative so Spark div == DuckDB //). The fact table "
    "contributes ONE user-keyed lag window; the |types|² matrix and "
    "the 5-row mass vectors broadcast through three tiny joins.",
)
def ev_markov_3step_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("dst"),
        F.lag("event_type").over(w).alias("src"),
    ).filter(F.col("src").isNotNull())
    pairs = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    tot = Window.partitionBy("src")
    p = pairs.select(
        "src", "dst", "n", F.sum("n").over(tot).alias("n_src")
    ).transform(pin)  # scan-budget: events scanned 4 times without it
    m = p.select("src").distinct().select(
        F.col("src").alias("event_type"),
        F.expr(
            "1000000000L div count(*) over ()"
        ).alias("m"),
    )
    for _ in range(3):
        m = (
            m.join(F.broadcast(p), F.col("event_type") == F.col("src"))
            .groupBy("dst")
            .agg(F.sum(F.expr("(m * n) div n_src")).alias("m"))
            .withColumnRenamed("dst", "event_type")
        )
    return m.select(
        "event_type",
        F.col("m").alias("mass_units"),
        (F.col("m").cast("double") / 1000000000.0).alias("mass_share"),
    ).orderBy("event_type")


@register(
    "ev_session_duration_percentiles",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '10 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ), sessions AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
            FROM marked
        ), per_session AS (
            SELECT CAST(floor(epoch(MAX(ts))) AS BIGINT)
                       - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS dur_s
            FROM sessions GROUP BY user_id, sess
        ),
        grouped AS (
            SELECT dur_s AS v, COUNT(*) AS cnt FROM per_session GROUP BY v
        ),
        cum AS (
            SELECT v, cnt,
                   SUM(cnt) OVER (ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS c,
                   SUM(cnt) OVER () AS n
            FROM grouped
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_sessions,
               CAST(MIN(CASE WHEN c >= (n * 50 + 99) // 100 THEN v END)
                    AS BIGINT) AS p50_s,
               CAST(MIN(CASE WHEN c >= (n * 90 + 99) // 100 THEN v END)
                    AS BIGINT) AS p90_s,
               CAST(MIN(CASE WHEN c >= (n * 99 + 99) // 100 THEN v END)
                    AS BIGINT) AS p99_s,
               CAST(MAX(v) AS BIGINT) AS max_s
        FROM cum
    """,
    doc="Exact nearest-rank session-duration percentiles (p50/p90/p99/max "
    "in whole seconds) — the engagement-depth readout behind session "
    "timeout tuning, computed WITHOUT approx_percentile so it "
    "hash-gates: durations roll up by VALUE first (cardinality bounded "
    "by the longest session span, not by data volume), the cumulative "
    "ordering runs over that bounded frame, and each percentile is the "
    "smallest value whose cumulative count reaches ceil(p·n/100) — "
    "all-integer selection, partitioning-independent. One session "
    "shuffle + one value rollup; the single-partition window touches "
    "only the bounded value frame.",
)
def ev_session_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    per_session = ev.groupBy(F.session_window("ts", "10 minutes"), "user_id").agg(
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "dur_s"
        )
    )
    grouped = per_session.groupBy(F.col("dur_s").alias("v")).agg(
        F.count("*").alias("cnt")
    )
    cum = grouped.select(
        "v",
        "cnt",
        F.sum("cnt")
        .over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("c"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    return cum.agg(
        F.max("n").cast("long").alias("n_sessions"),
        F.min(F.when(F.expr("c >= (n * 50 + 99) div 100"), F.col("v")))
        .cast("long")
        .alias("p50_s"),
        F.min(F.when(F.expr("c >= (n * 90 + 99) div 100"), F.col("v")))
        .cast("long")
        .alias("p90_s"),
        F.min(F.when(F.expr("c >= (n * 99 + 99) div 100"), F.col("v")))
        .cast("long")
        .alias("p99_s"),
        F.max("v").cast("long").alias("max_s"),
    )


_BOOT_REPS = 100  # percentile-bootstrap replicates (2.5%/97.5% → ranks 3/98)


@register(
    "stat_bootstrap_ci_daily_revenue",
    oracle=f"""
        WITH d AS MATERIALIZED (
            SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS c,
                   ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE)) - 1
                       AS j
            FROM orders WHERE o_orderdate IS NOT NULL
            GROUP BY CAST(o_orderdate AS DATE)
        ),
        nn AS (SELECT COUNT(*) AS n FROM d),
        draws AS (
            SELECT r.r,
                   ('0x' || substr(md5(CAST(r.r AS VARCHAR) || '_'
                                       || CAST(d.j AS VARCHAR)), 1, 15))::BIGINT
                       % nn.n AS idx
            FROM range({_BOOT_REPS}) r(r), d, nn
        ),
        reps AS (
            SELECT draws.r, CAST(SUM(d.c) AS BIGINT) AS rep_sum
            FROM draws JOIN d ON draws.idx = d.j GROUP BY draws.r
        ),
        ranked AS (
            SELECT rep_sum, ROW_NUMBER() OVER (ORDER BY rep_sum, r) AS rk
            FROM reps
        )
        SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_days,
               CAST({_BOOT_REPS} AS BIGINT) AS n_reps,
               (SELECT CAST(SUM(c) AS BIGINT) FROM d) AS obs_sum_cents,
               (SELECT rep_sum FROM ranked WHERE rk = 3) AS lo_sum_cents,
               (SELECT rep_sum FROM ranked WHERE rk = 98) AS hi_sum_cents,
               (SELECT CAST(rep_sum AS DOUBLE) FROM ranked WHERE rk = 3)
                   / (SELECT CAST(n AS DOUBLE) FROM nn) / 100.0
                   AS lo_daily_mean,
               (SELECT CAST(rep_sum AS DOUBLE) FROM ranked WHERE rk = 98)
                   / (SELECT CAST(n AS DOUBLE) FROM nn) / 100.0
                   AS hi_daily_mean
    """,
    doc="Percentile-bootstrap 95% CI for total (and mean) daily revenue — "
    "resampling WITHOUT nondeterminism: draw (replicate, position) is "
    "resolved to a day index via md5(r_j) mod n (the registry's md5 "
    "base-hash idiom — both engines hash the same string to the same "
    "index, so the 100 replicate sums are bit-identical exact BIGINTs) "
    "and the 2.5/97.5 percentile bounds are nearest-rank selections "
    "(ranks 3 and 98 of 100). This is how a distributed pipeline gets "
    "reproducible uncertainty bands: the resample plan is data-"
    "independent (replicates × calendar-bounded days), the per-"
    "replicate reduce is one keyed shuffle with map-side combine, and "
    "no driver-side RNG state exists to drift. Fact table contributes "
    "ONE day-keyed rollup.",
)
def stat_bootstrap_ci_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # time-series contract (r12 variant sweep): unknown-date rows excluded
    # — a null day shifts the deterministic resample's day-index mapping
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"))
        .select(
            "c",
            (F.row_number().over(Window.orderBy("day")) - 1).alias("j"),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
    )
    grid = d.select(
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))).alias("r"),
        "j",
        "n",
    )
    idx = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("r").cast("string"),
                        F.lit("_"),
                        F.col("j").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.col("n"),
    )
    draws = grid.select("r", idx.alias("idx"))
    dd = d.select(F.col("j").alias("j2"), F.col("c").alias("c2"))
    reps = (
        draws.join(dd, F.col("idx") == F.col("j2"))
        .groupBy("r")
        .agg(F.sum("c2").alias("rep_sum"))
    )
    ranked = reps.select(
        "rep_sum",
        F.row_number().over(Window.orderBy("rep_sum", "r")).alias("rk"),
    )
    band = ranked.agg(
        F.min(F.when(F.col("rk") == 3, F.col("rep_sum"))).alias("lo_sum_cents"),
        F.min(F.when(F.col("rk") == 98, F.col("rep_sum"))).alias("hi_sum_cents"),
    )
    obs = d.agg(
        F.count("*").alias("n_days"), F.sum("c").alias("obs_sum_cents")
    )
    return obs.crossJoin(band).select(
        "n_days",
        F.lit(_BOOT_REPS).cast("long").alias("n_reps"),
        "obs_sum_cents",
        "lo_sum_cents",
        "hi_sum_cents",
        (
            F.col("lo_sum_cents").cast("double")
            / F.col("n_days").cast("double")
            / F.lit(100.0)
        ).alias("lo_daily_mean"),
        (
            F.col("hi_sum_cents").cast("double")
            / F.col("n_days").cast("double")
            / F.lit(100.0)
        ).alias("hi_daily_mean"),
    )
