"""Temporal join operators Spark lacks natively (as-of join).

The as-of join — "for each left row, the most recent right row at or
before its timestamp, per key" — is the backbone of event-attribution and
point-in-time-correct feature lookup. Naive implementations are per-row
subqueries (driver loop) or an inequality theta-join (BroadcastNestedLoop /
cartesian — dies at scale). The scalable composition used here:

1. union the two sides on (key, ts) with a side tag,
2. one window per key ordered by (ts, side) carrying
   ``last(value, ignorenulls=True)`` forward,
3. keep the left rows.

Cost: ONE shuffle on the key (the window partition) — identical shape to a
co-partitioned merge-as-of at cluster scale. Right rows sort before left
rows at equal ts, giving the inclusive (>=) as-of semantics of DuckDB's
ASOF JOIN, which serves as the differential oracle.

Ties among right rows at the same (key, ts) are resolved by requiring the
right side to be unique per (key, ts) — callers pre-aggregate (the
registered query keeps max(value)); otherwise "most recent" is undefined.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from .scale import pin


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Time-range join: pair each left row with the right rows of the same
    ``key`` whose timestamp lies in ``[left_ts - window, left_ts)``.

    A naive inequality join is a BroadcastNestedLoop/cartesian product.
    Scalable shape: bucket both sides by ``window_seconds``-wide epoch
    buckets; a window of that width spans at most two buckets, so each
    left row probes (bucket-1, bucket) and the join is an EQUI-join on
    (key, bucket) with the exact range predicate as a residual filter in
    the join condition.

    Exact LEFT semantics (row-level correct, not aggregate-only): the
    two-bucket probe explode means the raw join emits a null-padded row
    for every unmatched (left row, probe) pair — a matched left row would
    still carry one padding row, and a fully-unmatched one two. A
    per-left-row window then drops padding rows for matched left rows and
    collapses unmatched rows to exactly one null-padded survivor, so
    ``count(*)`` consumers are correct too. Cost: one extra shuffle on the
    synthetic left-row id, after the (key, bucket) join shuffle. Right
    columns come back prefixed ``r_``.
    """
    w = window_seconds
    lb = F.floor(F.unix_timestamp(F.col(left_ts)) / w)
    l = left.withColumn("_lid", F.monotonically_increasing_id()).withColumn(
        "_probe", F.explode(F.array(lb - 1, lb))
    )
    r = right.select(
        F.col(key).alias("_rkey"),
        F.col(right_ts).alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (key, right_ts)],
    ).withColumn("_bucket", F.floor(F.unix_timestamp(F.col("r_ts")) / w))
    cond = (
        (l[key] == r["_rkey"])
        & (l["_probe"] == r["_bucket"])
        & (r["r_ts"] >= F.col(left_ts) - F.expr(f"INTERVAL {w} SECONDS"))
        & (r["r_ts"] < F.col(left_ts))
    )
    joined = l.join(r, cond, "left")
    n_matches = F.count("r_ts").over(Window.partitionBy("_lid"))
    return (
        joined.withColumn("_nmatch", n_matches)
        # keep real matches; for left rows with no match anywhere, keep only
        # the own-bucket probe's padding row (drop the bucket-1 duplicate)
        .filter(F.col("r_ts").isNotNull() | ((F.col("_nmatch") == 0) & (F.col("_probe") == lb)))
        .drop("_probe", "_rkey", "_bucket", "_lid", "_nmatch")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    out_prefix: str = "asof_",
) -> DataFrame:
    """Left as-of join: attach the latest ``value_cols`` from ``right`` with
    right.ts <= left.ts, matching on ``key``. Left rows with no prior right
    row get nulls. Right must be unique per (key, ts).

    The carried payload is a STRUCT per value column, not the bare value:
    the union interleaves left rows into the carry-forward stream, so the
    window must skip THEM (``ignorenulls=True``) — but a bare-value carry
    would then also skip a right row whose MEASUREMENT is null and wrongly
    return an older row's value (r12 variant sweep vs DuckDB's native
    ASOF JOIN, which attaches the most recent ROW regardless of its
    payload). A right row's struct is non-null even when its field is
    null, so row-recency and value-presence stay distinct.

    Null keys follow JOIN semantics, not window semantics (r14 variant
    sweep vs DuckDB's native ASOF LEFT JOIN): a null key never MATCHES —
    a left row with a null key keeps its place in the output with null
    payloads, and null-key right rows match nothing. The window
    carry-forward would instead have grouped all null-key rows together
    and attributed null-key rights to null-key lefts — the one place the
    union-window encoding and true join semantics disagree."""
    null_left = left.filter(F.col(key).isNull()).select(
        "*",
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"{out_prefix}{c}")
            for c in value_cols
        ],
    )
    left = left.filter(F.col(key).isNotNull())
    right = right.filter(F.col(key).isNotNull())
    r = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("_side"),
        *[F.struct(F.col(c).alias("v")).alias(f"_v_{c}") for c in value_cols],
    )
    l = left.withColumn("_side", F.lit(1))
    both = l.unionByName(r, allowMissingColumns=True)

    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        both = both.withColumn(
            f"{out_prefix}{c}",
            F.last(F.col(f"_v_{c}"), ignorenulls=True).over(w)["v"],
        )
    matched = both.filter(F.col("_side") == 1).drop(
        "_side", *[f"_v_{c}" for c in value_cols]
    )
    return matched.unionByName(null_left)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    start_col: str = "s",
    end_col: str = "e",
    bucket_seconds: int = 3600,
    suffix: str = "_r",
) -> DataFrame:
    """Interval-overlap join: every (left, right) pair whose closed time
    intervals [start, end] intersect — the third temporal-join primitive
    next to as-of (point ← latest point) and range (point ← interval).

    A direct ``l.s <= r.e AND r.s <= l.e`` predicate is a nested-loop /
    IEJoin — quadratic or engine-special-cased. Scalable shape: explode
    each interval to the ``bucket_seconds``-wide epoch buckets it covers,
    EQUI-join on the bucket, apply the exact overlap predicate as a
    residual, and count each pair exactly once WITHOUT a distinct shuffle:
    a pair is kept only in the bucket containing the LATER of the two
    starts — overlapping intervals both cover that instant, so exactly one
    surviving copy exists (the dedup is a filter, not an aggregation).
    Cost: one shuffle on the bucket key; replication factor =
    interval_length / bucket_seconds + 1, so size the bucket to the
    typical interval (≈ p95 length keeps replication ≤ 2 while shorter
    buckets spread hot periods across more tasks — at 100 TB tune it to
    the busiest bucket, and salt buckets that still overflow a task).

    Right columns come back renamed with ``suffix``. Self-joins: pass the
    same frame twice and orient downstream (a < b) — both orientations
    survive here."""
    w = int(bucket_seconds)

    def explode_buckets(df: DataFrame, s: str, e: str) -> DataFrame:
        b0 = F.floor(F.unix_timestamp(F.col(s)) / w).cast("long")
        b1 = F.floor(F.unix_timestamp(F.col(e)) / w).cast("long")
        return df.withColumn("_bkt", F.explode(F.sequence(b0, b1)))

    r = right
    for c in right.columns:
        r = r.withColumnRenamed(c, c + suffix)
    l_b = explode_buckets(left, start_col, end_col)
    r_b = explode_buckets(r, start_col + suffix, end_col + suffix).withColumnRenamed(
        "_bkt", "_bkt_r"
    )
    ls, le = F.col(start_col), F.col(end_col)
    rs, re_ = F.col(start_col + suffix), F.col(end_col + suffix)
    meet = F.floor(F.unix_timestamp(F.greatest(ls, rs)) / w).cast("long")
    return (
        l_b.join(
            r_b,
            (F.col("_bkt") == F.col("_bkt_r"))
            & (ls <= re_)
            & (rs <= le)
            & (F.col("_bkt") == meet),
        )
        .drop("_bkt", "_bkt_r")
    )


def strict_funnel_times(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> list[DataFrame]:
    """Per-user first-reach times for a STRICT sequential funnel: step k
    counts only an event strictly AFTER the user's step-k−1 time. Returns
    one (user, t) frame per step, each ``localCheckpoint``'ed — every step
    frame feeds the next step's join AND its own count, and the chain
    nests, so without lineage truncation the final plan re-scans the fact
    once per REFERENCE (the round-3 47-scan regression); with it, exactly
    once per step. Shared by the gated ev_funnel_strict_steps query and
    the 5M-row scale smoke so both exercise the same code."""
    out: list[DataFrame] = []
    prev: DataFrame | None = None
    for step in steps:
        cur = events.filter(F.col(type_col) == step)
        if prev is not None:
            cur = cur.join(prev, user_col).filter(F.col(ts_col) > F.col("t"))
        prev = (
            cur.groupBy(user_col)
            .agg(F.min(ts_col).alias("t"))
            .transform(pin)  # scan-budget: the nested step chain scans events 10 times without it
        )
        out.append(prev)
    return out
