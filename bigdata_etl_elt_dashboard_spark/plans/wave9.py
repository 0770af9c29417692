"""Round-9 registry additions.

``ev_stream_pipeline_gold_twin`` — the ORACLE-GATED batch twin of the
composed streaming medallion capstone (streaming/pipeline.py:
bronze at-least-once ingest → watermark-bounded exactly-once dedup →
event-time timer sessionization → gold MERGE upsert). The twin simulates
the at-least-once delivery by re-appending every 7th event (byte-identical
replay), runs the composed batch recompute
(``streaming.pipeline.sessions_gold_batch``), and digests the resulting
gold table per calendar day — so the stage INTERACTIONS (does the dedup
feed the sessionizer one row per delivered event? do only CLOSED sessions
reach gold, with the right close path?) are pinned against DuckDB, not
just each stage alone. The stream-equals-batch half of the proof is
tests/test_streaming.py::test_stream_medallion_capstone_crash_recovery,
which drains the real chained query (with a torn-write crash in the gold
merge) and asserts equality with the same ``sessions_gold_batch``.

Determinism: replays are byte-identical, so the dedup is order-free;
session bounds/counts are exact integers; the rollup sums are BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import table
from .registry import register

_GAP_MS = 600_000
_REPLAY_MOD = 7  # every 7th event is re-delivered (at-least-once sim)
_DAY_MS = 86_400_000


@register(
    "ev_stream_pipeline_gold_twin",
    oracle=f"""
        WITH raw AS (
            SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms FROM events
        ), replay AS (
            SELECT * FROM raw
            UNION ALL
            SELECT * FROM raw WHERE event_id % {_REPLAY_MOD} = 0
        ), e AS (
            -- null user_ids sessionize NOWHERE (the tWS sessionizer
            -- guards them out — stateful.drop_null_keys, r14) but their
            -- event times still drive the terminal watermark below
            -- (withWatermark sits upstream of the guard)
            SELECT DISTINCT user_id, event_id, ms FROM replay
            WHERE user_id IS NOT NULL
        ), marked AS (
            SELECT user_id, ms, event_id,
                   CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id
                                                ORDER BY ms, event_id)
                             >= {_GAP_MS} THEN 1 ELSE 0 END AS new_s
            FROM e
        ), sess AS (
            SELECT user_id, ms,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sess
            FROM marked
        ), mx AS (SELECT MAX(ms) AS max_ms FROM raw),
        agg AS (
            SELECT user_id,
                   MIN(ms) AS start_ms,
                   MAX(ms) AS end_ms,
                   COUNT(*) AS n_events
            FROM sess
            GROUP BY user_id, sess
        ),
        closed AS (
            SELECT user_id, start_ms, end_ms, n_events,
                   CASE WHEN end_ms < MAX(end_ms) OVER (PARTITION BY user_id)
                             THEN 'gap'
                        WHEN end_ms + {_GAP_MS} <= (SELECT max_ms FROM mx)
                             THEN 'timer'
                        ELSE NULL END AS closed_by
            FROM agg
        )
        SELECT start_ms // {_DAY_MS} AS day,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN closed_by = 'gap' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_gap,
               CAST(SUM(CASE WHEN closed_by = 'timer' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_timer,
               CAST(SUM(end_ms - start_ms) AS BIGINT) AS sum_dur_ms,
               CAST(SUM(user_id) AS BIGINT) AS uid_sum
        FROM closed
        WHERE closed_by IS NOT NULL
        GROUP BY day
        ORDER BY day
    """,
    doc="Oracle-gated batch twin of the COMPOSED streaming medallion "
    "capstone (streaming/pipeline.py): simulate at-least-once delivery "
    f"(every {_REPLAY_MOD}th event re-appended byte-identically), dedup "
    "to one row per delivered event, gap-sessionize per user, keep only "
    "the sessions a drained stream would have CLOSED (inline 'gap' "
    "closes for sessions with a successor; 'timer' closes for a user's "
    "last session once the terminal watermark reaches its expiry; still-"
    "open trailing sessions never reach gold), then digest the gold "
    "table per calendar day: session/event/close-path counts, summed "
    "durations, and a user-id checksum. Verifies the dedup→sessionize→"
    "gold-filter stage INTERACTIONS as one hash-gated row — a broken "
    "dedup inflates n_events, a broken close-path adjudication shifts "
    "n_gap/n_timer, a leaked open session shifts n_sessions. The "
    "stream-side equality proof (same recompute vs the real chained "
    "query, plus torn-write crash recovery) is tests/test_streaming.py::"
    "test_stream_medallion_capstone_crash_recovery. Plan: one window "
    "shuffle on user_id (events), one on the session-level aggregate, "
    "a broadcast 1-row global max, one final day rollup — at 100 TB "
    "every stage partitions by high-cardinality keys.",
)
def ev_stream_pipeline_gold_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import pin
    from ..streaming.pipeline import sessions_gold_batch

    # scan-budget: events scanned 4 times without it
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts").transform(pin)
    replay = ev.unionAll(ev.filter(F.col("event_id") % _REPLAY_MOD == 0))
    gold = sessions_gold_batch(replay, gap_ms=_GAP_MS)
    return (
        gold.groupBy(F.expr(f"start_ms div {_DAY_MS}").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum(F.when(F.col("closed_by") == "gap", 1).otherwise(0))
            .cast("long")
            .alias("n_gap"),
            F.sum(F.when(F.col("closed_by") == "timer", 1).otherwise(0))
            .cast("long")
            .alias("n_timer"),
            F.sum(F.col("end_ms") - F.col("start_ms")).cast("long").alias("sum_dur_ms"),
            F.sum("user_id").cast("long").alias("uid_sum"),
        )
        .orderBy("day")
    )
