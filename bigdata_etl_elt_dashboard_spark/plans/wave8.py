"""Round-8 registry additions.

Two families:

* ``ev_timer_session_close_twin`` — the BATCH twin of the new event-time
  timer processor ``streaming.stateful.session_close_on_timer``: gap
  sessionization (diff >= gap starts a new session, matching
  ``ev_session_10m``) plus the timer adjudication — a fully-drained
  stream would have timer-closed exactly the sessions whose
  ``end + gap <= max event time`` (the terminal watermark). The streaming
  test (tests/test_scale_sources.py::test_session_close_on_timer_v2)
  asserts the processor's emissions; this query pins the same semantics
  against the DuckDB oracle at scale.

* ``corpus_pipeline_v2_digest`` — the composed modern-LLM-corpus capstone
  the r07 verdict asked for: quality filter → VERIFIED MinHash dedup
  (the ``dedup_verified_keepers`` plan shape: LSH candidates →
  candidate-restricted exact-Jaccard verify → connected components →
  keeper election) → per-language largest-remainder mixture allocation →
  curriculum staging over ``scale.global_rank`` — gated as ONE digest row
  so the STAGE INTERACTIONS are verified, not just the stages
  (complementing ``docs_pipeline_e2e_digest``'s r04 chain).

Determinism: ids/hashes/counts are exact integers; the digest is a sum of
xxhash-free md5-derived BIGINTs (conv of the md5 hex prefix — identical
on both engines); no float enters any aggregate.

At 100 TB: the twin is one window shuffle on user_id plus a broadcast
1-row max; the capstone inherits its stages' shapes — the corpus is
shingled ONCE, candidate work is Σ|shingles| over LSH-banded
candidates (never all-pairs), CC iterations ride pinned frames, the
allocation works on a per-language aggregate (≤ #languages rows on the
driver-side none — it stays a broadcastable frame), and curriculum
ranks come from the two-pass range-partitioned global_rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import table
from .registry import register

_GAP_MS = 600_000


@register(
    "ev_timer_session_close_twin",
    oracle=f"""
        WITH raw AS (
            SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms FROM events
        ), e AS (
            -- null user_ids sessionize nowhere (the tWS processor guards
            -- them out — stateful.drop_null_keys, r14); their event
            -- times still advance the watermark (mx reads raw)
            SELECT * FROM raw WHERE user_id IS NOT NULL
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
        )
        SELECT user_id, start_ms, end_ms, n_events,
               (end_ms = MAX(end_ms) OVER (PARTITION BY user_id)
                AND end_ms + {_GAP_MS} <= (SELECT max_ms FROM mx))
                   AS timer_closed
        FROM agg
        ORDER BY user_id, start_ms
    """,
    doc="Batch twin of the event-time TIMER processor "
    "(streaming.stateful.session_close_on_timer): 10-minute-gap sessions "
    "per user with millisecond epoch bounds, plus `timer_closed` — would "
    "a drained single-batch stream have closed this session by TIMER "
    "rather than by a successor event? True exactly for a user's LAST "
    "session (every earlier session closes inline in handleInputRows "
    "when its successor arrives) whose expiry the terminal watermark "
    "reaches (end + gap <= max event ms; a later expiry leaves the "
    "session open at drain). Gap rule diff >= gap matches ev_session_10m. "
    "One window shuffle on user_id over the events plus one over the "
    "session-level aggregate (the per-user last-session probe); the "
    "global max joins as a broadcast 1-row frame; ms = unix_micros div "
    "1000 floors identically on both engines (the parquet is "
    "TIMESTAMP(NANOS); both truncate ns → us before the div).",
)
def ev_timer_session_close_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("unix_micros(ts) div 1000").alias("ms")
    )
    # sessionization over keyed rows only (the tWS processor guards null
    # user_ids out — r14); the watermark max still reads ALL rows
    ev = raw.filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    marked = ev.withColumn(
        "new_s",
        F.when(F.col("ms") - F.lag("ms").over(w) >= _GAP_MS, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sess = marked.withColumn(
        "sess", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    agg = sess.groupBy("user_id", "sess").agg(
        F.min("ms").alias("start_ms"),
        F.max("ms").alias("end_ms"),
        F.count("*").alias("n_events"),
    )
    mx = raw.agg(F.max("ms").alias("max_ms"))
    # true timer closure: only a user's LAST session can close by timer (a
    # session with a successor closes inline when that event arrives), and
    # only if the terminal watermark reaches its expiry
    last_end = F.max("end_ms").over(Window.partitionBy("user_id"))
    return (
        agg.join(F.broadcast(mx))
        .select(
            "user_id",
            "start_ms",
            "end_ms",
            "n_events",
            (
                (F.col("end_ms") == last_end)
                & (F.col("end_ms") + F.lit(_GAP_MS) <= F.col("max_ms"))
            ).alias("timer_closed"),
        )
        .orderBy("user_id", "start_ms")
    )


# ---------------------------------------------------------------------------
# corpus_pipeline_v2_digest — the composed modern-corpus capstone.
# ---------------------------------------------------------------------------

from ..operators import dedup as D  # noqa: E402
from .corpus_quality import (  # noqa: E402
    _MAX_DUP_BIGRAM_RATIO,
    _MAX_DUP_TOKEN_RATIO,
    _MAX_TOP_TOKEN_RATIO,
    _MAX_TOKENS,
    _METRICS_SQL,
    _MIN_TOKENS,
    _doc_metrics,
)
from .extensions import (  # noqa: E402
    _BANDED_SQL,
    _BANDS,
    _HBASE_SQL,
    _MINHASH_AGGS_SQL,
    _NUM_HASHES,
    _SHINGLES_SQL,
)

#: mixture budget (sample slots across lang strata), curriculum stages,
#: char capacity of one packed context window
_V2_BUDGET = 200
_V2_STAGES = 3
_V2_CHAR_CAP = 4096

# the shingle stream of the QUALITY SURVIVORS, not the whole corpus —
# hoisted .replace (f-string expressions do not de-escape {{}})
_V2_SHINGLES_SQL = _SHINGLES_SQL.replace("FROM documents", "FROM qdocs")
_V2_METRICS_SQL = _METRICS_SQL.replace("WITH", "WITH RECURSIVE", 1)
_V2_HV_SQL = "('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 15))::BIGINT"


@register(
    "corpus_pipeline_v2_digest",
    oracle=f"""
        {_V2_METRICS_SQL},
        kept AS (
            SELECT doc_id FROM metrics
            WHERE n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
              AND dup_token_ratio <= {_MAX_DUP_TOKEN_RATIO}
              AND top_token_ratio <= {_MAX_TOP_TOKEN_RATIO}
              AND dup_bigram_ratio <= {_MAX_DUP_BIGRAM_RATIO}
        ),
        qdocs AS MATERIALIZED (
            SELECT d.doc_id, d.text, d.lang, d.n_chars
            FROM documents d JOIN kept USING (doc_id)
        ),
        sh AS MATERIALIZED ({_V2_SHINGLES_SQL}),
        sig AS (
            SELECT doc_id, {_MINHASH_AGGS_SQL}
            FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
            GROUP BY doc_id
        ),
        banded AS ({_BANDED_SQL}),
        pairs AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                          AND a.doc_id < b.doc_id
        ),
        sizes AS MATERIALIZED (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ),
        common AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
            FROM pairs p
            JOIN sh a ON a.doc_id = p.doc_a
            JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
            GROUP BY p.doc_a, p.doc_b
        ),
        verified AS MATERIALIZED (
            SELECT c.doc_a, c.doc_b
            FROM common c
            JOIN sizes sa ON c.doc_a = sa.doc_id
            JOIN sizes sb ON c.doc_b = sb.doc_id
            WHERE c.n_common
                  / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE) >= 0.5
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM verified
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM verified
        ),
        cc(doc_id, reach) AS (
            SELECT doc_id, doc_id FROM qdocs
            UNION
            SELECT e.src, cc.reach FROM edges e JOIN cc ON cc.doc_id = e.dst
        ),
        labels AS (SELECT doc_id, MIN(reach) AS cluster_id FROM cc GROUP BY doc_id),
        dd AS MATERIALIZED (
            SELECT q.doc_id, q.lang, q.n_chars, {_V2_HV_SQL} AS hv
            FROM qdocs q JOIN labels l
              ON q.doc_id = l.doc_id AND q.doc_id = l.cluster_id
        ),
        strata AS MATERIALIZED (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_h FROM dd GROUP BY lang
        ),
        tot AS (SELECT CAST(SUM(n_h) AS BIGINT) AS n FROM strata),
        quota AS (
            SELECT lang, n_h,
                   n_h * {_V2_BUDGET} // n AS base,
                   (n_h * {_V2_BUDGET}) % n AS rem
            FROM strata, tot
        ),
        rankedq AS (
            SELECT *,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rr,
                   (SELECT SUM(base) FROM quota) AS base_sum
            FROM quota
        ),
        alloc AS MATERIALIZED (
            SELECT lang,
                   base + CASE WHEN rr <= {_V2_BUDGET} - base_sum
                               THEN 1 ELSE 0 END AS alloc
            FROM rankedq
        ),
        sampled AS MATERIALIZED (
            SELECT s.doc_id, s.lang, s.n_chars, s.hv
            FROM (
                SELECT dd.*,
                       ROW_NUMBER() OVER (PARTITION BY lang
                                          ORDER BY hv, doc_id) AS rn
                FROM dd
            ) s JOIN alloc USING (lang)
            WHERE s.rn <= alloc.alloc
        ),
        pos AS (
            SELECT doc_id, lang, n_chars, hv,
                   ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn_g,
                   (SELECT COUNT(*) FROM sampled) AS n
            FROM sampled
        ),
        staged AS MATERIALIZED (
            SELECT doc_id, lang, n_chars, hv,
                   CAST((rn_g - 1) * {_V2_STAGES} // n + 1 AS BIGINT) AS stage
            FROM pos
        ),
        packed AS (
            SELECT *,
                   COALESCE(SUM(n_chars) OVER (
                       PARTITION BY lang ORDER BY stage, hv, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS off
            FROM staged
        )
        SELECT lang, stage,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT off // {_V2_CHAR_CAP}) AS BIGINT) AS n_packs
        FROM packed
        GROUP BY lang, stage
        ORDER BY lang, stage
    """,
    doc="The MODERN corpus pipeline composed end-to-end and gated as ONE "
    "digest, so the stage INTERACTIONS are verified, not just the "
    "stages: Gopher quality filter (the docs_pipeline_e2e rules) → "
    "VERIFIED MinHash dedup on the survivors (LSH candidates → "
    "candidate-restricted exact Jaccard ≥ 0.5 → connected components → "
    "min-id keeper election, the dedup_verified_keepers shape) → "
    f"largest-remainder mixture allocation of {_V2_BUDGET} slots across "
    "lang strata (li_proportional_allocation pattern; Σalloc = budget "
    "exactly, saturating when a stratum is smaller than its quota) → "
    "hash-ordered per-lang sampling (docs_hash_sample order) → "
    f"{_V2_STAGES}-stage curriculum over scale.global_rank "
    "((rn−1)·S div n + 1, the docs_curriculum_stages closed form) → "
    f"sequential-fill packing into {_V2_CHAR_CAP}-char context windows "
    "in curriculum order. The per-(lang, stage) digest pins membership "
    "(id_sum), composition (n_docs, sum_chars), and ORDER (n_packs "
    "depends on the cumulative-char packing order within each lang). "
    "Plan shape at 100 TB: survivors are shingled once; "
    "candidate work is Σ|shingles| over LSH-banded candidates (never "
    "all-pairs); CC rides pinned iteration frames; the allocation frame "
    "is ≤ #languages rows (broadcast); ranks come from the two-pass "
    "range-partitioned global_rank; packing is one window per lang "
    "partition. Cites dedup_verified_keepers (plans/wave7.py), "
    "docs_pipeline_e2e_digest (plans/corpus_quality.py).",
)
def corpus_pipeline_v2_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import global_rank, grouped_rank, grouped_running_sum

    docs = table(spark, sf_dir, "documents")
    m = _doc_metrics(spark, sf_dir)
    kept = m.filter(
        F.col("n_tokens").between(_MIN_TOKENS, _MAX_TOKENS)
        & (F.col("dup_token_ratio") <= _MAX_DUP_TOKEN_RATIO)
        & (F.col("top_token_ratio") <= _MAX_TOP_TOKEN_RATIO)
        & (F.col("dup_bigram_ratio") <= _MAX_DUP_BIGRAM_RATIO)
    ).select("doc_id")
    q = (
        docs.join(kept, "doc_id", "semi")
        .select("doc_id", "text", "lang", "n_chars")
    )
    # verified MinHash dedup on the survivors: shingled ONCE, candidates
    # banded, Jaccard verified only on candidates, min-id keeper election
    sh = D._doc_shingles(q, "text", 3)
    sigs = D.minhash_signatures(q, num_hashes=_NUM_HASHES, shingles_df=sh)
    # bucket_cap (r14): linearizes the pre-verify multiplicity term on
    # duplicate-saturated corpora (the 128× capstone regime); a no-op on
    # every gate corpus (max bucket multiplicity < DEFAULT_BUCKET_CAP),
    # so the oracle's uncapped pair CTE computes the identical pair set.
    cand = D.lsh_candidate_pairs(
        q,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        signatures_df=sigs,
        bucket_cap=D.DEFAULT_BUCKET_CAP,
    )
    verified = D.verify_candidates(sh, cand, min_jaccard=0.5)
    edges = verified.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = D.connected_components_minlabel(edges, q.select("doc_id"))
    keepers = labels.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    dd = (
        q.join(keepers, "doc_id", "semi")
        .select("doc_id", "lang", "n_chars", hv.alias("hv"))
    )
    # largest-remainder mixture allocation across lang strata
    strata = dd.groupBy("lang").agg(F.count("*").alias("n_h"))
    tot = strata.agg(F.sum("n_h").alias("n"))
    quota = strata.join(F.broadcast(tot)).select(
        "lang",
        "n_h",
        F.expr(f"n_h * {_V2_BUDGET} div n").alias("base"),
        ((F.col("n_h") * _V2_BUDGET) % F.col("n")).alias("rem"),
    )
    wq = Window.orderBy(F.desc("rem"), "lang")
    alloc = (
        quota.select(
            "lang",
            "base",
            F.row_number().over(wq).cast("long").alias("rr"),
            F.sum("base").over(Window.partitionBy()).alias("base_sum"),
        )
        .select(
            "lang",
            (
                F.col("base")
                + F.when(
                    F.col("rr") <= F.lit(_V2_BUDGET) - F.col("base_sum"), 1
                ).otherwise(0)
            ).alias("alloc"),
        )
    )
    # hash-ordered per-lang sample up to each stratum's allocation. lang is
    # a LOW-cardinality group — Window.partitionBy(lang) would funnel a
    # dominant language through ONE task at 100 TB — so the rank rides the
    # two-pass hot-group-parallel scale.grouped_rank instead
    sampled = (
        grouped_rank(dd, ["lang"], ["hv", "doc_id"], out_col="rn")
        .join(F.broadcast(alloc), "lang")
        .filter(F.col("rn") <= F.col("alloc"))
        .select("doc_id", "lang", "n_chars", "hv")
    )
    # curriculum staging over the scale-safe two-pass global rank
    pos = global_rank(sampled, ["n_chars", "doc_id"], out_col="rn_g")
    n = pos.agg(F.count("*").alias("n"))
    staged = pos.join(F.broadcast(n)).select(
        "doc_id",
        "lang",
        "n_chars",
        "hv",
        (F.expr(f"(rn_g - 1) * {_V2_STAGES} div n") + 1).alias("stage"),
    )
    # sequential-fill packing in curriculum order within each lang — the
    # prefix sum has the same hot-language funnel as the sampling rank, so
    # it rides the two-pass scale.grouped_running_sum (exclusive: a doc's
    # bin is decided by the chars BEFORE it)
    packed = grouped_running_sum(
        staged,
        ["lang"],
        ["stage", "hv", "doc_id"],
        "n_chars",
        out_col="off",
        inclusive=False,
    )
    return (
        packed.groupBy("lang", "stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("id_sum"),
            F.countDistinct(F.expr(f"off div {_V2_CHAR_CAP}")).alias("n_packs"),
        )
        .orderBy("lang", "stage")
    )
