"""Corpus-quality and embedding-statistics extensions (SURVEY §7.5;
BASELINE.json north star — LLM training-data pipeline surface).

Gopher-style repetition filtering (Rae et al. 2021, public) and scalar
embedding quantization (classic IVF/PQ preprocessing) re-expressed as
narrow Spark projections + keyed aggregations:

- repetition metrics are per-row higher-order-function projections — NO
  explode shuffle; at 100 TB the plan is scan → project → (optional)
  small group-by, embarrassingly parallel.
- embedding stats posexplode to (dim, value) pairs but aggregate onto 64
  dimension keys with map-side partial aggregation, so the shuffle is 64
  rows per task regardless of corpus size.

Cross-engine determinism: every ratio is an exact integer rational
evaluated with one IEEE division (or a fixed-point micro-unit sum), so
the DuckDB oracle hashes bit-identically — no accumulation-order drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text as X
from ..sources.catalog import table
from .extensions import _TOKS_SQL
from .registry import register
from ..operators.scale import pin

# --------------------------------------------------------------------------
# Gopher-style repetition metrics (documents)
# --------------------------------------------------------------------------

#: shared keep-thresholds for the repetition filter (Spark + oracle SQL)
_MIN_TOKENS = 20
_MAX_TOKENS = 120
_MAX_DUP_TOKEN_RATIO = 0.55
_MAX_TOP_TOKEN_RATIO = 0.12
_MAX_DUP_BIGRAM_RATIO = 0.25

#: DuckDB twin of the per-doc metrics (top-count via explode+group — the
#: oracle mirrors semantics, not the shuffle-free implementation strategy)
_METRICS_SQL = f"""
    WITH base AS (
        SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
    cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
    top AS (SELECT doc_id, max(c) AS top_c FROM cnt GROUP BY doc_id),
    bg AS (
        SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bgram
        FROM base, UNNEST(range(1, greatest(len(toks) - 1, 0) + 1)) AS t(i)
    ),
    bstat AS (
        SELECT doc_id, count(*) AS n_bg, count(DISTINCT bgram) AS n_bg_d
        FROM bg GROUP BY doc_id
    ),
    metrics AS (
        SELECT b.doc_id,
               b.source,
               len(b.toks) AS n_tokens,
               len(list_distinct(b.toks)) AS n_distinct_tokens,
               (len(b.toks) - len(list_distinct(b.toks))) / len(b.toks)
                   AS dup_token_ratio,
               t.top_c / len(b.toks) AS top_token_ratio,
               CASE WHEN coalesce(s.n_bg, 0) > 0
                    THEN (s.n_bg - s.n_bg_d) / s.n_bg
                    ELSE 0.0 END AS dup_bigram_ratio
        FROM base b
        JOIN top t USING (doc_id)
        LEFT JOIN bstat s USING (doc_id)
    )
"""


def _doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token repetition metrics as staged narrow projections.

    Each EXPENSIVE array expression (the O(n) bigram ``transform``, the two
    ``array_distinct``s, the array_sort+aggregate mode scan) is aliased in
    its own projection and only its scalar size crosses to the next stage.
    Inlining them via local Python variables re-evaluates the shared
    subexpression per use — the pre-r14 plan evaluated the bigram transform
    4× and array_distinct(toks) 2× per row (one formatted-explain
    Project node) — and
    Catalyst's CollapseProject leaves multi-referenced NON-cheap aliases
    staged, so the rewrite is a true 4×→1× per-row saving (guide §1.2
    step 2: per-task work; measured 2.04 s → noop-sink at sf0.1, see
    OPTIMIZATION_r14.md). Values are bit-identical: same expressions,
    evaluated once instead of repeatedly."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", X.tokens(F.col("text")).alias("toks"))
    counted = d.select(
        "doc_id",
        "source",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
        X.max_token_count(F.col("toks")).alias("_top_c"),
        X.bigram_list(F.col("toks")).alias("_big"),
    )
    sized = counted.select(
        "doc_id",
        "source",
        "n_tokens",
        "n_distinct_tokens",
        "_top_c",
        F.size("_big").alias("_n_bg"),
        F.size(F.array_distinct("_big")).alias("_n_bg_d"),
    )
    n_tokens = F.col("n_tokens")
    n_bg = F.col("_n_bg")
    return sized.select(
        "doc_id",
        "source",
        "n_tokens",
        "n_distinct_tokens",
        ((n_tokens - F.col("n_distinct_tokens")) / n_tokens).alias(
            "dup_token_ratio"
        ),
        (F.col("_top_c") / n_tokens).alias("top_token_ratio"),
        F.when(n_bg > 0, (n_bg - F.col("_n_bg_d")) / n_bg)
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
    )


@register(
    "docs_repetition_metrics",
    oracle=f"""
        {_METRICS_SQL}
        SELECT doc_id, n_tokens, n_distinct_tokens,
               dup_token_ratio, top_token_ratio, dup_bigram_ratio
        FROM metrics ORDER BY doc_id
    """,
    doc="Gopher-style per-doc repetition metrics: duplicate-token ratio "
    "(1 - distinct/total), top-token fraction (mode count / total, computed "
    "shuffle-free via array_sort + a single aggregate() run-length scan), "
    "and duplicate-bigram ratio. All ratios are exact integer rationals — "
    "one IEEE division each, bit-identical across engines. Per-row "
    "projection only: the 100 TB plan has no per-token shuffle.",
)
def docs_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_metrics(spark, sf_dir).drop("source").orderBy("doc_id")


@register(
    "docs_gopher_quality_filter",
    oracle=f"""
        {_METRICS_SQL}
        SELECT source,
               count(*) AS n_docs,
               count(*) FILTER (
                   n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
                   AND dup_token_ratio <= {_MAX_DUP_TOKEN_RATIO}
                   AND top_token_ratio <= {_MAX_TOP_TOKEN_RATIO}
                   AND dup_bigram_ratio <= {_MAX_DUP_BIGRAM_RATIO}
               ) AS n_kept,
               count(*) FILTER (
                   n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
                   AND dup_token_ratio <= {_MAX_DUP_TOKEN_RATIO}
                   AND top_token_ratio <= {_MAX_TOP_TOKEN_RATIO}
                   AND dup_bigram_ratio <= {_MAX_DUP_BIGRAM_RATIO}
               ) / count(*) AS keep_rate
        FROM metrics
        GROUP BY source ORDER BY source
    """,
    doc="Gopher-rule keep/drop filter over the repetition metrics with "
    "per-source keep rates — the dashboard view of a corpus-cleaning pass. "
    "Thresholds are module constants shared by both engines; keep_rate is "
    "an exact rational (bigint/bigint, one IEEE division).",
)
def docs_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _doc_metrics(spark, sf_dir)
    kept = (
        F.col("n_tokens").between(_MIN_TOKENS, _MAX_TOKENS)
        & (F.col("dup_token_ratio") <= _MAX_DUP_TOKEN_RATIO)
        & (F.col("top_token_ratio") <= _MAX_TOP_TOKEN_RATIO)
        & (F.col("dup_bigram_ratio") <= _MAX_DUP_BIGRAM_RATIO)
    )
    return (
        m.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            (F.sum(kept.cast("long")) / F.count("*")).alias("keep_rate"),
        )
        .orderBy("source")
    )


_VOCAB_K = 100


@register(
    "docs_oov_rate",
    oracle=f"""
        WITH tok AS (
            SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents
        ),
        v AS (
            SELECT tok FROM (
                SELECT tok, count(*) AS c FROM tok GROUP BY tok
            ) QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, tok) <= {_VOCAB_K}
        )
        SELECT t.source, count(*) AS n_tokens,
               count(*) FILTER (v.tok IS NULL) AS n_oov,
               count(*) FILTER (v.tok IS NULL) / count(*) AS oov_rate
        FROM tok t LEFT JOIN v ON t.tok = v.tok
        GROUP BY t.source ORDER BY t.source
    """,
    doc="Out-of-vocabulary rate per source against the corpus' own top-"
    f"{_VOCAB_K} token vocabulary (count desc, token asc tie-break — the "
    "boundary is deterministic). The tokenizer-coverage check run before "
    "committing to a vocab: explode → one partial-aggregated count "
    "shuffle for the vocab head (TakeOrdered, never a global sort), then "
    "the tiny vocab BROADCASTS back onto the token stream — the fact "
    "side never shuffles for the membership test. oov_rate is an exact "
    "bigint rational, one IEEE division.",
)
def docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(X.tokens(F.col("text"))).alias("tok")
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    j = tok.join(F.broadcast(vocab), "tok", "left")
    oov = F.count(F.when(F.col("in_vocab").isNull(), 1))
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            oov.alias("n_oov"),
            (oov / F.count("*")).alias("oov_rate"),
        )
        .orderBy("source")
    )


@register(
    "docs_split_counts",
    oracle="""
        WITH s AS (
            SELECT source,
                   CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             ::BIGINT % 100 < 5 THEN 'val'
                        WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             ::BIGINT % 100 < 10 THEN 'test'
                        ELSE 'train' END AS split
            FROM documents
        )
        SELECT source, split, COUNT(*) AS n_docs
        FROM s GROUP BY source, split ORDER BY source, split
    """,
    doc="Deterministic 90/5/5 train/val/test split "
    "(operators/corpus.train_val_test_split) audited per source: the "
    "assignment is a pure md5-percentile projection of doc_id — no "
    "rand(), no shuffle, and an incremental ingest lands new docs in "
    "the same splits without re-dealing history. The count rollup is "
    "the dashboard sanity check that split rates hold per source.",
)
def docs_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import train_val_test_split

    docs = table(spark, sf_dir, "documents")
    return (
        train_val_test_split(docs)
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "split")
    )


# --------------------------------------------------------------------------
# Embedding column statistics + scalar (int8) quantization
# --------------------------------------------------------------------------

#: (dim 1-based, label, x double) — lateral-unnest twin of posexplode
_EMB_EXPLODE_SQL = """
    SELECT t.i AS dim, label, CAST(embedding[t.i] AS DOUBLE) AS x
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
"""


@register(
    "emb_dim_stats",
    oracle=f"""
        WITH e AS ({_EMB_EXPLODE_SQL})
        SELECT dim, min(x) AS min_val, max(x) AS max_val,
               sum(CAST(floor(x * 1000000) AS BIGINT))
                   / (1000000.0 * count(*)) AS mean_q
        FROM e GROUP BY dim ORDER BY dim
    """,
    doc="Per-dimension min / max / mean over the embedding column — the "
    "stats pass that feeds normalization and scalar quantization. "
    "posexplode to (dim, x) then aggregate onto 64 keys: map-side partial "
    "aggregation reduces the shuffle to 64 rows per task at any corpus "
    "size. Mean uses a micro-unit fixed-point sum (order-independent "
    "bigint partials, one final IEEE division) so both engines agree "
    "bit-for-bit; min/max of a double are order-safe as-is.",
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(F.posexplode("embedding").alias("pos", "xf"))
    x = F.col("xf").cast("double")
    return (
        e.select((F.col("pos") + 1).alias("dim"), x.alias("x"))
        .groupBy("dim")
        .agg(
            F.min("x").alias("min_val"),
            F.max("x").alias("max_val"),
            (
                F.sum(F.floor(F.col("x") * 1000000).cast("long"))
                / (F.lit(1000000.0) * F.count("*"))
            ).alias("mean_q"),
        )
        .orderBy("dim")
    )


@register(
    "emb_quantize_error",
    oracle=f"""
        WITH e AS ({_EMB_EXPLODE_SQL}),
        stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM e GROUP BY dim),
        q AS (
            SELECT e.label, e.x, s.mn, s.mx,
                   CASE WHEN s.mx > s.mn
                        THEN least(greatest(floor(
                            ((e.x - s.mn) * 255.0) / (s.mx - s.mn) + 0.5
                        ), 0), 255)
                        ELSE 0 END AS qv
            FROM e JOIN stats s USING (dim)
        ),
        r AS (
            SELECT label,
                   abs(x - (mn + (qv * (mx - mn)) / 255.0)) AS err
            FROM q
        )
        SELECT label, count(*) AS n_vals,
               max(err) AS max_err,
               sum(CAST(floor(err * 1000000000.0) AS BIGINT))
                   / (1000000000.0 * count(*)) AS mean_err_q
        FROM r GROUP BY label ORDER BY label
    """,
    doc="Scalar int8 quantization round-trip error, per label: each "
    "dimension maps to 0..255 against its corpus min/max, dequantizes, "
    "and the absolute reconstruction error aggregates per label. The "
    "64-row stats table broadcast-joins back onto the exploded values — "
    "two passes over the scan, shuffle only onto 64 dim keys and the "
    "label keys. Identical IEEE expression shapes on both engines; the "
    "mean error uses a nano-unit fixed-point sum.",
)
def emb_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "label", (F.col("pos") + 1).alias("dim"), F.col("xf").cast("double").alias("x")
    )
    stats = e.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    j = e.join(F.broadcast(stats), "dim")
    qv = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            F.greatest(
                F.floor(
                    ((F.col("x") - F.col("mn")) * F.lit(255.0))
                    / (F.col("mx") - F.col("mn"))
                    + F.lit(0.5)
                ),
                F.lit(0),
            ),
            F.lit(255),
        ),
    ).otherwise(F.lit(0))
    err = F.abs(
        F.col("x") - (F.col("mn") + (qv * (F.col("mx") - F.col("mn"))) / F.lit(255.0))
    )
    return (
        j.select("label", err.alias("err"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vals"),
            F.max("err").alias("max_err"),
            (
                F.sum(F.floor(F.col("err") * 1000000000.0).cast("long"))
                / (F.lit(1000000000.0) * F.count("*"))
            ).alias("mean_err_q"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Pareto / cumulative-share analytics (supplier concentration)
# --------------------------------------------------------------------------


@register(
    "supplier_pareto_cumshare",
    oracle="""
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
    """,
    doc="Pareto concentration: suppliers ranked by exact fixed-point "
    "revenue with cumulative revenue share and an 80%%-club flag. The "
    "cumulative window runs over the post-aggregation supplier dimension "
    "(cardinality ≈ rows/agg-factor, not fact rows), so the single-"
    "partition ordered window is bounded; the in_top80 flag compares "
    "integers (cum*5 <= total*4) — no float threshold drift.",
)
def supplier_pareto_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    units = F.sum(
        F.round(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            * F.lit(10000)
        ).cast("long")
    )
    per = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(units.alias("units"))
    j = per.join(sup, "s_suppkey")
    w = Window.orderBy(F.desc("units"), "s_suppkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    cum = F.sum("units").over(w)
    total = F.sum("units").over(wt)
    return (
        j.select(
            "s_suppkey",
            "s_name",
            (F.col("units").cast("double") / F.lit(10000).cast("double")).alias(
                "revenue"
            ),
            (cum.cast("double") / total.cast("double")).alias("cum_share"),
            (cum * 5 <= total * 4).alias("in_top80"),
            cum.alias("_cum"),
        )
        .orderBy("_cum", "s_suppkey")
        .drop("_cum")
    )


# --------------------------------------------------------------------------
# Unigram language-model quality score (documents)
# --------------------------------------------------------------------------

#: fixed-point micro-bits per token surprisal term (cross-engine: log2 ulp
#: differences sit ~1e-16, ten orders below the 1e-6 quantization step)
_SURPRISAL_SCALE = 1_000_000


@register(
    "text_unigram_logprob",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, UNNEST({_TOKS_SQL}) AS tok FROM documents
        ),
        freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        q AS (
            SELECT tok,
                   CAST(ROUND((log2(CAST(SUM(c) OVER () AS DOUBLE))
                               - log2(CAST(c AS DOUBLE)))
                              * {_SURPRISAL_SCALE}) AS BIGINT) AS q_bits
            FROM freq
        )
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(q.q_bits) AS DOUBLE)
                   / CAST(COUNT(*) * {_SURPRISAL_SCALE} AS DOUBLE) AS mean_bits
        FROM tok t JOIN q USING (tok)
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """,
    doc="Unigram-LM document quality score (CCNet-style, Wenzek et al. "
    "2020): per-doc mean token surprisal -log2 p(token) under the "
    "corpus' own unigram distribution — high = rare/garbled text, low = "
    "boilerplate. Drift-proofing: each DISTINCT token's surprisal "
    "log2(N)-log2(c) quantizes once to integer micro-bits, so the "
    "per-doc aggregation is an exact BIGINT sum (order-independent, "
    "partial-aggregatable) and ONE final IEEE division yields the mean. "
    "Shape: one token-count shuffle builds the frequency table; the "
    "corpus total N rides operators/scale.global_total (partial sums → "
    "1-row reduce → broadcast) — the vocabulary grows with the corpus, "
    "so the former single-task unbounded window over it was the one "
    "non-scaling pass in the plan; the frequency table "
    "joins back onto the token stream (broadcast at test SF, hash join "
    "on the token at 100 TB) and rolls up per doc in one keyed shuffle.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import global_total

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("c"))
    q = global_total(freq, [F.sum("c").alias("_n")]).select(
        "tok",
        F.round(
            (
                F.log2(F.col("_n").cast("double"))
                - F.log2(F.col("c").cast("double"))
            )
            * F.lit(_SURPRISAL_SCALE)
        )
        .cast("long")
        .alias("q_bits"),
    )
    return (
        tok.join(q, "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("q_bits").alias("sum_q"))
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("sum_q").cast("double")
                / (F.col("n_tokens") * F.lit(_SURPRISAL_SCALE)).cast("double")
            ).alias("mean_bits"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Embedding L2-norm statistics (embeddings)
# --------------------------------------------------------------------------

#: integer units: 1e9 per squared-element, 1e6 per norm
_SQ_UNITS = 1_000_000_000
_NORM_UNITS = 1_000_000


@register(
    "emb_l2_norm_stats",
    oracle=f"""
        WITH nu AS (
            SELECT label,
                   CAST(ROUND(sqrt(
                       CAST(list_aggregate(list_transform(embedding,
                                x -> CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                          * CAST({_SQ_UNITS} AS DOUBLE)) AS BIGINT)),
                            'sum') AS DOUBLE)
                       / CAST({_SQ_UNITS} AS DOUBLE))
                       * {_NORM_UNITS}) AS BIGINT) AS nu
            FROM embeddings
        )
        SELECT label,
               COUNT(*) AS n_vecs,
               CAST(MIN(nu) AS DOUBLE) / CAST({_NORM_UNITS} AS DOUBLE) AS min_norm,
               CAST(MAX(nu) AS DOUBLE) / CAST({_NORM_UNITS} AS DOUBLE) AS max_norm,
               CAST(SUM(nu) AS DOUBLE)
                   / CAST(COUNT(*) * {_NORM_UNITS} AS DOUBLE) AS mean_norm
        FROM nu GROUP BY label ORDER BY label
    """,
    doc="Per-label L2-norm distribution of the embedding column — the "
    "norm-health check run before cosine retrieval or quantization "
    "(collapsed or exploding norms break both). Per-row work is a "
    "higher-order-function reduction (transform + aggregate) — NO "
    "explode, no shuffle until the 1-keyed-rollup at the end. "
    "Drift-proofing: each element's square quantizes to integer 1e-9 "
    "units (float32→double widening is exact, the square is exact in "
    "double, both engines round the same product), the per-vector sum "
    "is an exact BIGINT reduction, and the norm re-quantizes to integer "
    "micro-units after one correctly-rounded sqrt — so min/max/mean per "
    "label are integer math with one final IEEE division each.",
)
def emb_l2_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    sq_units = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.round(
                x.cast("double") * x.cast("double") * F.lit(_SQ_UNITS).cast("double")
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    nu = F.round(
        F.sqrt(sq_units.cast("double") / F.lit(_SQ_UNITS).cast("double"))
        * F.lit(_NORM_UNITS)
    ).cast("long")
    return (
        emb.select("label", nu.alias("nu"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.min("nu").cast("double") / F.lit(_NORM_UNITS).cast("double")).alias(
                "min_norm"
            ),
            (F.max("nu").cast("double") / F.lit(_NORM_UNITS).cast("double")).alias(
                "max_norm"
            ),
            (
                F.sum("nu").cast("double")
                / (F.count("*") * F.lit(_NORM_UNITS)).cast("double")
            ).alias("mean_norm"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# DSIR-style hashed importance weights (documents)
# --------------------------------------------------------------------------

#: hashed feature space size (buckets) and log-ratio quantization
_DSIR_BUCKETS = 64
_DSIR_SCALE = 1_000_000


@register(
    "docs_dsir_weights",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang = 'en' AS is_t, UNNEST({_TOKS_SQL}) AS tok
            FROM documents
        ),
        feat AS (
            SELECT doc_id, is_t,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_DSIR_BUCKETS} AS b
            FROM tok
        ),
        buckets AS (
            SELECT b, COUNT(*) AS cr, COUNT(*) FILTER (is_t) AS ct
            FROM feat GROUP BY b
        ),
        q AS (
            SELECT b,
                   CAST(ROUND((log2(CAST(ct + 1 AS DOUBLE))
                               + log2(CAST(SUM(cr) OVER () + {_DSIR_BUCKETS} AS DOUBLE))
                               - log2(CAST(SUM(ct) OVER () + {_DSIR_BUCKETS} AS DOUBLE))
                               - log2(CAST(cr + 1 AS DOUBLE)))
                              * {_DSIR_SCALE}) AS BIGINT) AS q_bits
            FROM buckets
        )
        SELECT f.doc_id,
               COUNT(*) AS n_feats,
               CAST(SUM(q.q_bits) AS DOUBLE)
                   / CAST({_DSIR_SCALE} AS DOUBLE) AS logw_bits,
               SUM(q.q_bits) > 0 AS selected
        FROM feat f JOIN q USING (b)
        GROUP BY f.doc_id
        ORDER BY f.doc_id
    """,
    doc="DSIR-style data selection (Xie et al. 2023, public): per-doc "
    "hashed-n-gram importance weight log p_target/p_raw, with the "
    "English slice standing in for the target distribution — the "
    "importance-resampling signal used to select pretraining data that "
    "matches a high-quality target domain. Features are md5-hashed "
    f"unigram buckets (B={_DSIR_BUCKETS}; identical buckets on both "
    "engines from the same md5 prefix); bucket probabilities are "
    "Laplace-smoothed exact integer rationals, and each bucket's "
    "log-ratio quantizes ONCE to integer micro-bits (log2 of exact "
    "integers — ulp drift sits ten orders below the step), so the "
    "per-doc weight is an exact BIGINT sum and the selected flag is an "
    "integer comparison. Shape: one token explode → bucket count "
    f"shuffle onto {_DSIR_BUCKETS} keys (map-side combined), totals via "
    "an unbounded window over the 64-row bucket table, then the tiny "
    "weight table broadcast-joins back onto the feature stream for ONE "
    "per-doc rollup.",
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_t"),
        F.explode(X.tokens(F.col("text"))).alias("tok"),
    )
    feat = tok.select(
        "doc_id",
        "is_t",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    buckets = feat.groupBy("b").agg(
        F.count("*").alias("cr"), F.count(F.when(F.col("is_t"), 1)).alias("ct")
    )
    wt = Window.partitionBy()
    q = buckets.select(
        "b",
        F.round(
            (
                F.log2((F.col("ct") + 1).cast("double"))
                + F.log2((F.sum("cr").over(wt) + _DSIR_BUCKETS).cast("double"))
                - F.log2((F.sum("ct").over(wt) + _DSIR_BUCKETS).cast("double"))
                - F.log2((F.col("cr") + 1).cast("double"))
            )
            * F.lit(_DSIR_SCALE)
        )
        .cast("long")
        .alias("q_bits"),
    )
    return (
        feat.join(q, "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_feats"), F.sum("q_bits").alias("sum_q"))
        .select(
            "doc_id",
            "n_feats",
            (F.col("sum_q").cast("double") / F.lit(_DSIR_SCALE).cast("double")).alias(
                "logw_bits"
            ),
            (F.col("sum_q") > 0).alias("selected"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Zipf power-law fit over token frequencies (documents)
# --------------------------------------------------------------------------

#: number of head tokens the log-log fit runs over (bounded by design)
_ZIPF_TOP = 200


@register(
    "docs_zipf_fit",
    oracle=f"""
        WITH tok AS (
            SELECT UNNEST({_TOKS_SQL}) AS tok FROM documents
        ),
        freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        head AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk
            FROM freq
            QUALIFY rnk <= {_ZIPF_TOP}
        ),
        pts AS (
            SELECT CAST(ROUND(log2(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                   CAST(ROUND(log2(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
            FROM head
        ),
        m AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(x * y) AS sxy
            FROM pts
        )
        SELECT n AS n_points,
               (CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope,
               (CAST(sy AS DOUBLE)
                - (CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE) AS log2_c_at_rank1
        FROM m
    """,
    doc="Zipf power-law fit of the token frequency head: OLS slope of "
    f"log2(count) against log2(rank) over the top {_ZIPF_TOP} tokens — "
    "natural corpora sit near slope −1; a flat slope flags synthetic or "
    "template-heavy text, a cliff flags boilerplate (the corpus-health "
    "readout next to repetition and rarity). Bounded by design: the fit "
    "only ever sees a constant-size head (rank window over the post-agg "
    "frequency table), so corpus scale changes the counts, not the "
    "plan. Each point quantizes log2 of exact integers once to "
    "micro-units; the OLS moments are exact BIGINT sums and the "
    "slope/intercept closed form runs in a fixed double op sequence "
    "(n·Σxy products exceed int64 at micro-unit scale) — "
    "bit-deterministic cross-engine. Intercept reported as "
    "log2(count) at rank 1 in bits.",
)
def docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("c"))
    wr = Window.orderBy(F.desc("c"), "tok")
    head = (
        freq.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _ZIPF_TOP)
    )
    pts = head.select(
        F.round(F.log2(F.col("rnk").cast("double")) * F.lit(1000000))
        .cast("long")
        .alias("x"),
        F.round(F.log2(F.col("c").cast("double")) * F.lit(1000000))
        .cast("long")
        .alias("y"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, sxyd = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (sxyd * nd - sxd * syd) / (sxxd * nd - sxd * sxd)
    return m.select(
        F.col("n").alias("n_points"),
        slope.alias("zipf_slope"),
        ((syd - slope * sxd) / nd / F.lit(1000000).cast("double")).alias(
            "log2_c_at_rank1"
        ),
    )


# --------------------------------------------------------------------------
# Embedding covariance structure (embeddings)
# --------------------------------------------------------------------------

#: integer units: 1e6 per element for first moments, 1e9 per pair product
_COV_S1 = 1_000_000
_COV_S2 = 1_000_000_000
_COV_TOPK = 20
_EMB_DIM = 64


@register(
    "emb_covariance_top_pairs",
    oracle=f"""
        WITH el AS (
            SELECT vec_id, CAST(t.i AS INTEGER) AS i,
                   CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE) AS x
            FROM embeddings, UNNEST(range(len(embedding))) AS t(i)
        ),
        s1 AS (
            SELECT i, SUM(CAST(ROUND(x * {_COV_S1}) AS BIGINT)) AS s1,
                   COUNT(*) AS n
            FROM el GROUP BY i
        ),
        s2 AS (
            SELECT a.i AS i, b.i AS j,
                   SUM(CAST(ROUND(a.x * b.x * {_COV_S2}) AS BIGINT)) AS s2
            FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i < b.i
            GROUP BY 1, 2
        ),
        cov AS (
            SELECT s2.i, s2.j,
                   CAST(s2.s2 AS DOUBLE)
                       / (CAST(sa.n AS DOUBLE) * CAST({_COV_S2} AS DOUBLE))
                   - (CAST(sa.s1 AS DOUBLE)
                      / (CAST(sa.n AS DOUBLE) * CAST({_COV_S1} AS DOUBLE)))
                     * (CAST(sb.s1 AS DOUBLE)
                        / (CAST(sb.n AS DOUBLE) * CAST({_COV_S1} AS DOUBLE)))
                       AS cov
            FROM s2 JOIN s1 sa ON s2.i = sa.i JOIN s1 sb ON s2.j = sb.i
        )
        SELECT i, j, cov
        FROM cov
        QUALIFY ROW_NUMBER() OVER (ORDER BY ABS(cov) DESC, i, j) <= {_COV_TOPK}
        ORDER BY ABS(cov) DESC, i, j
    """,
    doc=f"Top-{_COV_TOPK} off-diagonal covariance pairs of the embedding "
    "dimensions — the second-moment structure check run before PCA/"
    "whitening or product quantization (strongly covarying dims mean "
    "the space wastes capacity; near-diagonal covariance justifies "
    "per-dim scalar quantization, see emb_quantize_error). Exactness: "
    "element products are exact in double (float32 squares fit), "
    "quantize once to integer units, and sum as BIGINT per (i, j) — "
    "map-side combined onto the FIXED 64·63/2 pair key space, so the "
    "shuffle is ~2k rows regardless of corpus size. Spark enumerates "
    "pairs per row with higher-order functions (no self-join, no "
    "explode until the narrow pair stream); the oracle mirrors "
    "semantics with an UNNEST self-join. The covariance closed form is "
    "a fixed double sequence; ranking ties break on (i, j). At extreme "
    "scale the s2 sums approach int64 — the documented switch is "
    "per-partition HUGEINT/decimal accumulation.",
)
def emb_covariance_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    idx = F.sequence(F.lit(0), F.lit(_EMB_DIM - 1))
    # per-row flat (i, j, units) pair stream, i < j — pure HOFs, no join
    empty = F.expr("CAST(array() AS array<int>)")
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                # sequence(a, b) DESCENDS when a > b (it never yields an
                # empty array), so the last dim must map to [] explicitly
                F.when(i < _EMB_DIM - 1, F.sequence(i + 1, F.lit(_EMB_DIM - 1)))
                .otherwise(empty),
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    F.round(
                        F.get(F.col("embedding"), i).cast("double")
                        * F.get(F.col("embedding"), j).cast("double")
                        * F.lit(_COV_S2)
                    )
                    .cast("long")
                    .alias("u"),
                ),
            ),
        )
    )
    el2 = emb.select(F.explode(pairs).alias("p")).select("p.i", "p.j", "p.u")
    s2 = el2.groupBy("i", "j").agg(F.sum("u").alias("s2"))
    el1 = emb.select(F.posexplode("embedding").alias("i", "x"))
    s1 = el1.groupBy("i").agg(
        F.sum(F.round(F.col("x").cast("double") * F.lit(_COV_S1)).cast("long")).alias(
            "s1"
        ),
        F.count("*").alias("n"),
    )
    sa = s1.select(F.col("i"), F.col("s1").alias("_s1a"), F.col("n").alias("_na"))
    sb = s1.select(
        F.col("i").alias("j"), F.col("s1").alias("_s1b"), F.col("n").alias("_nb")
    )
    mean_a = F.col("_s1a").cast("double") / (
        F.col("_na").cast("double") * F.lit(float(_COV_S1))
    )
    mean_b = F.col("_s1b").cast("double") / (
        F.col("_nb").cast("double") * F.lit(float(_COV_S1))
    )
    cov = (
        F.col("s2").cast("double")
        / (F.col("_na").cast("double") * F.lit(float(_COV_S2)))
        - mean_a * mean_b
    )
    scored = (
        s2.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select("i", "j", cov.alias("cov"))
    )
    w = W.orderBy(F.abs(F.col("cov")).desc(), "i", "j")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _COV_TOPK)
        .drop("rn")
        .orderBy(F.abs(F.col("cov")).desc(), "i", "j")
    )


@register(
    "docs_heaps_law_fit",
    oracle=f"""
        WITH per AS (
            SELECT len({_TOKS_SQL}) AS n_tok,
                   len(list_distinct({_TOKS_SQL})) AS n_typ
            FROM documents
            WHERE trim(text) <> ''
        ),
        pts AS (
            SELECT CAST(ROUND(log2(CAST(n_tok AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                   CAST(ROUND(log2(CAST(n_typ AS DOUBLE)) * 1000000) AS BIGINT) AS y
            FROM per WHERE n_tok > 0 AND n_typ > 0
        ),
        m AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(x * y) AS sxy
            FROM pts
        )
        SELECT n AS n_docs,
               (CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS heaps_beta,
               (CAST(sy AS DOUBLE)
                - (CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE) AS log2_k
        FROM m
    """,
    doc="Heaps'-law fit of vocabulary growth: per-document distinct-type "
    "count regressed against token count in log-log space (V ≈ K·nᵝ; "
    "natural language sits near β ≈ 0.5 — β near 1 means every doc "
    "brings fresh vocabulary [noisy/ID-heavy text], β near 0 means a "
    "closed template vocabulary). The companion corpus law to the Zipf "
    "fit, sharing its idiom: each point's log2 of exact integer counts "
    "quantizes once to micro-bits, OLS moments are exact BIGINT sums, "
    "closed form in a fixed double sequence. Per-row work is two "
    "higher-order expressions (size, size∘array_distinct) — no explode, "
    "no shuffle until the 1-row moment reduce.",
)
def docs_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = X.tokens(F.col("text"))
    per = docs.select(
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_typ"),
    ).filter((F.col("n_tok") > 0) & (F.col("n_typ") > 0))
    pts = per.select(
        F.round(F.log2(F.col("n_tok").cast("double")) * F.lit(1000000))
        .cast("long")
        .alias("x"),
        F.round(F.log2(F.col("n_typ").cast("double")) * F.lit(1000000))
        .cast("long")
        .alias("y"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, sxyd = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    beta = (sxyd * nd - sxd * syd) / (sxxd * nd - sxd * sxd)
    return m.select(
        F.col("n").alias("n_docs"),
        beta.alias("heaps_beta"),
        ((syd - beta * sxd) / nd / F.lit(1000000).cast("double")).alias("log2_k"),
    )


# ---------------------------------------------------------------------------
# Engine-exact distributed PCA: top-component projection by power iteration
# ---------------------------------------------------------------------------

_PCA_VS = 1_000_000  # coordinate / eigenvector quantization (micro-units)
_PCA_CCAP = 10_000  # rescaled-matrix magnitude cap (keeps w*VS inside int64)
_PCA_ITERS = 48  # near-isotropic clouds converge slowly; bounded work anyway


def _pca_iter_sql(prev: str, w: str, out: str) -> str:
    # MATERIALIZED: each w/v is referenced twice; default CTE inlining would
    # expand the 48-step chain exponentially
    return f"""
        {w} AS MATERIALIZED (
            SELECT cs.p AS q, CAST(SUM(cs.c * {prev}.v) AS BIGINT) AS w
            FROM cs JOIN {prev} ON cs.q = {prev}.q GROUP BY 1
        ),
        {out} AS MATERIALIZED (
            SELECT q, CAST(SIGN(w) AS BIGINT)
                      * ((ABS(w) * {_PCA_VS}) // m.m) AS v
            FROM {w} CROSS JOIN (SELECT MAX(ABS(w)) AS m FROM {w}) m
        )"""


_PCA_CHAIN_SQL = ",".join(
    _pca_iter_sql(f"v{i}", f"w{i + 1}", f"v{i + 1}") for i in range(_PCA_ITERS)
)


@register(
    "emb_pca_project",
    oracle=f"""
        WITH el AS MATERIALIZED (
            SELECT vec_id, CAST(t.i AS INTEGER) AS i,
                   CAST(ROUND(CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE)
                              * {_PCA_VS}) AS BIGINT) AS xi
            FROM embeddings, UNNEST(range(len(embedding))) AS t(i)
        ),
        nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM el),
        s1 AS MATERIALIZED (
            SELECT i, CAST(SUM(xi) AS BIGINT) AS s1 FROM el GROUP BY i
        ),
        s2 AS (
            SELECT a.i AS p, b.i AS q, CAST(SUM(a.xi * b.xi) AS BIGINT) AS s2
            FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY 1, 2
        ),
        cup AS MATERIALIZED (
            SELECT s2.p, s2.q,
                   CAST(nn.n * s2.s2 - sa.s1 * sb.s1 AS BIGINT) AS c
            FROM s2
            JOIN s1 sa ON s2.p = sa.i
            JOIN s1 sb ON s2.q = sb.i
            CROSS JOIN nn
        ),
        cfull AS (
            SELECT p, q, c FROM cup
            UNION ALL
            SELECT q AS p, p AS q, c FROM cup WHERE p <> q
        ),
        dd AS (
            SELECT GREATEST(1, MAX(ABS(c)) // {_PCA_CCAP}) AS d FROM cfull
        ),
        cs AS MATERIALIZED (
            SELECT p, q, CAST(SIGN(c) AS BIGINT) * (ABS(c) // dd.d) AS c
            FROM cfull CROSS JOIN dd
        ),
        v0 AS (SELECT i AS q, CAST({_PCA_VS} AS BIGINT) AS v FROM s1),
        {_PCA_CHAIN_SQL},
        sgn AS (
            SELECT CASE WHEN v < 0 THEN CAST(-1 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) END AS s
            FROM v{_PCA_ITERS} ORDER BY ABS(v) DESC, q LIMIT 1
        )
        SELECT el.vec_id,
               CAST(SUM(el.xi * vv.v * sgn.s) AS BIGINT) AS score_u,
               CAST(SUM(el.xi * vv.v * sgn.s) AS DOUBLE)
                   / ({_PCA_VS}.0 * {_PCA_VS}.0) AS score
        FROM el JOIN v{_PCA_ITERS} vv ON el.i = vv.q CROSS JOIN sgn
        GROUP BY el.vec_id
        ORDER BY el.vec_id
    """,
    doc=f"Distributed PCA, engine-exact: every vector's projection onto the "
    f"top principal component, found by {_PCA_ITERS} power iterations of "
    "the centered second-moment matrix run ENTIRELY in integer "
    "arithmetic — the quantized-PCA trick that makes an iterative "
    "linear-algebra op differentially testable (float power iteration "
    "diverges bitwise per iteration; here every engine lands the "
    "identical component and identical scores). This is the actual "
    "dimension-reduction / whitening primitive: the score column is the "
    "1-D reduced representation, and its variance share decides whether "
    "scalar quantization (emb_quantize_error) is safe. Scale shape — "
    "the kmeans pattern: the only DATA-SCALE passes are (1) the Gram "
    "accumulation, per-row i≤j products enumerated by higher-order "
    "functions onto the FIXED 64·65/2 key space (map-side combined, "
    "~2k-row shuffle regardless of corpus size), and (2) the final "
    "in-plan projection against the 64 literal loadings; the 64×64 "
    "matrix is the ONLY driver-side state (the centroid-collect "
    "precedent, bounded by dim² not data), and the iteration loop runs "
    "on it in exact Python ints. Centering uses n·S2 − S1·S1ᵀ "
    "(exact; n²-scaled — past ~10^4·|xi| vectors the documented switch "
    "is decimal(38) accumulation). Rescales are truncating with the "
    "sign factored out (DuckDB's // floors on negatives); normalization "
    "is L∞ (no sqrt — stays integral); the sign convention makes the "
    "largest-|loading| dimension (lowest index on ties) positive. The "
    "oracle replays the identical iteration as a MATERIALIZED-CTE chain "
    "(plain CTEs would inline the doubly-referenced steps "
    "exponentially).",
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    xi_arr = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _PCA_VS).cast("long"),
    )
    fixed = emb.select("vec_id", xi_arr.alias("xi"))

    # Gram upper triangle: per-row HOF pair stream (no self-join), i <= j
    idx = F.sequence(F.lit(0), F.lit(_EMB_DIM - 1))
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i, F.lit(_EMB_DIM - 1)),
                lambda j: F.struct(
                    i.cast("int").alias("p"),
                    j.cast("int").alias("q"),
                    (F.get(F.col("xi"), i) * F.get(F.col("xi"), j)).alias("u"),
                ),
            ),
        )
    )
    s2_rows = (
        fixed.select(F.explode(pairs).alias("pr"))
        .select("pr.p", "pr.q", "pr.u")
        .groupBy("p", "q")
        .agg(F.sum("u").alias("s2"))
        .collect()
    )
    s1_rows = (
        fixed.select(F.posexplode("xi").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("s1"))
        .collect()
    )
    n = fixed.count()

    # bounded driver-side state: the dim x dim integer matrix (<= 64*64
    # values — the centroid-collect precedent), iterated in exact Python ints
    s1 = {int(r["i"]): int(r["s1"]) for r in s1_rows}
    dim = _EMB_DIM
    c = [[0] * dim for _ in range(dim)]
    for r in s2_rows:
        p, q = int(r["p"]), int(r["q"])
        val = n * int(r["s2"]) - s1[p] * s1[q]
        c[p][q] = val
        c[q][p] = val
    max_abs = max(abs(v) for row in c for v in row)
    d = max(1, max_abs // _PCA_CCAP)
    cs = [[(1 if v >= 0 else -1) * (abs(v) // d) for v in row] for row in c]

    v = [_PCA_VS] * dim
    for _ in range(_PCA_ITERS):
        w = [sum(cs[p][q] * v[q] for q in range(dim)) for p in range(dim)]
        m = max(abs(x) for x in w)
        v = [(1 if x >= 0 else -1) * (abs(x) * _PCA_VS // m) for x in w]
    # sign convention: largest-|loading| dim (lowest index on ties) positive
    star = max(range(dim), key=lambda q: (abs(v[q]), -q))
    if v[star] < 0:
        v = [-x for x in v]

    loadings = F.array(*[F.lit(x).cast("long") for x in v])
    score_u = F.aggregate(
        F.zip_with(F.col("xi"), loadings, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        fixed.select(
            "vec_id",
            score_u.alias("score_u"),
            (
                score_u.cast("double") / F.lit(float(_PCA_VS) * float(_PCA_VS))
            ).alias("score"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Product quantization: subspace-coded embedding compression
# ---------------------------------------------------------------------------

_PQ_SUBS = 8  # subspaces (64 dims -> 8 sub-vectors of 8)
_PQ_SUBDIM = _EMB_DIM // _PQ_SUBS
_PQ_K = 16  # codes per subspace (4-bit codes)


@register(
    "emb_pq_encode_stats",
    oracle=f"""
        WITH pts AS (
            SELECT vec_id,
                   (CAST(t.i AS INTEGER) - 1) // {_PQ_SUBDIM} AS sub,
                   (CAST(t.i AS INTEGER) - 1) % {_PQ_SUBDIM} AS pos,
                   CAST(ROUND(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)
                              * 1000000) AS BIGINT) AS xi
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
        ),
        cent AS (
            SELECT vec_id AS code, sub, pos, xi AS mi
            FROM pts WHERE vec_id < {_PQ_K}
        ),
        d AS (
            SELECT p.vec_id, p.sub, c.code,
                   SUM((p.xi - c.mi) * (p.xi - c.mi)) AS d2
            FROM pts p JOIN cent c ON p.sub = c.sub AND p.pos = c.pos
            GROUP BY 1, 2, 3
        ),
        assign AS (
            SELECT vec_id, sub, code, d2
            FROM d
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d2, code) = 1
        )
        SELECT sub, code,
               COUNT(*) AS n_vecs,
               CAST(SUM(d2) AS BIGINT) AS inertia,
               CAST(SUM(d2) AS DOUBLE)
                   / (COUNT(*) * {_PQ_SUBDIM} * 1000000.0 * 1000000.0)
                   AS mse_per_dim
        FROM assign
        GROUP BY sub, code
        ORDER BY sub, code
    """,
    doc=f"Product quantization encode: each embedding splits into "
    f"{_PQ_SUBS} sub-vectors of {_PQ_SUBDIM} dims, each assigned to the "
    f"nearest of {_PQ_K} codebook entries (4-bit codes — a 64-float "
    "vector compresses to 8 nibbles, the memory layout behind "
    "FAISS-style IVF-PQ search; see sim_ivf_topk for the coarse stage). "
    "Codebooks are the first 16 vectors' sub-vectors (deterministic "
    "sampled init — the sim_kmeans_lloyd1 idiom; a Lloyd refinement "
    "reuses that query's M-step machinery). Emits the per-(subspace, "
    "code) histogram + exact integer inertia + per-dim reconstruction "
    "MSE — the codebook-balance/recall-loss readout that decides "
    "whether PQ is safe for the corpus. Exactness: micro-unit integer "
    "coordinates make every distance, argmin, and tie-break "
    "(lowest code id) an exact integer, so the encode hash-matches "
    "across engines. Scale shape: the codebook is a bounded broadcast "
    f"({_PQ_K}×{_EMB_DIM} values as literal arrays); assignment is a "
    "per-row HOF argmin — the corpus never joins or explodes; ONE "
    "shuffle onto the fixed 8×16 key space, map-side combined.",
)
def emb_pq_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    xi_arr = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
    )
    fixed = emb.select("vec_id", xi_arr.alias("xi"))

    init_rows = fixed.filter(F.col("vec_id") < _PQ_K).collect()
    # codebook[sub][code] = list of _PQ_SUBDIM ints (bounded driver state)
    books: list[list[list[int]]] = [
        [None] * _PQ_K for _ in range(_PQ_SUBS)  # type: ignore[list-item]
    ]
    for r in init_rows:
        code = int(r["vec_id"])
        xs = list(r["xi"])
        for s in range(_PQ_SUBS):
            books[s][code] = xs[s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]

    # The whole per-row encode is ONE SQL expression (a single py4j call +
    # parse): building it from ~2000 Column objects cost ~8 s of driver-side
    # py4j round-trips per plan (the sim_ann_lsh plan-time lesson, Python
    # flavor). Per subspace: array_min over the 16 (d2, code) structs —
    # struct ordering breaks distance ties on the LOWEST code, matching the
    # oracle's (d2, code) ROW_NUMBER order.
    def best_sql(sub: int) -> str:
        book = ", ".join(
            "array(" + ", ".join(f"{int(m)}L" for m in books[sub][code]) + ")"
            for code in range(_PQ_K)
        )
        return (
            f"array_min(transform(sequence(0, {_PQ_K - 1}), c -> named_struct("
            f"'d2', aggregate(zip_with(slice(xi, {sub * _PQ_SUBDIM + 1}, "
            f"{_PQ_SUBDIM}), element_at(array({book}), c + 1), "
            f"(a, b) -> (a - b) * (a - b)), 0L, (s, v) -> s + v), "
            f"'code', CAST(c AS INT))))"
        )

    encode_sql = "explode(array(" + ", ".join(
        f"named_struct('sub', {s}, 'best', {best_sql(s)})"
        for s in range(_PQ_SUBS)
    ) + "))"
    encoded = fixed.select(F.expr(encode_sql).alias("e")).select(
        "e.sub", F.col("e.best.code").alias("code"), F.col("e.best.d2").alias("d2")
    )
    return (
        encoded.groupBy("sub", "code")
        .agg(F.count("*").alias("n_vecs"), F.sum("d2").alias("inertia"))
        .select(
            "sub",
            "code",
            "n_vecs",
            "inertia",
            (
                F.col("inertia").cast("double")
                / (
                    F.col("n_vecs")
                    * F.lit(float(_PQ_SUBDIM) * 1_000_000.0 * 1_000_000.0)
                )
            ).alias("mse_per_dim"),
        )
        .orderBy("sub", "code")
    )


# --------------------------------------------------------------------------
# End-to-end preprocessing pipeline (quality filter → exact dedup → cap)
# --------------------------------------------------------------------------

_E2E_CAP = 100  # per-source survivor cap after filtering + dedup

_E2E_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@register(
    "docs_pipeline_e2e_digest",
    oracle=f"""
        {_METRICS_SQL},
        kept AS (
            SELECT doc_id FROM metrics
            WHERE n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
              AND dup_token_ratio <= {_MAX_DUP_TOKEN_RATIO}
              AND top_token_ratio <= {_MAX_TOP_TOKEN_RATIO}
              AND dup_bigram_ratio <= {_MAX_DUP_BIGRAM_RATIO}
        ),
        surv AS (
            SELECT d.doc_id, d.lang, d.source, d.n_chars,
                   md5({_E2E_NORM_SQL}) AS fp,
                   CASE WHEN trim(d.text) = '' THEN 0
                        ELSE len({_TOKS_SQL}) END AS n_tok
            FROM documents d JOIN kept USING (doc_id)
        ),
        canon AS (SELECT fp, MIN(doc_id) AS keep_id FROM surv GROUP BY fp),
        dd AS (
            SELECT s.* FROM surv s JOIN canon c ON s.doc_id = c.keep_id
        ),
        capped AS (
            SELECT * FROM (
                SELECT dd.*,
                       ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY doc_id) AS rn
                FROM dd
            ) WHERE rn <= {_E2E_CAP}
        )
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM capped
        GROUP BY lang, source ORDER BY lang, source
    """,
    doc="The preprocessing pipeline END TO END as one composed plan — "
    "Gopher repetition filter → exact dedup (normalized-md5 fingerprint, "
    "keep-lowest-id) → per-source cap "
    f"({_E2E_CAP}) → per-(lang, source) composition digest with an "
    "id-sum membership checksum. This is the 'a user could run their "
    "whole cleaning pass as one query' proof: each stage is the already-"
    "gated operator (docs_gopher_quality_filter's rules, "
    "dedup_exact_groups' canon rule, docs_cap_per_source's rank cap) "
    "COMPOSED, and the digest pins the exact surviving doc set, not "
    "just counts. Plan shape: the metrics are per-row projections (no "
    "token shuffle), dedup is one fingerprint groupBy + a semi-join, "
    "the cap is a source-keyed window over the deduped survivors, and "
    "the rollup is partial-aggregatable — at 100 TB the pipeline costs "
    "two keyed shuffles (fingerprint, cap) plus the final reduce.",
)
def docs_pipeline_e2e_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    m = _doc_metrics(spark, sf_dir)
    kept_rules = (
        F.col("n_tokens").between(_MIN_TOKENS, _MAX_TOKENS)
        & (F.col("dup_token_ratio") <= _MAX_DUP_TOKEN_RATIO)
        & (F.col("top_token_ratio") <= _MAX_TOP_TOKEN_RATIO)
        & (F.col("dup_bigram_ratio") <= _MAX_DUP_BIGRAM_RATIO)
    )
    kept = m.filter(kept_rules).select("doc_id")
    surv = (
        docs.join(kept, "doc_id", "semi")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.md5(X.normalized_text(F.col("text"))).alias("fp"),
            X.token_count(F.col("text")).alias("n_tok"),
        )
        .transform(pin)  # scan-budget: documents scanned 4 times without it
    )
    canon = surv.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    dd = surv.join(
        canon.select(F.col("keep_id").alias("doc_id")), "doc_id", "semi"
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    capped = dd.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _E2E_CAP
    )
    return (
        capped.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# Inter-cluster centroid similarity (embedding-space separation matrix)
# --------------------------------------------------------------------------


@register(
    "emb_label_centroid_sim",
    oracle="""
        WITH pts AS (
            SELECT label, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)
        ),
        cent AS (
            SELECT label, pos, CAST(ROUND(AVG(xi)) AS BIGINT) AS mi
            FROM pts GROUP BY label, pos
        ),
        d AS (
            SELECT a.label AS la, b.label AS lb, SUM(a.mi * b.mi) AS dab
            FROM cent a JOIN cent b USING (pos)
            WHERE a.label <= b.label
            GROUP BY la, lb
        )
        SELECT p.la AS label_a, p.lb AS label_b,
               ROUND(CAST(p.dab AS DOUBLE)
                     / NULLIF(sqrt(CAST(aa.dab AS DOUBLE))
                              * sqrt(CAST(bb.dab AS DOUBLE)), 0.0), 6)
                   AS centroid_cosine
        FROM d p
        JOIN d aa ON aa.la = p.la AND aa.lb = p.la
        JOIN d bb ON bb.la = p.lb AND bb.lb = p.lb
        WHERE p.la < p.lb
        ORDER BY label_a, label_b
    """,
    doc="Inter-cluster SEPARATION matrix: pairwise cosine between the "
    "per-label centroid vectors — the diagnostic read after any "
    "clustering pass (SemDeDup buckets, IVF cells, k-means labels): "
    "high off-diagonal cosine means two clusters overlap and their "
    "within-cluster dedup/quota decisions bleed into each other. "
    "Exactness: centroids quantize to micro-unit BIGINTs via the "
    "sim_kmeans_lloyd1 idiom (ROUND(AVG) per dimension — engine-exact), "
    "every dot product is an exact integer, and the cosine is one "
    "fixed-sequence double expression rounded to 6 dp. Spark shape: "
    "one posexplode + a (label, pos) groupBy collapses the corpus to "
    "|labels|×64 centroid rows (map-side combined — the only "
    "corpus-scale work), checkpointed once; the pairwise matrix is a "
    "broadcast self-join of that tiny frame on the dimension key.",
)
def emb_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import _to_fixed  # the one micro-unit quantizer

    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "label", F.posexplode(_to_fixed(F.col("embedding")))
    ).withColumnsRenamed({"col": "xi"})
    # |labels| x 64 rows; feeds both self-join sides and the norm lookups
    cent = (
        pts.groupBy("label", "pos")
        .agg(F.round(F.avg("xi")).cast("long").alias("mi"))
        .transform(pin)  # scan-budget: embeddings scanned 6 times without it
    )
    a = cent.select(F.col("label").alias("la"), "pos", F.col("mi").alias("ma"))
    b = cent.select(F.col("label").alias("lb"), "pos", F.col("mi").alias("mb"))
    d = (
        a.join(b, "pos")
        .filter(F.col("la") <= F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("dab"))
    )
    aa = d.filter(F.col("la") == F.col("lb")).select(
        F.col("la").alias("_l"), F.col("dab").alias("_naa")
    )
    return (
        d.filter(F.col("la") < F.col("lb"))
        .join(F.broadcast(aa.withColumnRenamed("_l", "la").withColumnRenamed("_naa", "_a2")), "la")
        .join(F.broadcast(aa.withColumnRenamed("_l", "lb").withColumnRenamed("_naa", "_b2")), "lb")
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            F.round(
                F.col("dab").cast("double")
                / F.nullif(
                    F.sqrt(F.col("_a2").cast("double"))
                    * F.sqrt(F.col("_b2").cast("double")),
                    F.lit(0.0),
                ),
                6,
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "docs_contamination_by_split",
    oracle="""
        WITH sh AS (
            SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
                FROM (SELECT doc_id,
                             string_split(regexp_replace(lower(trim(text)),
                                                         '\\s+', ' ', 'g'),
                                          ' ') AS toks
                      FROM documents),
                     UNNEST(range(1, greatest(len(toks) - 2, 1) + 1)) AS t(i)
            )
        ),
        bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        contaminated AS (
            SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (sh)
            WHERE s.doc_id % 97 <> 0
        ),
        s AS (
            SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             ::BIGINT % 100 < 5 THEN 'val'
                        WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             ::BIGINT % 100 < 10 THEN 'test'
                        ELSE 'train' END AS split
            FROM documents WHERE doc_id % 97 <> 0
        )
        SELECT s.split,
               COUNT(*) AS n_docs,
               COUNT(c.doc_id) AS n_contaminated,
               CAST(COUNT(c.doc_id) AS DOUBLE) / COUNT(*)
                   AS contamination_rate
        FROM s LEFT JOIN contaminated c USING (doc_id)
        GROUP BY s.split ORDER BY s.split
    """,
    doc="Benchmark-contamination rate PER SPLIT — the composition the "
    "two building blocks exist for (docs_decontaminate finds "
    "contaminated docs; docs_split_counts deals the splits; THIS table "
    "answers the release question: how much of each train/val/test "
    "slice shares content with the benchmark, i.e. is the eval split "
    "clean). Shape: the inverted-index contamination semi-set LEFT-"
    "joined onto the hash-percentile split assignment, one split-keyed "
    "rollup; counts exact, one division per split row. The benchmark "
    "side is tiny and broadcasts; nothing all-pairs.",
)
def docs_contamination_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import train_val_test_split
    from ..operators.dedup import _doc_shingles

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    t_sh = _doc_shingles(train, "text", 3)
    b_sh = _doc_shingles(bench, "text", 3).select("sh").distinct()
    contaminated = (
        t_sh.join(b_sh, "sh")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1).alias("_c"))
    )
    s = train_val_test_split(train).select("doc_id", "split")
    return (
        s.join(contaminated, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("_c").alias("n_contaminated"),
            (F.count("_c").cast("double") / F.count("*")).alias(
                "contamination_rate"
            ),
        )
        .orderBy("split")
    )


@register(
    "emb_isotropy_mean_cosine",
    oracle="""
        WITH pts AS (
            SELECT vec_id, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)
        ),
        mean_v AS MATERIALIZED (
            SELECT pos, CAST(ROUND(AVG(xi)) AS BIGINT) AS mi
            FROM pts GROUP BY pos
        ),
        m2 AS (SELECT CAST(SUM(mi * mi) AS BIGINT) AS mm FROM mean_v),
        per_vec AS (
            SELECT p.vec_id,
                   CAST(SUM(p.xi * v.mi) AS BIGINT) AS dot,
                   CAST(SUM(p.xi * p.xi) AS BIGINT) AS vv
            FROM pts p JOIN mean_v v USING (pos)
            GROUP BY p.vec_id
        ),
        cosr AS (
            SELECT vec_id,
                   CAST(ROUND(CAST(dot AS DOUBLE)
                              / NULLIF(sqrt(CAST(vv AS DOUBLE))
                                       * sqrt(CAST(m2.mm AS DOUBLE)), 0.0)
                              * 1000000) AS BIGINT) AS cos_micro
            FROM per_vec, m2
        )
        SELECT COUNT(*) AS n_vecs,
               CAST(SUM(cos_micro) AS BIGINT) AS sum_cos_micro,
               CAST(SUM(cos_micro) AS DOUBLE) / (COUNT(*) * 1000000.0)
                   AS mean_cosine,
               COUNT(CASE WHEN cos_micro >= 500000 THEN 1 END)
                   AS n_ge_half,
               COUNT(CASE WHEN cos_micro <= 0 THEN 1 END) AS n_nonpos
        FROM cosr
    """,
    doc="Embedding isotropy diagnostic — the mean cosine of every vector "
    "to the corpus MEAN vector: anisotropic representation spaces "
    "(mean cosine near 1) break cosine-based dedup/ANN thresholds, so "
    "this is the calibration readout run before trusting any of them. "
    "Exactness: vectors and the mean quantize to micro-unit BIGINTs "
    "(the kmeans/centroid idiom), dot and norms are exact integers, "
    "each per-vector cosine is ONE fixed IEEE sequence rounded to an "
    "integer micro-cosine, and the corpus rollup sums those integers — "
    "order-independent, hash-stable. Spark shape: one posexplode "
    "rollup for the 64-row mean (broadcast back), one "
    "vec-keyed reduce for dot/norm, a 1-row |mean|² scalar broadcast, "
    "and a 1-row final reduce.",
)
def emb_isotropy_mean_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import _to_fixed

    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", F.posexplode(_to_fixed(F.col("embedding")))
    ).withColumnsRenamed({"col": "xi"})
    mean_v = (
        pts.groupBy("pos")
        .agg(F.round(F.avg("xi")).cast("long").alias("mi"))
    )
    m2 = mean_v.agg(F.sum(F.col("mi") * F.col("mi")).alias("mm"))
    per_vec = (
        pts.join(F.broadcast(mean_v), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("xi") * F.col("mi")).alias("dot"),
            F.sum(F.col("xi") * F.col("xi")).alias("vv"),
        )
    )
    cos_micro = F.round(
        F.col("dot").cast("double")
        / F.nullif(
            F.sqrt(F.col("vv").cast("double")) * F.sqrt(F.col("mm").cast("double")),
            F.lit(0.0),
        )
        * 1000000
    ).cast("long")
    cosr = per_vec.join(F.broadcast(m2)).select(cos_micro.alias("cos_micro"))
    return cosr.agg(
        F.count("*").alias("n_vecs"),
        F.sum("cos_micro").alias("sum_cos_micro"),
        (
            F.sum("cos_micro").cast("double")
            / (F.count("*") * F.lit(1000000.0))
        ).alias("mean_cosine"),
        F.count(F.when(F.col("cos_micro") >= 500000, 1)).alias("n_ge_half"),
        F.count(F.when(F.col("cos_micro") <= 0, 1)).alias("n_nonpos"),
    )


@register(
    "emb_exact_dup_sizes",
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  e -> CAST(ROUND(e * 1000000) AS BIGINT))
                       AS qv
            FROM embeddings
        ),
        g AS (SELECT qv, COUNT(*) AS group_size, MIN(vec_id) AS keeper
              FROM q GROUP BY qv)
        SELECT group_size,
               COUNT(*) AS n_groups,
               CAST(SUM(keeper) AS BIGINT) AS keeper_id_sum
        FROM g GROUP BY group_size ORDER BY group_size
    """,
    doc="Exact-duplicate detection in REPRESENTATION space: group by the "
    "full micro-quantized vector (the curation step that catches "
    "re-encoded/re-crawled items whose raw text differs but whose "
    "embedding is bit-identical). The vector itself is the grouping "
    "key — array equality, no hashing ambiguity; the readout is the "
    "group-size histogram plus a min-vec_id keeper digest, all exact "
    "integers. Scale shape: ONE shuffle keyed on the quantized array "
    "(Spark hashes arrays natively, same cost as an md5 key but with "
    "zero collision risk); the testdata corpus has no exact dups "
    "(every group_size = 1 — itself the assertion), so "
    "tests/test_dedup_similarity.py pins the positive path on an "
    "engineered frame with planted duplicates.",
)
def emb_exact_dup_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import _to_fixed

    emb = table(spark, sf_dir, "embeddings")
    g = (
        emb.select("vec_id", _to_fixed(F.col("embedding")).alias("qv"))
        .groupBy("qv")
        .agg(F.count("*").alias("group_size"), F.min("vec_id").alias("keeper"))
    )
    return (
        g.groupBy("group_size")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("keeper").alias("keeper_id_sum"),
        )
        .orderBy("group_size")
    )
