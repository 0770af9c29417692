"""Beyond-reference extension queries (BASELINE.json north star; SURVEY §7.5):
text analysis, deduplication, similarity search, event-stream analytics,
multimodal plumbing — each registered with a DuckDB oracle where ANSI-SQL
can express the semantics, rows-only otherwise.

The oracle SQL is generated from the SAME constants (stopword lexicons,
shingle width, hash salts, band layout) as the Spark implementations, so
the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as X
from ..sources.catalog import table
from ..streaming import events as E
from ..functions.exact_agg import MICROS, xsum, xsum_sql
from .registry import REGISTRY, register
from ..operators.scale import pin

# ----------------------------- shared SQL fragments -----------------------

#: whitespace tokens of lower(trim(text)) — DuckDB twin of text.tokens()
_TOKS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"
#: whitespace-normalized text — twin of text.normalized_text()
_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _hits_sql(words: tuple[str, ...]) -> str:
    wl = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_TOKS_SQL}, x -> x IN ({wl})))"


#: (doc_id, sh) distinct 3-gram shingles — twin of dedup._doc_shingles(n=3)
_SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
        FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
             UNNEST(range(1, greatest(len(toks) - 2, 1) + 1)) AS t(i)
    )
"""

_NUM_HASHES = 8
_BANDS = 4

#: base hash twin of dedup.minhash_signatures: md5 15-hex prefix → BIGINT mod P
_HBASE_SQL = f"(('0x' || substr(md5(sh), 1, 15))::BIGINT % {D.MINHASH_P})"

_MINHASH_AGGS_SQL = ",\n               ".join(
    f"min((hsh * {a} + {b}) % {D.MINHASH_P}) AS h{i}"
    for i, (a, b) in enumerate(D.minhash_coeffs(_NUM_HASHES))
)

_BANDED_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_idx, md5(h{2 * b} || '|' || h{2 * b + 1}) AS band_sig FROM sig"
    for b in range(_BANDS)
)


# ----------------------------- text analysis ------------------------------


@register(
    "text_token_stats",
    oracle=f"""
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE CAST(len({_TOKS_SQL}) AS INTEGER) END AS n_tokens,
               CAST(len(regexp_extract_all(text, '{X.BPE_TOKEN_PATTERN}')) AS INTEGER)
                   AS n_bpe_tokens
        FROM documents ORDER BY doc_id
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex tokens "
    "(split / regexp_extract_all — JVM-side, no UDF).",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n_tokens"),
        X.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


@register(
    "text_quality",
    oracle=f"""
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS n_chars_m,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE CAST(len({_TOKS_SQL}) AS INTEGER) END AS n_tokens,
               ROUND(length(regexp_replace(text, '\\s+', '', 'g'))
                     / NULLIF(CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END) AS DOUBLE), 0.0), 4)
                   AS mean_token_len,
               ROUND(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                     / NULLIF(CAST(length(text) AS DOUBLE), 0.0), 4) AS punct_ratio,
               ROUND({_hits_sql(X.LANG_STOPWORDS["en"])}
                     / NULLIF(CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END) AS DOUBLE), 0.0), 4)
                   AS stopword_ratio,
               CASE WHEN (CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END) < 5
                         OR length(regexp_replace(text, '\\s+', '', 'g'))
                            / NULLIF(CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END) AS DOUBLE), 0.0) > 15
                    THEN 'poor'
                    WHEN {_hits_sql(X.LANG_STOPWORDS["en"])}
                         / NULLIF(CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END) AS DOUBLE), 0.0) >= 0.05
                    THEN 'good'
                    ELSE 'fair' END AS quality_bucket
        FROM documents ORDER BY doc_id
    """,
    doc="Quality scoring: length / punctuation / stopword ratios + "
    "deterministic quality bucket — one narrow projection per doc.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    out = X.quality_metrics(docs)
    # n_tokens int on both sides
    return out.withColumn("n_tokens", F.col("n_tokens").cast("int")).withColumn(
        "n_chars_m", F.col("n_chars_m").cast("int")
    ).orderBy("doc_id")


def _langid_case_sql() -> str:
    langs = sorted(X.LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    whens = "\n                    ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    hits = ",\n                   ".join(
        f"{_hits_sql(X.LANG_STOPWORDS[lang])} AS hits_{lang}" for lang in langs
    )
    return f"""
        SELECT doc_id, lang,
               CASE WHEN {best} = 0 THEN 'und'
                    {whens}
                    ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, lang, text,
                   {hits}
              FROM documents)
        ORDER BY doc_id
    """


@register(
    "text_langid",
    oracle=_langid_case_sql(),
    doc="Language-ID heuristic: argmax of per-language stopword hits with "
    "alphabetical tie-break ('und' when zero hits). Pure column "
    "expressions, reproducible in ANSI SQL.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return X.lang_id(docs).orderBy("doc_id")


@register(
    "text_lang_rollup",
    oracle="""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               ROUND(AVG(CAST(n_chars AS DOUBLE)), 2) AS avg_chars
        FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
    doc="Corpus rollup by (lang, source) — the `documents` analog of the "
    "reference's category aggregations (A4/A5).",
)
def text_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
        )
        .orderBy("lang", "source")
    )


@register(
    "text_fingerprint",
    oracle=f"""
        SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents ORDER BY doc_id
    """,
    doc="Document fingerprinting: md5 of whitespace-normalized text "
    "(engine-portable digest; xxhash64 would be JVM-only).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


@register(
    "text_ngram_topk",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL})
        SELECT sh AS ngram, COUNT(*) AS n_docs
        FROM sh GROUP BY sh
        ORDER BY n_docs DESC, ngram LIMIT 20
    """,
    doc="Corpus-wide top-20 3-gram shingles by document frequency "
    "(boilerplate detection — the usual precursor to dedup thresholds). "
    "explode → partial-agg count → TakeOrdered; one shuffle.",
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(X.shingles(F.col("text"))).alias("ngram"))
    return (
        sh.groupBy("ngram")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(20)
    )


# ----------------------------- deduplication ------------------------------


@register(
    "dedup_exact_groups",
    oracle=f"""
        SELECT md5({_NORM_SQL}) AS fp,
               MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY fp ORDER BY keep_doc_id
    """,
    doc="Exact dedup via content fingerprint: groupBy(md5) keep min doc_id "
    "— partial-aggregatable (map-side combine), ONE shuffle; the 100 TB "
    "shape (no global window/sort).",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs).orderBy("keep_doc_id")


@register(
    "dedup_minhash_signatures",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL})
        SELECT doc_id,
               {_MINHASH_AGGS_SQL}
        FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
        GROUP BY doc_id ORDER BY doc_id
    """,
    doc="MinHash signatures (k=8) over 3-gram shingles — universal-hash "
    "family (a·h+b mod P) over one md5 base hash per shingle; "
    "engine-portable and one string hash instead of k. One explode + one "
    "groupBy.",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, num_hashes=_NUM_HASHES).orderBy("doc_id")


@register(
    "dedup_lsh_candidates",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        sig AS (
            SELECT doc_id, {_MINHASH_AGGS_SQL}
            FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
            GROUP BY doc_id
        ),
        banded AS ({_BANDED_SQL})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                      AND a.doc_id < b.doc_id
        ORDER BY doc_a, doc_b
    """,
    doc="MinHash-LSH banding (4 bands × 2 rows): near-dup candidate pairs "
    "from a band-keyed self-join — never the O(n²) cross join.",
)
def dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.lsh_candidate_pairs(docs, num_hashes=_NUM_HASHES, bands=_BANDS).orderBy(
        "doc_a", "doc_b"
    )


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
        ORDER BY doc_a, doc_b
    """,
    doc="Exact n-gram Jaccard ≥ 0.5 via inverted-index join (explode "
    "shingles → join on shingle) — docs only meet if they share content.",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # scan-budget: documents scanned 4 times without it
    sh = D._doc_shingles(docs, "text", 3).transform(pin)
    # jaccard_pairs filters on the UNROUNDED ratio (matching the oracle's
    # WHERE); the rounded column it returns is display-only
    out = D.jaccard_pairs(docs, min_jaccard=0.5, shingles_df=sh)
    return out.orderBy("doc_a", "doc_b")


@register(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
        sig AS (
            SELECT doc_id, {_MINHASH_AGGS_SQL}
            FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
            GROUP BY doc_id
        ),
        banded AS ({_BANDED_SQL}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                          AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        cc(doc_id, reach) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, cc.reach FROM edges e JOIN cc ON cc.doc_id = e.dst
        )
        SELECT doc_id, MIN(reach) AS cluster_id FROM cc
        GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Near-dup clusters: connected components over the MinHash-LSH "
    "candidate graph via iterative min-label propagation (localCheckpoint "
    "per round — the Spark iterative-algorithm shape). Oracle is the "
    "recursive-CTE transitive closure of the same graph.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.near_dup_clusters(docs, num_hashes=_NUM_HASHES, bands=_BANDS).orderBy("doc_id")


_SIMHASH_BIT_SUMS_SQL = ",\n                   ".join(
    f"SUM((h >> {i}) & 1) AS b{i}" for i in range(D.SIMHASH_BITS)
)
_SIMHASH_VOTE_SQL = "\n                 + ".join(
    f"(CASE WHEN b{i} * 2 > n THEN (1::BIGINT << {i}) ELSE 0 END)"
    for i in range(D.SIMHASH_BITS)
)


@register(
    "dedup_apply_canonical",
    oracle=f"""
        WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
        sig AS (
            SELECT doc_id, {_MINHASH_AGGS_SQL}
            FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
            GROUP BY doc_id
        ),
        banded AS ({_BANDED_SQL}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                          AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        cc(doc_id, reach) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, cc.reach FROM edges e JOIN cc ON cc.doc_id = e.dst
        ),
        labels AS (SELECT doc_id, MIN(reach) AS cluster_id FROM cc GROUP BY doc_id)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN labels l ON d.doc_id = l.doc_id
        WHERE l.doc_id = l.cluster_id
        ORDER BY d.doc_id
    """,
    doc="End-to-end dedup APPLY: keep one canonical doc per near-dup "
    "cluster (doc_id == cluster_id, i.e. the min-id representative) — the "
    "corpus a training pipeline would actually ship. Labels from "
    "near_dup_clusters; survivors via an equi-join filter (no second "
    "pass over text).",
)
def dedup_apply_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    labels = D.near_dup_clusters(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    keep = labels.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return docs.join(keep, "doc_id", "semi").select("doc_id", "lang", "source").orderBy("doc_id")


@register(
    "dedup_simhash",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        bits AS (
            SELECT doc_id, COUNT(*) AS n,
                   {_SIMHASH_BIT_SUMS_SQL}
            FROM (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh)
            GROUP BY doc_id
        )
        SELECT doc_id,
               ({_SIMHASH_VOTE_SQL}) AS simhash
        FROM bits ORDER BY doc_id
    """,
    doc="SimHash (60-bit) signatures per doc: per-bit majority vote over "
    "shingle md5s — one explode + one groupBy with 60 partial-aggregatable "
    "bit sums. Near-pairs via 4-band pigeonhole blocking + bit_count XOR. "
    "Oracle reproduces the votes bit-for-bit via '0x'-parsed md5 prefixes.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return D.simhash_signatures(docs).orderBy("doc_id")


# ----------------------------- similarity search --------------------------

_SIM_SCORED_SQL = """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 5
    ), c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
    ), scored AS (
        SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qv, cv)
                     / NULLIF(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0.0),
                     6) AS cosine_sim
        FROM c, q WHERE neighbor_id <> query_id
    )
"""


@register(
    "sim_topk_cosine",
    oracle=_SIM_SCORED_SQL
    + """
        SELECT query_id, neighbor_id, cosine_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS "rank"
        FROM scored
        QUALIFY "rank" <= 5
        ORDER BY query_id, "rank"
    """,
    doc="Brute-force exact top-5 cosine neighbors for 5 query vectors: "
    "broadcast queries, one narrow corpus pass (zip_with/aggregate dot "
    "products, JVM-side), tiny per-query rank window. Rounded to 6dp "
    "BEFORE ranking so ties break identically across engines.",
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.topk_cosine(emb, queries, k=5).orderBy("query_id", "rank")


@register(
    "sim_threshold_pairs",
    oracle=_SIM_SCORED_SQL
    + """
        SELECT query_id, neighbor_id, cosine_sim
        FROM scored WHERE cosine_sim >= 0.2
        ORDER BY query_id, neighbor_id
    """,
    doc="Embedding-cosine near-dup primitive: all pairs with cosine ≥ 0.2 "
    "(threshold form has no rank-cut tie hazard).",
)
def sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.threshold_cosine_pairs(emb, queries, min_sim=0.2).orderBy("query_id", "neighbor_id")


_HN_NQ = 16  # query vectors: vec_id 0..15
_HN_K = 5  # hard negatives kept per query


@register(
    "sim_hard_negatives",
    oracle=f"""
        WITH pts AS (
            SELECT vec_id, label, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)
        ),
        lab AS (SELECT DISTINCT vec_id, label FROM pts),
        d AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(SUM((q.xi - c.xi) * (q.xi - c.xi)) AS BIGINT) AS d2
            FROM pts q JOIN pts c USING (pos)
            WHERE q.vec_id < {_HN_NQ} AND q.label <> c.label
            GROUP BY 1, 2
        )
        SELECT d.query_id, ql.label AS query_label,
               d.neighbor_id, nl.label AS neg_label, d.d2,
               CAST(ROW_NUMBER() OVER (PARTITION BY d.query_id
                                       ORDER BY d.d2, d.neighbor_id)
                    AS INTEGER) AS "rank"
        FROM d
        JOIN lab ql ON ql.vec_id = d.query_id
        JOIN lab nl ON nl.vec_id = d.neighbor_id
        QUALIFY "rank" <= {_HN_K}
        ORDER BY query_id, "rank"
    """,
    doc=f"Hard-negative mining for contrastive training: for each of "
    f"{_HN_NQ} query vectors, the {_HN_K} NEAREST corpus vectors carrying "
    "a DIFFERENT label — the negatives that sit just across the decision "
    "boundary, which contrastive/triplet losses need (random negatives "
    "are trivially easy and contribute ~zero gradient). Exactness: "
    "coordinates quantize to micro-unit BIGINTs so distances, ranks, and "
    "tie-breaks are exact integers (the k-means idiom) — no float-order "
    "hazard at the rank cut. Scale shape: the query side is a bounded "
    "broadcast (rows with their label, pre-quantized); the corpus is "
    "scanned ONCE and fanned out via a bounded BNLJ; top-k runs "
    "TWO-STAGE — a per-(query, input-partition) partial rank prunes to "
    f"{_HN_K} survivors per partition BEFORE the per-query merge window, "
    "so no single task ever sorts more than |corpus|/|partitions| rows "
    "(the unpartitioned-window scale-killer stays out of the plan).",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    fixed = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("xi_arr"),
    )
    q = fixed.filter(F.col("vec_id") < _HN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("xi_arr").alias("q_arr"),
    )
    pairs = fixed.join(
        F.broadcast(q), F.col("label") != F.col("query_label")
    ).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.aggregate(
            F.zip_with(
                F.col("xi_arr"), F.col("q_arr"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("d2"),
    )
    # two-stage top-k: partial rank inside each input partition first, so
    # the final per-query window sees <= K * |partitions| rows, not |corpus|
    wp = Window.partitionBy("query_id", F.spark_partition_id()).orderBy(
        "d2", "neighbor_id"
    )
    survivors = (
        pairs.withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= _HN_K)
        .drop("_pr")
    )
    wf = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        survivors.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= _HN_K)
        .select("query_id", "query_label", "neighbor_id", "neg_label", "d2", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "sim_ann_lsh",
    oracle=None,  # plane literals make the SQL unwieldy; recall is unit-tested vs brute force
    doc="ANN scale path: random-hyperplane LSH (12 planes, seeded, "
    "deterministic) — candidates only within the same signature bucket; "
    "the candidate join is an equi-join on the signature.",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ann_lsh_topk(emb, queries, k=5).orderBy("query_id", "rank")


@register(
    "dedup_embedding_cosine",
    oracle="""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               ROUND(list_dot_product(a.ve, b.ve)
                     / NULLIF(sqrt(list_dot_product(a.ve, a.ve))
                              * sqrt(list_dot_product(b.ve, b.ve)), 0.0), 6) AS cosine_sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.ve, b.ve)
                    / NULLIF(sqrt(list_dot_product(a.ve, a.ve))
                             * sqrt(list_dot_product(b.ve, b.ve)), 0.0), 6) >= 0.4
        ORDER BY doc_a, doc_b
    """,
    doc="Embedding-cosine near-dup over the WHOLE corpus: exact all-pairs "
    "cosine ≥ 0.4 (a < b). Exact form is the per-block verification "
    "kernel; at 100 TB LSH blocking supplies the candidate pairs and this "
    "scores them (see operators.similarity.near_dup_pairs).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # the hash exchange is a stage boundary: AQE materializes the kernel's
    # output once and the sort's range-partition sample reads it, instead of
    # re-running the Python kernel to draw the sample
    return (
        S.near_dup_pairs(emb, min_sim=0.4)
        .repartition("doc_a")
        .orderBy("doc_a", "doc_b")
    )


@register(
    "sim_ivf_topk",
    oracle=None,  # approximate (nprobe < n_cells); recall unit-tested vs brute force
    doc="ANN scale path #2: IVF-flat — deterministic coarse centroids, "
    "corpus bucketed into inverted lists, queries probe nprobe nearest "
    "cells; candidate join is an equi-join on cell id.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivf_topk(emb, queries, k=5).orderBy("query_id", "rank")


@register(
    "text_tfidf_top_terms",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM (SELECT doc_id, UNNEST({_TOKS_SQL}) AS tok
                  FROM documents WHERE trim(text) <> '')
            GROUP BY doc_id, tok
        ),
        df AS (SELECT tok, COUNT(*) AS n_docs FROM tok GROUP BY tok),
        n AS (SELECT COUNT(*) AS n_total FROM documents),
        scored AS (
            SELECT t.doc_id, t.tok,
                   ROUND(t.tf * ln(CAST(n.n_total AS DOUBLE) / df.n_docs), 6) AS tfidf
            FROM tok t JOIN df USING (tok) CROSS JOIN n
        )
        SELECT doc_id, tok, tfidf FROM (
            SELECT doc_id, tok, tfidf,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, tok) AS rnk
            FROM scored
        ) WHERE rnk <= 3 AND doc_id < 50
        ORDER BY doc_id, tfidf DESC, tok
    """,
    doc="TF-IDF top-3 terms per document (keyword extraction): explode "
    "tokens → per-doc TF (one shuffle) → document frequency (partial-agg "
    "count) joined back by token, scalar N via a 1-row cross join, "
    "per-doc rank window. Ties broken lexicographically; rounded to 6dp "
    "BEFORE ranking so both engines rank identically.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.trim(F.col("text")) != "")
        .select("doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("n_docs"))
    n_total = docs.count()
    scored = tok.join(dfreq, "tok").select(
        "doc_id",
        "tok",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_total)) / F.col("n_docs")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "tok", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "tok")
    )


@register(
    "docs_stratified_sample",
    oracle="""
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        ) WHERE rn <= 20
        ORDER BY lang, doc_id
    """,
    doc="Deterministic stratified downsampling: 20 docs per language, "
    "selected by hash order (md5 of the id) — reproducible across runs "
    "and engines, unlike rand()-based sampleBy. Corpus-balancing shape: "
    "one window per stratum; at scale the per-stratum rank prunes early "
    "via WindowGroupLimit (rank-limit pushdown).",
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


def _langid_pred_sql() -> str:
    """Scalar lang_pred expression fragment (argmax of stopword hits)."""
    langs = sorted(X.LANG_STOPWORDS)
    best = "greatest(" + ", ".join(_hits_sql(X.LANG_STOPWORDS[lang]) for lang in langs) + ")"
    whens = " ".join(
        f"WHEN {_hits_sql(X.LANG_STOPWORDS[lang])} = {best} THEN '{lang}'" for lang in langs
    )
    return f"CASE WHEN {best} = 0 THEN 'und' {whens} ELSE 'und' END"


_NTOK_SQL = f"(CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END)"
_QUALITY_POOR_SQL = f"""(
    {_NTOK_SQL} < 5
    OR length(regexp_replace(text, '\\s+', '', 'g'))
       / NULLIF(CAST({_NTOK_SQL} AS DOUBLE), 0.0) > 15
)"""


@register(
    "docs_training_corpus",
    oracle=f"""
        WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
        sig AS (
            SELECT doc_id, {_MINHASH_AGGS_SQL}
            FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
            GROUP BY doc_id
        ),
        banded AS ({_BANDED_SQL}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                          AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        cc(doc_id, reach) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, cc.reach FROM edges e JOIN cc ON cc.doc_id = e.dst
        ),
        labels AS (SELECT doc_id, MIN(reach) AS cluster_id FROM cc GROUP BY doc_id)
        SELECT d.doc_id, d.source,
               CAST({_NTOK_SQL} AS INTEGER) AS n_tokens
        FROM documents d
        JOIN labels l ON d.doc_id = l.doc_id
        WHERE l.doc_id = l.cluster_id
          AND ({_langid_pred_sql()}) = 'en'
          AND NOT {_QUALITY_POOR_SQL}
        ORDER BY d.doc_id
    """,
    doc="CAPSTONE — end-to-end training-corpus selection: near-dup "
    "canonical survivors ∩ predicted-English ∩ not-poor-quality, with "
    "token counts for budget accounting. Composes dedup clusters (one "
    "candidate-graph pass), lang-ID and quality scoring (narrow "
    "projections) and a semi-join — the full curation funnel as ONE lazy "
    "plan.",
)
def docs_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    labels = D.near_dup_clusters(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    keep = labels.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    lang = X.lang_id(docs).filter(F.col("lang_pred") == "en").select("doc_id")
    q = X.quality_metrics(docs).filter(F.col("quality_bucket") != "poor").select(
        "doc_id", "n_tokens"
    )
    return (
        docs.join(keep, "doc_id", "semi")
        .join(lang, "doc_id", "semi")
        .join(q, "doc_id")
        .select("doc_id", "source", F.col("n_tokens").cast("int").alias("n_tokens"))
        .orderBy("doc_id")
    )


# ----------------------------- event streams ------------------------------


@register(
    "ev_tumbling_hourly",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events, (CAST(SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0) AS total_value
        FROM events GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    doc="Tumbling 1h event-time window (batch form of the streaming agg; "
    "window(ts,'1 hour') ≡ date_trunc). Streaming twin: "
    "streaming.events.stream_tumbling (watermark + late-data drop).",
)
def ev_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return E.tumbling_agg(ev, "1 hour").orderBy("window_start", "event_type")


@register(
    "ev_sliding_1h_30m",
    oracle="""
        SELECT time_bucket(INTERVAL '30 minutes', ts) - o.off * INTERVAL '30 minutes'
                   AS window_start,
               COUNT(*) AS n_events, (CAST(SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0) AS total_value
        FROM events, (SELECT UNNEST([0, 1]) AS off) o
        GROUP BY window_start ORDER BY window_start
    """,
    doc="Sliding window (1h duration, 30m slide): each event belongs to 2 "
    "windows. Oracle reproduces Spark's epoch-aligned window set via "
    "time_bucket + offset union.",
)
def ev_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return E.sliding_agg(ev, "1 hour", "30 minutes").orderBy("window_start")


@register(
    "ev_session_10m",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '10 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ), sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
            FROM marked
        )
        SELECT MIN(ts) AS session_start, user_id,
               COUNT(*) AS n_events, (CAST(SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0) AS total_value
        FROM sessions GROUP BY user_id, sess
        ORDER BY user_id, session_start
    """,
    doc="Session windows (10m gap) per user — Spark's native "
    "session_window; oracle is the classic gaps-and-islands rewrite. "
    "New-session rule `diff >= gap` matches session_window's exclusive "
    "window end. Streaming twin: streaming.events.stream_session.",
)
def ev_session_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return E.session_agg(ev, "10 minutes").orderBy("user_id", "session_start")


@register(
    "ev_event_bigrams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
        ORDER BY n DESC, prev_type, event_type
    """,
    doc="Event-sequence mining: consecutive (prev, next) event-type "
    "bigrams per user via lag() over (user, ts) — the sessionized "
    "transition matrix. One window shuffle on user_id + one partial-agg "
    "count; event_id tie-break makes same-ts ordering deterministic.",
)
def ev_event_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "prev_type", "event_type")
    )


@register(
    "sim_label_centroids",
    oracle="""
        WITH pos AS (
            SELECT label, i - 1 AS pos, emb[i] AS x
            FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)
        ),
        avgs AS (
            SELECT label, pos, ROUND(AVG(x), 6) AS mu
            FROM pos GROUP BY label, pos
        )
        SELECT label, COUNT(*) AS dim,
               ROUND(SUM(mu * mu), 6) AS centroid_sq_norm
        FROM avgs GROUP BY label ORDER BY label
    """,
    doc="Per-label embedding centroids: posexplode → per-(label, "
    "position) mean → centroid squared norm (scalar digest so the "
    "oracle compares a stable value, not array ordering). The "
    "position-wise partial-agg mean is the distributed form of a "
    "k-means update step.",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label", F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
    ).withColumnsRenamed({"pos": "pos", "col": "x"})
    avgs = pos.groupBy("label", "pos").agg(F.round(F.avg("x"), 6).alias("mu"))
    return (
        avgs.groupBy("label")
        .agg(
            F.count("*").alias("dim"),
            F.round(F.sum(F.col("mu") * F.col("mu")), 6).alias("centroid_sq_norm"),
        )
        .orderBy("label")
    )


@register(
    "ev_json_rollup",
    oracle="""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Semi-structured path: extract a JSON field from `props` "
    "(get_json_object, JVM-side) and aggregate — no Python JSON parsing.",
)
def ev_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return E.json_props_rollup(ev).orderBy("event_type")


@register(
    "ev_asof_last_view",
    oracle="""
        WITH clicks AS (
            SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
        ),
        views AS (
            SELECT user_id, ts, MAX(value) AS view_value
            FROM events WHERE event_type = 'view'
            GROUP BY user_id, ts
        )
        SELECT c.event_id, c.user_id,
               (CAST(ROUND(v.view_value * 1000000) AS BIGINT) / 1000000.0)
                   AS asof_view_value
        FROM clicks c
        ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts >= v.ts
        ORDER BY c.event_id
    """,
    doc="As-of join (operators.temporal.asof_join): each click gets the "
    "most recent view's value at-or-before its timestamp per user — "
    "point-in-time-correct attribution via ONE keyed shuffle "
    "(union + sorted window carry-forward), never a theta/nested-loop "
    "join. Oracle is DuckDB's native ASOF LEFT JOIN. Right side "
    "pre-aggregated per (user, ts) so 'most recent' is well-defined.",
)
def ev_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(clicks, views, key="user_id", ts="ts", value_cols=["view_value"])
    return out.select(
        "event_id",
        "user_id",
        (F.round(F.col("asof_view_value") * MICROS).cast("long") / MICROS).alias(
            "asof_view_value"
        ),
    ).orderBy("event_id")


@register(
    "ev_range_recent_views",
    oracle="""
        WITH clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        views AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'view'
        )
        SELECT c.event_id,
               COUNT(v.ts) AS n_recent_views,
               (CAST(SUM(CAST(ROUND(v.value * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0)
                   AS recent_view_value
        FROM clicks c
        LEFT JOIN views v
          ON c.user_id = v.user_id
         AND v.ts >= c.ts - INTERVAL 10 MINUTE
         AND v.ts < c.ts
        GROUP BY c.event_id ORDER BY c.event_id
    """,
    doc="Range join (operators.temporal.range_join): views within the 10 "
    "minutes before each click, per user — epoch-bucketed EQUI-join "
    "(each left probes 2 buckets) with the exact range as residual "
    "predicate; the plain inequality join the oracle runs would be a "
    "nested-loop at scale.",
)
def ev_range_recent_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import range_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = range_join(clicks, views, key="user_id", left_ts="ts", right_ts="ts",
                        window_seconds=600)
    return (
        joined.groupBy("event_id")
        .agg(
            F.count("r_ts").alias("n_recent_views"),
            xsum(F.col("r_value"), MICROS).alias("recent_view_value"),
        )
        .orderBy("event_id")
    )


@register(
    "agg_approx_sketches",
    oracle=None,  # HLL/t-digest estimates are engine-specific; error bounds unit-tested
    doc="Approximate sketches — the 100 TB answer when exact "
    "COUNT(DISTINCT) / percentile would shuffle every value: "
    "approx_count_distinct (HyperLogLog++, mergeable partials, one small "
    "sketch per partition) and percentile_approx (t-digest). Relative "
    "error vs the exact forms is bounded in tests/test_scale_sources.py.",
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("approx_median_value"),
        F.count("*").alias("n_events"),
    ).orderBy("event_type")


@register(
    "agg_salted_user_rollup",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               (CAST(SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0) AS total_value,
               MAX(CAST(ROUND((value) * 1000000) AS BIGINT) / 1000000.0) AS max_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    doc="Skew-safe two-stage salted aggregation (operators.scale.salted_agg): "
    "hot keys split across 16 salt buckets in a partial pass, merged per "
    "key in a second pass — same answer as the plain GROUP BY oracle, "
    "bounded per-task input at any key skew.",
)
def agg_salted_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import scale as SC

    ev = table(spark, sf_dir, "events").withColumn(
        "value_fp", F.round(F.col("value") * MICROS).cast("long")
    )
    out = SC.salted_agg(
        ev,
        keys=["user_id"],
        measures={
            "n_events": ("count", F.lit(1)),
            "total_value_fp": ("sum", F.col("value_fp")),
            "max_value_fp": ("max", F.col("value_fp")),
        },
        salt_from="event_id",
        buckets=16,
    )
    return out.select(
        "user_id",
        "n_events",
        (F.col("total_value_fp") / MICROS).alias("total_value"),
        (F.col("max_value_fp") / MICROS).alias("max_value"),
    ).orderBy("user_id")


@register(
    "scale_global_rank_orders",
    oracle="""
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice NULLS FIRST,
                                                o_orderkey)
                    AS BIGINT) AS global_rank,
               o_orderkey, o_totalprice
        FROM orders
        ORDER BY global_rank
    """,
    doc="Scale-safe global row numbering (operators.scale.global_rank): "
    "the distributed two-pass ROW_NUMBER — range-partition on the order "
    "key, rank within each partition in parallel, then add per-partition "
    "offsets from a cumulative window over the ≤|partitions|-row count "
    "table (the classic zipWithIndex shape, DataFrame-native). The naive "
    "form — one unpartitioned window — sorts every row in ONE task and "
    "is the round-2-flagged scale-killer this operator replaces; here "
    "the only single-partition work is the offset rollup, bounded by "
    "partition count. Both branches read the SAME range exchange "
    "(exchange reuse, asserted by plan test), so partition ids agree by "
    "construction. Order key (o_totalprice, o_orderkey) is unique, so "
    "ranks are engine-exact; null prices are PINNED first (Spark's ASC "
    "default, made explicit in the oracle — r12 variant sweep: DuckDB "
    "defaults NULLS LAST, so an unpinned oracle shifts every rank on "
    "null-bearing data).",
)
def scale_global_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import scale as SC

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return (
        SC.global_rank(orders, ["o_totalprice", "o_orderkey"])
        .select("global_rank", "o_orderkey", "o_totalprice")
        .orderBy("global_rank")
    )


@register(
    "ev_user_activity",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_types,
               (CAST(SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0) AS total_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    doc="Per-user activity rollup (count / distinct-count / sum) — the "
    "events analog of the reference's per-dimension aggregations.",
)
def ev_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            xsum(F.col("value"), MICROS).alias("total_value"),
        )
        .orderBy("user_id")
    )


# ----------------------------- multimodal ---------------------------------


@register(
    "mm_feature_extract",
    oracle="""
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
               sha256(text) AS content_sha
        FROM documents ORDER BY media_id
    """,
    doc="Multimodal plumbing: binary media column → mapInPandas (Arrow "
    "batches) → (byte_len, sha256, feature vector) over text-as-bytes "
    "media (no image decode involved; see mm_decode_channel_stats for the "
    "real decode path). The Python-side sha256/length are cross-checked "
    "against DuckDB's UTF-8 sha256/octet_length — the mapInPandas path "
    "itself is gated.",
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.as_media_table(docs)
    return (
        M.extract_features(media)
        .select("media_id", "byte_len", "content_sha")
        .orderBy("media_id")
    )


@register(
    "mm_frame_sample",
    oracle=None,  # mapInPandas row fan-out not oracle-expressible; deterministic → unit-tested
    doc="Video-style frame sampling: one binary row fans out to every "
    "stride-th fixed-size frame via mapInPandas (decode stubbed — byte "
    "slicing stands in; the fan-out plumbing is real).",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.as_media_table(docs)
    return (
        M.sample_frames(media)
        .select("media_id", "frame_idx", "frame_sha", "frame_len")
        .orderBy("media_id", "frame_idx")
    )


@register(
    "mm_frame_sample_digest",
    oracle="""
        WITH b AS (
            SELECT doc_id AS media_id,
                   octet_length(encode(text)) AS len,
                   GREATEST((octet_length(encode(text)) + 63) // 64, 1)
                       AS n_total
            FROM documents
        ),
        frames AS (
            SELECT media_id, len, CAST(t.i AS INTEGER) AS i
            FROM b, UNNEST(range(0, n_total, 4)) AS t(i)
        )
        SELECT media_id,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(SUM(i) AS BIGINT) AS sum_frame_idx,
               CAST(SUM(LEAST(64, len - i * 64)) AS BIGINT) AS sum_frame_len
        FROM frames
        GROUP BY media_id
        ORDER BY media_id
    """,
    doc="Hash-gateable digest of the frame-sampling fan-out: per media, "
    "the count of kept frames, the sum of their indices, and the sum of "
    "their byte lengths — everything the sampler determines EXCEPT the "
    "frame bytes themselves. Runs through the REAL mapInPandas path "
    "(operators/multimodal.py sample_frames: frame_size=64, stride=4) "
    "then aggregates; the oracle recomputes kept-frame geometry from "
    "octet_length arithmetic alone (no blob slicing — this DuckDB build "
    "has none, which is also why frame_sha stays pytest-verified in the "
    "rows-only mm_frame_sample twin). A green row proves the one-row→"
    "many-rows Arrow fan-out emits exactly the right frames with the "
    "right lengths at every stride/tail/empty-content edge.",
)
def mm_frame_sample_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.as_media_table(docs)
    return (
        M.sample_frames(media)
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum("frame_idx").alias("sum_frame_idx"),
            F.sum("frame_len").alias("sum_frame_len"),
        )
        .orderBy("media_id")
    )


@register(
    "mm_decode_channel_stats",
    oracle="""
        SELECT d.doc_id AS media_id, 4 AS width, 2 AS height,
               AVG(((d.doc_id % 256) * 7 + 3 * (16 * y.y + 2 * x.x) + 0) % 256) AS mean_r,
               AVG(((d.doc_id % 256) * 7 + 3 * (16 * y.y + 2 * x.x) + 1) % 256) AS mean_g,
               AVG(((d.doc_id % 256) * 7 + 3 * (16 * y.y + 2 * x.x) + 2) % 256) AS mean_b
        FROM documents d, range(4) x(x), range(2) y(y)
        GROUP BY d.doc_id ORDER BY media_id
    """,
    doc="REAL image decode, in-container: synthesize one closed-form 8x4 "
    "PPM (P6) per document (raster byte i = ((doc_id%256)*7+i)%256), run "
    "decode -> nearest-neighbor resize to 4x2 -> decode -> per-channel "
    "sums through mapInPandas (operators/multimodal.py), then derive "
    "means. The oracle recomputes the expected pixels from the same "
    "modular arithmetic WITHOUT touching the codec — nearest-neighbor at "
    "4x2 picks source pixel (2x, 2y), i.e. raster index 16y+2x — so a "
    "green row proves the decode+resize+re-encode roundtrip, not just "
    "the plumbing. Integer channel sums divide once at the end, so the "
    "doubles are engine-exact.",
)
def mm_decode_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.synth_ppm_table(docs, width=8, height=4)
    stats = M.decode_image_stats(media, resize_to=(4, 2))
    n_px = F.col("width") * F.col("height")
    return (
        stats.select(
            "media_id",
            "width",
            "height",
            (F.col("sum_r") / n_px).alias("mean_r"),
            (F.col("sum_g") / n_px).alias("mean_g"),
            (F.col("sum_b") / n_px).alias("mean_b"),
        )
        .orderBy("media_id")
    )


@register(
    "ev_cohort_retention",
    oracle="""
        WITH first AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        active AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   date_trunc('week', e.ts) AS active_week
            FROM events e JOIN first f USING (user_id)
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               CAST(date_diff('day', cohort_week, active_week) / 7 AS INTEGER)
                   AS weeks_since,
               COUNT(DISTINCT user_id) AS active_users
        FROM active GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Cohort retention matrix: cohort = Monday-truncated week of each "
    "user's first event (both engines truncate weeks to Monday), then "
    "distinct (cohort, week-offset, user) → counts. Two keyed shuffles "
    "on user_id (min-agg + join reuse the same hash partitioning, so "
    "AQE coalesces them) and one on the (cohort, offset) pair; the "
    "distinct is partial-aggregated map-side. Week offsets are exact "
    "multiples of 7 days, so the /7 division is engine-exact.",
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("active_week"),
        )
        .distinct()
    )
    return (
        active.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "weeks_since")
    )


@register(
    "ev_funnel_conversion",
    oracle="""
        WITH m AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id
        )
        SELECT COUNT(*) AS n_users,
               COUNT(t_view) AS viewed,
               COUNT(CASE WHEN t_click > t_view THEN 1 END) AS view_then_click,
               COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click
                     THEN 1 END) AS full_funnel
        FROM m
    """,
    doc="Ordered conversion funnel view→click→purchase: per-user "
    "conditional MIN timestamps in ONE pass over events (no self-joins "
    "— the naive funnel is a 3-way self-join; conditional aggregation "
    "is the scale-correct form), then a global count rollup. One keyed "
    "shuffle + one single-row reduce. COUNT(CASE...) not SUM so both "
    "engines emit BIGINT.",
)
def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return m.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "view_then_click"
        ),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("full_funnel"),
    )


@register(
    "ev_rolling_7d_activity",
    oracle="""
        WITH d AS (
            SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS dau
            FROM events GROUP BY day
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, n_events, dau,
               CAST(SUM(n_events) OVER (ORDER BY day RANGE BETWEEN
                   INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS roll7_events,
               COUNT(*) OVER (ORDER BY day RANGE BETWEEN
                   INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS roll7_days
        FROM d ORDER BY day
    """,
    doc="Daily activity + trailing-7-day rolling totals: daily "
    "count/DAU rollup first (one shuffle; the window then runs over "
    "|days| rows, not |events|), then a RANGE frame keyed on the "
    "epoch-day number — a true calendar frame that tolerates gap days, "
    "unlike a ROWS 6 PRECEDING frame. Integer sums, engine-exact.",
)
def ev_rolling_7d_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("dau"),
    )
    w = Window.orderBy(F.unix_date(F.col("day"))).rangeBetween(-6, 0)
    return (
        daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "dau",
            F.sum("n_events").over(w).alias("roll7_events"),
            F.count(F.lit(1)).over(w).alias("roll7_days"),
        )
        .orderBy("day")
    )


@register(
    "sim_assign_centroid",
    oracle="""
        WITH pts AS (
            SELECT vec_id, label, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)
        ),
        cent AS (
            SELECT label AS c_label, pos,
                   CAST(ROUND(AVG(xi)) AS BIGINT) AS mi
            FROM pts GROUP BY c_label, pos
        ),
        d AS (
            SELECT p.vec_id, p.label, c.c_label,
                   SUM((p.xi - c.mi) * (p.xi - c.mi)) AS d2
            FROM pts p JOIN cent c USING (pos)
            GROUP BY p.vec_id, p.label, c.c_label
        ),
        best AS (
            SELECT vec_id, label, c_label AS assigned
            FROM d
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, c_label) = 1
        )
        SELECT label, assigned, COUNT(*) AS n_vecs
        FROM best GROUP BY label, assigned ORDER BY label, assigned
    """,
    doc="K-means assignment step (E-step) as a confusion matrix: vectors "
    "are quantized to micro-unit BIGINTs so squared distances are EXACT "
    "integers — argmin is engine-deterministic with no float-tie risk; "
    "integer partial sums stay below 2^53 so even the centroid means are "
    "order-independent. Spark side is the scale-correct plan: the k x dim "
    "centroid matrix (tiny) is collected driver-side and inlined as array "
    "literals, so per-row distances are zip_with/aggregate JVM "
    "expressions — no explode fan-out, no join, no shuffle on the fact "
    "side; only the final confusion-matrix groupBy shuffles (k*k rows). "
    "The oracle uses the equivalent explode-join form.",
)
def sim_assign_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    to_fixed = lambda arr: F.transform(  # noqa: E731 — bound once below
        arr, lambda x: F.round(x.cast("double") * 1_000_000).cast("long")
    )
    pts = emb.select(
        "label", F.posexplode(to_fixed(F.col("embedding")))
    ).withColumnsRenamed({"col": "xi"})
    cent_rows = (
        pts.groupBy("label", "pos")
        .agg(F.round(F.avg("xi")).cast("long").alias("mi"))
        .collect()
    )
    cents: dict[int, list[int]] = {}
    for r in cent_rows:
        cents.setdefault(r["label"], [0] * 64)[r["pos"]] = r["mi"]

    fixed = emb.withColumn("xi_arr", to_fixed(F.col("embedding")))
    dists = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("xi_arr"),
                    F.array(*[F.lit(m) for m in mis]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("d2"),
            F.lit(lbl).alias("lbl"),
        )
        for lbl, mis in sorted(cents.items())
    ]
    assigned = F.array_sort(F.array(*dists))[0]["lbl"]
    return (
        fixed.select("label", assigned.alias("assigned"))
        .groupBy("label", "assigned")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("label", "assigned")
    )


@register(
    "dedup_rate_by_source",
    oracle=f"""
        WITH c AS (
            SELECT source,
                   COUNT(*) OVER (PARTITION BY md5({_NORM_SQL})) AS n_copies
            FROM documents
        )
        SELECT source, COUNT(*) AS n_docs,
               COUNT(CASE WHEN n_copies > 1 THEN 1 END) AS n_dup_docs,
               COUNT(CASE WHEN n_copies > 1 THEN 1 END) * 100.0 / COUNT(*)
                   AS dup_pct
        FROM c GROUP BY source ORDER BY source
    """,
    doc="Contamination dashboard: per-source exact-duplicate rate — the "
    "per-source view a corpus curator triages by. One fingerprint-keyed "
    "window shuffle (count of copies per normalized-content hash; no "
    "join-back needed) then a per-source rollup. dup_pct is one IEEE "
    "division of exact integer counts, engine-identical; the divisor is "
    "a group's own row count so it can never be zero under ANSI.",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    fp = F.md5(X.normalized_text(F.col("text")))
    c = docs.select(
        "source", F.count("*").over(Window.partitionBy(fp)).alias("n_copies")
    )
    dup = F.count(F.when(F.col("n_copies") > 1, 1))
    return (
        c.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            dup.alias("n_dup_docs"),
            (dup * 100.0 / F.count("*")).alias("dup_pct"),
        )
        .orderBy("source")
    )


@register(
    "ev_session_stats",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '10 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM seq
        ),
        agg AS (
            SELECT user_id, sid, COUNT(*) AS n_events,
                   epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
            FROM sess GROUP BY user_id, sid
        )
        SELECT COUNT(*) AS n_sessions,
               COUNT(CASE WHEN n_events = 1 THEN 1 END) AS n_single_event,
               SUM(n_events) * 1.0 / COUNT(*) AS avg_events_per_session,
               quantile_cont(dur_us, 0.5) / 1000000.0 AS median_dur_s,
               quantile_cont(dur_us, 0.9) / 1000000.0 AS p90_dur_s
        FROM agg
    """,
    doc="Session-length distribution: native session_window sessionization "
    "(one user_id shuffle) then a single-row global rollup with exact "
    "percentiles over microsecond-integer durations — integer inputs make "
    "the percentile interpolation one identical IEEE expression in both "
    "engines. Oracle rebuilds Spark's session semantics via the "
    "lag-gap >= 10min cumulative-sum form. At 100 TB the global exact "
    "percentile swaps for percentile_approx (t-digest).",
)
def ev_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    sess = ev.groupBy(
        F.session_window("ts", "10 minutes").alias("w"), F.col("user_id")
    ).agg(
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return sess.agg(
        F.count("*").alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_single_event"),
        (F.sum("n_events") * 1.0 / F.count("*")).alias("avg_events_per_session"),
        (F.expr("percentile(dur_us, 0.5)") / 1_000_000.0).alias("median_dur_s"),
        (F.expr("percentile(dur_us, 0.9)") / 1_000_000.0).alias("p90_dur_s"),
    )


@register(
    "ev_purchase_intervals",
    oracle="""
        WITH p AS (
            SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_ts
            FROM events WHERE event_type = 'purchase'
        ),
        gaps AS (
            SELECT epoch_us(ts) - epoch_us(prev_ts) AS gap_us
            FROM p WHERE prev_ts IS NOT NULL
        )
        SELECT COUNT(*) AS n_gaps,
               quantile_cont(gap_us, 0.5) / 1000000.0 AS median_gap_s,
               quantile_cont(gap_us, 0.9) / 1000000.0 AS p90_gap_s,
               MIN(gap_us) / 1000000.0 AS min_gap_s,
               MAX(gap_us) / 1000000.0 AS max_gap_s
        FROM gaps
    """,
    doc="Inter-purchase interval distribution: filter pushes to the scan "
    "(only purchase rows shuffle into the per-user lag window), gaps are "
    "exact integer microseconds, and the global rollup uses the "
    "percentile/quantile_cont interpolation parity on integer inputs. "
    "event_id tie-break keeps same-timestamp ordering deterministic.",
)
def ev_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))).alias(
                "gap_us"
            )
        )
    )
    return gaps.agg(
        F.count("*").alias("n_gaps"),
        (F.expr("percentile(gap_us, 0.5)") / 1_000_000.0).alias("median_gap_s"),
        (F.expr("percentile(gap_us, 0.9)") / 1_000_000.0).alias("p90_gap_s"),
        (F.min("gap_us") / 1_000_000.0).alias("min_gap_s"),
        (F.max("gap_us") / 1_000_000.0).alias("max_gap_s"),
    )


@register(
    "text_len_percentiles_by_lang",
    oracle="""
        SELECT lang, COUNT(*) AS n_docs,
               quantile_cont(n_chars, 0.25) AS p25_chars,
               quantile_cont(n_chars, 0.5) AS p50_chars,
               quantile_cont(n_chars, 0.95) AS p95_chars,
               MAX(n_chars) AS max_chars
        FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Per-language document-length profile — the corpus-curation view "
    "that drives truncation/length-filter thresholds. Exact per-group "
    "percentiles over integer n_chars in ONE aggregation pass (percentile/"
    "quantile_cont interpolation parity); per-group sort cost is bounded "
    "by group size, and at 100 TB swaps to percentile_approx.",
)
def text_len_percentiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("percentile(n_chars, 0.25)").alias("p25_chars"),
            F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
            F.expr("percentile(n_chars, 0.95)").alias("p95_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@register(
    "docs_quality_by_lang_source",
    oracle=f"""
        SELECT lang, source, COUNT(*) AS n_docs,
               COUNT(CASE WHEN n_chars >= 100 THEN 1 END) AS long_enough,
               COUNT(CASE WHEN trim(text) <> ''
                          AND len({_TOKS_SQL}) >= 5 THEN 1 END) AS token_rich
        FROM documents
        GROUP BY lang, source ORDER BY lang, source
    """,
    doc="Corpus health cross-tab: per (lang, source) doc counts with "
    "length and token-richness gates — the acceptance matrix a curation "
    "pipeline monitors per ingest source. Single pass, one two-key "
    "shuffle, all predicates JVM-side string ops.",
)
def docs_quality_by_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("n_chars") >= 100, 1)).alias("long_enough"),
            F.count(
                F.when(
                    (F.trim(F.col("text")) != "") & (F.size(toks) >= 5), 1
                )
            ).alias("token_rich"),
        )
        .orderBy("lang", "source")
    )


# ----------------- corpus preparation (round-2 additions) -----------------

#: whitespace token count twin (0 for blank text) used by packing/quality
_NTOK_SQL = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END"


@register(
    "docs_sequence_packing",
    oracle=f"""
        SELECT doc_id, lang, n_tokens, tok_offset,
               CAST(floor(tok_offset / 2048.0) AS BIGINT) AS pack_id
        FROM (
            SELECT doc_id, lang, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                        - n_tokens AS BIGINT) AS tok_offset
            FROM (SELECT doc_id, lang, {_NTOK_SQL} AS n_tokens FROM documents)
        )
        ORDER BY doc_id
    """,
    doc="Sequence packing (operators/corpus.sequence_packing): documents "
    "concatenated per lang in doc_id order and split into 2048-token "
    "context windows; pack_id = which window the doc starts in (standard "
    "concat-then-chunk pretraining layout). One per-stratum window sum — "
    "at 100 TB the stratum is (lang, shard) so no partition holds a whole "
    "language.",
)
def docs_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import sequence_packing

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", X.token_count(F.col("text")).alias("n_tokens")
    )
    return (
        sequence_packing(docs, "n_tokens", budget=2048, part_cols=("lang",))
        .select("doc_id", "lang", "n_tokens", "tok_offset", "pack_id")
        .orderBy("doc_id")
    )


@register(
    "docs_decontaminate",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        contaminated AS (
            SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (sh)
            WHERE s.doc_id % 97 <> 0
        )
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE d.doc_id % 97 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        ORDER BY d.doc_id
    """,
    doc="Benchmark decontamination (operators/corpus.decontaminate): drop "
    "training docs sharing ANY 3-gram shingle with the held-out benchmark "
    "slice (doc_id %% 97 == 0 stands in for an eval set). Inverted-index "
    "shingle join + distinct + anti-join — the benchmark side is tiny and "
    "broadcasts; never an all-pairs comparison.",
)
def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import decontaminate

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return (
        decontaminate(train, bench)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "docs_pii_redaction",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text2,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INTEGER)
                   AS n_emails,
               CAST(len(regexp_extract_all(text2, '\\d{{3}}-\\d{{3}}-\\d{{4}}')) AS INTEGER)
                   AS n_phones,
               CAST(length(regexp_replace(regexp_replace(text2,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
                    '\\d{{3}}-\\d{{3}}-\\d{{4}}', '[PHONE]', 'g')) AS INTEGER)
                   AS redacted_len
        FROM (
            SELECT doc_id,
                   text || CASE WHEN doc_id % 7 = 0
                        THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
                        || CASE WHEN doc_id % 13 = 0
                        THEN ' call 555-867-5309 today' ELSE '' END AS text2
            FROM documents
        )
        ORDER BY doc_id
    """,
    doc="PII detection + redaction (operators/corpus.redact_pii): email "
    "and phone patterns counted (regexp_extract_all) and replaced with "
    "typed placeholders (regexp_replace), all JVM-side regex. The corpus "
    "has no organic PII, so deterministic synthetic PII is appended to "
    "doc_id %% 7 / %% 13 slices in BOTH engines — the oracle proves "
    "pattern parity on text that genuinely contains matches.",
)
def docs_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import pii_counts, redact_pii

    docs = table(spark, sf_dir, "documents")
    text2 = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" call 555-867-5309 today")).otherwise(
            F.lit("")
        ),
    )
    staged = docs.select("doc_id", text2.alias("text2"))
    n_emails, n_phones = pii_counts(F.col("text2"))
    return staged.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.length(redact_pii(F.col("text2"))).alias("redacted_len"),
    ).orderBy("doc_id")


@register(
    "docs_vocab_top_terms",
    oracle=f"""
        SELECT token, COUNT(*) AS n_occurrences
        FROM (SELECT unnest({_TOKS_SQL}) AS token FROM documents)
        WHERE token <> ''
        GROUP BY token
        ORDER BY n_occurrences DESC, token ASC LIMIT 20
    """,
    doc="Vocabulary head (operators/corpus.vocab_top_terms): corpus-wide "
    "top-20 tokens by frequency. explode -> partial-aggregatable count "
    "(one shuffle on the token) -> TakeOrderedAndProject; the vocabulary "
    "never sorts globally.",
)
def docs_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import vocab_top_terms

    return vocab_top_terms(table(spark, sf_dir, "documents"), k=20)


@register(
    "docs_quality_percentile_filter",
    oracle=f"""
        SELECT doc_id, lang, n_chars, pr FROM (
            SELECT doc_id, lang, n_chars,
                   percent_rank() OVER (PARTITION BY lang
                                        ORDER BY n_chars DESC, doc_id ASC) AS pr
            FROM documents
        ) WHERE pr <= 0.5 ORDER BY doc_id
    """,
    doc="Quality-percentile filter (operators/corpus."
    "quality_percentile_filter): keep the top half of each language by "
    "n_chars. percent_rank over (score DESC, doc_id) — the explicit "
    "tie-break makes the cutoff deterministic, and the rank is a ratio of "
    "integers so the doubles are engine-exact.",
)
def docs_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import quality_percentile_filter

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return (
        quality_percentile_filter(docs, "n_chars", 0.5, ("lang",))
        .select("doc_id", "lang", "n_chars", "pr")
        .orderBy("doc_id")
    )


@register(
    "scd2_customer_segments",
    oracle="""
        WITH hist AS (
            SELECT c_custkey, c_mktsegment AS segment, DATE '2020-01-01' AS valid_from
            FROM customer
            UNION ALL
            SELECT c_custkey, 'UPGRADED' AS segment, DATE '2024-01-01' AS valid_from
            FROM customer WHERE c_custkey % 5 = 0
        )
        SELECT c_custkey, segment, valid_from,
               lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from)
                   AS valid_to,
               lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from)
                   IS NULL AS is_current
        FROM hist
        ORDER BY c_custkey, valid_from
    """,
    doc="Type-2 slowly-changing dimension (operators/warehouse.scd2_merge): "
    "base snapshot + an update batch (custkey %% 5 re-segmented) become "
    "half-open version intervals via lead(valid_from) per key — "
    "warehouse-standard SCD2 as a derived, re-runnable plan (no MERGE "
    "mutation), one shuffle on the dimension key.",
)
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warehouse import scd2_merge

    customer = table(spark, sf_dir, "customer")
    base = customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
    )
    updates = customer.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit("UPGRADED").alias("segment"),
        F.lit("2024-01-01").cast("date").alias("valid_from"),
    )
    return scd2_merge(base, updates, "c_custkey", ["segment"]).orderBy(
        "c_custkey", "valid_from"
    )


@register(
    "ev_dedup_tolerance",
    oracle="""
        SELECT event_id FROM (
            SELECT event_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id, event_type ORDER BY ts, event_id
                   ) AS gap_us
            FROM events
        ) WHERE gap_us IS NULL OR gap_us > 1000000
        ORDER BY event_id
    """,
    doc="Tolerance dedup for event streams: drop an event arriving within "
    "1s of the previous same-(user, type) event (sensor double-fire "
    "suppression). lag() over one keyed window — a single shuffle, the "
    "batch twin of the streaming dropDuplicates-within-watermark.",
)
def ev_dedup_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    return (
        ev.withColumn("gap_us", gap)
        .filter(F.col("gap_us").isNull() | (F.col("gap_us") > 1_000_000))
        .select("event_id")
        .orderBy("event_id")
    )


@register(
    "ent_resolve_part_names",
    oracle="""
        WITH damaged AS (
            SELECT p_partkey AS rec_id,
                   substr(p_name, 1, 2) || substr(p_name, 4) AS dname
            FROM part WHERE p_partkey % 13 = 0
        ),
        cand AS (
            SELECT d.rec_id, d.dname, o.p_partkey AS matched_key,
                   levenshtein(d.dname, o.p_name) AS lev
            FROM damaged d
            JOIN part o
              ON substr(d.dname, 1, 2) || '|' || regexp_extract(d.dname, '[^ ]+$', 0)
                 = substr(o.p_name, 1, 2) || '|' || regexp_extract(o.p_name, '[^ ]+$', 0)
            WHERE levenshtein(d.dname, o.p_name) <= 1
        )
        SELECT rec_id, matched_key, lev FROM cand
        QUALIFY row_number() OVER (PARTITION BY rec_id ORDER BY lev, matched_key) = 1
        ORDER BY rec_id
    """,
    doc="Entity resolution by blocked fuzzy name match: damaged part names "
    "(3rd char dropped, partkey %% 13 slice) are re-linked to the catalog "
    "by an EQUI-join on a composite blocking key (first 2 chars + last "
    "token, both damage-invariant) with levenshtein <= 1 as residual — "
    "bounded (threshold) on the Spark side after a length guard — then "
    "best-match (min distance, deterministic tie-break) per record. "
    "Blocking keeps the candidate set near-linear — never an all-pairs "
    "edit-distance scan; tighter blocks trade recall only for damage "
    "outside the preserved fields, the standard ER design call.",
)
def ent_resolve_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    damaged = part.filter(F.col("p_partkey") % 13 == 0).select(
        F.col("p_partkey").alias("rec_id"),
        F.concat(
            F.substring(F.col("p_name"), 1, 2), F.expr("substring(p_name, 4)")
        ).alias("dname"),
    )
    orig = part.select(F.col("p_partkey").alias("matched_key"), "p_name")
    # composite blocking key: first-2-chars (invariant under the 3rd-char
    # damage) + last token — ~2 orders of magnitude smaller buckets than
    # last-token alone, same planted-match recall
    block_d = F.concat_ws(
        "|", F.substring("dname", 1, 2), F.regexp_extract(F.col("dname"), "[^ ]+$", 0)
    )
    block_o = F.concat_ws(
        "|", F.substring("p_name", 1, 2), F.regexp_extract(F.col("p_name"), "[^ ]+$", 0)
    )
    cand = (
        damaged.join(orig, block_d == block_o)
        # semantics-preserving prunes (the oracle's plain levenshtein <= 1
        # implies both): a length guard before any edit-distance work, then
        # the BOUNDED levenshtein (threshold arg -> banded DP with early
        # exit, returns -1 over the bound) instead of the full O(len^2) DP
        .filter(
            F.abs(F.length("dname") - F.length("p_name")) <= 1
        )
        .withColumn("lev", F.levenshtein(F.col("dname"), F.col("p_name"), 1))
        .filter((F.col("lev") >= 0) & (F.col("lev") <= 1))
    )
    w = Window.partitionBy("rec_id").orderBy("lev", "matched_key")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("rec_id", "matched_key", "lev")
        .orderBy("rec_id")
    )


@register(
    "docs_mixture_plan",
    oracle="""
        WITH planned AS (
            SELECT doc_id, source,
                   CASE (CAST(substr(source, 4) AS INT) % 3)
                        WHEN 0 THEN 100 WHEN 1 THEN 50 ELSE 25 END AS rate_pct,
                   CASE WHEN CAST(substr(source, 4) AS INT) % 5 = 0
                        THEN 3 ELSE 1 END AS n_epochs
            FROM documents
        )
        SELECT doc_id, source, CAST(epoch AS INT) AS epoch
        FROM planned, UNNEST(generate_series(1, n_epochs)) AS t(epoch)
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
              < rate_pct
        ORDER BY doc_id, epoch
    """,
    doc="Training-mixture construction (operators/corpus.mixture_sample): "
    "per-source sampling rate (100/50/25%% by source id mod 3) via "
    "deterministic md5-hash percentile — exact-rate Bernoulli, identical "
    "on every engine/run, never rand() — and per-source epoch replication "
    "(3x for source id %% 5 == 0) via explode(sequence). The "
    "down-weight/up-weight step between curation and packing; both "
    "narrow, no shuffle.",
)
def docs_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import mixture_sample

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    src_n = F.substring(F.col("source"), 4, 10).cast("int")
    rate = (
        F.when(src_n % 3 == 0, 100).when(src_n % 3 == 1, 50).otherwise(25)
    )
    epochs = F.when(src_n % 5 == 0, 3).otherwise(1)
    return (
        mixture_sample(docs, rate, epochs)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    )


@register(
    "trend_gapfill_monthly_big_orders",
    oracle="""
        WITH big AS (
            SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_totalprice > 495000
        ),
        bounds AS (
            SELECT date_trunc('month', MIN(CAST(o_orderdate AS DATE))) AS mn,
                   date_trunc('month', MAX(CAST(o_orderdate AS DATE))) AS mx
            FROM orders
        ),
        spine AS (
            SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS DATE)
                       AS month
            FROM bounds
        ),
        agg AS (
            SELECT month, COUNT(*) AS n_orders, SUM(cents) AS cents
            FROM big GROUP BY month
        )
        SELECT s.month, COALESCE(a.n_orders, 0) AS n_orders,
               CAST(COALESCE(a.cents, 0) AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue
        FROM spine s LEFT JOIN agg a ON s.month = a.month
        ORDER BY s.month
    """,
    doc="Calendar gap-filling: a month spine spanning the fact's full range "
    "(sequence/generate_series from one 1-row agg) LEFT-joined to a sparse "
    "monthly rollup (orders > 495k), absent months coalesced to zero — "
    "the resample-don't-skip pattern every time-series dashboard needs. "
    "The spine is driver-tiny and broadcast; the rollup aggregates before "
    "the join so the fact never joins row-level.",
)
def trend_gapfill_monthly_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    big = orders.filter(F.col("o_totalprice") > 495000).select(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        cents.alias("cents"),
    )
    agg = big.groupBy("month").agg(
        F.count("*").alias("n_orders"), F.sum("cents").alias("cents")
    )
    bounds = orders.agg(
        F.trunc(F.min(F.col("o_orderdate").cast("date")), "month").alias("mn"),
        F.trunc(F.max(F.col("o_orderdate").cast("date")), "month").alias("mx"),
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 MONTH"))).alias("month")
    )
    return (
        spine.join(agg, "month", "left")
        .select(
            "month",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            (
                F.coalesce("cents", F.lit(0)).cast("double")
                / F.lit(100).cast("double")
            ).alias("revenue"),
        )
        .orderBy("month")
    )


@register(
    "fe_target_encode_priority",
    oracle="""
        SELECT o_orderkey, o_orderpriority AS priority,
               CASE WHEN COUNT(cents) OVER w > 1 THEN
                   (CAST(SUM(cents) OVER w - cents AS DOUBLE)
                        / (COUNT(cents) OVER w - 1)) / 100.0
               END AS te_loo
        FROM (
            SELECT o_orderkey, o_orderpriority,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        )
        WINDOW w AS (PARTITION BY o_orderpriority)
        ORDER BY o_orderkey
    """,
    doc="Leave-one-out target encoding (functions/features.target_encode_"
    "loo): each order's priority encodes as the mean totalprice of the "
    "OTHER orders in that priority — the leakage-safe categorical "
    "encoding for feature prep. One unordered category window (exact "
    "integer cents, single final division), no per-row subqueries.",
)
def fe_target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.features import target_encode_loo

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        target_encode_loo(orders, "priority", F.col("cents"))
        .select("o_orderkey", "priority", "te_loo")
        .orderBy("o_orderkey")
    )


@register(
    "dedup_clusters_star",
    oracle=None,  # set just below: shares dedup_clusters' recursive-CTE oracle
    doc="Near-dup clusters via large-star/small-star CC (operators/dedup."
    "connected_components_star) — O(log n) ROUNDS regardless of component "
    "diameter vs O(diameter) for min-label propagation; the same LSH "
    "candidate graph and the same (doc_id, cluster_id = component min) "
    "labels, gated by the same recursive-CTE transitive-closure oracle. "
    "At 100 TB chain-shaped components (transitive boilerplate edits) "
    "finish in ~8 rounds instead of hundreds.",
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return D.connected_components_star(edges, docs.select("doc_id")).orderBy("doc_id")


# identical graph, identical labels → identical oracle text
REGISTRY["dedup_clusters_star"] = REGISTRY["dedup_clusters_star"].__class__(
    name="dedup_clusters_star",
    fn=REGISTRY["dedup_clusters_star"].fn,
    oracle=REGISTRY["dedup_clusters"].oracle,
    doc=REGISTRY["dedup_clusters_star"].doc,
)


@register(
    "docs_chunking",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t,
                   {_NTOK_SQL} AS n_tokens
            FROM documents
        ),
        sized AS (
            SELECT doc_id, t,
                   GREATEST(1, (n_tokens - 10 + 39) // 40) AS n_chunks
            FROM toks WHERE n_tokens > 0
        )
        SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
               CAST(idx * 40 AS INT) AS token_start,
               CAST(len(t[idx * 40 + 1 : idx * 40 + 50]) AS INT) AS n_chunk_tokens,
               array_to_string(t[idx * 40 + 1 : idx * 40 + 50], ' ') AS chunk_text
        FROM sized, UNNEST(range(0, n_chunks)) AS u(idx)
        ORDER BY doc_id, chunk_idx
    """,
    doc="Document chunking: 50-token windows with 10-token overlap (stride "
    "40) — the RAG/pretraining windowing step. One tokenize + one "
    "explode(sequence) + array slice/join per chunk, all built-in "
    "expressions, narrow (no shuffle); short docs yield one short chunk, "
    "blank docs none.",
)
def docs_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunk, overlap = 50, 10
    stride = chunk - overlap
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_tokens = F.when(F.trim(F.col("text")) == "", 0).otherwise(F.size(toks))
    sized = docs.select(
        "doc_id",
        toks.alias("t"),
        n_tokens.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    n_chunks = F.greatest(
        F.lit(1),
        F.expr(f"(n_tokens - {overlap} + {stride - 1}) div {stride}"),
    )
    exploded = sized.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_idx"),
    )
    sl = F.slice(F.col("t"), F.col("chunk_idx") * stride + 1, chunk)
    return (
        exploded.select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("int").alias("token_start"),
            F.size(sl).cast("int").alias("n_chunk_tokens"),
            F.array_join(sl, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "dedup_incremental_batch",
    oracle=f"""
        WITH fps AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents),
        hist AS (
            SELECT fp, MIN(doc_id) AS dup_of FROM fps
            WHERE doc_id % 5 <> 0 GROUP BY fp
        )
        SELECT f.doc_id, h.dup_of
        FROM fps f LEFT JOIN hist h USING (fp)
        WHERE f.doc_id % 5 = 0
        ORDER BY f.doc_id
    """,
    doc="Incremental dedup: a new ingest batch (doc_id %% 5 == 0 slice) "
    "checked against the historical corpus' fingerprint index — the "
    "daily-ingest reality where dedup is batch-vs-history, not "
    "whole-corpus-at-once. dup_of = earliest historical holder of the "
    "fingerprint (null = genuinely new). One groupBy on the history + one "
    "equi-join on the 32-char fingerprint; at 100 TB the index is a "
    "materialized bucketed table and the join is co-located.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    fps = docs.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))
    hist = (
        fps.filter(F.col("doc_id") % 5 != 0)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    batch = fps.filter(F.col("doc_id") % 5 == 0)
    return batch.join(hist, "fp", "left").select("doc_id", "dup_of").orderBy("doc_id")


_MIXED_HITS_SQL = {
    lang: _hits_sql(words) for lang, words in X.LANG_STOPWORDS.items()
}


@register(
    "text_mixed_lang",
    oracle=f"""
        SELECT doc_id, n_langs_hit, top_hits, total_hits,
               (total_hits > 0 AND top_hits * 2 <= total_hits) AS is_mixed
        FROM (
            SELECT doc_id,
                   ({" + ".join(f"CASE WHEN {h} > 0 THEN 1 ELSE 0 END" for h in _MIXED_HITS_SQL.values())})
                       AS n_langs_hit,
                   GREATEST({", ".join(_MIXED_HITS_SQL.values())}) AS top_hits,
                   ({" + ".join(_MIXED_HITS_SQL.values())}) AS total_hits
            FROM documents
        )
        ORDER BY doc_id
    """,
    doc="Mixed-language / code-switching detection: per-language stopword "
    "hits (the lang-ID lexicons) reduced to langs-hit count, dominant-"
    "language hits, and total hits; is_mixed when the dominant language "
    "holds <= half the evidence. Symmetric aggregates only (GREATEST + "
    "sums) — no argmax needed, one narrow projection.",
)
def text_mixed_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    hits = {
        lang: X.stopword_hits(F.col("text"), words)
        for lang, words in X.LANG_STOPWORDS.items()
    }
    n_langs = sum(F.when(h > 0, 1).otherwise(0) for h in hits.values())
    top = F.greatest(*hits.values())
    total = sum(hits.values(), F.lit(0))
    return (
        docs.select(
            "doc_id",
            n_langs.alias("n_langs_hit"),
            top.alias("top_hits"),
            total.alias("total_hits"),
            ((total > 0) & (top * 2 <= total)).alias("is_mixed"),
        )
        .orderBy("doc_id")
    )


@register(
    "agg_weighted_avg_unit_price",
    oracle="""
        SELECT p_type,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                   / CAST(100 AS DOUBLE)
                   / SUM(CAST(l_quantity AS BIGINT)) AS weighted_avg_unit_price,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_units
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_type ORDER BY p_type
    """,
    doc="Quantity-weighted average unit price per part type: "
    "sum(extendedprice)/sum(quantity) — the weighted mean a plain "
    "AVG(price/qty) gets wrong. Exact integer cent and unit sums "
    "(partial-aggregatable, order-independent), two IEEE divisions at "
    "the end — engine-identical.",
)
def agg_weighted_avg_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    units = F.col("l_quantity").cast("long")
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_type")),
                li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.sum(cents).alias("_cents"),
            F.sum(units).alias("total_units"),
        )
        .select(
            "p_type",
            (
                F.col("_cents").cast("double") / F.lit(100).cast("double")
                / F.col("total_units")
            ).alias("weighted_avg_unit_price"),
            "total_units",
        )
        .orderBy("p_type")
    )


@register(
    "ev_daily_volume_anomaly",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        typ AS (
            SELECT event_type, SUM(n) AS total, COUNT(*) AS n_days FROM daily
            GROUP BY event_type
        )
        SELECT d.event_type, d.day, d.n,
               (d.n * t.n_days > 2 * t.total) AS is_spike
        FROM daily d JOIN typ t USING (event_type)
        ORDER BY d.event_type, d.day
    """,
    doc="Daily-volume anomaly flag: a (type, day) is a spike when its count "
    "exceeds 2x the type's average daily volume. The comparison is the "
    "integer cross-multiplication n * n_days > 2 * total — exact on any "
    "engine, no float mean. Two partial-aggregatable groupBys + one "
    "equi-join on the tiny per-type rollup (broadcast under AQE).",
)
def ev_daily_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    typ = daily.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count("*").alias("n_days")
    )
    return (
        daily.join(typ, "event_type")
        .select(
            "event_type",
            "day",
            "n",
            (F.col("n") * F.col("n_days") > 2 * F.col("total")).alias("is_spike"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "tr_unpivot_kpis",
    oracle="""
        SELECT metric, value FROM (
            UNPIVOT (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n_orders,
                       CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS n_customers,
                       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                           / CAST(100 AS DOUBLE) AS total_revenue
                FROM orders
            ) ON n_orders, n_customers, total_revenue
            INTO NAME metric VALUE value
        ) ORDER BY metric
    """,
    doc="Wide-to-long reshape (the inverse of pivot_priority_by_status): "
    "the KPI row melts into (metric, value) pairs via DataFrame.unpivot / "
    "SQL UNPIVOT — the reshape a dashboard's metric store or a metrics "
    "sink expects. Runs over a 1-row aggregate; the unpivot itself is a "
    "narrow Expand.",
)
def tr_unpivot_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    wide = orders.agg(
        F.count("*").cast("double").alias("n_orders"),
        F.countDistinct("o_custkey").cast("double").alias("n_customers"),
        (F.sum(cents).cast("double") / F.lit(100).cast("double")).alias(
            "total_revenue"
        ),
    )
    return wide.unpivot(
        ids=[], values=["n_orders", "n_customers", "total_revenue"],
        variableColumnName="metric", valueColumnName="value",
    ).orderBy("metric")


def _profile_sql(col: str, typed: str) -> str:
    """One UNION-ALL leg of the column profiler (DuckDB dialect)."""
    return f"""
        SELECT '{col}' AS column_name, COUNT(*) AS n_rows,
               COUNT({col}) AS n_nonnull,
               COUNT(DISTINCT {col}) AS n_distinct,
               CAST(MIN({typed}) AS VARCHAR) AS min_value,
               CAST(MAX({typed}) AS VARCHAR) AS max_value
        FROM orders
    """


@register(
    "dq_profile_orders",
    oracle=" UNION ALL ".join(
        [
            _profile_sql("o_orderstatus", "o_orderstatus"),
            _profile_sql("o_orderpriority", "o_orderpriority"),
            _profile_sql("o_custkey", "o_custkey"),
            _profile_sql("o_totalprice", "CAST(o_totalprice AS DECIMAL(15,2))"),
            _profile_sql("o_orderdate", "CAST(o_orderdate AS DATE)"),
        ]
    )
    + " ORDER BY column_name",
    doc="Per-column data profiler — the discovery step before writing DQ "
    "rules: row/non-null/distinct counts plus min/max per column, "
    "stringified through engine-stable renderings (DECIMAL(15,2) for "
    "doubles, DATE for timestamps — raw double/timestamp formatting is "
    "engine-specific). Each UNION leg scans ONLY its own column (column "
    "pruning makes 5 narrow scans ~ 1 wide scan on columnar storage); at "
    "scale swap COUNT(DISTINCT) for approx_count_distinct.",
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")

    def leg(col: str, typed):
        return orders.agg(
            F.lit(col).alias("column_name"),
            F.count("*").alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(typed).cast("string").alias("min_value"),
            F.max(typed).cast("string").alias("max_value"),
        )

    legs = [
        leg("o_orderstatus", F.col("o_orderstatus")),
        leg("o_orderpriority", F.col("o_orderpriority")),
        leg("o_custkey", F.col("o_custkey")),
        leg("o_totalprice", F.col("o_totalprice").cast("decimal(15,2)")),
        leg("o_orderdate", F.col("o_orderdate").cast("date")),
    ]
    out = legs[0]
    for l in legs[1:]:
        out = out.unionByName(l)
    return out.orderBy("column_name")


@register(
    "docs_sequence_packing_sharded",
    oracle="""
        SELECT doc_id, lang, shard, n_tokens, tok_offset,
               CAST(floor(tok_offset / 2048.0) AS BIGINT) AS pack_id
        FROM (
            SELECT doc_id, lang, shard, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard
                                            ORDER BY doc_id)
                        - n_tokens AS BIGINT) AS tok_offset
            FROM (
                SELECT doc_id, lang,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                            % 8 AS INT) AS shard,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                            END AS n_tokens
                FROM documents
            )
        )
        ORDER BY doc_id
    """,
    doc="Sequence packing, SHARDED — the exact shape docs_sequence_packing's "
    "docstring prescribes for 100 TB: the packing stratum is (lang, shard) "
    "with shard = deterministic md5 hash of doc_id mod 8, so no window "
    "partition ever holds a whole language and the per-stratum ordered "
    "shuffle stays bounded. Packs are local to (lang, shard) — exactly how "
    "sharded pretraining data is laid out.",
)
def docs_sequence_packing_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import hash_pct, sequence_packing

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
            ).cast("long"),
            F.lit(8),
        )
        .cast("int")
        .alias("shard"),
        X.token_count(F.col("text")).alias("n_tokens"),
    )
    return (
        sequence_packing(docs, "n_tokens", budget=2048, part_cols=("lang", "shard"))
        .select("doc_id", "lang", "shard", "n_tokens", "tok_offset", "pack_id")
        .orderBy("doc_id")
    )


@register(
    "trend_ma3_revenue",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY month
        )
        SELECT CAST(month AS DATE) AS month,
               CAST(cents AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
               CAST(SUM(cents) OVER (ORDER BY month
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                    AS DOUBLE)
                   / CAST(100 AS DOUBLE)
                   / COUNT(*) OVER (ORDER BY month
                                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                   AS ma3_revenue
        FROM monthly ORDER BY month
    """,
    doc="3-month moving average revenue — the ROWS-frame window (BETWEEN 2 "
    "PRECEDING AND CURRENT ROW) complementing the RANGE-frame rolling-7d "
    "and the unbounded cumulative trend. Window runs over post-agg monthly "
    "rows only; exact integer cents with one final division chain, "
    "partial months average over their true row count (no padding).",
)
def trend_ma3_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time-series contract (r12 variant sweep): unknown-date rows excluded
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    monthly = orders.groupBy(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    w = Window.orderBy("month").rowsBetween(-2, 0)
    return (
        monthly.select(
            "month",
            (F.col("cents").cast("double") / F.lit(100).cast("double")).alias("revenue"),
            (
                F.sum("cents").over(w).cast("double")
                / F.lit(100).cast("double")
                / F.count("*").over(w)
            ).alias("ma3_revenue"),
        )
        .orderBy("month")
    )


@register(
    "dq_full_outer_reconcile",
    oracle="""
        WITH o AS (
            SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 11 <> 0
        ),
        l AS (
            SELECT DISTINCT l_orderkey AS k FROM lineitem WHERE l_orderkey % 7 <> 0
        )
        SELECT CASE WHEN o.k IS NULL THEN 'lineitem_only'
                    WHEN l.k IS NULL THEN 'orders_only'
                    ELSE 'both' END AS presence,
               COUNT(*) AS n_keys
        FROM o FULL OUTER JOIN l ON o.k = l.k
        GROUP BY presence ORDER BY presence
    """,
    doc="FULL OUTER reconciliation — the two-sided variant of the "
    "anti-join reconcile: keys present in either source classified as "
    "both / orders_only / lineitem_only with counts (planted %%7 / %%11 "
    "drop-outs make all three classes non-empty). Both sides pre-reduced "
    "to keys before the join (the fact never full-outer-joins row-level); "
    "full outer requires a shuffle join — Spark plans SMJ here, the "
    "correct choice since neither side can broadcast.",
)
def dq_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    o = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("ok")
    )
    l = (
        li.filter(F.col("l_orderkey") % 7 != 0)
        .select(F.col("l_orderkey").alias("lk"))
        .distinct()
    )
    joined = o.join(l, o.ok == l.lk, "full_outer")
    presence = (
        F.when(F.col("ok").isNull(), "lineitem_only")
        .when(F.col("lk").isNull(), "orders_only")
        .otherwise("both")
    )
    return (
        joined.select(presence.alias("presence"))
        .groupBy("presence")
        .agg(F.count("*").alias("n_keys"))
        .orderBy("presence")
    )


@register(
    "ev_funnel_strict_steps",
    oracle="""
        WITH t1 AS (
            SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        t2 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
            WHERE e.event_type = 'view' GROUP BY e.user_id
        ),
        t3 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ),
        t4 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN t3 ON e.user_id = t3.user_id AND e.ts > t3.t
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        ),
        c AS (
            SELECT (SELECT COUNT(*) FROM t1) AS c1,
                   (SELECT COUNT(*) FROM t2) AS c2,
                   (SELECT COUNT(*) FROM t3) AS c3,
                   (SELECT COUNT(*) FROM t4) AS c4
        )
        SELECT 1 AS step_no, 'signup' AS step, c1 AS n_users,
               CAST(1 AS DOUBLE) AS pct_of_prev, CAST(1 AS DOUBLE) AS pct_of_first
        FROM c
        UNION ALL
        SELECT 2, 'view', c2,
               CAST(c2 AS DOUBLE) / NULLIF(CAST(c1 AS DOUBLE), 0),
               CAST(c2 AS DOUBLE) / NULLIF(CAST(c1 AS DOUBLE), 0)
        FROM c
        UNION ALL
        SELECT 3, 'click', c3,
               CAST(c3 AS DOUBLE) / NULLIF(CAST(c2 AS DOUBLE), 0),
               CAST(c3 AS DOUBLE) / NULLIF(CAST(c1 AS DOUBLE), 0)
        FROM c
        UNION ALL
        SELECT 4, 'purchase', c4,
               CAST(c4 AS DOUBLE) / NULLIF(CAST(c3 AS DOUBLE), 0),
               CAST(c4 AS DOUBLE) / NULLIF(CAST(c1 AS DOUBLE), 0)
        FROM c
        ORDER BY step_no
    """,
    doc="STRICT sequential funnel (signup → view → click → purchase): a "
    "user advances to step k only via an event strictly AFTER their "
    "step-k−1 time, computed as a chain of conditional-min reductions — "
    "each step is one keyed aggregation joined back to the (small, "
    "lineage-truncated via localCheckpoint) surviving-user set, so the "
    "fact table is scanned exactly once per step with the type filter "
    "pushed down and the per-user state never exceeds one timestamp; the "
    "4-row report is a single inline() over the 1-row counts frame. At 100 TB each join keys on user_id against a "
    "shrinking user set (AQE broadcasts it once it fits); no per-user "
    "event-list collection anywhere. Output: per-step user counts plus "
    "step-over-step and overall conversion rates as single IEEE "
    "divisions of exact counts.",
)
def ev_funnel_strict_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import strict_funnel_times

    ev = table(spark, sf_dir, "events")
    # checkpointed per-step first-reach frames (see strict_funnel_times for
    # the lineage-truncation rationale — the round-3 47-scan regression)
    t1, t2, t3, t4 = strict_funnel_times(
        ev, ["signup", "view", "click", "purchase"]
    )

    c = (
        t1.agg(F.count("*").alias("c1"))
        .crossJoin(t2.agg(F.count("*").alias("c2")))
        .crossJoin(t3.agg(F.count("*").alias("c3")))
        .crossJoin(t4.agg(F.count("*").alias("c4")))
    )

    def pct(num: str, den: str):
        return F.col(num).cast("double") / F.nullif(
            F.col(den).cast("double"), F.lit(0.0)
        )

    # ONE reference to the 1-row counts frame: inline() explodes the 4-row
    # step table out of a literal array of structs — the previous 4-way
    # self-union referenced c four times and quadrupled its whole subtree.
    def step_struct(no: int, label: str, cnt: str, prev: str):
        return F.struct(
            F.lit(no).alias("step_no"),
            F.lit(label).alias("step"),
            F.col(cnt).alias("n_users"),
            (F.lit(1.0) if no == 1 else pct(cnt, prev)).alias("pct_of_prev"),
            (F.lit(1.0) if no == 1 else pct(cnt, "c1")).alias("pct_of_first"),
        )

    return c.select(
        F.inline(
            F.array(
                step_struct(1, "signup", "c1", "c1"),
                step_struct(2, "view", "c2", "c1"),
                step_struct(3, "click", "c3", "c2"),
                step_struct(4, "purchase", "c4", "c3"),
            )
        )
    ).orderBy("step_no")


@register(
    "trend_ema12_revenue",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY month
        ),
        idxd AS (
            SELECT CAST(month AS DATE) AS month, cents,
                   ROW_NUMBER() OVER (ORDER BY month) AS idx
            FROM monthly
        ),
        weighted AS (
            SELECT m.month, m.cents,
                   SUM(p.cents * (CASE WHEN t.off = 11 THEN 1
                                       ELSE (CAST(1 AS BIGINT) << (10 - t.off))
                                  END)) AS u
            FROM idxd m
            CROSS JOIN UNNEST(range(12)) AS t(off)
            JOIN idxd p ON p.idx = m.idx - t.off
            WHERE m.idx >= 12
            GROUP BY m.month, m.cents
        )
        SELECT month,
               CAST(cents AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
               CAST(u AS DOUBLE) / CAST(2048 AS DOUBLE) / CAST(100 AS DOUBLE)
                   AS ema12_revenue
        FROM weighted ORDER BY month
    """,
    doc="12-month exponentially-weighted moving average of revenue "
    "(α = 1/2, window-truncated EMA: weights 2^10, 2^9, …, 2^0, 1 from "
    "newest to oldest sum to exactly 2^11). Floating EMA recursions are "
    "order-sensitive and engine-divergent; here the weighted sum is an "
    "exact BIGINT (power-of-two weights via shiftleft — monthly cents × "
    "2^10 stays below 2^53 through ~sf10, so even the final double cast "
    "is exact) and ONE division chain produces the IEEE result. The "
    "position-dependent weights can't ride a plain window cumsum, so the "
    "window is unrolled into a 12-offset equi-join on the post-agg "
    "monthly rows (~tens of rows after the one real shuffle) — "
    "whole-stage-codegen-friendly, no nested-loop join, and the same "
    "shape scales to per-key EMAs by adding the key to both join sides.",
)
def trend_ema12_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time-series contract (r12 variant sweep): unknown-date rows excluded
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    monthly = orders.groupBy(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    idxd = monthly.select(
        "month", "cents", F.row_number().over(Window.orderBy("month")).alias("idx")
    )
    probe = (
        idxd.filter(F.col("idx") >= 12)
        .select(
            F.col("month").alias("m_month"),
            F.col("cents").alias("m_cents"),
            F.col("idx").alias("m_idx"),
        )
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("off"))
    )
    w = F.when(F.col("off") == 11, F.lit(1).cast("long")).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), 10 - off)")
    )
    joined = probe.join(idxd, idxd.idx == probe.m_idx - probe.off)
    weighted = joined.groupBy("m_month", "m_cents").agg(
        F.sum(F.col("cents") * w).alias("u")
    )
    return weighted.select(
        F.col("m_month").alias("month"),
        (F.col("m_cents").cast("double") / F.lit(100).cast("double")).alias("revenue"),
        (
            F.col("u").cast("double")
            / F.lit(2048).cast("double")
            / F.lit(100).cast("double")
        ).alias("ema12_revenue"),
    ).orderBy("month")


@register(
    "mm_audio_channel_stats",
    oracle="""
        WITH s AS (
            SELECT d.doc_id,
                   ((d.doc_id * 31 + i.i * 7) % 65536) - 32768 AS s0,
                   ((d.doc_id * 31 + i.i * 7 + 13) % 65536) - 32768 AS s1
            FROM documents d, range(64) i(i)
        )
        SELECT doc_id AS media_id, 8000 AS sample_rate, COUNT(*) AS n_samples,
               CAST(SUM(s0) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_ch0,
               sqrt(CAST(SUM(s0 * s0) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                   AS rms_ch0,
               CAST(SUM(s1) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_ch1,
               sqrt(CAST(SUM(s1 * s1) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                   AS rms_ch1
        FROM s GROUP BY doc_id ORDER BY media_id
    """,
    doc="REAL audio decode, in-container: synthesize one closed-form "
    "stereo PCM16 WAV clip per document (channel c sample i = "
    "(doc_id·31 + i·7 + c·13) mod 2¹⁶ − 2¹⁵), then parse the actual RIFF "
    "container — chunk walker that must skip a planted odd-length junk "
    "chunk with word padding, read the fmt chunk, de-interleave PCM16 "
    "frames — and emit per-channel integer sample sums through "
    "mapInPandas (operators/multimodal.py: encode_wav/decode_wav). The "
    "oracle recomputes expected samples from the same modular arithmetic "
    "WITHOUT touching the codec, so a green row proves the byte-level "
    "WAV parse. Mean/RMS derive from exact BIGINT sums via one IEEE "
    "division (+ correctly-rounded sqrt) each — engine-identical. At "
    "100 TB the binary column never leaves the Arrow batch: decode and "
    "reduce happen in one map pass, shuffling only 7 small columns.",
)
def mm_audio_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.synth_wav_table(docs, n_samples=64, sample_rate=8000, n_channels=2)
    stats = M.decode_audio_stats(media)
    n = F.col("n_samples").cast("double")
    return (
        stats.select(
            "media_id",
            "sample_rate",
            "n_samples",
            (F.col("sum_ch0").cast("double") / n).alias("mean_ch0"),
            F.sqrt(F.col("sumsq_ch0").cast("double") / n).alias("rms_ch0"),
            (F.col("sum_ch1").cast("double") / n).alias("mean_ch1"),
            F.sqrt(F.col("sumsq_ch1").cast("double") / n).alias("rms_ch1"),
        )
        .orderBy("media_id")
    )


@register(
    "agg_window_function_suite",
    oracle="""
        WITH c AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        )
        SELECT o_orderkey, o_orderstatus, cents,
               ROW_NUMBER() OVER w AS rn,
               NTILE(4) OVER w AS quartile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume,
               LAG(cents) OVER w AS prev_cents,
               LEAD(cents) OVER w AS next_cents,
               FIRST_VALUE(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS min_cents,
               LAST_VALUE(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING) AS max_cents,
               NTH_VALUE(cents, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS third_cents
        FROM c
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY cents NULLS FIRST, o_orderkey)
        QUALIFY o_orderkey % 101 = 0
        ORDER BY o_orderstatus, cents, o_orderkey
    """,
    doc="The full ranking/navigation window-function surface in ONE keyed "
    "pass: row_number, ntile, percent_rank, cume_dist, lag, lead, "
    "first/last/nth_value — all sharing a single (status, cents, "
    "orderkey) sort within one shuffle (one WindowExec, not nine). The "
    "ORDER BY includes the unique orderkey so peer groups are "
    "single-row — ntile/cume_dist tie behavior can't diverge between "
    "engines — and percent_rank/cume_dist are exact small-integer "
    "ratios, so the doubles match bit-for-bit. full-partition frames are "
    "EXPLICIT ROWS UNBOUNDED..UNBOUNDED (Spark and DuckDB default "
    "last_value frames differ!), and null sort keys are EXPLICIT NULLS "
    "FIRST (Spark's ASC default; DuckDB defaults NULLS LAST — r12 "
    "variant sweep). Output thinned AFTER the windows by a "
    "deterministic key filter.",
)
def agg_window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("o_orderstatus").orderBy("cents", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        c.select(
            "o_orderkey",
            "o_orderstatus",
            "cents",
            F.row_number().over(w).alias("rn"),
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.lag("cents").over(w).alias("prev_cents"),
            F.lead("cents").over(w).alias("next_cents"),
            F.first("cents").over(wf).alias("min_cents"),
            F.last("cents").over(wf).alias("max_cents"),
            F.nth_value("cents", 3).over(wf).alias("third_cents"),
        )
        .filter(F.col("o_orderkey") % 101 == 0)
        .orderBy("o_orderstatus", "cents", "o_orderkey")
    )


_CAP_PER_SOURCE = 20


@register(
    "docs_cap_per_source",
    oracle=f"""
        SELECT doc_id, source, sample_rank FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                               doc_id) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= {_CAP_PER_SOURCE}
        ORDER BY source, sample_rank
    """,
    doc=f"Per-source document cap (max {_CAP_PER_SOURCE} docs per source) — "
    "the anti-domination guard every corpus mix needs: without it one "
    "crawl dump swamps the training mix. Selection order is "
    "md5(doc_id) — a deterministic uniform shuffle, so the kept set is "
    "an unbiased sample that is STABLE under re-runs and incremental "
    "appends (a new doc displaces at most one old one), unlike "
    "rand()-based sampling which is irreproducible and "
    "partitioning-dependent. One window over the source partition; at "
    "100 TB sources are few and large, so skewed partitions should be "
    "pre-thinned with a per-partition local top-k (F.min_by / limit "
    "pushdown) before the global window.",
)
def docs_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= _CAP_PER_SOURCE)
        .orderBy("source", "sample_rank")
    )


@register(
    "ev_session_overlap_pairs",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                             >= INTERVAL '10 minutes'
                        THEN 1 ELSE 0 END AS brk
            FROM events
        ),
        islands AS (
            SELECT user_id, ts,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        ),
        sess AS (
            SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e
            FROM islands GROUP BY user_id, sid
        )
        SELECT a.user_id AS user_a, CAST(a.sid AS BIGINT) AS sid_a,
               b.user_id AS user_b, CAST(b.sid AS BIGINT) AS sid_b,
               epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s))
                   AS overlap_us
        FROM sess a JOIN sess b
          ON a.s <= b.e AND b.s <= a.e
         AND (a.user_id < b.user_id
              OR (a.user_id = b.user_id AND a.sid < b.sid))
        ORDER BY user_a, sid_a, user_b, sid_b
    """,
    doc="Interval-overlap join (operators.temporal.interval_overlap_join): "
    "which user sessions were concurrently active — co-presence mining "
    "over gaps-and-islands sessions (10 m gap). The naive overlap "
    "predicate is an IEJoin/nested loop; the operator explodes each "
    "session to the hour buckets it covers, equi-joins on the bucket, "
    "and keeps a pair only in the bucket of the later start, so the "
    "dedup is a FILTER (no distinct shuffle) and each pair survives "
    "exactly once. Overlap durations are exact integer microseconds. "
    "The oracle is DuckDB's native inequality join over the same "
    "sessions.",
)
def ev_session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import interval_overlap_join

    ev = table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_lag))
            >= 600 * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    sess = (
        marked.withColumn("sid", F.sum("brk").over(w_cum))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    pairs = interval_overlap_join(sess, sess, "s", "e", bucket_seconds=3600)
    return (
        pairs.filter(
            (F.col("user_id") < F.col("user_id_r"))
            | ((F.col("user_id") == F.col("user_id_r")) & (F.col("sid") < F.col("sid_r")))
        )
        .select(
            F.col("user_id").alias("user_a"),
            F.col("sid").alias("sid_a"),
            F.col("user_id_r").alias("user_b"),
            F.col("sid_r").alias("sid_b"),
            (
                F.unix_micros(F.least(F.col("e"), F.col("e_r")))
                - F.unix_micros(F.greatest(F.col("s"), F.col("s_r")))
            ).alias("overlap_us"),
        )
        .orderBy("user_a", "sid_a", "user_b", "sid_b")
    )


_DRIFT_SRC_A, _DRIFT_SRC_B = "src0", "src1"
_DRIFT_TOPK = 20


@register(
    "text_hellinger_source_drift",
    oracle=f"""
        WITH toks AS (
            SELECT source, UNNEST({_TOKS_SQL}) AS tok
            FROM documents
            WHERE source IN ('{_DRIFT_SRC_A}', '{_DRIFT_SRC_B}')
              AND trim(text) <> ''
        ),
        cnt AS (
            SELECT tok,
                   COUNT(*) FILTER (source = '{_DRIFT_SRC_A}') AS cnt_a,
                   COUNT(*) FILTER (source = '{_DRIFT_SRC_B}') AS cnt_b
            FROM toks WHERE tok <> '' GROUP BY tok
        ),
        tot AS (SELECT SUM(cnt_a) AS tot_a, SUM(cnt_b) AS tot_b FROM cnt),
        top AS (
            SELECT tok, cnt_a, cnt_b FROM cnt
            QUALIFY ROW_NUMBER() OVER (ORDER BY cnt_a + cnt_b DESC, tok)
                    <= {_DRIFT_TOPK}
        )
        SELECT tok, cnt_a, cnt_b,
               CAST(cnt_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS p_a,
               CAST(cnt_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS p_b,
               (sqrt(CAST(cnt_a AS DOUBLE) / CAST(tot_a AS DOUBLE))
                - sqrt(CAST(cnt_b AS DOUBLE) / CAST(tot_b AS DOUBLE)))
               * (sqrt(CAST(cnt_a AS DOUBLE) / CAST(tot_a AS DOUBLE))
                  - sqrt(CAST(cnt_b AS DOUBLE) / CAST(tot_b AS DOUBLE)))
                   AS hellinger_term
        FROM top CROSS JOIN tot ORDER BY tok
    """,
    doc="Token-distribution drift between two corpus sources via per-token "
    "squared-Hellinger contributions — the mix-shift monitor run when a "
    "new crawl lands: H² = ½ Σ (√p_a − √p_b)², emitted per token for the "
    "top-20 shared tokens so the drift is attributable, not just a "
    "scalar. Divergences needing log() are NOT cross-engine hash-stable "
    "(ln is not correctly rounded); Hellinger terms use only division, "
    "sqrt, subtract, multiply — all IEEE correctly rounded from exact "
    "integer counts, so both engines emit identical bits. One token "
    "explode + one groupBy; the two totals broadcast back as a 1-row "
    "cross join.",
)
def text_hellinger_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.filter(
            F.col("source").isin(_DRIFT_SRC_A, _DRIFT_SRC_B)
            & (F.trim(F.col("text")) != "")
        )
        .select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    cnt = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("source") == _DRIFT_SRC_A, 1).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(F.col("source") == _DRIFT_SRC_B, 1).otherwise(0)).alias("cnt_b"),
    )
    tot = cnt.agg(F.sum("cnt_a").alias("tot_a"), F.sum("cnt_b").alias("tot_b"))
    top = (
        cnt.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc(F.col("cnt_a") + F.col("cnt_b")), F.asc("tok"))
            ),
        )
        .filter(F.col("rk") <= _DRIFT_TOPK)
        .drop("rk")
    )
    p_a = F.col("cnt_a").cast("double") / F.col("tot_a").cast("double")
    p_b = F.col("cnt_b").cast("double") / F.col("tot_b").cast("double")
    term = (F.sqrt(p_a) - F.sqrt(p_b)) * (F.sqrt(p_a) - F.sqrt(p_b))
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "cnt_a",
            "cnt_b",
            p_a.alias("p_a"),
            p_b.alias("p_b"),
            term.alias("hellinger_term"),
        )
        .orderBy("tok")
    )


_BPE_TOPK = 20


@register(
    "docs_bpe_pair_counts",
    oracle=f"""
        WITH words AS (
            SELECT w, COUNT(*) AS wc
            FROM (SELECT UNNEST({_TOKS_SQL}) AS w
                  FROM documents WHERE trim(text) <> '')
            WHERE w <> '' GROUP BY w
        ),
        pairs AS (
            SELECT substr(w, CAST(t.i AS INTEGER) + 1, 1) AS left_sym,
                   substr(w, CAST(t.i AS INTEGER) + 2, 1) AS right_sym,
                   wc
            FROM words, UNNEST(range(len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        )
        SELECT left_sym, right_sym, CAST(SUM(wc) AS BIGINT) AS pair_count
        FROM pairs GROUP BY left_sym, right_sym
        ORDER BY pair_count DESC, left_sym, right_sym LIMIT {_BPE_TOPK}
    """,
    doc="First BPE merge step: corpus-weighted adjacent-symbol pair counts, "
    "top-20 merge candidates — the inner statistic of byte-pair-encoding "
    "tokenizer training. The BPE trick is reproduced structurally: pair "
    "enumeration runs over the DISTINCT word vocabulary weighted by word "
    "frequency, not over the raw corpus, so the quadratic-ish symbol scan "
    "touches |vocab| strings regardless of corpus size (the corpus-scale "
    "work is one explode + one groupBy to build the vocab — at 100 TB "
    "the vocab table is millions of rows, not billions). The char-pair "
    "explode is a higher-order transform (interpreted, not codegen — "
    "acceptable exactly because it runs post-compression).",
)
def docs_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.filter(F.trim(F.col("text")) != "")
        .select(F.explode(X.tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> struct(substr(w, i, 1) AS left_sym, "
                    "substr(w, i + 1, 1) AS right_sym))"
                )
            ).alias("pr"),
        )
        .select(F.col("pr.left_sym"), F.col("pr.right_sym"), "wc")
    )
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.sum("wc").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(_BPE_TOPK)
    )


@register(
    "dedup_cluster_size_hist",
    oracle=f"""
        SELECT cluster_size,
               COUNT(*) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
               CAST(cluster_size = 1 AS BOOLEAN) AS is_singleton
        FROM (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM ({REGISTRY["dedup_clusters"].oracle})
            GROUP BY cluster_id
        )
        GROUP BY cluster_size
        ORDER BY cluster_size
    """,
    doc="Cluster-size histogram over the near-dup clustering — the "
    "observability readout of a dedup pass (how much of the corpus is "
    "singletons vs boilerplate families; a fat tail here is the signal "
    "to tighten LSH thresholds before training). Two keyed counts on "
    "top of the clustering's label table: cluster sizes, then sizes of "
    "sizes — both partial-aggregatable, cardinality collapses at each "
    "step, so the add-on cost at 100 TB is negligible next to the "
    "clustering itself.",
)
def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    labels = D.near_dup_clusters(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"), F.sum("cluster_size").alias("n_docs"))
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            (F.col("cluster_size") == 1).alias("is_singleton"),
        )
        .orderBy("cluster_size")
    )


@register(
    "mm_decode_mixed_codecs",
    oracle="""
        SELECT CASE d.doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
                                 ELSE 'png' END AS codec,
               COUNT(DISTINCT d.doc_id) AS n_media,
               CAST(SUM(((d.doc_id % 256) * 7 + 3 * p.p + 0) % 256) AS BIGINT) AS sum_r,
               CAST(SUM(((d.doc_id % 256) * 7 + 3 * p.p + 1) % 256) AS BIGINT) AS sum_g,
               CAST(SUM(((d.doc_id % 256) * 7 + 3 * p.p + 2) % 256) AS BIGINT) AS sum_b
        FROM documents d, range(32) p(p)
        GROUP BY 1 ORDER BY codec
    """,
    doc="Mixed-container image decode through the magic-dispatch codec: "
    "doc_id % 3 cycles PPM (P6) / 24bpp BMP / PNG, ALL encoding the "
    "same closed-form 8x4 raster (byte i = ((doc_id%256)*7+i)%256); the "
    "PNG leg also cycles the scanline filter (None/Sub/Up/Average/"
    "Paeth by doc_id % 5). The per-codec channel sums must match an "
    "oracle that recomputes the pixels arithmetically and never touches "
    "any container — so a green row proves the BMP path (BGR order, "
    "bottom-up rows, stride padding) AND the PNG path (chunk CRCs, "
    "INFLATE, all five unfilter types incl. the Paeth predictor) decode "
    "to the identical pixels the PPM path yields, in-plan through "
    "mapInPandas. Integer sums only; no float anywhere.",
)
def mm_decode_mixed_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.synth_mixed_media_table(docs, width=8, height=4)
    stats = M.decode_image_stats(media)
    return (
        stats.select(
            F.when(F.col("media_id") % 3 == 0, F.lit("ppm"))
            .when(F.col("media_id") % 3 == 1, F.lit("bmp"))
            .otherwise(F.lit("png"))
            .alias("codec"),
            "media_id",
            "sum_r",
            "sum_g",
            "sum_b",
        )
        .groupBy("codec")
        .agg(
            F.count_distinct(F.col("media_id")).alias("n_media"),
            F.sum("sum_r").alias("sum_r"),
            F.sum("sum_g").alias("sum_g"),
            F.sum("sum_b").alias("sum_b"),
        )
        .orderBy("codec")
    )


_EST_MATCHES_SQL = " + ".join(
    f"CAST(a.h{i} = b.h{i} AS INTEGER)" for i in range(_NUM_HASHES)
)


@register(
    "dedup_minhash_estimate_error",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        sig AS (
            SELECT doc_id, {_MINHASH_AGGS_SQL}
            FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
            GROUP BY doc_id
        ),
        banded AS ({_BANDED_SQL}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                          AND a.doc_id < b.doc_id
        ),
        est AS (
            SELECT p.doc_a, p.doc_b,
                   ({_EST_MATCHES_SQL}) AS n_match
            FROM pairs p
            JOIN sig a ON p.doc_a = a.doc_id
            JOIN sig b ON p.doc_b = b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT e.doc_a, e.doc_b,
               ROUND(e.n_match / CAST({_NUM_HASHES} AS DOUBLE), 6) AS est_jaccard,
               ROUND(COALESCE(c.n_common, 0)
                     / CAST(sa.n_sh + sb.n_sh - COALESCE(c.n_common, 0) AS DOUBLE),
                     6) AS exact_jaccard,
               ROUND(ABS(e.n_match / CAST({_NUM_HASHES} AS DOUBLE)
                         - COALESCE(c.n_common, 0)
                           / CAST(sa.n_sh + sb.n_sh - COALESCE(c.n_common, 0)
                                  AS DOUBLE)), 6) AS abs_err
        FROM est e
        LEFT JOIN common c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
        JOIN sizes sa ON e.doc_a = sa.doc_id
        JOIN sizes sb ON e.doc_b = sb.doc_id
        ORDER BY e.doc_a, e.doc_b
    """,
    doc="MinHash calibration: for every LSH candidate pair, the sketch's "
    f"Jaccard estimate (matching signature components / k={_NUM_HASHES}) "
    "next to the exact n-gram Jaccard and the absolute error — the "
    "sketch-quality readout that decides whether k/bands need retuning "
    "before trusting the dedup pass at scale. Candidates LEFT-join the "
    "common-shingle counts (a banding collision without shared shingles "
    "is exactly the false positive this query surfaces as exact=0). All "
    "inputs are md5-derived integers; estimates and errors are exact "
    "rationals with fixed-sequence divisions — hash-gate deterministic.",
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # scan-budget: documents scanned 8 times without it
    sh = D._doc_shingles(docs, "text", 3).transform(pin)
    sigs = D.minhash_signatures(
        docs, num_hashes=_NUM_HASHES, shingles_df=sh
    )
    cands = D.lsh_candidate_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, signatures_df=sigs
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"_a{i}") for i in range(_NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"_b{i}") for i in range(_NUM_HASHES)],
    )
    n_match = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int") for i in range(_NUM_HASHES)
    )
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_match.alias("n_match"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb"))
    k = F.lit(_NUM_HASHES).cast("double")
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    exact = nc / (F.col("_na") + F.col("_nb") - nc).cast("double")
    est_j = F.col("n_match") / k
    return (
        # SHUFFLE_HASH on the probe side (r15, guide §3.1): the est⋈common
        # LeftOuter planned as SortMergeJoin — both sides sort ~10k-row
        # pair frames per partition for one probe pass. The shuffled-hash
        # build of `common` (the smaller side) skips both sorts; measured
        # −14% warm-noop interleaved in r14, settled by the r15
        # same-session-position bench A/B (OPTIMIZATION_r15.md). Results
        # identical: join strategy never changes join semantics.
        est.join(common.hint("shuffle_hash"), ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est_j, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(est_j - exact), 6).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "ev_pit_features_at_purchase",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type, ts,
                   -- floor, not CAST: epoch() is fractional here and CAST
                   -- rounds in DuckDB while Spark's timestamp->long cast
                   -- truncates; both sides must floor identically
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                   event_id
            FROM events
        ),
        feat AS (
            SELECT user_id, event_id, event_type, ts,
                   COUNT(*) FILTER (event_type = 'view') OVER w AS views_7d,
                   COUNT(*) FILTER (event_type = 'click') OVER w AS clicks_7d,
                   COUNT(*) OVER w AS events_7d
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY sec
                         RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)
        )
        SELECT user_id, event_id, views_7d, clicks_7d, events_7d
        FROM feat WHERE event_type = 'purchase'
        ORDER BY user_id, event_id
    """,
    doc="Point-in-time feature materialization (the leakage-safe "
    "feature-store pattern): for every purchase event, the user's "
    "trailing-7-day view/click/total counts as of STRICTLY BEFORE the "
    "purchase instant — the RANGE frame ends at 1 second preceding, so "
    "the label event and any same-second burst never leak into its own "
    "features. One keyed window per user ordered by epoch seconds "
    "(events shuffle once on user_id; the frame is streaming within the "
    "partition, no self-join); integer counts only. The same frame "
    "computed at training and serving time is what makes the feature "
    "definition point-in-time correct.",
)
def ev_pit_features_at_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-604800, -1)
    )
    feat = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.count(F.when(F.col("event_type") == "view", 1)).over(w).alias("views_7d"),
        F.count(F.when(F.col("event_type") == "click", 1)).over(w).alias("clicks_7d"),
        F.count("*").over(w).alias("events_7d"),
    )
    return (
        feat.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "views_7d", "clicks_7d", "events_7d")
        .orderBy("user_id", "event_id")
    )


@register(
    "dedup_lsh_bucket_skew",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        sig AS (
            SELECT doc_id, {_MINHASH_AGGS_SQL}
            FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
            GROUP BY doc_id
        ),
        banded AS ({_BANDED_SQL}),
        buckets AS (
            SELECT band_idx, band_sig, COUNT(*) AS sz
            FROM banded GROUP BY band_idx, band_sig
        )
        SELECT band_idx,
               COUNT(*) AS n_buckets,
               MAX(sz) AS max_bucket,
               CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_pairs,
               MAX(sz * (sz - 1) // 2) AS max_bucket_pairs,
               CAST(MAX(sz * (sz - 1) // 2) AS DOUBLE)
                   / CAST(NULLIF(SUM(sz * (sz - 1) // 2), 0) AS DOUBLE)
                   AS top_bucket_share
        FROM buckets
        GROUP BY band_idx
        ORDER BY band_idx
    """,
    doc="LSH bucket-skew report per band: bucket count, largest bucket, "
    "total candidate pairs Σ s(s−1)/2, and the share of pair work the "
    "hottest bucket carries — the observability readout behind the AQE "
    "skew-join story (a boilerplate-heavy corpus shows up here FIRST, "
    "before the candidate join straggles; top_bucket_share near 1 means "
    "salt or tighten bands). Two partial-aggregatable count rollups "
    "(bucket sizes, then per-band stats on ≤ bands keys); exact "
    "integers with one final division.",
)
def dedup_lsh_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, num_hashes=_NUM_HASHES)
    rows_per_band = _NUM_HASHES // _BANDS
    band_cols = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_sig"),
        )
        for b in range(_BANDS)
    ]
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select(
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_sig").alias("band_sig"),
    )
    buckets = banded.groupBy("band_idx", "band_sig").agg(F.count("*").alias("sz"))
    pairs = F.expr("sz * (sz - 1) div 2")
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("sz").alias("max_bucket"),
            F.sum(pairs).alias("n_pairs"),
            F.max(pairs).alias("max_bucket_pairs"),
        )
        .select(
            "band_idx",
            "n_buckets",
            "max_bucket",
            "n_pairs",
            "max_bucket_pairs",
            (
                F.col("max_bucket_pairs").cast("double")
                / F.nullif(F.col("n_pairs"), F.lit(0)).cast("double")
            ).alias("top_bucket_share"),
        )
        .orderBy("band_idx")
    )


@register(
    "ev_attribution_linear_7d",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   event_id
            FROM events
        ),
        feat AS (
            SELECT user_id, event_id, event_type, cents,
                   COUNT(*) FILTER (event_type = 'view') OVER w AS v7,
                   COUNT(*) FILTER (event_type = 'click') OVER w AS c7
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY sec
                         RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)
        ),
        credits AS (
            SELECT CAST(ROUND(cents * 1000000.0 * v7 / (v7 + c7)) AS BIGINT)
                       AS view_u,
                   CAST(ROUND(cents * 1000000.0 * c7 / (v7 + c7)) AS BIGINT)
                       AS click_u,
                   cents
            FROM feat
            WHERE event_type = 'purchase' AND v7 + c7 > 0
        )
        SELECT COUNT(*) AS n_attributed,
               CAST(SUM(view_u) AS DOUBLE) / CAST(100000000 AS DOUBLE)
                   AS view_credit,
               CAST(SUM(click_u) AS DOUBLE) / CAST(100000000 AS DOUBLE)
                   AS click_credit,
               CAST(SUM(cents) AS DOUBLE) / CAST(100 AS DOUBLE)
                   AS attributed_value
        FROM credits
    """,
    doc="Linear multi-touch attribution: each purchase's value splits "
    "proportionally across the user's trailing-7-day views and clicks "
    "(strictly before the purchase — same leakage-safe frame as the "
    "point-in-time features), answering 'which touch class drives "
    "revenue' beyond last-touch as-of attribution. Exactness: purchase "
    "values quantize to integer cents, each per-purchase credit share "
    "cents·1e6·v/(v+c) is ONE double rounding of an exact rational "
    "(numerator < 2^53 — identical on both engines), and the final "
    "rollup sums exact BIGINT micro-units. One keyed window per user "
    "plus a single global reduce — no self-join, no fact-table window.",
)
def ev_attribution_linear_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("sec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-604800, -1)
    feat = e.select(
        "event_type",
        "cents",
        F.count(F.when(F.col("event_type") == "view", 1)).over(w).alias("v7"),
        F.count(F.when(F.col("event_type") == "click", 1)).over(w).alias("c7"),
    )
    tot = F.col("v7") + F.col("c7")
    credits = feat.filter((F.col("event_type") == "purchase") & (tot > 0)).select(
        F.round(F.col("cents") * F.lit(1000000.0) * F.col("v7") / tot)
        .cast("long")
        .alias("view_u"),
        F.round(F.col("cents") * F.lit(1000000.0) * F.col("c7") / tot)
        .cast("long")
        .alias("click_u"),
        "cents",
    )
    return credits.agg(
        F.count("*").alias("n_attributed"),
        (F.sum("view_u").cast("double") / F.lit(100000000).cast("double")).alias(
            "view_credit"
        ),
        (F.sum("click_u").cast("double") / F.lit(100000000).cast("double")).alias(
            "click_credit"
        ),
        (F.sum("cents").cast("double") / F.lit(100).cast("double")).alias(
            "attributed_value"
        ),
    )


@register(
    "dedup_quality_impact",
    oracle=f"""
        WITH labels AS ({REGISTRY["dedup_clusters"].oracle.replace("ORDER BY doc_id", "")}),
        tagged AS (
            SELECT d.source, d.n_chars, l.doc_id = l.cluster_id AS kept
            FROM documents d JOIN labels l ON d.doc_id = l.doc_id
        )
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(*) FILTER (kept) AS n_kept,
               CAST(SUM(n_chars) FILTER (kept) AS DOUBLE)
                   / COUNT(*) FILTER (kept) AS mean_chars_kept,
               CAST(SUM(n_chars) FILTER (NOT kept) AS DOUBLE)
                   / NULLIF(COUNT(*) FILTER (NOT kept), 0) AS mean_chars_removed
        FROM tagged
        GROUP BY source
        ORDER BY source
    """,
    doc="Dedup quality-impact report: per source, how many documents the "
    "near-dup pass keeps (canonical = min-id cluster representative) and "
    "the mean length of kept vs removed docs — the selection-bias check "
    "run after any dedup pass (if removal systematically targets long or "
    "short docs, the canonical-pick policy needs revisiting). Composes "
    "the clustering labels with the document table via one equi-join; "
    "sums are exact BIGINT with one division per mean; sources with "
    "nothing removed yield NULL (same on both engines).",
)
def dedup_quality_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    labels = D.near_dup_clusters(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    tagged = docs.select("doc_id", "source", "n_chars").join(labels, "doc_id").select(
        "source", "n_chars", (F.col("doc_id") == F.col("cluster_id")).alias("kept")
    )
    kept_n = F.count(F.when(F.col("kept"), 1))
    rem_n = F.count(F.when(~F.col("kept"), 1))
    return (
        tagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            kept_n.alias("n_kept"),
            (
                F.sum(F.when(F.col("kept"), F.col("n_chars"))).cast("double") / kept_n
            ).alias("mean_chars_kept"),
            (
                F.sum(F.when(~F.col("kept"), F.col("n_chars"))).cast("double")
                / F.nullif(rem_n, F.lit(0))
            ).alias("mean_chars_removed"),
        )
        .orderBy("source")
    )


@register(
    "dedup_threshold_sweep",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        j AS (
            SELECT c.n_common,
                   sa.n_sh + sb.n_sh - c.n_common AS n_union
            FROM common c
            JOIN sizes sa ON c.doc_a = sa.doc_id
            JOIN sizes sb ON c.doc_b = sb.doc_id
        ),
        t AS (SELECT UNNEST([30, 50, 70, 90]) AS thr_pct)
        SELECT t.thr_pct,
               COUNT(*) FILTER (j.n_common * 100 >= t.thr_pct * j.n_union)
                   AS n_pairs,
               COUNT(*) AS n_candidates
        FROM j CROSS JOIN t
        GROUP BY t.thr_pct
        ORDER BY t.thr_pct
    """,
    doc="Dedup threshold sweep: how many shingle-sharing pairs survive "
    "exact Jaccard at 0.3/0.5/0.7/0.9 — the tuning curve consulted "
    "before committing to a dedup threshold (too low merges topical "
    "docs, too high leaves boilerplate). ONE pass over the pair stream: "
    "the 4-row threshold table fans out each pair via a bounded cross "
    "join, and every comparison is the integer cross-multiplication "
    "100·|A∩B| ≥ thr·|A∪B| — no float thresholds, no re-scan per "
    "threshold. Counts only; hash-gate exact.",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # scan-budget: documents scanned 4 times without it
    sh = D._doc_shingles(docs, "text", 3).transform(pin)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb"))
    j = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "n_common",
            (F.col("_na") + F.col("_nb") - F.col("n_common")).alias("n_union"),
        )
    )
    thr = F.explode(F.array(*[F.lit(t) for t in (30, 50, 70, 90)])).alias("thr_pct")
    fanned = j.select("n_common", "n_union", thr)
    return (
        fanned.groupBy("thr_pct")
        .agg(
            F.count(
                F.when(F.col("n_common") * 100 >= F.col("thr_pct") * F.col("n_union"), 1)
            ).alias("n_pairs"),
            F.count("*").alias("n_candidates"),
        )
        .orderBy("thr_pct")
    )


@register(
    "ev_new_vs_returning_daily",
    oracle="""
        WITH first AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
            FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS d
            FROM events e
        )
        SELECT d.d,
               COUNT(*) AS active_users,
               COUNT(*) FILTER (d.d = f.first_day) AS new_users,
               COUNT(*) FILTER (d.d > f.first_day) AS returning_users
        FROM daily d JOIN first f USING (user_id)
        GROUP BY d.d
        ORDER BY d.d
    """,
    doc="Daily active users split new vs returning — the first-touch KPI "
    "every product dashboard leads with (cohort retention's day-zero "
    "companion). Two keyed shuffles on user_id (first-day min-agg and "
    "the distinct day-activity rollup reuse the same hash partitioning "
    "— AQE coalesces them) and one on the day key; all counts exact.",
)
def ev_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    return (
        daily.join(first, "user_id")
        .groupBy("d")
        .agg(
            F.count("*").alias("active_users"),
            F.count(F.when(F.col("d") == F.col("first_day"), 1)).alias("new_users"),
            F.count(F.when(F.col("d") > F.col("first_day"), 1)).alias(
                "returning_users"
            ),
        )
        .orderBy("d")
    )


@register(
    "ev_dau_wau_stickiness",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
        fan AS (
            SELECT ud.user_id, ud.d + CAST(o.o AS INTEGER) AS d
            FROM ud, UNNEST(range(7)) AS o(o)
        ),
        wau AS (
            SELECT d, COUNT(DISTINCT user_id) AS wau FROM fan GROUP BY d
        )
        SELECT dau.d, dau.dau, wau.wau,
               CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
        FROM dau JOIN wau USING (d)
        ORDER BY dau.d
    """,
    doc="DAU/WAU stickiness per day — the engagement-depth growth metric "
    "(1/7 = users appear one day a week, 1 = daily habit). The trailing-"
    "7-day distinct-user count avoids any sliding distinct window (not "
    "partial-aggregatable) by FANNING each (user, day) activity row onto "
    "the 7 future days it keeps the user 'weekly-active' for — a bounded "
    "×7 explode, then an ordinary COUNT(DISTINCT) per day (map-side "
    "partially aggregated on (day, user)). Exact integers, one final "
    "division; at 100 TB the fan-out is the standard dateless-window "
    "trick that keeps the rollup one keyed shuffle.",
)
def ev_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    dau = ud.groupBy("d").agg(F.count("*").alias("dau"))
    fan = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("o")).alias("d"))
    wau = fan.groupBy("d").agg(F.count_distinct("user_id").alias("wau"))
    return (
        dau.join(wau, "d")
        .select(
            "d",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("d")
    )


@register(
    "ev_user_behavior_entropy",
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, COUNT(*) AS c
            FROM events GROUP BY user_id, event_type
        ),
        per AS (
            SELECT user_id,
                   SUM(c) AS n,
                   COUNT(*) AS n_types,
                   SUM(c * CAST(ROUND(log2(CAST(c AS DOUBLE)) * 1000000)
                                AS BIGINT)) AS sum_clogc
            FROM c GROUP BY user_id
        )
        SELECT user_id, CAST(n AS BIGINT) AS n_events, n_types,
               CAST(n * CAST(ROUND(log2(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
                    - sum_clogc AS DOUBLE)
                   / CAST(n * 1000000 AS DOUBLE) AS entropy_bits
        FROM per
        ORDER BY user_id
    """,
    doc="Per-user behavioral entropy: Shannon entropy of each user's "
    "event-type distribution in bits — the behavioral-diversity feature "
    "(0 = single-action bots, high = varied engagement) used in "
    "abuse-detection and engagement models. The identity "
    "H = log2(n) − (1/n)Σcᵢlog2(cᵢ) makes it one keyed aggregation: "
    "each log2 of an exact integer count quantizes ONCE to micro-bits, "
    "the Σcᵢ·q(log2 cᵢ) accumulator is an exact BIGINT sum "
    "(order-independent, map-side combined over (user, type) then "
    "user), and ONE final division emits bits. Two shuffles total, "
    "both partial-aggregatable.",
)
def ev_user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    qlog = lambda col: F.round(F.log2(col.cast("double")) * F.lit(1000000)).cast("long")
    per = c.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * qlog(F.col("c"))).alias("sum_clogc"),
    )
    return per.select(
        "user_id",
        F.col("n").alias("n_events"),
        "n_types",
        (
            (F.col("n") * qlog(F.col("n")) - F.col("sum_clogc")).cast("double")
            / (F.col("n") * F.lit(1000000)).cast("double")
        ).alias("entropy_bits"),
    ).orderBy("user_id")


@register(
    "text_jsd_source_drift",
    oracle=f"""
        WITH toks AS (
            SELECT source, UNNEST({_TOKS_SQL}) AS tok
            FROM documents
            WHERE source IN ('{_DRIFT_SRC_A}', '{_DRIFT_SRC_B}')
              AND trim(text) <> ''
        ),
        cnt AS (
            SELECT tok,
                   COUNT(*) FILTER (source = '{_DRIFT_SRC_A}') AS ca,
                   COUNT(*) FILTER (source = '{_DRIFT_SRC_B}') AS cb
            FROM toks WHERE tok <> '' GROUP BY tok
        ),
        tot AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb FROM cnt),
        terms AS (
            SELECT
                CASE WHEN ca > 0 THEN ca *
                    CAST(ROUND((log2(CAST(2 * ca * tb AS DOUBLE))
                                - log2(CAST(ca * tb + cb * ta AS DOUBLE)))
                               * 1000000) AS BIGINT)
                     ELSE 0 END AS ua,
                CASE WHEN cb > 0 THEN cb *
                    CAST(ROUND((log2(CAST(2 * cb * ta AS DOUBLE))
                                - log2(CAST(ca * tb + cb * ta AS DOUBLE)))
                               * 1000000) AS BIGINT)
                     ELSE 0 END AS ub
            FROM cnt CROSS JOIN tot
        )
        SELECT CAST(t.ta AS BIGINT) AS tot_a, CAST(t.tb AS BIGINT) AS tot_b,
               (CAST(SUM(s.ua) AS DOUBLE) / CAST(t.ta AS DOUBLE)
                + CAST(SUM(s.ub) AS DOUBLE) / CAST(t.tb AS DOUBLE))
               / CAST(2000000 AS DOUBLE) AS jsd_bits
        FROM terms s CROSS JOIN tot t
        GROUP BY t.ta, t.tb
    """,
    doc="Jensen-Shannon divergence between two sources' token "
    "distributions in bits — the standard bounded symmetric drift "
    "metric (0 = identical mixes, 1 = disjoint vocabularies) next to "
    "the per-token Hellinger attribution. The log-instability that "
    "rules out naive KL here is dissolved by the repo's micro-bit "
    "idiom: each token's log-ratio log2(2·c·T'/(c·T' + c'·T)) is a log2 "
    "of EXACT INTEGERS (the mixture denominator clears all fractions), "
    "quantized once to integer micro-bits; the two Σc·q accumulators "
    "are exact BIGINT sums and two final divisions emit bits. "
    "Vocabulary-sized group-by with map-side combine, totals as a "
    "1-row broadcast; tokens absent from one source contribute the "
    "exact log2(2) = 1-bit term on the present side only.",
)
def text_jsd_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.filter(
            F.col("source").isin(_DRIFT_SRC_A, _DRIFT_SRC_B)
            & (F.trim(F.col("text")) != "")
        )
        .select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    cnt = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("source") == _DRIFT_SRC_A, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("source") == _DRIFT_SRC_B, 1).otherwise(0)).alias("cb"),
    )
    tot = cnt.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    j = cnt.join(F.broadcast(tot))
    den = (F.col("ca") * F.col("tb") + F.col("cb") * F.col("ta")).cast("double")
    qa = F.round(
        (F.log2((2 * F.col("ca") * F.col("tb")).cast("double")) - F.log2(den))
        * F.lit(1000000)
    ).cast("long")
    qb = F.round(
        (F.log2((2 * F.col("cb") * F.col("ta")).cast("double")) - F.log2(den))
        * F.lit(1000000)
    ).cast("long")
    terms = j.select(
        F.when(F.col("ca") > 0, F.col("ca") * qa).otherwise(F.lit(0)).alias("ua"),
        F.when(F.col("cb") > 0, F.col("cb") * qb).otherwise(F.lit(0)).alias("ub"),
        "ta",
        "tb",
    )
    return terms.groupBy("ta", "tb").agg(
        (
            (
                F.sum("ua").cast("double") / F.col("ta").cast("double")
                + F.sum("ub").cast("double") / F.col("tb").cast("double")
            )
            / F.lit(2000000).cast("double")
        ).alias("jsd_bits")
    ).select(
        F.col("ta").alias("tot_a"), F.col("tb").alias("tot_b"), "jsd_bits"
    )


@register(
    "ev_out_of_order_profile",
    oracle="""
        WITH seq AS (
            SELECT event_type, user_id, event_id,
                   epoch_us(ts) AS us,
                   MAX(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS hwm
            FROM events
        )
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(*) FILTER (hwm IS NOT NULL AND us < hwm) AS n_out_of_order,
               COUNT(*) FILTER (hwm IS NOT NULL
                                AND hwm - us > 1800 * 1000000) AS n_late_30m,
               COALESCE(MAX(CASE WHEN hwm IS NOT NULL AND us < hwm
                                 THEN hwm - us END), 0) AS max_lateness_us
        FROM seq
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Out-of-orderness profile per event type — the measurement that "
    "SETS a streaming watermark (withWatermark's delay should cover the "
    "observed lateness tail; too tight drops data, too loose bloats "
    "state). Arrival order is the monotone event_id; each event compares "
    "its time against the per-user high-water mark of everything that "
    "arrived before it (running max window, 1-row-preceding frame — "
    "exactly the bookkeeping a streaming watermark performs per key). "
    "All arithmetic is exact integer microseconds (epoch_us / "
    "unix_micros — no float epoch anywhere); one keyed window shuffle on "
    "user_id plus a rollup onto the handful of type keys.",
)
def ev_out_of_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.max(F.unix_micros("ts")).over(w).alias("hwm"),
    )
    late = F.col("hwm").isNotNull() & (F.col("us") < F.col("hwm"))
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(late, 1)).alias("n_out_of_order"),
            F.count(
                F.when(
                    F.col("hwm").isNotNull()
                    & (F.col("hwm") - F.col("us") > 1800 * 1000000),
                    1,
                )
            ).alias("n_late_30m"),
            F.coalesce(
                F.max(F.when(late, F.col("hwm") - F.col("us"))), F.lit(0)
            ).alias("max_lateness_us"),
        )
        .orderBy("event_type")
    )


#: theoretical LSH capture probability 1-(1-s^r)^b at each bucket midpoint,
#: precomputed in Python and injected as LITERALS on both engines (pow is
#: not correctly rounded cross-engine; constants are)
_SCURVE_R = _NUM_HASHES // _BANDS
_SCURVE_MIDS = [round(0.05 + 0.1 * k, 2) for k in range(10)]
_SCURVE_THEORY = [
    round(1.0 - (1.0 - s**_SCURVE_R) ** _BANDS, 9) for s in _SCURVE_MIDS
]


@register(
    "dedup_lsh_scurve_validation",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        sig AS (
            SELECT doc_id, {_MINHASH_AGGS_SQL}
            FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
            GROUP BY doc_id
        ),
        banded AS ({_BANDED_SQL}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                          AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        bucketed AS (
            SELECT LEAST((10 * p.nc) // (sa.n_sh + sb.n_sh - p.nc), 9) AS bucket,
                   c.doc_a IS NOT NULL AS captured
            FROM pairs p
            JOIN sizes sa ON p.doc_a = sa.doc_id
            JOIN sizes sb ON p.doc_b = sb.doc_id
            LEFT JOIN cand c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
        ),
        th AS (
            SELECT UNNEST(range(10)) AS bucket,
                   UNNEST({_SCURVE_THEORY}) AS p_theory
        )
        SELECT b.bucket,
               COUNT(*) AS n_pairs,
               COUNT(*) FILTER (captured) AS n_captured,
               CAST(COUNT(*) FILTER (captured) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS p_empirical,
               CAST(MAX(t.p_theory) AS DOUBLE) AS p_theory
        FROM bucketed b JOIN th t ON b.bucket = t.bucket
        GROUP BY b.bucket
        ORDER BY b.bucket
    """,
    doc="LSH S-curve validation: empirical candidate-capture rate per "
    f"exact-Jaccard decile against the theoretical 1-(1-s^{_SCURVE_R})^"
    f"{_BANDS} banding curve — the design check that the chosen (k, "
    "bands) actually put the probability cliff at the intended "
    "similarity threshold (capture ≪ theory = broken hashing; capture "
    "at low similarity = bands too loose). The theoretical values are "
    "PYTHON-precomputed constants injected on both engines (pow is not "
    "correctly rounded cross-engine; literals are); buckets come from "
    "integer floor division of the exact Jaccard rational; the "
    "empirical rate is one division of exact counts. Pairs sharing no "
    "shingle are out of scope on both sides (capture there is the "
    "false-positive readout of dedup_minhash_estimate_error).",
)
def dedup_lsh_scurve_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # scan-budget: documents scanned 6 times without it
    sh = D._doc_shingles(docs, "text", 3).transform(pin)
    sigs = D.minhash_signatures(
        docs, num_hashes=_NUM_HASHES, shingles_df=sh
    )
    cand = D.lsh_candidate_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, signatures_df=sigs
    ).select("doc_a", "doc_b", F.lit(True).alias("captured"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("nc"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb"))
    bucket = F.least(
        F.expr("(10 * nc) div (_na + _nb - nc)").cast("int"), F.lit(9)
    )
    bucketed = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(cand, ["doc_a", "doc_b"], "left")
        .select(
            bucket.alias("bucket"),
            F.coalesce(F.col("captured"), F.lit(False)).alias("captured"),
        )
    )
    theory = F.array(*[F.lit(p) for p in _SCURVE_THEORY])
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count(F.when(F.col("captured"), 1)).alias("n_captured"),
            (
                F.count(F.when(F.col("captured"), 1)).cast("double")
                / F.count("*").cast("double")
            ).alias("p_empirical"),
        )
        .withColumn("p_theory", F.element_at(theory, F.col("bucket") + 1))
        .orderBy("bucket")
    )


@register(
    "docs_data_card",
    oracle=f"""
        WITH base AS (
            SELECT lang, source,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len({_TOKS_SQL}) END AS n_tok,
                   n_chars,
                   md5({_NORM_SQL}) AS fp,
                   doc_id
            FROM documents
        ),
        canon AS (SELECT fp, MIN(doc_id) AS keep_id FROM base GROUP BY fp),
        flagged AS (
            SELECT b.lang, b.source, b.n_tok, b.n_chars,
                   CASE WHEN b.doc_id <> c.keep_id THEN 1 ELSE 0 END AS is_dup
            FROM base b JOIN canon c ON b.fp = c.fp
        ),
        tot AS (SELECT SUM(n_tok) AS t FROM flagged)
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST(SUM(is_dup) AS BIGINT) AS dup_docs,
               CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS dup_rate,
               CAST(SUM(n_tok) AS DOUBLE) / CAST(tot.t AS DOUBLE)
                   AS token_share
        FROM flagged CROSS JOIN tot
        GROUP BY lang, source, tot.t
        ORDER BY lang, source
    """,
    doc="The corpus DATA CARD: per (lang, source) stratum — document and "
    "token counts, exact-duplicate volume (normalized-text md5 "
    "fingerprints, keep-lowest-id canonical: the dedup_exact_groups "
    "rule), duplication rate, and each stratum's share of total tokens "
    "— the one-page composition readout published alongside a training "
    "corpus, and the input that docs_mixture_plan's reweighting starts "
    "from. Shape: one fingerprint groupBy (map-side combined) + one "
    "stratum rollup + a 1-row token-total broadcast; every count is an "
    "exact integer, the two ratios are single fixed-sequence divisions. "
    "At 100 TB each stage is partial-aggregatable; the fingerprint "
    "shuffle is the dedup pass the pipeline already pays.",
)
def docs_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        "doc_id",
        "n_chars",
        X.token_count(F.col("text")).alias("n_tok"),
        F.md5(X.normalized_text(F.col("text"))).alias("fp"),
    ).transform(pin)  # scan-budget: documents scanned 4 times without it
    canon = base.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    flagged = base.join(canon, "fp").select(
        "lang",
        "source",
        "n_tok",
        "n_chars",
        (F.col("doc_id") != F.col("keep_id")).cast("long").alias("is_dup"),
    )
    tot = flagged.agg(F.sum("n_tok").alias("t"))
    return (
        flagged.join(F.broadcast(tot))
        .groupBy("lang", "source", "t")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("is_dup").alias("dup_docs"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "dup_docs",
            (F.col("dup_docs").cast("double") / F.col("n_docs")).alias("dup_rate"),
            (F.col("n_tokens").cast("double") / F.col("t").cast("double")).alias(
                "token_share"
            ),
        )
        .orderBy("lang", "source")
    )


@register(
    "ev_top_session_paths",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                             >= INTERVAL '10 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ),
        sess AS (
            SELECT user_id, ts, event_id, event_type,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM seq
        ),
        paths AS (
            SELECT array_to_string(
                       (list(event_type ORDER BY ts, event_id))[1:3], '>'
                   ) AS path
            FROM sess GROUP BY user_id, sid
        )
        SELECT path, COUNT(*) AS n_sessions,
               CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path)
                    AS INTEGER) AS "rank"
        FROM paths GROUP BY path
        QUALIFY "rank" <= 10
        ORDER BY "rank"
    """,
    doc="Top-10 session OPENING PATHS: each session's first three event "
    "types joined into a path string, counted across all sessions — the "
    "funnel-DISCOVERY readout (ev_funnel_conversion measures a KNOWN "
    "path; this surfaces which paths actually happen, feeding "
    "stat_markov_transitions' chain model). Sessionization is the "
    "native session_window (one user_id shuffle); the per-session "
    "ordered prefix comes from array_sort over collect_list of "
    "(ts, event_id, type) structs — deterministic total order via the "
    "unique event_id tiebreak, and BOUNDED state per session (struct "
    "list capped by session length; the slice-3 happens before the "
    "path groupBy, so the path key space stays |event_types|^3). "
    "Second rollup is path-keyed with map-side combine; top-10 via "
    "rank window over <=216 path keys. Oracle rebuilds sessions via "
    "the lag-gap form and DuckDB's ordered list aggregation.",
)
def ev_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    sess = ev.groupBy(
        F.session_window("ts", "10 minutes").alias("w"), F.col("user_id")
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    paths = sess.select(
        F.concat_ws(
            ">",
            F.transform(F.slice(F.col("evs"), 1, 3), lambda s: s["event_type"]),
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    w = Window.orderBy(F.desc("n_sessions"), "path")
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy("rank")
    )


@register(
    "dedup_lsh_precision_recall",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT doc_a, doc_b
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
        ),
        sig AS (
            SELECT doc_id, {{MINHASH}}
            FROM (SELECT doc_id, {_HBASE_SQL} AS hsh FROM sh)
            GROUP BY doc_id
        ),
        banded AS ({{BANDED}}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b ON a.band_idx = b.band_idx
                         AND a.band_sig = b.band_sig
                         AND a.doc_id < b.doc_id
        ),
        j AS (
            SELECT COALESCE(c.doc_a, t.doc_a) AS doc_a,
                   CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_cand,
                   CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth
            FROM cand c
            FULL OUTER JOIN truth t
              ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
        )
        SELECT CAST(SUM(in_truth) AS BIGINT) AS n_truth,
               CAST(SUM(in_cand) AS BIGINT) AS n_candidates,
               CAST(SUM(in_cand * in_truth) AS BIGINT) AS tp,
               CAST(SUM(in_cand * (1 - in_truth)) AS BIGINT) AS fp,
               CAST(SUM((1 - in_cand) * in_truth) AS BIGINT) AS fn,
               CAST(SUM(in_cand * in_truth) AS DOUBLE)
                   / CAST(NULLIF(SUM(in_cand), 0) AS DOUBLE) AS precision,
               CAST(SUM(in_cand * in_truth) AS DOUBLE)
                   / CAST(NULLIF(SUM(in_truth), 0) AS DOUBLE) AS recall
        FROM j
    """.replace("{MINHASH}", _MINHASH_AGGS_SQL).replace("{BANDED}", _BANDED_SQL),
    doc="LSH candidate-quality report: precision and recall of the "
    "MinHash-band candidate pairs against the EXACT Jaccard>=0.5 ground "
    "truth — the tuning readout that closes the dedup observability "
    "loop (dedup_lsh_scurve_validation predicts the collision curve "
    "THEORETICALLY; this measures the realized candidate quality on "
    "the corpus, the number that decides bands-vs-rows retuning). "
    "Ground truth comes from the shingle inverted-index join (pairs "
    "sharing zero shingles have J=0 and can only appear as candidate "
    "FALSE POSITIVES via band-hash collisions — the full-outer join "
    "scores them correctly). Both pair sets are blocked joins (shingle "
    "keys / band keys) — never all-pairs — and the comparison is one "
    "more keyed join + a 1-row reduce; every count is exact, the two "
    "ratios are NULLIF-guarded single divisions.",
)
def dedup_lsh_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # ground truth AND candidates derive from the same shingle stream
    # scan-budget: documents scanned 6 times without it
    sh = D._doc_shingles(docs, "text", 3).transform(pin)
    truth = D.jaccard_pairs(docs, min_jaccard=0.5, shingles_df=sh).select(
        "doc_a", "doc_b"
    )
    cand = D.lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        signatures_df=D.minhash_signatures(
            docs, num_hashes=_NUM_HASHES, shingles_df=sh
        ),
    ).select("doc_a", "doc_b")
    c = cand.withColumn("in_cand", F.lit(1))
    t = truth.withColumn("in_truth", F.lit(1))
    j = c.join(t, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("in_cand"), F.lit(0)).alias("in_cand"),
        F.coalesce(F.col("in_truth"), F.lit(0)).alias("in_truth"),
    )
    return j.agg(
        F.sum("in_truth").alias("n_truth"),
        F.sum("in_cand").alias("n_candidates"),
        F.sum(F.col("in_cand") * F.col("in_truth")).alias("tp"),
        F.sum(F.col("in_cand") * (1 - F.col("in_truth"))).alias("fp"),
        F.sum((1 - F.col("in_cand")) * F.col("in_truth")).alias("fn"),
        (
            F.sum(F.col("in_cand") * F.col("in_truth")).cast("double")
            / F.nullif(F.sum("in_cand"), F.lit(0)).cast("double")
        ).alias("precision"),
        (
            F.sum(F.col("in_cand") * F.col("in_truth")).cast("double")
            / F.nullif(F.sum("in_truth"), F.lit(0)).cast("double")
        ).alias("recall"),
    )


@register(
    "ev_cohort_ltv",
    oracle="""
        WITH first AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        rev AS (
            SELECT f.cohort_week,
                   CAST(date_diff('day', f.cohort_week,
                                  date_trunc('week', e.ts)) / 7 AS INTEGER)
                       AS weeks_since,
                   SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS cents
            FROM events e JOIN first f USING (user_id)
            WHERE e.event_type = 'purchase'
            GROUP BY 1, 2
        ),
        sized AS (
            SELECT cohort_week, COUNT(*) AS cohort_users
            FROM first GROUP BY cohort_week
        )
        SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week,
               r.weeks_since,
               s.cohort_users,
               CAST(SUM(r.cents) OVER (PARTITION BY r.cohort_week
                                       ORDER BY r.weeks_since) AS BIGINT)
                   AS cum_cents,
               CAST(SUM(r.cents) OVER (PARTITION BY r.cohort_week
                                       ORDER BY r.weeks_since) AS DOUBLE)
                   / (100.0 * s.cohort_users) AS ltv_per_user
        FROM rev r JOIN sized s ON r.cohort_week = s.cohort_week
        ORDER BY cohort_week, weeks_since
    """,
    doc="Cohort LTV curves: cumulative purchase revenue per signup-week "
    "cohort by weeks-since-signup, normalized per cohort member — the "
    "lifetime-value readout that pairs with ev_cohort_retention's "
    "activity matrix (retention says WHO comes back; this says what "
    "the cohort is WORTH as it ages — the payback-period input). "
    "Revenue quantizes to exact integer cents at the (cohort, week) "
    "rollup, the cumulative window runs over the post-agg cohort×age "
    "GRID (weeks² cells, never event rows — partitioned by cohort, so "
    "no global window), and cohort sizes broadcast from the "
    "|cohorts|-row rollup. One double division renders LTV per user.",
)
def ev_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    sized = first.groupBy("cohort_week").agg(F.count("*").alias("cohort_users"))
    w = Window.partitionBy("cohort_week").orderBy("weeks_since").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        rev.join(F.broadcast(sized), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "weeks_since",
            "cohort_users",
            F.sum("cents").over(w).alias("cum_cents"),
        )
        .select(
            "cohort_week",
            "weeks_since",
            "cohort_users",
            "cum_cents",
            (
                F.col("cum_cents").cast("double")
                / (F.lit(100.0) * F.col("cohort_users"))
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


@register(
    "text_langid_confusion",
    oracle=f"""
        WITH pred AS ({_langid_case_sql().replace("ORDER BY doc_id", "")})
        SELECT lang AS true_lang, lang_pred AS pred_lang,
               COUNT(*) AS n_docs,
               CAST(COUNT(*) AS DOUBLE)
                   / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang) AS DOUBLE)
                   AS row_share
        FROM pred
        GROUP BY true_lang, pred_lang
        ORDER BY true_lang, pred_lang
    """,
    doc="Language-ID EVALUATION: the confusion matrix of the stopword-"
    "argmax predictor (text_langid) against the corpus' ground-truth "
    "lang column — per (true, predicted) cell counts plus each cell's "
    "share of its true-language row (the recall readout; the diagonal "
    "is per-language recall). The classifier-eval pattern every "
    "heuristic filter in a curation pipeline should ship with: the "
    "heuristic is cheap to run at 100 TB, and this matrix is what "
    "says whether its errors are random or systematically eating one "
    "language. One narrow per-doc projection, one two-key rollup, and "
    "a partition-bounded window over the handful of matrix cells.",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    pred = X.lang_id(docs).select("lang", "lang_pred")
    w = Window.partitionBy("lang")
    return (
        pred.groupBy(
            F.col("lang").alias("true_lang"),
            F.col("lang_pred").alias("pred_lang"),
        )
        .agg(F.count("*").alias("n_docs"))
        .withColumn(
            "row_share",
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(Window.partitionBy("true_lang")).cast(
                "double"
            ),
        )
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "dedup_method_agreement",
    oracle=f"""
        WITH sh AS ({{SH}}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        tx AS (
            SELECT doc_a, doc_b FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE n_common * 2 >= sa.n_sh + sb.n_sh - n_common
        ),
        v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
              FROM embeddings),
        em AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.ve, b.ve)
                        / NULLIF(sqrt(list_dot_product(a.ve, a.ve))
                                 * sqrt(list_dot_product(b.ve, b.ve)), 0.0), 6)
                  >= 0.4
        ),
        j AS (
            SELECT CASE WHEN t.doc_a IS NOT NULL AND e.doc_a IS NOT NULL
                        THEN 'both'
                        WHEN t.doc_a IS NOT NULL THEN 'text_only'
                        ELSE 'embedding_only' END AS method
            FROM tx t FULL OUTER JOIN em e
              ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b
        )
        SELECT method, COUNT(*) AS n_pairs
        FROM j GROUP BY method ORDER BY method
    """.replace("{SH}", _SHINGLES_SQL),
    doc="Dedup-method AGREEMENT matrix — the cross-modal evaluation that "
    "decides which near-dup detector a pipeline should trust: pairs "
    "flagged by exact text Jaccard (>= 0.5, inverted-index join) vs "
    "pairs flagged by embedding cosine (>= 0.4, the blocked all-pairs "
    "kernel), classified both / text_only / embedding_only via a FULL "
    "OUTER join of the two pair sets (documents and embeddings share "
    "the id space 1:1). text_only = paraphrase-blind embeddings or "
    "threshold gap; embedding_only = semantic near-dups exact n-grams "
    "miss — the SemDeDup-vs-MinHash trade made measurable. The Jaccard "
    "threshold compares scaled integers (2·|A∩B| >= |A∪B|); cosine "
    "rounds to 6 dp on both engines before its threshold; the shingle "
    "frame checkpoints once.",
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    # scan-budget: documents scanned 4 times without it
    sh = D._doc_shingles(docs, "text", 3).transform(pin)
    # integer threshold 2·|A∩B| >= |A∪B| (not jaccard_pairs' 6-dp-rounded
    # filter: round(j,6) >= 0.5 and j >= 0.5 disagree on the boundary)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb"))
    tx = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("n_common") * 2
            >= F.col("_na") + F.col("_nb") - F.col("n_common")
        )
        .select("doc_a", "doc_b", F.lit(1).alias("_t"))
    )
    em = S.near_dup_pairs(emb, min_sim=0.4).select(
        "doc_a", "doc_b", F.lit(1).alias("_e")
    )
    j = tx.join(em, ["doc_a", "doc_b"], "full_outer").select(
        F.when(
            F.col("_t").isNotNull() & F.col("_e").isNotNull(), "both"
        )
        .when(F.col("_t").isNotNull(), "text_only")
        .otherwise("embedding_only")
        .alias("method")
    )
    return (
        j.groupBy("method").agg(F.count("*").alias("n_pairs")).orderBy("method")
    )


@register(
    "dedup_quality_keeper",
    oracle=f"""
        WITH labels AS ({{CLUSTERS}}),
        tagged AS (
            SELECT l.cluster_id, d.doc_id, d.n_chars
            FROM documents d JOIN labels l ON d.doc_id = l.doc_id
        ),
        keepers AS (
            SELECT cluster_id, doc_id AS keeper_id, n_chars AS keeper_chars
            FROM tagged
            QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id
                                       ORDER BY n_chars DESC, doc_id) = 1
        )
        SELECT k.cluster_id, k.keeper_id, k.keeper_chars,
               COUNT(*) AS n_members,
               CAST(SUM(t.n_chars) AS BIGINT) AS member_chars
        FROM keepers k JOIN tagged t USING (cluster_id)
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= 2
        ORDER BY cluster_id
    """.replace(
        "{CLUSTERS}",
        REGISTRY["dedup_clusters"].oracle.replace("ORDER BY doc_id", ""),
    ),
    doc="QUALITY-AWARE canonical selection over the near-dup clusters: "
    "instead of keep-lowest-id (dedup_clusters' rule — cheap but "
    "quality-blind), each multi-member cluster keeps its LONGEST member "
    "(n_chars desc, id tie-break) — the policy real pipelines prefer "
    "because boilerplate-trimmed or truncated copies should lose to the "
    "fullest copy. Emits keeper id/length plus member count and total "
    "character mass per non-trivial cluster. Shape: the CC labels "
    "(iterative min-label with per-round localCheckpoint) join the "
    "documents once; keeper selection is one cluster-keyed window over "
    "cluster-sized partitions; the rollup is partial-aggregatable. The "
    "oracle re-derives the same clusters via its recursive-CTE "
    "transitive closure and picks keepers with the same window.",
)
def dedup_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    labels = D.near_dup_clusters(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    tagged = (
        docs.select("doc_id", "n_chars").join(labels, "doc_id")
        .select("cluster_id", "doc_id", "n_chars")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    keepers = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_id"),
            F.col("n_chars").alias("keeper_chars"),
        )
    )
    return (
        keepers.join(tagged, "cluster_id")
        .groupBy("cluster_id", "keeper_id", "keeper_chars")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("n_chars").alias("member_chars"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("cluster_id")
    )


@register(
    "mm_audio_rms_windows",
    oracle="""
        WITH s AS (
            SELECT d.doc_id, c.c AS channel, CAST(i.i // 16 AS INTEGER) AS win,
                   ((d.doc_id * 31 + i.i * 7 + c.c * 13) % 65536) - 32768 AS v
            FROM documents d, range(64) i(i), range(2) c(c)
        )
        SELECT doc_id AS media_id, channel, win,
               COUNT(*) AS n,
               CAST(SUM(v) AS BIGINT) AS sum_w,
               CAST(SUM(v * v) AS BIGINT) AS sumsq_w,
               sqrt(CAST(SUM(v * v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                   AS rms
        FROM s GROUP BY 1, 2, 3
        ORDER BY media_id, channel, win
    """,
    doc="Frame-level audio ENERGY grid — the windowed-RMS features a "
    "speech pipeline computes before voice-activity detection and "
    "segmentation: each synthesized stereo WAV clip decodes through the "
    "real RIFF parser (operators/multimodal.decode_wav) and emits one "
    "row per (channel, 16-sample window) with exact integer sample "
    "sums; RMS derives from the exact sums via one division + one "
    "correctly-rounded sqrt. The oracle recomputes every window from "
    "the closed-form synthesis arithmetic without touching the codec, "
    "so a green row proves the byte-level WAV parse AND the window "
    "segmentation. mapInPandas: binary stays inside the Arrow batch; "
    "only the small integer feature grid shuffles.",
)
def mm_audio_rms_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.synth_wav_table(docs, n_samples=64, sample_rate=8000, n_channels=2)
    w = M.decode_audio_windows(media, window_samples=16)
    return w.select(
        "media_id",
        "channel",
        "win",
        "n",
        "sum_w",
        "sumsq_w",
        F.sqrt(F.col("sumsq_w").cast("double") / F.col("n").cast("double")).alias(
            "rms"
        ),
    ).orderBy("media_id", "channel", "win")


@register(
    "ev_salted_enrich_rollup",
    oracle="""
        WITH dim AS (
            SELECT event_type, MIN(event_id) AS type_code
            FROM events GROUP BY event_type
        )
        SELECT d.type_code, e.event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS cents_sum
        FROM events e JOIN dim d USING (event_type)
        GROUP BY 1, 2 ORDER BY event_type
    """,
    doc="Skew-safe salted broadcast-replicate JOIN, driver-gated "
    "(operators/scale.salted_broadcast_join — until now only its "
    "equivalence pytest covered it): the events fact joins a tiny "
    "derived event-type dimension on the NATURALLY SKEWED type key "
    "(a handful of types own millions of rows each at 100 TB), with "
    "the dim replicated once per salt bucket so each hot key's rows "
    "scatter over 16 tasks instead of funneling through one. The "
    "oracle computes the same enrich+rollup with a plain join — a "
    "green row proves salting changes the schedule, never the answer. "
    "Deterministic salt from event_id (never rand(): retry-safe).",
)
def ev_salted_enrich_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import salted_broadcast_join

    ev = table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.min("event_id").alias("type_code"))
    joined = salted_broadcast_join(
        ev.select("event_type", "event_id", "value"),
        dim,
        key="event_type",
        salt_from="event_id",
        buckets=16,
    )
    return (
        joined.groupBy("type_code", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "ev_rfm_segments",
    oracle="""
        WITH p AS (
            SELECT user_id,
                   MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s,
                   COUNT(*) AS freq,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        mx AS (SELECT MAX(last_s) AS m FROM p),
        scored AS (
            SELECT user_id, cents,
                   NTILE(5) OVER (ORDER BY (m - last_s), user_id) AS r_score,
                   NTILE(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
                   NTILE(5) OVER (ORDER BY cents DESC, user_id) AS m_score
            FROM p CROSS JOIN mx
        )
        SELECT r_score, f_score, m_score,
               COUNT(*) AS n_users,
               CAST(SUM(cents) AS BIGINT) AS cents_sum
        FROM scored
        GROUP BY 1, 2, 3
        ORDER BY r_score, f_score, m_score
    """,
    doc="RFM customer segmentation — the classic marketing rollup: every "
    "purchasing user scored 1–5 on Recency (NTILE over the ascending "
    "seconds-since-last-purchase gap — the most recent land in quintile "
    "1), Frequency (purchase count, descending), and Monetary (exact cents, "
    "descending), then users counted and revenue summed per (R, F, M) "
    "cell. Determinism: every NTILE orders by (metric, user_id) — a "
    "TOTAL order, so quintile boundaries are identical on any engine "
    "and partitioning (bare NTILE over ties is nondeterministic — the "
    "classic segmentation-drift bug). The three windows run over the "
    "per-user ROLLUP (|users| rows, one shuffle), never events; the "
    "recency anchor is a 1-row max broadcast. At 100 TB the unpartitioned "
    "NTILE windows need the users frame to fit a sort — swap for "
    "percent_rank bucketing over a range-partitioned sort or the "
    "distributed global_rank operator at that scale.",
)
def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("long")).alias("last_s"),
            F.count("*").alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    mx = p.agg(F.max("last_s").alias("m"))
    scored = p.join(F.broadcast(mx)).select(
        "user_id",
        "cents",
        F.ntile(5)
        .over(Window.orderBy((F.col("m") - F.col("last_s")), F.col("user_id")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("freq"), F.col("user_id")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("cents"), F.col("user_id")))
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_users"), F.sum("cents").alias("cents_sum"))
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "ev_time_to_convert_hist",
    oracle="""
        WITH s AS (
            SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS t0
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        p AS (
            SELECT e.user_id,
                   MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t1
            FROM events e JOIN s ON e.user_id = s.user_id
            WHERE e.event_type = 'purchase'
              AND CAST(floor(epoch(e.ts)) AS BIGINT) > s.t0
            GROUP BY e.user_id
        ),
        d AS (
            SELECT LEAST((p.t1 - s.t0) // 3600, 168) AS hours_bucket
            FROM p JOIN s ON p.user_id = s.user_id
        )
        SELECT hours_bucket, COUNT(*) AS n_users
        FROM d GROUP BY hours_bucket ORDER BY hours_bucket
    """,
    doc="Time-to-convert distribution — the funnel's LATENCY companion "
    "(ev_funnel_strict_steps says how many convert; this says how "
    "long it takes): per user, seconds from first signup to the first "
    "strictly-later purchase, bucketed to hours and capped at the "
    "168-hour (7-day) tail bucket so the histogram key space is "
    "bounded regardless of corpus span. Two conditional-min rollups "
    "(the funnel-step shape) + one integer floor-divide bucketing + a "
    "bounded-grid count — every value an exact integer. At 100 TB "
    "both rollups key on user_id and the purchase scan arrives "
    "type-filtered off the pushed predicate.",
)
def ev_time_to_convert_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("long")).alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts").cast("long") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("long")).alias("t1"))
    )
    d = p.join(s, "user_id").select(
        F.least(
            F.expr("(t1 - t0) div 3600"), F.lit(168).cast("long")
        ).alias("hours_bucket")
    )
    return (
        d.groupBy("hours_bucket")
        .agg(F.count("*").alias("n_users"))
        .orderBy("hours_bucket")
    )


@register(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH sh AS ({{SH}}),
        bits AS (
            SELECT doc_id, COUNT(*) AS n,
                   {{BITSUMS}}
            FROM (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
                  FROM sh)
            GROUP BY doc_id
        ),
        sigs AS (
            SELECT doc_id, ({{VOTE}}) AS simhash FROM bits
        ),
        bands AS (
            SELECT doc_id, simhash, b.b AS band_idx,
                   (simhash >> (b.b * 15)) & 32767 AS band_val
            FROM sigs, range(4) b(b)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sa, b.simhash AS sb
            FROM bands a
            JOIN bands b ON a.band_idx = b.band_idx
                        AND a.band_val = b.band_val
                        AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        ORDER BY doc_a, doc_b
    """.replace("{SH}", _SHINGLES_SQL)
    .replace("{BITSUMS}", _SIMHASH_BIT_SUMS_SQL)
    .replace("{VOTE}", _SIMHASH_VOTE_SQL),
    doc="SimHash NEAR-PAIRS, driver-gated (dedup_simhash gates the "
    "signatures; this gates the pair search built on them): pairs "
    "within Hamming distance ≤ 3 of the 60-bit signature, found via "
    "4-band pigeonhole blocking — a pair under the threshold must "
    "agree exactly on ≥1 15-bit band, so candidates come from a "
    "band-keyed equi-join (never all-pairs) and exact Hamming via "
    "bit_count(xor) filters the survivors. The oracle rebuilds the "
    "same votes, bands, and XOR popcounts in SQL — every value an "
    "exact integer, hash-gate deterministic.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        D.simhash_near_pairs(docs, max_hamming=3)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_token_savings",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len({{TOKS}}) END AS n_tok,
                   md5({{NORM}}) AS fp
            FROM documents
        ),
        tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS t
                FROM toks),
        exact_keep AS (
            SELECT MIN(doc_id) AS doc_id FROM toks GROUP BY fp
        ),
        exact_row AS (
            SELECT 'exact' AS method, COUNT(*) AS n_docs_kept,
                   CAST(SUM(t2.n_tok) AS BIGINT) AS tokens_kept
            FROM exact_keep k JOIN toks t2 ON k.doc_id = t2.doc_id
        ),
        labels AS ({{CLUSTERS}}),
        near_row AS (
            SELECT 'near_dup' AS method, COUNT(*) AS n_docs_kept,
                   CAST(SUM(t2.n_tok) AS BIGINT) AS tokens_kept
            FROM labels l JOIN toks t2 ON l.doc_id = t2.doc_id
            WHERE l.doc_id = l.cluster_id
        ),
        rows_ AS (SELECT * FROM exact_row UNION ALL SELECT * FROM near_row)
        SELECT r.method, r.n_docs_kept, r.tokens_kept,
               CAST(tot.t - r.tokens_kept AS BIGINT) AS tokens_dropped,
               100.0 * CAST(tot.t - r.tokens_kept AS DOUBLE)
                     / CAST(tot.t AS DOUBLE) AS savings_pct
        FROM rows_ r CROSS JOIN tot
        ORDER BY method
    """.replace("{TOKS}", _TOKS_SQL)
    .replace("{NORM}", _NORM_SQL)
    .replace(
        "{CLUSTERS}",
        REGISTRY["dedup_clusters"].oracle.replace("ORDER BY doc_id", ""),
    ),
    doc="Dedup TOKEN-SAVINGS report — the budget number a dedup decision "
    "is made on: for each dedup level (exact normalized-md5 vs MinHash-"
    "LSH near-dup clustering), how many documents and training tokens "
    "the keep-set retains and what share of the token bill each level "
    "saves. The near-dup keep rule is the clustering's canonical "
    "(doc_id == cluster_id), the exact rule keep-lowest-id per "
    "fingerprint — both already individually gated; this composes them "
    "against one token base so the two savings numbers are directly "
    "comparable. One tokenize+fingerprint pass (checkpointed), the CC "
    "labels from the iterative min-label loop, two keep-set semi-join "
    "rollups, a 1-row total broadcast.",
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n_tok"),
        F.md5(X.normalized_text(F.col("text"))).alias("fp"),
    ).transform(pin)  # scan-budget: documents scanned 4 times without it
    tot = toks.agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("t")
    )
    exact_keep = toks.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    exact_row = (
        toks.join(exact_keep.select("doc_id"), "doc_id", "semi")
        .agg(F.count("*").alias("n_docs_kept"), F.sum("n_tok").alias("tokens_kept"))
        .select(F.lit("exact").alias("method"), "n_docs_kept", "tokens_kept")
    )
    labels = D.near_dup_clusters(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    near_keep = labels.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )
    near_row = (
        toks.join(near_keep, "doc_id", "semi")
        .agg(F.count("*").alias("n_docs_kept"), F.sum("n_tok").alias("tokens_kept"))
        .select(F.lit("near_dup").alias("method"), "n_docs_kept", "tokens_kept")
    )
    return (
        exact_row.unionAll(near_row)
        .join(F.broadcast(tot))
        .select(
            "method",
            "n_docs_kept",
            "tokens_kept",
            (F.col("t") - F.col("tokens_kept")).alias("tokens_dropped"),
            (
                F.lit(100.0)
                * (F.col("t") - F.col("tokens_kept")).cast("double")
                / F.col("t").cast("double")
            ).alias("savings_pct"),
        )
        .orderBy("method")
    )


# ------------------------- A/B experiment readout ---------------------------


@register(
    "ev_ab_test_conversion",
    oracle="""
        WITH m AS (
            SELECT user_id,
                   ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2
                       AS variant,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t_first_purchase
            FROM events GROUP BY user_id
        ),
        v AS (
            SELECT variant,
                   COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n,
                   COUNT(CASE WHEN t_view IS NOT NULL
                              AND t_first_purchase > t_view
                              AND t_first_purchase <=
                                  t_view + INTERVAL 60 MINUTE
                         THEN 1 END) AS x
            FROM m GROUP BY variant
        ),
        w AS (
            SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
                   MAX(CASE WHEN variant = 0 THEN x END) AS conv_a,
                   MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
                   MAX(CASE WHEN variant = 1 THEN x END) AS conv_b
            FROM v
        )
        SELECT n_a, conv_a, n_b, conv_b,
               CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0) AS p_a,
               CAST(conv_b AS DOUBLE) / NULLIF(n_b, 0) AS p_b,
               (CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0)
                    - CAST(conv_b AS DOUBLE) / NULLIF(n_b, 0))
                   / NULLIF(
                       sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                            * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                         / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 0.0) AS z_score
        FROM w
    """,
    doc="Two-proportion z-test A/B readout: users hash-split into two "
    "variants (ascii of the first md5 hex digit mod 2 — deterministic, "
    "engine-portable, and independent of id assignment order, unlike a "
    "raw id mod), exposure = has a view, conversion = first purchase "
    "within 60 minutes after the first view (the deadline keeps the "
    "metric non-degenerate on corpora where every long-lived user "
    "eventually buys); pooled-variance z on the two conversion rates, "
    "NULL (both engines, via NULLIF) when the pooled variance is 0. "
    "Shape: ONE conditional-aggregation pass per user (no self-joins), "
    "a 2-row variant rollup, a 1-row pivot — the z is a fixed sequence "
    "of IEEE ops over exact integer counts, identical on both engines. "
    "At 100 TB: one user-keyed shuffle, then constant-size frames.",
)
def ev_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_first_purchase"
        ),
    ).select(
        (
            F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) % 2
        ).alias("variant"),
        "t_view",
        "t_first_purchase",
    )
    converted = (
        F.col("t_view").isNotNull()
        & (F.col("t_first_purchase") > F.col("t_view"))
        & (F.col("t_first_purchase") <= F.col("t_view") + F.expr("INTERVAL 60 MINUTES"))
    )
    v = m.groupBy("variant").agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n"),
        F.count(F.when(converted, 1)).alias("x"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.nullif(F.col("n_a"), F.lit(0))
    p_b = F.col("conv_b").cast("double") / F.nullif(F.col("n_b"), F.lit(0))
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return w.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        ((p_a - p_b) / F.nullif(se, F.lit(0.0))).alias("z_score"),
    )


# ----------------- time-constrained funnel (per-step deadline) --------------

_FUNNEL_WINDOW_MIN = 30


@register(
    "ev_funnel_time_window",
    oracle=f"""
        WITH v AS MATERIALIZED (
            SELECT user_id, MIN(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS MATERIALIZED (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.t_view
              AND e.ts <= v.t_view + INTERVAL {_FUNNEL_WINDOW_MIN} MINUTE
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
              AND e.ts <= c.t_click + INTERVAL {_FUNNEL_WINDOW_MIN} MINUTE
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
               (SELECT COUNT(*) FROM c) AS n_clicked_in_window,
               (SELECT COUNT(*) FROM p) AS n_purchased_in_window,
               CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
                   / (SELECT COUNT(*) FROM v) AS click_rate,
               CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
                   / (SELECT COUNT(*) FROM v) AS full_rate
    """,
    doc=f"Funnel with PER-STEP DEADLINES: first view → first click within "
    f"{_FUNNEL_WINDOW_MIN} minutes → first purchase within "
    f"{_FUNNEL_WINDOW_MIN} minutes of that click (the unconstrained "
    "funnel, ev_funnel_conversion, answers 'ever converted'; campaign "
    "and UX analysis need 'converted promptly'). Each stage is one "
    "event_type-pruned scan joined to the (pinned, user-sized) previous "
    "stage frame and reduced by a user-keyed MIN — stage k's frame only "
    "shrinks, so the whole funnel is three pushed-filter scans + three "
    "user-keyed shuffles; no self-join of the full event stream, no "
    "per-user event arrays. Timestamp arithmetic is exact (timestamp + "
    "literal interval on both engines); rates are one division each.",
)
def ev_funnel_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import pin

    ev = table(spark, sf_dir, "events")
    iv = F.expr(f"INTERVAL {_FUNNEL_WINDOW_MIN} MINUTES")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .transform(pin)  # scan-budget: events scanned 6 times without it
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + iv))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_click") + iv)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = (
        v.agg(F.count("*").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").alias("n_clicked_in_window")))
        .crossJoin(p.agg(F.count("*").alias("n_purchased_in_window")))
    )
    return counts.select(
        "n_viewed",
        "n_clicked_in_window",
        "n_purchased_in_window",
        (
            F.col("n_clicked_in_window").cast("double") / F.col("n_viewed")
        ).alias("click_rate"),
        (
            F.col("n_purchased_in_window").cast("double") / F.col("n_viewed")
        ).alias("full_rate"),
    )


@register(
    "text_token_fertility_by_lang",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN trim(text) = '' THEN 0 ELSE
                    len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                    END) AS BIGINT) AS n_words,
               CAST(SUM(len(regexp_extract_all(text,
                    '{X.BPE_TOKEN_PATTERN}'))) AS BIGINT) AS n_bpe_tokens,
               CAST(SUM(len(regexp_extract_all(text,
                    '{X.BPE_TOKEN_PATTERN}'))) AS DOUBLE)
                   / NULLIF(SUM(CASE WHEN trim(text) = '' THEN 0 ELSE
                        len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                        END), 0) AS fertility
        FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Tokenizer fertility by language — BPE-ish tokens per whitespace "
    "word, THE standard multilingual-tokenizer health metric (high "
    "fertility = a language is over-fragmented, costing sequence length "
    "and compute; tokenizer-rebalancing decisions key on exactly this "
    "table). Exact integer token counts on both engines (the shared "
    "regexp token pattern), one NULLIF-guarded division per language. "
    "Shape: a single partial-aggregatable scan grouped by the "
    "low-cardinality lang key — trivially 100 TB-safe.",
)
def text_token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(X.token_count(F.col("text"))).alias("n_words"),
            F.sum(X.bpe_token_count(F.col("text"))).alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            (
                F.col("n_bpe_tokens").cast("double")
                / F.nullif(F.col("n_words"), F.lit(0))
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


@register(
    "ev_inter_event_gap_hist",
    oracle="""
        WITH t AS (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                   event_id
            FROM events
        ),
        g AS (
            SELECT tsec - LAG(tsec) OVER (PARTITION BY user_id
                                          ORDER BY tsec, event_id) AS gap
            FROM t
        ),
        b AS (
            SELECT CASE WHEN gap = 0 THEN 0
                        ELSE length(bin(gap)) END AS log2_bucket
            FROM g WHERE gap IS NOT NULL
        )
        SELECT log2_bucket, COUNT(*) AS n_gaps,
               CAST(COUNT(*) AS DOUBLE)
                   / (SELECT COUNT(*) FROM b) AS share
        FROM b GROUP BY log2_bucket ORDER BY log2_bucket
    """,
    doc="Inter-event gap histogram on a log2 grid — the OBSERVABILITY "
    "query behind sessionization parameters: the session gap threshold "
    "(ev_session_10m's 10 minutes) should sit in the valley between the "
    "within-session and between-session modes of exactly this "
    "distribution. Per user, consecutive-event gaps over the "
    "(epoch-second, event_id) total order (the tie-break that keeps "
    "simultaneous events deterministic), bucketed by integer bit-length "
    "(floor(log2)+1 — both engines via binary-string length, no "
    "floating log). ONE user-keyed window shuffle + a bounded (~40-row) "
    "histogram rollup; shares are one division each off exact counts.",
)
def ev_inter_event_gap_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    t = ev.select(
        "user_id", F.col("ts").cast("long").alias("tsec"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    g = t.select((F.col("tsec") - F.lag("tsec").over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    b = g.select(
        F.when(F.col("gap") == 0, F.lit(0))
        .otherwise(F.length(F.conv(F.col("gap"), 10, 2)))
        .cast("long")
        .alias("log2_bucket")
    )
    total = b.agg(F.count("*").alias("n_total"))
    return (
        b.groupBy("log2_bucket")
        .agg(F.count("*").alias("n_gaps"))
        .crossJoin(F.broadcast(total))
        .select(
            "log2_bucket",
            "n_gaps",
            (F.col("n_gaps").cast("double") / F.col("n_total")).alias("share"),
        )
        .orderBy("log2_bucket")
    )


@register(
    "ev_stickiness_dau_mau",
    oracle="""
        WITH d AS (
            SELECT CAST(ts AS DATE) AS day,
                   strftime(date_trunc('month', ts), '%Y-%m') AS month,
                   COUNT(DISTINCT user_id) AS dau
            FROM events GROUP BY day, month
        ),
        m AS (
            SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
                   COUNT(DISTINCT user_id) AS mau
            FROM events GROUP BY month
        )
        SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, m.mau,
               CAST(d.dau AS DOUBLE) / m.mau AS stickiness
        FROM d JOIN m ON d.month = m.month
        ORDER BY day
    """,
    doc="DAU/MAU stickiness — the CALENDAR-month companion of "
    "ev_dau_wau_stickiness (that one divides by a rolling 7-day WAU; "
    "this one by the calendar month's MAU, the form most growth "
    "dashboards quote): per-day distinct users over the month's distinct users, "
    "joined on the month key. Two partial-aggregated distinct rollups "
    "(day grain and month grain — each one keyed shuffle over the "
    "event stream) and a broadcast join of the month-sized frame; the "
    "ratio is one division per day row off exact BIGINT counts. At "
    "100 TB the distincts are the only real cost and both are "
    "map-side partially aggregated on (grain, user).",
)
def ev_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM").alias("month"),
    ).agg(F.count_distinct("user_id").alias("dau"))
    m = ev.groupBy(
        F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM").alias("month")
    ).agg(F.count_distinct("user_id").alias("mau"))
    return (
        d.join(F.broadcast(m), "month")
        .select(
            "day",
            "dau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "wh_scd2_asof_resolve",
    oracle="""
        WITH hist AS (
            SELECT c_custkey, c_mktsegment AS segment,
                   DATE '1990-01-01' AS valid_from
            FROM customer
            UNION ALL
            SELECT c_custkey, 'UPGRADED', DATE '1998-01-01'
            FROM customer WHERE c_custkey % 5 = 0
        ),
        v AS (
            SELECT c_custkey, segment, valid_from,
                   lead(valid_from) OVER (PARTITION BY c_custkey
                                          ORDER BY valid_from) AS valid_to
            FROM hist
        )
        SELECT v.segment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN v ON o.o_custkey = v.c_custkey
              AND CAST(o.o_orderdate AS DATE) >= v.valid_from
              AND (v.valid_to IS NULL
                   OR CAST(o.o_orderdate AS DATE) < v.valid_to)
        GROUP BY v.segment ORDER BY v.segment
    """,
    doc="AS-OF fact resolution against SCD2 history — the query Type-2 "
    "dimensions exist FOR: each order joins the customer-segment VERSION "
    "that was valid on its order date (half-open [valid_from, valid_to) "
    "intervals, epochs 1990/1998 chosen inside the 1995-2001 order "
    "span so BOTH eras carry facts: pre-1998 orders of re-segmented "
    "customers roll up under their HISTORICAL segment, later ones "
    "under UPGRADED — point-in-time-correct attribution (the SCD2 "
    "derivation itself is scd2_customer_segments). Plan shape: an "
    "EQUI-join on the dimension key with the interval test as a join "
    "residual (never a range/theta join — versions per key are few), "
    "then one segment rollup. Exact cents.",
)
def wh_scd2_asof_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warehouse import scd2_merge

    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    base = customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("date").alias("valid_from"),
    )
    updates = customer.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit("UPGRADED").alias("segment"),
        F.lit("1998-01-01").cast("date").alias("valid_from"),
    )
    hist = scd2_merge(base, updates, "c_custkey", ["segment"]).select(
        "c_custkey", "segment", "valid_from", "valid_to"
    )
    od = F.col("o_orderdate").cast("date")
    j = orders.join(
        F.broadcast(hist),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (od >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (od < F.col("valid_to"))),
    )
    return (
        j.groupBy("segment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
        .orderBy("segment")
    )


@register(
    "trend_backtest_ma3_mae",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY month
        ),
        w AS (
            SELECT cents,
                   SUM(cents) OVER (ORDER BY month
                                    ROWS BETWEEN 3 PRECEDING
                                    AND 1 PRECEDING) AS sum3,
                   COUNT(*) OVER (ORDER BY month
                                  ROWS BETWEEN 3 PRECEDING
                                  AND 1 PRECEDING) AS n3,
                   LAG(cents) OVER (ORDER BY month) AS prev
            FROM monthly
        ),
        scored AS (SELECT * FROM w WHERE n3 = 3)
        SELECT COUNT(*) AS n_scored,
               CAST(SUM(ABS(3 * cents - sum3)) AS BIGINT) AS sum_abs_err3,
               CAST(SUM(ABS(cents - prev)) AS BIGINT) AS sum_abs_err_naive,
               CAST(SUM(ABS(3 * cents - sum3)) AS DOUBLE)
                   / (3.0 * COUNT(*)) / 100.0 AS mae_dollars,
               CAST(SUM(ABS(3 * cents - sum3)) AS DOUBLE)
                   / (3.0 * SUM(ABS(cents - prev))) AS mase
        FROM scored
    """,
    doc="Walk-forward backtest of the MA3 forecaster — the evaluation "
    "half the trend_ma3/ema12 predictors need before anyone acts on "
    "them: predict each month's revenue from the mean of the PRECEDING "
    "three (strictly out-of-sample — the frame ends at 1 PRECEDING, the "
    "same leakage discipline as ev_pit_features), score MAE, and report "
    "MASE (model MAE over the naive previous-month forecaster's — the "
    "scale-free skill number; < 1 beats naive). Exactness: the ×3 trick "
    "keeps every |error| an exact integer (|3·actual − Σ3| in cents) "
    "and both divisions happen once at the end. One month-grain window "
    "pass over the post-agg frame; calendar-bounded everywhere.",
)
def trend_backtest_ma3_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # time-series contract (r12 variant sweep): unknown-date rows excluded
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    monthly = orders.groupBy(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    wf = Window.orderBy("month").rowsBetween(-3, -1)
    wl = Window.orderBy("month")
    w = monthly.select(
        "cents",
        F.sum("cents").over(wf).alias("sum3"),
        F.count("*").over(wf).alias("n3"),
        F.lag("cents").over(wl).alias("prev"),
    ).filter(F.col("n3") == 3)
    err3 = F.abs(F.lit(3) * F.col("cents") - F.col("sum3"))
    err1 = F.abs(F.col("cents") - F.col("prev"))
    return w.agg(
        F.count("*").alias("n_scored"),
        F.sum(err3).alias("sum_abs_err3"),
        F.sum(err1).alias("sum_abs_err_naive"),
        (
            F.sum(err3).cast("double") / (F.lit(3.0) * F.count("*")) / F.lit(100.0)
        ).alias("mae_dollars"),
        (
            F.sum(err3).cast("double") / (F.lit(3.0) * F.sum(err1))
        ).alias("mase"),
    )


@register(
    "ev_ab_srm_check",
    oracle="""
        WITH u AS (
            SELECT DISTINCT user_id,
                   ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2
                       AS variant
            FROM events
        ),
        c AS (
            SELECT COUNT(CASE WHEN variant = 0 THEN 1 END) AS n_a,
                   COUNT(CASE WHEN variant = 1 THEN 1 END) AS n_b
            FROM u
        )
        SELECT n_a, n_b, n_a + n_b AS n_users,
               CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
                   AS chi2,
               CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
                   > 3.841 AS srm_flag
        FROM c
    """,
    doc="Sample-ratio-mismatch check for the A/B hash split — the "
    "guardrail run BEFORE reading ev_ab_test_conversion (an experiment "
    "whose 50/50 assignment is skewed is broken upstream and its "
    "z-score is meaningless): chi-square of the observed variant counts "
    "against the expected even split, which for two cells collapses to "
    "(n_a − n_b)²/n — exact integers, ONE division — flagged at the "
    "3.841 critical value (α = 0.05, 1 dof, a constant). One distinct-"
    "user rollup, then constant-size arithmetic.",
)
def ev_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().select(
        (
            F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) % 2
        ).alias("variant")
    )
    c = u.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
    )
    diff2 = (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    chi2 = diff2.cast("double") / (F.col("n_a") + F.col("n_b"))
    return c.select(
        "n_a",
        "n_b",
        (F.col("n_a") + F.col("n_b")).alias("n_users"),
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841)).alias("srm_flag"),
    )


@register(
    "ev_heatmap_hour_dow",
    oracle="""
        SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
               CAST(hour(ts) AS BIGINT) AS hour,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY iso_dow, hour
        ORDER BY iso_dow, hour
    """,
    doc="Hour-of-day × ISO-day-of-week activity heat map — the load/"
    "engagement grid behind capacity planning and send-time decisions. "
    "Cross-engine calendar care: Spark's dayofweek() is Sunday-1 while "
    "DuckDB's isodow() is Monday-1, so the Spark side uses weekday()+1 "
    "(Monday-0 + 1 == ISO) — the same pinned-convention discipline as "
    "the Monday-truncated weeks elsewhere. One grouped count over a "
    "7×24-bounded grid, partial-aggregated map-side; counts exact.",
)
def ev_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.weekday("ts") + 1).cast("long").alias("iso_dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("iso_dow", "hour")
    )


@register(
    "stat_poisson_dispersion_daily_orders",
    oracle="""
        WITH d AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM orders GROUP BY day
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(k) AS BIGINT) AS sk,
                   CAST(SUM(k * k) AS BIGINT) AS skk
            FROM d
        )
        SELECT n AS n_days, sk AS n_orders,
               CAST(sk AS DOUBLE) / n AS mean_per_day,
               CAST(n * skk - sk * sk AS DOUBLE)
                   / CAST(n AS DOUBLE) / (n - 1) AS var_per_day,
               (CAST(n * skk - sk * sk AS DOUBLE)
                   / CAST(n AS DOUBLE) / (n - 1))
                   / (CAST(sk AS DOUBLE) / n) AS dispersion_index
        FROM m
    """,
    doc="Poisson dispersion index (variance-to-mean ratio) of daily order "
    "arrivals — the arrival-process diagnostic: ≈1 means Poisson-like "
    "(independent arrivals; queueing/capacity math applies), >1 means "
    "bursty/overdispersed (expect heavier tails than a Poisson model "
    "predicts — reach for the negative binomial and re-read "
    "stat_cusum/ev_daily_volume_anomaly with wider bands). Day-grain "
    "counts, exact BIGINT raw moments (n·Σk²−(Σk)² stays integer), one "
    "fixed IEEE sequence at the end. One calendar-bounded rollup.",
)
def stat_poisson_dispersion_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("k")
    )
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
    )
    mean = F.col("sk").cast("double") / F.col("n")
    var = (
        (F.col("n") * F.col("skk") - F.col("sk") * F.col("sk")).cast("double")
        / F.col("n").cast("double")
        / (F.col("n") - 1)
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.col("sk").alias("n_orders"),
        mean.alias("mean_per_day"),
        var.alias("var_per_day"),
        (var / mean).alias("dispersion_index"),
    )


@register(
    "docs_packing_fill_stats",
    oracle=f"""
        WITH packed AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                        - n_tokens AS BIGINT) AS tok_offset
            FROM (SELECT doc_id, lang, {{NTOK}} AS n_tokens FROM documents)
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST((SUM(n_tokens) + 2047) // 2048 AS BIGINT) AS n_packs,
               COUNT(CASE WHEN n_tokens > 0
                          AND tok_offset // 2048 <>
                              (tok_offset + n_tokens - 1) // 2048
                     THEN 1 END) AS n_straddling,
               CAST(SUM(n_tokens) AS DOUBLE)
                   / (2048.0 * ((SUM(n_tokens) + 2047) // 2048))
                   AS utilization
        FROM packed GROUP BY lang ORDER BY lang
    """.replace("{NTOK}", _NTOK_SQL),
    doc="Packing-efficiency readout over docs_sequence_packing's concat-"
    "then-chunk layout, per language stratum: total context windows "
    "(ceil of token mass / 2048), how many documents STRADDLE a window "
    "boundary (the rows that need cross-chunk attention masking or "
    "re-packing), and the tail-padding utilization — the numbers that "
    "decide whether a smarter bin-packing is worth its shuffle. Exact "
    "integers throughout (ceil as (t + 2047) div 2048, straddle test "
    "compares integer window indices); one division per lang row. Same "
    "per-stratum window sum as the packing itself.",
)
def docs_packing_fill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import sequence_packing

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", X.token_count(F.col("text")).alias("n_tokens")
    )
    packed = sequence_packing(docs, "n_tokens", budget=2048, part_cols=("lang",))
    straddle = (
        (F.col("n_tokens") > 0)
        & (
            F.expr("tok_offset div 2048")
            != F.expr("(tok_offset + n_tokens - 1) div 2048")
        )
    )
    n_packs = F.expr("(sum(n_tokens) + 2047) div 2048")
    return (
        packed.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            n_packs.alias("n_packs"),
            F.count(F.when(straddle, 1)).alias("n_straddling"),
            (
                F.sum("n_tokens").cast("double")
                / (F.lit(2048.0) * F.expr("(sum(n_tokens) + 2047) div 2048"))
            ).alias("utilization"),
        )
        .orderBy("lang")
    )


@register(
    "mm_audio_silence_windows",
    oracle="""
        WITH s AS (
            SELECT d.doc_id, c.c AS channel, CAST(i.i // 16 AS INTEGER) AS win,
                   ((d.doc_id * 31 + i.i * 7 + c.c * 13) % 65536) - 32768 AS v
            FROM documents d, range(64) i(i), range(2) c(c)
        ),
        w AS (
            SELECT doc_id AS media_id, channel, win,
                   CAST(SUM(v * v) AS BIGINT) AS sumsq_w,
                   COUNT(*) AS n
            FROM s GROUP BY 1, 2, 3
        )
        SELECT media_id, channel,
               COUNT(*) AS n_windows,
               COUNT(CASE WHEN sumsq_w * 3 < n * 32768 * 32768
                     THEN 1 END) AS n_silent,
               CAST(COUNT(CASE WHEN sumsq_w * 3 < n * 32768 * 32768
                          THEN 1 END) AS DOUBLE) / COUNT(*)
                   AS silence_ratio
        FROM w GROUP BY media_id, channel
        ORDER BY media_id, channel
    """,
    doc="Per-channel silence detection over the windowed-RMS energy grid "
    "— the VAD-style pre-filter an audio pipeline runs before "
    "transcription (silent windows are dropped or merged; a clip that "
    "is mostly silence is a curation reject). A window is 'silent' when "
    "its mean power is under a third of full-scale² — the comparison is "
    "EXACT integers (sumsq·3 < n·32768², no division, no float "
    "threshold), chosen at the uniform-synthesis expected power so both "
    "classes materialize on the test corpus. Same real WAV decode + "
    "window segmentation as mm_audio_rms_windows; adds one media-keyed "
    "rollup. One division per output row.",
)
def mm_audio_silence_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.synth_wav_table(docs, n_samples=64, sample_rate=8000, n_channels=2)
    w = M.decode_audio_windows(media, window_samples=16)
    silent = F.col("sumsq_w") * 3 < F.col("n") * F.lit(32768) * F.lit(32768)
    return (
        w.groupBy("media_id", "channel")
        .agg(
            F.count("*").alias("n_windows"),
            F.count(F.when(silent, 1)).alias("n_silent"),
            (
                F.count(F.when(silent, 1)).cast("double") / F.count("*")
            ).alias("silence_ratio"),
        )
        .orderBy("media_id", "channel")
    )


@register(
    "mm_image_brightness_hist",
    oracle="""
        WITH px AS (
            SELECT d.doc_id,
                   ((d.doc_id % 256) * 7 + (3 * (8 * y.y + x.x) + ch.ch)) % 256
                       AS v
            FROM documents d, range(8) x(x), range(4) y(y), range(3) ch(ch)
        ),
        lum AS (
            SELECT doc_id, CAST(SUM(v) AS BIGINT) AS sum_rgb, COUNT(*) AS n
            FROM px GROUP BY doc_id
        )
        SELECT CAST((sum_rgb * 16) // (n * 256) AS BIGINT) AS brightness_bucket,
               COUNT(*) AS n_images
        FROM lum GROUP BY brightness_bucket ORDER BY brightness_bucket
    """,
    doc="Image brightness histogram (16 buckets of mean RGB luminance) — "
    "the too-dark/too-blown curation filter an image-corpus pipeline "
    "runs right after decode: each synthesized 8×4 PPM decodes through "
    "the real codec (mm_decode_channel_stats' machinery), per-image "
    "channel sums collapse to an exact mean-luma bucket ((Σrgb·16) div "
    "(n·256) — all-integer, no float rounding ambiguity at bucket "
    "edges), and the corpus histogram is a 16-row rollup. The oracle "
    "recomputes pixels from the synthesis arithmetic without the codec, "
    "so a green row re-proves decode + the bucketing algebra. At scale: "
    "mapInPandas keeps bytes in Arrow batches; only (id, sums) shuffle.",
)
def mm_image_brightness_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.synth_ppm_table(docs, width=8, height=4)
    stats = M.decode_image_stats(media)
    n_px = (F.col("width") * F.col("height")).cast("long")
    bucket = F.expr(
        "((sum_r + sum_g + sum_b) * 16) div (3 * width * height * 256)"
    ).cast("long")
    return (
        stats.select(bucket.alias("brightness_bucket"))
        .groupBy("brightness_bucket")
        .agg(F.count("*").alias("n_images"))
        .orderBy("brightness_bucket")
    )


@register(
    "ev_bot_rate_heuristic",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   COUNT(*) AS n_events,
                   CAST(floor(epoch(MAX(ts))) AS BIGINT)
                       - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS span_s
            FROM events GROUP BY user_id
        ),
        f AS (
            SELECT *,
                   (n_events >= 50 AND n_events * 10 > span_s) AS flagged
            FROM u
        )
        SELECT COUNT(*) AS n_users,
               COUNT(CASE WHEN flagged THEN 1 END) AS n_flagged,
               CAST(SUM(CASE WHEN flagged THEN n_events ELSE 0 END)
                    AS BIGINT) AS flagged_events,
               CAST(SUM(CASE WHEN flagged THEN n_events ELSE 0 END) AS DOUBLE)
                   / SUM(n_events) AS flagged_event_share
        FROM f
    """,
    doc="Bot-rate heuristic — the traffic-hygiene filter run before any "
    "engagement metric is trusted: flag users sustaining more than one "
    "event per 10 seconds across their whole active span (n·10 > "
    "span_s, an EXACT integer cross-multiplication — no float rate) "
    "with a minimum-volume guard (≥50 events) so short bursts don't "
    "trip it, then report how much event mass the flagged accounts "
    "own. One user-keyed rollup + a 1-row reduce; the share is one "
    "division.",
)
def ev_bot_rate_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "span_s"
        ),
    )
    flagged = (F.col("n_events") >= 50) & (
        F.col("n_events") * 10 > F.col("span_s")
    )
    return u.agg(
        F.count("*").alias("n_users"),
        F.count(F.when(flagged, 1)).alias("n_flagged"),
        F.sum(F.when(flagged, F.col("n_events")).otherwise(0)).alias(
            "flagged_events"
        ),
        (
            F.sum(F.when(flagged, F.col("n_events")).otherwise(0)).cast("double")
            / F.sum("n_events")
        ).alias("flagged_event_share"),
    )


@register(
    "text_readability_by_lang",
    oracle=f"""
        WITH f AS (
            SELECT lang,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE CAST(len({_TOKS_SQL}) AS BIGINT) END AS w,
                   GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                                 AS BIGINT), 1) AS s,
                   CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                        AS BIGINT) AS y
            FROM documents
        ),
        g AS (
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(w) AS BIGINT) AS words,
                   CAST(SUM(s) AS BIGINT) AS sentences,
                   CAST(SUM(y) AS BIGINT) AS syllables
            FROM f GROUP BY lang
        )
        SELECT lang, n_docs, words, sentences, syllables,
               206.835
               - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
               - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
                   AS flesch_ease
        FROM g ORDER BY lang
    """,
    doc="Flesch reading-ease per language — the classic readability "
    "quality signal (alongside the Gopher rules) for corpus curation: "
    "words, sentence runs ([.!?]+ clusters, floored at 1 per doc so "
    "fragments don't zero the denominator) and vowel-group syllable "
    "approximations are all EXACT BIGINT counts from JVM-side regexes "
    "(no UDF); the corpus-level formula 206.835 − 1.015·(W/S) − "
    "84.6·(Y/W) runs once per language as a fixed IEEE sequence, so "
    "both engines emit identical bits. One narrow scan + one tiny "
    "lang-keyed rollup; per-doc work is Tungsten-codegen regex.",
)
def text_readability_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = X.token_count(F.col("text")).cast("long")
    s = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))).cast(
            "long"
        ),
        F.lit(1).cast("long"),
    )
    y = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), F.lit(0))
    ).cast("long")
    g = (
        docs.select("lang", w.alias("w"), s.alias("s"), y.alias("y"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("w").alias("words"),
            F.sum("s").alias("sentences"),
            F.sum("y").alias("syllables"),
        )
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("words").cast("double") / F.col("sentences").cast("double"))
        - F.lit(84.6)
        * (F.col("syllables").cast("double") / F.col("words").cast("double"))
    )
    return g.select(
        "lang", "n_docs", "words", "sentences", "syllables",
        flesch.alias("flesch_ease"),
    ).orderBy("lang")


@register(
    "ev_bounce_rate_daily",
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
            SELECT user_id, sess, MIN(ts) AS session_start,
                   COUNT(*) AS n_events
            FROM sessions GROUP BY user_id, sess
        )
        SELECT strftime(CAST(session_start AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) AS n_sessions,
               COUNT(CASE WHEN n_events = 1 THEN 1 END) AS n_bounces,
               CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
                   / COUNT(*) AS bounce_rate
        FROM per_session GROUP BY day ORDER BY day
    """,
    doc="Daily bounce rate — the share of 10-minute-gap sessions that "
    "contain exactly ONE event, bucketed by the session's start day: "
    "the engagement-hygiene metric read next to DAU/stickiness. Spark "
    "side uses the native session_window (same keyed shuffle as "
    "ev_session_10m — gap rule diff >= 10m matches the oracle's "
    "gaps-and-islands rewrite exactly); the daily rollup is a second "
    "small shuffle on the ~2.4k-day calendar. One division per day "
    "row, counts exact.",
)
def ev_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_session = (
        ev.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd").alias("day"),
            "n_events",
        )
    )
    return (
        per_session.groupBy("day")
        .agg(
            F.count("*").alias("n_sessions"),
            F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            (
                F.col("n_bounces").cast("double")
                / F.nullif(F.col("n_sessions").cast("double"), F.lit(0.0))
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


@register(
    "dq_freshness_lag",
    oracle="""
        WITH mx AS (
            SELECT 'orders' AS table_name,
                   MAX(CAST(o_orderdate AS DATE)) AS max_day FROM orders
            UNION ALL
            SELECT 'lineitem', MAX(CAST(l_shipdate AS DATE)) FROM lineitem
            UNION ALL
            SELECT 'events', MAX(CAST(ts AS DATE)) FROM events
        )
        SELECT table_name,
               strftime(max_day, '%Y-%m-%d') AS max_day,
               CAST(MAX(max_day) OVER () - max_day AS BIGINT) AS lag_days
        FROM mx ORDER BY table_name
    """,
    doc="Cross-table freshness lag — the data-ops staleness check run "
    "before trusting any cross-source join: each fact table's newest "
    "business date vs the freshest table in the lake, in EXACT integer "
    "days. Three 1-row column-pruned aggregates (min/max push into the "
    "parquet footer at scan time) unioned into a 3-row frame; the lag "
    "is a window max over that constant-size frame — no shuffle "
    "beyond the three scans' own reduces.",
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ev = table(spark, sf_dir, "events")
    mx = (
        orders.agg(
            F.lit("orders").alias("table_name"),
            F.max(F.to_date("o_orderdate")).alias("max_day"),
        )
        .unionAll(
            li.agg(
                F.lit("lineitem").alias("table_name"),
                F.max(F.to_date("l_shipdate")).alias("max_day"),
            )
        )
        .unionAll(
            ev.agg(
                F.lit("events").alias("table_name"),
                F.max(F.to_date("ts")).alias("max_day"),
            )
        )
    )
    w = Window.partitionBy()
    return mx.select(
        "table_name",
        F.date_format("max_day", "yyyy-MM-dd").alias("max_day"),
        F.datediff(F.max("max_day").over(w), F.col("max_day"))
        .cast("long")
        .alias("lag_days"),
    ).orderBy("table_name")


@register(
    "wh_retention_policy_digest",
    oracle="""
        WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS anchor
                    FROM orders),
        marked AS (
            SELECT o_orderkey, o_totalprice,
                   CAST(o_orderdate AS DATE)
                       >= (mx.anchor - INTERVAL '730 days') AS keep
            FROM orders, mx
        )
        SELECT (SELECT strftime(anchor - INTERVAL '730 days', '%Y-%m-%d')
                FROM mx) AS cutoff_day,
               COUNT(CASE WHEN keep THEN 1 END) AS n_kept,
               COUNT(CASE WHEN NOT keep THEN 1 END) AS n_dropped,
               CAST(SUM(CASE WHEN keep THEN o_orderkey ELSE 0 END)
                    AS BIGINT) AS kept_key_sum,
               CAST(SUM(CASE WHEN keep
                             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS kept_revenue_cents
        FROM marked
    """,
    doc="Retention-policy digest — the dry-run readout of a "
    "'keep the trailing 2 years' data-retention sweep: cutoff anchored "
    "to the table's own max business date (reproducible on any "
    "snapshot, no wall clock), kept/dropped row counts, and an "
    "id-sum + revenue-cents membership digest of the surviving set so "
    "the post-delete table can be verified against this exact "
    "signature. Spark shape: a 1-row max-date scalar broadcast onto "
    "one scan (no second pass), all-integer digests. At 100 TB the "
    "same predicate IS the partition-drop list when the table is "
    "date-partitioned — the digest verifies the drop either way.",
)
def wh_retention_policy_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    mx = orders.agg(
        F.date_sub(F.max(F.to_date("o_orderdate")), 730).alias("cutoff")
    )
    marked = orders.join(F.broadcast(mx)).select(
        "o_orderkey",
        "o_totalprice",
        "cutoff",
        (F.to_date("o_orderdate") >= F.col("cutoff")).alias("keep"),
    )
    return marked.agg(
        F.date_format(F.first("cutoff"), "yyyy-MM-dd").alias("cutoff_day"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        F.count(F.when(~F.col("keep"), 1)).alias("n_dropped"),
        F.sum(F.when(F.col("keep"), F.col("o_orderkey")).otherwise(0)).alias(
            "kept_key_sum"
        ),
        F.sum(
            F.when(
                F.col("keep"),
                F.round(F.col("o_totalprice") * 100).cast("long"),
            ).otherwise(0)
        ).alias("kept_revenue_cents"),
    )


@register(
    "mm_image_contrast_stats",
    oracle="""
        WITH px AS (
            SELECT d.doc_id, y.y, x.x,
                   ((d.doc_id % 256) * 7 + (3 * (8 * y.y + x.x) + ch.ch)) % 256
                       AS v
            FROM documents d, range(8) x(x), range(4) y(y), range(3) ch(ch)
        ),
        s AS (
            SELECT doc_id, y, x, CAST(SUM(v) AS BIGINT) AS sv
            FROM px GROUP BY doc_id, y, x
        ),
        m AS (
            SELECT doc_id, COUNT(*) AS n_px,
                   CAST(SUM(sv) AS BIGINT) AS sum_s,
                   CAST(SUM(sv * sv) AS BIGINT) AS sumsq_s
            FROM s GROUP BY doc_id
        ),
        c AS (
            SELECT doc_id,
                   CAST(ROUND(sqrt(CAST(n_px * sumsq_s - sum_s * sum_s
                                        AS DOUBLE))
                              / CAST(n_px AS DOUBLE) * 1000000)
                        AS BIGINT) AS std_micro
            FROM m
        )
        SELECT COUNT(*) AS n_images,
               CAST(SUM(std_micro) AS BIGINT) AS sum_std_micro,
               CAST(MIN(std_micro) AS BIGINT) AS min_std_micro,
               CAST(MAX(std_micro) AS BIGINT) AS max_std_micro,
               CAST(SUM(std_micro) AS DOUBLE) / (COUNT(*) * 1000000.0)
                   AS mean_std
        FROM c
    """,
    doc="Image contrast statistics — the flat/washed-out curation filter "
    "that complements mm_image_brightness_hist (a mid-brightness image "
    "can still be uniform gray): per-image population std of the pixel "
    "luma-sum s=r+g+b, from EXACT integer moments (n, Σs, Σs²) emitted "
    "by the real decoder through Arrow-batched mapInPandas "
    "(operators/multimodal.decode_image_moments). Each per-image std "
    "runs ONE fixed IEEE sequence rounded to integer micro-units, so "
    "the corpus rollup is an order-independent integer sum. The oracle "
    "recomputes pixels from the synthesis arithmetic without the "
    "codec, re-proving decode + the moment algebra end to end.",
)
def mm_image_contrast_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    media = M.synth_ppm_table(docs, width=8, height=4)
    m = M.decode_image_moments(media)
    std_micro = F.round(
        F.sqrt(
            (F.col("n_px") * F.col("sumsq_s") - F.col("sum_s") * F.col("sum_s"))
            .cast("double")
        )
        / F.col("n_px").cast("double")
        * 1000000
    ).cast("long")
    c = m.select(std_micro.alias("std_micro"))
    return c.agg(
        F.count("*").alias("n_images"),
        F.sum("std_micro").alias("sum_std_micro"),
        F.min("std_micro").alias("min_std_micro"),
        F.max("std_micro").alias("max_std_micro"),
        (
            F.sum("std_micro").cast("double") / (F.count("*") * F.lit(1000000.0))
        ).alias("mean_std"),
    )


@register(
    "docs_ttr_by_source",
    oracle=f"""
        WITH toks AS (
            SELECT source, t.tok
            FROM documents, UNNEST({_TOKS_SQL}) AS t(tok)
            WHERE trim(text) <> '' AND t.tok <> ''
        ),
        tt AS (
            SELECT source, tok, COUNT(*) AS cnt
            FROM toks GROUP BY source, tok
        )
        SELECT source,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_types,
               COUNT(CASE WHEN cnt = 1 THEN 1 END) AS n_hapax,
               CAST(COUNT(*) AS DOUBLE) / SUM(cnt) AS ttr,
               CAST(COUNT(CASE WHEN cnt = 1 THEN 1 END) AS DOUBLE)
                   / COUNT(*) AS hapax_share
        FROM tt GROUP BY source ORDER BY source
    """,
    doc="Type-token ratio and hapax-legomena share per source — the "
    "lexical-diversity signals that separate template/boilerplate "
    "sources (low TTR: few types repeated) from natural prose, read "
    "next to the Zipf/Heaps fits when weighting a training mixture. "
    "One (source, token) shuffle with map-side combine, then a tiny "
    "source rollup — counts exact, two guarded terminal divisions. "
    "Empty docs and blank tokens are excluded identically on both "
    "engines.",
)
def docs_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.trim(F.col("text")) != "")
        .select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    tt = toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    return (
        tt.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.count(F.when(F.col("cnt") == 1, 1)).alias("n_hapax"),
            (
                F.count("*").cast("double")
                / F.nullif(F.sum("cnt").cast("double"), F.lit(0.0))
            ).alias("ttr"),
            (
                F.count(F.when(F.col("cnt") == 1, 1)).cast("double")
                / F.nullif(F.count("*").cast("double"), F.lit(0.0))
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


@register(
    "text_char_trigram_entropy_by_lang",
    oracle="""
        WITH tri AS (
            SELECT lang, substr(lower(text), CAST(i AS INTEGER), 3) AS g
            FROM documents,
                 UNNEST(range(1, length(lower(text)) - 1)) AS t(i)
            WHERE length(text) >= 3
        ),
        c AS (
            SELECT lang, g, COUNT(*) AS c FROM tri GROUP BY lang, g
        ),
        per AS (
            SELECT lang,
                   CAST(SUM(c) AS BIGINT) AS n,
                   COUNT(*) AS n_distinct,
                   CAST(SUM(c * CAST(ROUND(log2(CAST(c AS DOUBLE)) * 1000000)
                                     AS BIGINT)) AS BIGINT) AS sum_clogc
            FROM c GROUP BY lang
        )
        SELECT lang, n AS n_trigrams, n_distinct,
               CAST(n * CAST(ROUND(log2(CAST(n AS DOUBLE)) * 1000000)
                             AS BIGINT) - sum_clogc AS DOUBLE)
                   / CAST(n * 1000000 AS DOUBLE) AS entropy_bits
        FROM per ORDER BY lang
    """,
    doc="Character-trigram entropy per language — the orthographic "
    "complexity signal that separates natural text from boilerplate/"
    "machine-generated repetition at the CHARACTER level (where the "
    "token-level TTR and repetition metrics can't see), and the "
    "feature family the n-gram language-ID heuristic reads from. Same "
    "exact micro-bit discipline as ev_user_behavior_entropy: H = "
    "log2(n) − (1/n)Σc·q(log2 c) with every accumulator an exact "
    "BIGINT (order-independent, map-side combined); trigrams explode "
    "JVM-side (sequence + substring, no UDF). Two keyed shuffles.",
)
def text_char_trigram_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tri = (
        docs.filter(F.length("text") >= 3)
        .select(
            "lang",
            F.explode(
                F.sequence(F.lit(1), F.length(F.lower(F.col("text"))) - 2)
            ).alias("i"),
            F.lower(F.col("text")).alias("txt"),
        )
        .select("lang", F.expr("substring(txt, i, 3)").alias("g"))
    )
    c = tri.groupBy("lang", "g").agg(F.count("*").alias("c"))
    qlog = lambda col: F.round(F.log2(col.cast("double")) * F.lit(1000000)).cast(
        "long"
    )
    per = c.groupBy("lang").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * qlog(F.col("c"))).alias("sum_clogc"),
    )
    return per.select(
        "lang",
        F.col("n").alias("n_trigrams"),
        "n_distinct",
        (
            (F.col("n") * qlog(F.col("n")) - F.col("sum_clogc")).cast("double")
            / (F.col("n") * F.lit(1000000)).cast("double")
        ).alias("entropy_bits"),
    ).orderBy("lang")


@register(
    "wh_gdpr_erasure_digest",
    oracle="""
        WITH victims AS (
            SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
        ),
        o AS (
            SELECT o_orderkey,
                   (o_custkey % 97 = 0) AS erased
            FROM orders
        ),
        li AS (
            SELECT l.l_orderkey, o.erased
            FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
        )
        SELECT (SELECT COUNT(*) FROM victims) AS n_victims,
               (SELECT COUNT(CASE WHEN erased THEN 1 END) FROM o)
                   AS n_orders_erased,
               (SELECT CAST(SUM(CASE WHEN erased THEN o_orderkey ELSE 0 END)
                            AS BIGINT) FROM o) AS erased_order_key_sum,
               (SELECT COUNT(CASE WHEN erased THEN 1 END) FROM li)
                   AS n_lineitems_erased,
               (SELECT COUNT(CASE WHEN NOT erased THEN 1 END) FROM o)
                   AS n_orders_surviving,
               (SELECT COUNT(CASE WHEN NOT erased THEN 1 END) FROM li)
                   AS n_lineitems_surviving
    """,
    doc="GDPR right-to-be-forgotten dry-run digest — the cascade audit "
    "run before an erasure sweep ships: a deterministic victim cohort "
    "(custkey ≡ 0 mod 97, the engineered stand-in for a deletion-"
    "request list), the orders and lineitems that cascade from it, and "
    "an erased-key-sum signature so the post-delete tables can be "
    "verified against this exact expectation. Spark shape: the victim "
    "predicate is evaluated INLINE on the orders scan (no join against "
    "customer for a key-derivable cohort), the lineitem cascade is the "
    "one fact⋈fact equi-join carrying a boolean, and every digest is "
    "a conditional aggregate of the same pass — three scans total, "
    "no per-victim loops. At 100 TB the erased flag IS the delete "
    "predicate pushed to the MERGE/rewrite.",
)
def wh_gdpr_erasure_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    n_victims = customer.filter(F.col("c_custkey") % 97 == 0).agg(
        F.count("*").alias("n_victims")
    )
    o = orders.select(
        "o_orderkey", (F.col("o_custkey") % 97 == 0).alias("erased")
    )
    o_stats = o.agg(
        F.count(F.when(F.col("erased"), 1)).alias("n_orders_erased"),
        F.sum(F.when(F.col("erased"), F.col("o_orderkey")).otherwise(0)).alias(
            "erased_order_key_sum"
        ),
        F.count(F.when(~F.col("erased"), 1)).alias("n_orders_surviving"),
    )
    li_stats = (
        li.select("l_orderkey")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.count(F.when(F.col("erased"), 1)).alias("n_lineitems_erased"),
            F.count(F.when(~F.col("erased"), 1)).alias("n_lineitems_surviving"),
        )
    )
    return n_victims.crossJoin(o_stats).crossJoin(li_stats).select(
        "n_victims",
        "n_orders_erased",
        "erased_order_key_sum",
        "n_lineitems_erased",
        "n_orders_surviving",
        "n_lineitems_surviving",
    )
