"""Span-level dedup and corpus-frequency analytics (SURVEY §7.5;
BASELINE.json north star — LLM training-data pipeline surface).

Four operators a web-scale pretraining pipeline runs between crawl and
tokenizer:

- **Duplicate n-gram spans** (Lee et al. 2022, "Deduplicating Training
  Data Makes Language Models Better", public): exact repeated k-token
  spans across documents. The suffix-array formulation is single-node;
  the Spark-native shape is shingle → groupBy — one partial-aggregated
  shuffle keyed on the span, embarrassingly parallel at 100 TB.
- **N-gram containment** (Broder's containment coefficient): detects a
  short document embedded inside a longer one, which symmetric Jaccard
  misses. Inverted-index equi-join on the shingle — never all-pairs —
  with a document-frequency cap so stop-phrase shingles can't create a
  quadratic hot bucket.
- **Token rarity**: corpus-frequency statistics per source, the signal
  behind rare-token upsampling / quality mixes. All-integer rationals
  until one final IEEE division, so the oracle hashes bit-identically.
- **SemDeDup prune** (Abbas et al. 2023, public): within-cluster
  embedding near-dup pruning. Clusters ARE the join key, so the
  quadratic cosine work is bounded per-cluster and the pair stream is a
  keyed equi-join — the same blocked shape as operators.similarity.

Cross-engine determinism: span strings and counts are exact; thresholds
compare scaled integers (``n_common * 10 >= n_sh_a * 8``), never floats;
cosine rounds to 6 dp on both engines before the threshold test.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.kernels import KernelInputError, inorder_dot, unpack
from ..operators import text as X
from ..sources.catalog import table
from .extensions import _TOKS_SQL
from .registry import register
from ..operators.scale import fan_out, pin

#: span width for exact duplicate-span mining (tokens)
_SPAN_K = 8
#: shingle width for containment (tokens)
_CONT_K = 5
#: drop shingles seen in more than this many docs (stop-phrase guard —
#: bounds the inverted-index bucket size, the scale-critical knob)
_CONT_DF_CAP = 100
#: containment keep-threshold as an exact rational (8/10)
_CONT_NUM, _CONT_DEN = 8, 10
#: a token is "rare" at or below this corpus frequency
_RARE_C = 2
#: SemDeDup within-cluster cosine threshold (6-dp rounded on both engines)
_SEM_TAU = 0.4


def _span_sql(k: int) -> str:
    """DuckDB k-token shingle stream: (doc_id, span) one row per position."""
    return f"""
        SELECT doc_id, array_to_string(toks[i:i+{k - 1}], ' ') AS span
        FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
             UNNEST(range(1, greatest(len(toks) - {k} + 1, 0) + 1)) AS t(i)
    """


def _spans(toks: F.Column, k: int) -> F.Column:
    """Spark twin of :func:`_span_sql`: array of k-token spans (JVM-side
    higher-order functions, no explode until the caller chooses to)."""
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.expr("CAST(array() AS array<int>)")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


@register(
    "docs_duplicate_ngram_spans",
    oracle=f"""
        WITH g AS ({_span_sql(_SPAN_K)})
        SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
        FROM g GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY n_occurrences DESC, span LIMIT 50
    """,
    doc=f"Exact duplicate {_SPAN_K}-token spans appearing in ≥2 documents "
    "(Lee et al. 2022 span-dedup signal), top-50 by occurrence. Shape: "
    "per-row shingle arrays (no shuffle) → explode → ONE partial-aggregated "
    "groupBy on the span → TakeOrdered for the head. The span key spreads "
    "near-uniformly, and map-side combine collapses within-doc repeats "
    "before the shuffle; at 100 TB this is a linear scan + one shuffle.",
)
def docs_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    g = fan_out(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(_spans(X.tokens(F.col("text")), _SPAN_K)).alias("span")
    )
    return (
        g.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), "span")
        .limit(50)
    )


@register(
    "docs_span_contamination",
    oracle=f"""
        WITH g AS ({_span_sql(_SPAN_K)}),
        dup AS (
            SELECT span FROM g GROUP BY span
            HAVING COUNT(DISTINCT doc_id) >= 2
        )
        SELECT g.doc_id,
               COUNT(*) AS n_spans,
               COUNT(d.span) AS n_dup_spans,
               CAST(COUNT(d.span) AS DOUBLE) / COUNT(*) AS dup_fraction
        FROM g LEFT JOIN dup d USING (span)
        GROUP BY g.doc_id
        ORDER BY g.doc_id
    """,
    doc=f"Span-dedup APPLICATION — the per-document readout that completes "
    "docs_duplicate_ngram_spans' mining pass (Lee et al. 2022: after "
    "finding repeated spans, you need to know WHICH documents they "
    f"contaminate and how much): per doc, its {_SPAN_K}-token span "
    "positions, how many of them carry a span that also appears in "
    "another document, and the contamination fraction — the per-doc "
    "signal a span-removal or doc-drop policy keys on. Shape: one "
    "span stream feeds the cross-doc duplicate set "
    "(groupBy span, partial-aggregated) and the per-doc rollup; the "
    "span-keyed membership join is the same inverted-index shape as "
    "decontamination — never all-pairs. Counts exact; the fraction is "
    "one division of exact integers.",
)
def docs_span_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # fan_out so the shingle HOF doesn't run at the scan's split count
    g = fan_out(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(_spans(X.tokens(F.col("text")), _SPAN_K)).alias("span")
    )
    dup = (
        g.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span", F.lit(1).alias("_dup"))
    )
    return (
        g.join(dup, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count("_dup").alias("n_dup_spans"),
            (F.count("_dup").cast("double") / F.count("*")).alias(
                "dup_fraction"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_ngram_containment",
    oracle=f"""
        WITH sh AS (SELECT DISTINCT doc_id, span FROM ({_span_sql(_CONT_K)})),
        kept AS (SELECT span FROM sh GROUP BY span HAVING COUNT(*) <= {_CONT_DF_CAP}),
        shk AS (SELECT s.doc_id, s.span FROM sh s JOIN kept USING (span)),
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shk GROUP BY doc_id),
        com AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM shk a JOIN shk b ON a.span = b.span AND a.doc_id <> b.doc_id
            GROUP BY doc_a, doc_b
        )
        SELECT doc_a, doc_b, n_common, sa.n_sh AS n_sh_a,
               CAST(n_common AS DOUBLE) / sa.n_sh AS containment
        FROM com
        JOIN sz sa ON com.doc_a = sa.doc_id
        JOIN sz sb ON com.doc_b = sb.doc_id
        WHERE sa.n_sh <= sb.n_sh
          AND n_common * {_CONT_DEN} >= sa.n_sh * {_CONT_NUM}
        ORDER BY doc_a, doc_b
    """,
    doc=f"Doc-in-doc containment: pairs where ≥{_CONT_NUM}0% of the shorter "
    f"document's distinct {_CONT_K}-token shingles appear in the longer one "
    "(Broder containment — catches embedded near-copies symmetric Jaccard "
    "misses). Shape: distinct shingles → DF-cap filter (drops stop-phrase "
    f"shingles seen in >{_CONT_DF_CAP} docs, bounding every inverted-index "
    "bucket) → shingle equi-join → count per pair → broadcast-join the tiny "
    "per-doc size table. The threshold compares scaled INTEGERS; the one "
    "IEEE division is display-only.",
)
def docs_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    # shingle (fan_out first — the interpreted-HOF shingling must not run
    # at the scan's split count; 3.5 s serial on the one-row-group
    # testdata), distinct, then apply the DF cap as a count-over-span
    # WINDOW instead of a groupBy + rejoin — same span-keyed shuffle, no
    # second pass over the shingle stream. shk feeds sizes and both
    # inverted-index sides.
    wspan = Window.partitionBy("span")
    shk = (
        fan_out(docs.select("doc_id", "text"))
        .select(
            "doc_id", F.explode(_spans(X.tokens(F.col("text")), _CONT_K)).alias("span")
        )
        .distinct()
        .withColumn("_df", F.count("*").over(wspan))
        .filter(F.col("_df") <= _CONT_DF_CAP)
        .drop("_df")
        .transform(pin)  # scan-budget: documents scanned 4 times without it
    )
    sz = shk.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = shk.select(F.col("doc_id").alias("doc_a"), "span")
    b = shk.select(F.col("doc_id").alias("doc_b"), "span")
    com = (
        a.join(b, "span")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_sh_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_sh_b"))
    return (
        com.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(
            (F.col("n_sh_a") <= F.col("n_sh_b"))
            & (F.col("n_common") * _CONT_DEN >= F.col("n_sh_a") * _CONT_NUM)
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_sh_a",
            (F.col("n_common") / F.col("n_sh_a")).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "docs_token_rarity",
    oracle=f"""
        WITH tok AS (
            SELECT source, UNNEST({_TOKS_SQL}) AS tok FROM documents
        ),
        freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok)
        SELECT t.source,
               COUNT(*) AS n_tokens,
               CAST(SUM(f.c) AS BIGINT) AS sum_freq,
               CAST(SUM(f.c) AS DOUBLE) / COUNT(*) AS mean_token_freq,
               MIN(f.c) AS min_freq,
               COUNT(*) FILTER (f.c <= {_RARE_C}) AS n_rare,
               CAST(COUNT(*) FILTER (f.c <= {_RARE_C}) AS DOUBLE) / COUNT(*)
                   AS rare_ratio
        FROM tok t JOIN freq f USING (tok)
        GROUP BY t.source ORDER BY t.source
    """,
    doc="Corpus-frequency profile per source: mean token frequency, rarest "
    f"token, and share of rare (freq ≤ {_RARE_C}) token occurrences — the "
    "signal behind rare-token upsampling and source-mix quality weighting. "
    "Shape: one token-count shuffle builds the frequency table, which "
    "joins back onto the token stream (broadcast at test SF; hash join on "
    "the token key at 100 TB where the vocabulary outgrows broadcast), "
    "then one partial-aggregated rollup onto a handful of source keys. "
    "All-integer sums; exactly two IEEE divisions at output.",
)
def docs_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("c"))
    j = tok.join(freq, "tok")
    n_rare = F.count(F.when(F.col("c") <= _RARE_C, 1))
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("c").alias("sum_freq"),
            (F.sum("c") / F.count("*")).alias("mean_token_freq"),
            F.min("c").alias("min_freq"),
            n_rare.alias("n_rare"),
            (n_rare / F.count("*")).alias("rare_ratio"),
        )
        .orderBy("source")
    )


def _semdedup_max_cos_kernel(dim: int):
    """Grouped NumPy kernel: per label block, for every vector a the MAX
    cosine against lower-id same-label vectors b, over the first ``dim``
    coordinates (the unrolled-dot contract). One output row per vector
    that has at least one scorable lower-id neighbor.

    Every vector must have at least ``dim`` elements: a shorter one
    raises `KernelInputError` naming the row, as the unrolled dot's ANSI
    ``a[i]`` access did. Exactness: the dot and norm sweeps are
    `kernels.inorder_dot`, the same IEEE multiply-add sequence as the
    unrolled JVM chain. The max is over bit-exact cosines and round() is
    monotone nondecreasing, so the JVM's round(max_cos, 6) >= tau decides
    exactly the original per-pair EXISTS. Zero-norm neighbors are masked
    out (the nullif guard made those pairs NULL — never pruning); NaN
    cosines (NaN inputs) propagate through the max so the JVM's
    NaN-greatest comparison keeps deciding them."""

    def compute(pdf):
        groups = unpack(pdf["embedding"], pdf["vec_id"])
        for ln, (g_ids, M) in groups.items():
            if ln < dim:
                raise KernelInputError(
                    "embedding", g_ids[0], M[0].tolist(),
                    f"has {ln} elements; the cosine reads the first {dim}",
                )
        if len(pdf) < 2:
            return pd.DataFrame()
        ids = np.concatenate([g_ids for g_ids, _ in groups.values()])
        X = np.vstack([M[:, :dim] for _, M in groups.values()])
        order = np.argsort(ids, kind="stable")
        ids, X = ids[order], X[order]
        C = inorder_dot(X[:, None, :], X[None, :, :])
        nrm = np.sqrt(inorder_dot(X, X))
        denom = nrm[:, None] * nrm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = C / denom
        valid = (ids[None, :] < ids[:, None]) & (denom != 0.0)
        vals = np.where(valid, cos, -np.inf)
        mx = vals.max(axis=1)
        keep = (mx > -np.inf) | np.isnan(mx)
        if not keep.any():
            return pd.DataFrame()
        return pd.DataFrame(
            {
                "label": np.full(int(keep.sum()), pdf["label"].iat[0], dtype="int32"),
                "vec_id": ids[keep],
                "max_cos": mx[keep],
            }
        )

    return compute


def semdedup_prune(emb: DataFrame) -> DataFrame:
    """Per label of an ``embeddings`` frame (``label``, ``vec_id``,
    ``embedding``): ``n_vecs``, and how many vectors SemDeDup removes and
    keeps.

    The per-label quadratic cosine runs in one grouped kernel
    (`_semdedup_max_cos_kernel`) that emits ONE ROW PER VECTOR, not per
    pair: a is pruned iff EXISTS b < a with round(cos, 6) >= tau, and
    round is monotone nondecreasing, so that equals round(MAX cos) >= tau
    — the kernel emits max_b cos(a, b) and the JVM applies the original
    predicate to it. The pre-filters mirror the pair-join semantics: NULL
    labels never pair (the label equi-join is NULL-rejecting), and a NULL
    vector or element made the dot NULL (the pair dropped, never prunes).
    A vector shorter than EMBEDDING_DIM raises `KernelInputError`."""
    dim = S.EMBEDDING_DIM
    v = (
        emb.select("label", "vec_id", S._as_double(F.col("embedding")).alias("embedding"))
        .filter(F.col("label").isNotNull())
        .filter(~F.exists(F.col("embedding"), lambda x: x.isNull()))
    )
    cand = v.groupBy("label").applyInPandas(
        _semdedup_max_cos_kernel(dim), "label int, vec_id long, max_cos double"
    )
    removed = cand.filter(F.round(F.col("max_cos"), 6) >= _SEM_TAU).select(
        "label", "vec_id"
    )
    n = emb.groupBy("label").agg(F.count("*").alias("n_vecs"))
    r = removed.groupBy("label").agg(F.count("*").alias("n_removed"))
    return (
        n.join(r, "label", "left")
        .select(
            "label",
            "n_vecs",
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
            (F.col("n_vecs") - F.coalesce(F.col("n_removed"), F.lit(0))).alias(
                "n_kept"
            ),
        )
        .orderBy("label")
    )


@register(
    "dedup_semdedup_prune",
    oracle=f"""
        WITH v AS (
            SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
        ),
        rem AS (
            SELECT DISTINCT a.label, a.vec_id
            FROM v a JOIN v b ON a.label = b.label AND b.vec_id < a.vec_id
            WHERE ROUND(list_dot_product(a.ve, b.ve)
                        / NULLIF(sqrt(list_dot_product(a.ve, a.ve))
                                 * sqrt(list_dot_product(b.ve, b.ve)), 0.0), 6)
                  >= {_SEM_TAU}
        ),
        n AS (SELECT label, COUNT(*) AS n_vecs FROM v GROUP BY label),
        r AS (SELECT label, COUNT(*) AS n_removed FROM rem GROUP BY label)
        SELECT n.label, n_vecs,
               COALESCE(n_removed, 0) AS n_removed,
               n_vecs - COALESCE(n_removed, 0) AS n_kept
        FROM n LEFT JOIN r USING (label)
        ORDER BY n.label
    """,
    doc="SemDeDup (Abbas et al. 2023): within each cluster, prune every "
    f"vector that has a lower-id neighbor at cosine ≥ {_SEM_TAU} (greedy "
    "keep-lowest-id — deterministic, order-free). Clusters ARE the join "
    "key: the pair stream is an equi-join on label, so the quadratic "
    "cosine work is bounded per-cluster — the entire point of clustering "
    "before dedup at 100 TB. Cosine sums in coordinate order "
    "(operators.kernels.inorder_dot, bit-identical to the unrolled dot) "
    "and rounds to 6 dp on both engines before the threshold, "
    "eliminating last-ulp drift.",
)
def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_prune(table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# PMI collocations (documents)
# --------------------------------------------------------------------------

#: minimum bigram count for a PMI candidate (rare-pair noise floor) and
#: micro-bit quantization for the PMI value
_PMI_MIN_COUNT = 30
_PMI_SCALE = 1_000_000
_PMI_TOPK = 20


@register(
    "docs_pmi_collocations",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
        ),
        tok AS (SELECT UNNEST(toks) AS tok FROM base),
        uni AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        n1 AS (SELECT SUM(c) AS n FROM uni),
        bg AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM base, UNNEST(range(1, greatest(len(toks) - 1, 0) + 1)) AS t(i)
        ),
        big AS (
            SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2
            HAVING COUNT(*) >= {_PMI_MIN_COUNT}
        ),
        n2 AS (SELECT COUNT(*) AS nb FROM bg),
        scored AS (
            SELECT b.w1, b.w2, b.cb,
                   CAST(ROUND((log2(CAST(b.cb AS DOUBLE))
                               + log2(CAST(n1.n AS DOUBLE))
                               + log2(CAST(n1.n AS DOUBLE))
                               - log2(CAST(n2.nb AS DOUBLE))
                               - log2(CAST(ua.c AS DOUBLE))
                               - log2(CAST(ub.c AS DOUBLE)))
                              * {_PMI_SCALE}) AS BIGINT) AS pmi_units
            FROM big b
            JOIN uni ua ON b.w1 = ua.tok
            JOIN uni ub ON b.w2 = ub.tok
            CROSS JOIN n1 CROSS JOIN n2
        )
        SELECT w1, w2, cb,
               CAST(pmi_units AS DOUBLE) / CAST({_PMI_SCALE} AS DOUBLE)
                   AS pmi_bits
        FROM scored
        QUALIFY ROW_NUMBER() OVER (ORDER BY pmi_units DESC, w1, w2)
                <= {_PMI_TOPK}
        ORDER BY pmi_units DESC, w1, w2
    """,
    doc=f"Pointwise-mutual-information collocations: the top {_PMI_TOPK} "
    f"adjacent token pairs (count ≥ {_PMI_MIN_COUNT}) by "
    "PMI = log2(p(w1,w2)/(p(w1)p(w2))) — the association-mining pass "
    "behind multiword-expression detection and tokenizer merge audits "
    "(high-PMI pairs are the phrases a BPE merge should capture; "
    "compare docs_bpe_pair_counts, which ranks by raw frequency). "
    "Drift-proofing: PMI decomposes into ± log2 of five exact integer "
    "counts, quantized ONCE to micro-bits per pair, so ranking and "
    "tie-breaks are integer comparisons. Shape: one unigram shuffle, "
    "one bigram shuffle (both map-side combined), two broadcast-scale "
    "joins of the count-floored bigram head against the unigram table, "
    "TakeOrdered top-k.",
)
def docs_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    # (Window used only for the bounded top-k cut below)
    base = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    tok = base.select(F.explode("toks").alias("tok"))
    # scan-budget: documents scanned 5 times without it
    uni = tok.groupBy("tok").agg(F.count("*").alias("c")).transform(pin)
    bg = base.select(F.explode(X.bigram_list(F.col("toks"))).alias("bgram")).select(
        F.split(F.col("bgram"), " ").getItem(0).alias("w1"),
        F.split(F.col("bgram"), " ").getItem(1).alias("w2"),
    )
    # totals are 1-row aggregates broadcast back (never an unpartitioned
    # window over the bigram-type table, which is corpus-scale); nb comes
    # closed-form from token counts — no second scan of the bigram stream
    nb = base.select(
        F.sum(F.greatest(F.size("toks") - 1, F.lit(0))).alias("nb")
    )
    big = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= _PMI_MIN_COUNT)
        .join(F.broadcast(nb))
    )
    n1 = uni.agg(F.sum("c").alias("n"))
    ua = uni.select(F.col("tok").alias("w1"), F.col("c").alias("_ca"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("c").alias("_cb"))
    scored = (
        big.join(ua, "w1")
        .join(ub, "w2")
        .join(F.broadcast(n1))
        .select(
            "w1",
            "w2",
            "cb",
            F.round(
                (
                    F.log2(F.col("cb").cast("double"))
                    + F.log2(F.col("n").cast("double"))
                    + F.log2(F.col("n").cast("double"))
                    - F.log2(F.col("nb").cast("double"))
                    - F.log2(F.col("_ca").cast("double"))
                    - F.log2(F.col("_cb").cast("double"))
                )
                * F.lit(_PMI_SCALE)
            )
            .cast("long")
            .alias("pmi_units"),
        )
    )
    w = Window.orderBy(F.desc("pmi_units"), "w1", "w2")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PMI_TOPK)
        .select(
            "w1",
            "w2",
            "cb",
            (F.col("pmi_units").cast("double") / F.lit(_PMI_SCALE).cast("double")).alias(
                "pmi_bits"
            ),
        )
        .orderBy(F.desc("pmi_bits"), "w1", "w2")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training: the first K merges, end to end
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def _bpe_round_sql(win: str, pout: str, mout: str, wout: str) -> str:
    """One BPE round: weighted adjacent-pair counts over the spaced-symbol
    vocabulary, argmax merge (count desc, pair asc), merge application via
    boundary-framed literal replace (left-to-right non-overlapping —
    boundary-sharing occurrences defer to later rounds; identical in Spark
    and DuckDB, see the register() doc).
    MATERIALIZED: each CTE is referenced more than once."""
    return f"""
        {pout} AS MATERIALIZED (
            SELECT syms[i] AS l, syms[i + 1] AS r,
                   CAST(SUM(wc) AS BIGINT) AS cnt
            FROM (SELECT list_filter(string_split(sw, ' '), x -> x <> '')
                      AS syms, wc FROM {win}),
                 UNNEST(range(1, len(syms))) AS t(i)
            GROUP BY 1, 2
        ),
        {mout} AS MATERIALIZED (
            SELECT l, r, cnt FROM {pout} ORDER BY cnt DESC, l, r LIMIT 1
        ),
        {wout} AS MATERIALIZED (
            SELECT replace({win}.sw, ' ' || {mout}.l || ' ' || {mout}.r || ' ',
                           ' ' || {mout}.l || {mout}.r || ' ') AS sw, wc
            FROM {win} CROSS JOIN {mout}
        )"""


@register(
    "docs_bpe_train_merges",
    oracle=r"""
        WITH words AS MATERIALIZED (
            SELECT w, COUNT(*) AS wc FROM (
                SELECT UNNEST(regexp_split_to_array(lower(trim(text)), '\s+'))
                    AS w
                FROM documents WHERE trim(text) <> ''
            ) WHERE w <> '' GROUP BY w
        ),
        w0 AS MATERIALIZED (
            SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS sw, wc
            FROM words
        ),
        """
    + ",".join(
        _bpe_round_sql(f"w{i}", f"p{i + 1}", f"m{i + 1}", f"w{i + 1}")
        for i in range(_BPE_MERGES)
    )
    + "\n        SELECT * FROM (\n            "
    + "\n            UNION ALL ".join(
        (
            "SELECT 1 AS merge_rank, l AS left_sym, r AS right_sym, cnt FROM m1"
            if i == 1
            else f"SELECT {i}, l, r, cnt FROM m{i}"
        )
        for i in range(1, _BPE_MERGES + 1)
    )
    + "\n        ) ORDER BY merge_rank\n    ",
    doc=f"BPE tokenizer TRAINING, first {_BPE_MERGES} merges end-to-end — "
    "the full iterative loop behind subword vocabularies, not just the "
    "first pair count (docs_bpe_pair_counts): each round counts "
    "corpus-weighted adjacent symbol pairs over the DISTINCT-word "
    "vocabulary, picks the argmax merge (count desc, pair asc — "
    "deterministic), and APPLIES it by rewriting every word's "
    "spaced-symbol form via boundary-framed literal replace. NOTE the "
    "application is left-to-right NON-OVERLAPPING replacement: two "
    "occurrences of ' l r ' that share a boundary space (word 'abab' "
    "→ ' a b a b ') merge only at the first site that round — a "
    "deterministic, engine-identical variant of greedy BPE that can "
    "defer boundary-sharing merges to later rounds (exact greedy "
    "would need a symbol-array fold; both engines here replace "
    "identically, so every merge decision and count still "
    "hash-matches). Scale shape (the BPE trick): corpus-scale work is "
    "ONE token groupBy to build the weighted vocab, localCheckpoint'ed "
    "so later rounds never re-derive it; every round then runs over "
    "|vocab| rows (millions, not billions, at 100 TB) — a pair "
    "explode with map-side combine onto the symbol-pair key space and "
    "a 1-row argmax collect, with the rewritten vocab re-checkpointed "
    "per round (constant per-round cost, no lineage growth). The "
    "chosen merge is the only driver-side state (1 row/round — the "
    "centroid-collect idiom); the oracle keeps even that in-SQL via "
    "MATERIALIZED CTE rounds.",
)
def docs_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_rows, _ = _train_bpe(spark, sf_dir)
    return spark.createDataFrame(
        out_rows, "merge_rank int, left_sym string, right_sym string, cnt long"
    ).orderBy("merge_rank")


def _train_bpe(spark: SparkSession, sf_dir: str):
    """Run the _BPE_MERGES training rounds; return (merge rows, final
    checkpointed spaced-symbol vocab). See docs_bpe_train_merges doc."""
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.filter(F.trim(F.col("text")) != "")
        .select(F.explode(X.tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    spaced = words.select(
        F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("sw"),
        "wc",
    ).transform(pin)  # iteration: every round's argmax collect starts here

    out_rows = []
    cur = spaced
    for rank in range(1, _BPE_MERGES + 1):
        pairs = (
            cur.select(
                F.expr("filter(split(sw, ' '), x -> x != '')").alias("syms"), "wc"
            )
            .filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2), "
                        "i -> struct(syms[i] AS l, syms[i + 1] AS r))"
                    )
                ).alias("p"),
                "wc",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("cnt"))
        )
        rows = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not rows:
            # corpus exhausted mergeable adjacent pairs before the merge
            # budget — end early, mirroring the oracle's empty m{r} CTEs
            # (which simply yield fewer merge rows, never an error)
            break
        best = rows[0]
        l, r, cnt = best["l"], best["r"], int(best["cnt"])
        out_rows.append((rank, l, r, cnt))
        cur = cur.select(
            F.replace(
                F.col("sw"), F.lit(f" {l} {r} "), F.lit(f" {l}{r} ")
            ).alias("sw"),
            "wc",
        ).transform(pin)  # iteration: cuts lineage once per round
    return out_rows, cur


@register(
    "docs_bpe_apply_stats",
    oracle=r"""
        WITH words AS MATERIALIZED (
            SELECT w, COUNT(*) AS wc FROM (
                SELECT UNNEST(regexp_split_to_array(lower(trim(text)), '\s+'))
                    AS w
                FROM documents WHERE trim(text) <> ''
            ) WHERE w <> '' GROUP BY w
        ),
        w0 AS MATERIALIZED (
            SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS sw, wc
            FROM words
        ),
        """
    + ",".join(
        _bpe_round_sql(f"w{i}", f"p{i + 1}", f"m{i + 1}", f"w{i + 1}")
        for i in range(_BPE_MERGES)
    )
    + f""",
        syms AS (
            SELECT UNNEST(list_filter(string_split(sw, ' '), x -> x <> ''))
                       AS s,
                   wc
            FROM w{_BPE_MERGES}
        )
        SELECT (SELECT COUNT(*) FROM w{_BPE_MERGES}) AS n_words,
               COUNT(DISTINCT s) AS vocab_size,
               CAST(SUM(wc) AS BIGINT) AS total_tokens,
               CAST(SUM(len(s) * wc) AS BIGINT) AS total_chars
        FROM syms
    """,
    doc=f"BPE ENCODE digest — the apply half that completes "
    "docs_bpe_train_merges' training loop: the corpus re-tokenized under "
    f"the {_BPE_MERGES} learned merges, digested as distinct-word count, "
    "post-merge vocabulary size (distinct symbols), corpus-weighted "
    "total token count (the number a tokenizer bill is paid in), and "
    "total characters (invariant under merging — the built-in "
    "conservation check: merges must never create or destroy "
    "characters). The oracle re-trains the identical merges in-SQL "
    "(MATERIALIZED CTE rounds) and digests ITS final vocab, so a green "
    "row proves train AND apply agree end-to-end. Spark shape: the "
    "training rounds' checkpointed vocab is reused; the digest is one "
    "explode + a partial-aggregatable reduce over |vocab| rows — "
    "corpus-scale cost stays the one token groupBy training already "
    "paid.",
)
def docs_bpe_apply_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, final_vocab = _train_bpe(spark, sf_dir)
    syms = final_vocab.select(
        F.explode(F.expr("filter(split(sw, ' '), x -> x != '')")).alias("s"),
        "wc",
    )
    n_words = final_vocab.count()
    return syms.agg(
        F.lit(n_words).cast("long").alias("n_words"),
        F.count_distinct("s").alias("vocab_size"),
        F.sum("wc").alias("total_tokens"),
        F.sum(F.length("s") * F.col("wc")).alias("total_chars"),
    )


# --------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer et al. 2003, MOSS)
# --------------------------------------------------------------------------

_WIN_K = 5  # k-gram width (tokens) for the hash stream
_WIN_W = 4  # winnowing window (hashes per window)
_WIN_MIN_SHARED = 3  # report pairs sharing at least this many fingerprints


@register(
    "docs_winnowing_pairs",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   list(('0x' || substr(md5(array_to_string(
                            toks[i:i + {_WIN_K - 1}], ' ')), 1, 15))::BIGINT
                        ORDER BY i) AS hl
            FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
                 UNNEST(range(1, greatest(len(toks) - {_WIN_K} + 1, 0) + 1))
                     AS t(i)
            GROUP BY doc_id
        ),
        fp AS (
            SELECT DISTINCT doc_id,
                   list_min(hl[j:j + {_WIN_W - 1}]) AS f
            FROM h, UNNEST(range(1, greatest(len(hl) - {_WIN_W} + 1, 0) + 1))
                        AS t(j)
        ),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
            FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_shared
        FROM shared WHERE n_shared >= {_WIN_MIN_SHARED}
        ORDER BY doc_a, doc_b
    """,
    doc=f"Winnowing document fingerprints (Schleimer et al. 2003 — the "
    "MOSS plagiarism-detector scheme, the 'rolling hash fingerprint' of "
    f"classic copy detection): each doc's {_WIN_K}-token k-gram hash "
    f"stream is windowed ({_WIN_W} hashes per window) and the MINIMUM "
    "hash per window is selected — winnowing's guarantee is that any "
    "shared substring of length ≥ w+k−1 tokens yields at least one "
    "shared fingerprint, at ~2/(w+1) the density of full shingling. "
    f"Pairs sharing ≥ {_WIN_MIN_SHARED} fingerprints are reported — "
    "the sparse, position-robust complement of dedup_jaccard_pairs "
    "(which needs the full shingle set). The hash is an md5 prefix "
    "rather than a Rabin-Karp rolling hash — the rolling form is a "
    "single-node micro-optimization; the SELECTION scheme is what "
    "defines winnowing, and it is bit-identical across engines on "
    "md5 integers. Shape: explode the k-gram hash stream once, take the "
    "window minima with a doc-keyed sliding ROWS frame (one doc_id "
    "shuffle; the per-doc sort is span-count-bounded), distinct the "
    "selections, then one fingerprint-keyed inverted-index join — at "
    "100 TB the join touches ~2/(w+1) of the shingle volume ordinary "
    "Jaccard would shuffle. (NOT the nested-HOF form min(slice(hashes, "
    "j, w)) per window: lambda subtrees don't CSE, so that shape "
    "re-hashes the whole doc per window — measured O(n²), 47 s at "
    "sf0.01 vs 4 s for this plan.)",
)
def docs_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    # fan_out: shingle + md5 per position is the CPU-dense stage — widen
    # past the scan's split count before it runs
    g = fan_out(docs.select("doc_id", "text")).select(
        "doc_id", F.posexplode(_spans(X.tokens(F.col("text")), _WIN_K))
    ).withColumnsRenamed({"col": "span"})
    h = g.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("span")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    wmin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    wcnt = Window.partitionBy("doc_id")
    fp = (
        h.select(
            "doc_id",
            "pos",
            F.min("h").over(wmin).alias("f"),
            F.count("*").over(wcnt).alias("_n"),
        )
        .filter(F.col("pos") <= F.col("_n") - _WIN_W)  # full windows only
        .select("doc_id", "f")
        .distinct()
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "f")
    b = fp.select(F.col("doc_id").alias("doc_b"), "f")
    return (
        a.join(b, "f")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )
