"""Hash-gated digest twins for the three rows-only queries (round-3 verdict
item #6: partial oracles for `sim_ann_lsh`, `sim_ivf_topk`,
`agg_approx_sketches`).

The rows-only trio can't hold full driver oracles — the ANN operators score
with IEEE floats whose SQL re-derivation would depend on engine summation
order, and the sketch values (HyperLogLog++, t-digest) are engine-specific
by definition. These twins gate what CAN be exact, with the
`mm_frame_sample_digest` / `plans/sources_gate.py` roundtrip-digest idiom:

- **sim_ann_candidate_digest**: the random-hyperplane LSH GEOMETRY —
  signature assignment, bucket occupancy, candidate-pair mass, and the
  query-side candidate capture — recomputed with micro-unit INTEGER
  quantized planes and embeddings so every dot product, sign bit, packed
  signature, and bucket count is an exact integer on both engines. A green
  row proves the banding/bucket-join candidate generation (the part of
  `sim_ann_lsh` that decides recall at 100 TB) is bit-correct; the float
  scoring stage keeps its recall pytest vs brute force.
- **sim_ivf_cell_digest**: the IVF coarse-quantizer geometry — cell
  assignment of the whole corpus to the deterministic lowest-id centroids
  and the nprobe-cell probe selection for the query set — in exact integer
  L2 (the `sim_kmeans_lloyd1` idiom, reusing its assignment machinery).
  Gates the inverted-list build and probe routing of `sim_ivf_topk`.
- **agg_sketch_param_digest**: the sketches next to their exact twins with
  the documented error bounds evaluated IN-PLAN as booleans (HLL++ rsd
  0.02 → within 10% = 5σ; t-digest median within the exact p40–p60 band).
  The oracle computes the exact values and asserts the bounds literally
  TRUE — a green row proves the sketch configuration delivers its
  contract on this data, which is the cross-engine-checkable core of
  `agg_approx_sketches`.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kernels import KernelInputError, unpack
from ..operators.similarity import _hyperplanes
from ..sources.catalog import table
from .iterative import _best_assign, _d2_sql, _to_fixed
from .registry import register
from ..operators.scale import pin

#: quantization scale for planes and embeddings (micro-units — exact BIGINT
#: dots: |x|,|p| <= 1e6 → per-term 1e12, 64 terms → 6.4e13 << 2^63)
_Q = 1_000_000
_ANN_TABLES = 16
_ANN_BITS = 6  # planes per table (sim_ann_lsh uses 6-bit signatures)
_DIM = 64
_IVF_CELLS = 8
_NQ = 5  # query set: vec_id < 5 (same as the rows-only trio)
_IVF_NPROBE = 3

#: the SAME seeded hyperplanes sim_ann_lsh uses, micro-quantized
_PLANES_INT = [
    [int(round(v * _Q)) for v in row]
    for row in _hyperplanes(_DIM, _ANN_TABLES * _ANN_BITS)
]

_PTS_SQL = f"""
        SELECT vec_id, i - 1 AS pos,
               CAST(ROUND(emb[i] * {_Q}) AS BIGINT) AS xi
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings),
             UNNEST(range(1, len(emb) + 1)) AS t(i)
"""

_PLANES_VALUES_SQL = ",\n            ".join(
    f"({t}, {b}, [{', '.join(str(v) for v in _PLANES_INT[t * _ANN_BITS + b])}])"
    for t in range(_ANN_TABLES)
    for b in range(_ANN_BITS)
)


#: shared oracle CTE chain: quantized points → plane table → signatures
_SIGS_SQL = f"""pts AS ({_PTS_SQL}),
        planes AS (
            SELECT * FROM (VALUES
            {{PLANES}}
            ) AS p(table_id, bit, plane)
        ),
        pp AS (
            SELECT table_id, bit, i - 1 AS pos, plane[i] AS pi
            FROM planes, UNNEST(range(1, {_DIM} + 1)) AS t(i)
        ),
        dots AS (
            SELECT p.vec_id, q.table_id, q.bit, SUM(p.xi * q.pi) AS d
            FROM pts p JOIN pp q USING (pos)
            GROUP BY 1, 2, 3
        ),
        sigs AS (
            SELECT vec_id, table_id,
                   CAST(SUM(CASE WHEN d >= 0
                                 THEN (CAST(1 AS BIGINT) << bit)
                                 ELSE 0 END) AS BIGINT) AS sig
            FROM dots GROUP BY 1, 2
        )"""


def _int_signatures(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(vec_id, table_id, sig) integer-quantized hyperplane signatures —
    the Spark twin of _SIGS_SQL; shared by the candidate and recall
    digests. localCheckpoint'ed: both consumers fork it."""
    pts = emb.select(
        "vec_id", F.posexplode(_to_fixed(F.col("embedding")))
    ).withColumnsRenamed({"col": "xi"})
    planes = spark.createDataFrame(
        [
            (t, b, _PLANES_INT[t * _ANN_BITS + b])
            for t in range(_ANN_TABLES)
            for b in range(_ANN_BITS)
        ],
        "table_id int, bit int, plane array<long>",
    )
    pp = planes.select(
        "table_id", "bit", F.posexplode("plane")
    ).withColumnsRenamed({"col": "pi"})
    dots = (
        pts.join(F.broadcast(pp), "pos")
        .groupBy("vec_id", "table_id", "bit")
        .agg(F.sum(F.col("xi") * F.col("pi")).alias("d"))
    )
    return (
        dots.groupBy("vec_id", "table_id")
        .agg(
            F.sum(
                F.when(F.col("d") >= 0, F.expr("shiftleft(1L, bit)")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("sig")
        )
        .transform(pin)  # scan-budget: its consumers scan embeddings 5-14 times without it
    )


@register(
    "sim_ann_candidate_digest",
    oracle=f"""
        WITH {_SIGS_SQL.replace("{PLANES}", _PLANES_VALUES_SQL)},
        buckets AS (
            SELECT table_id, sig, COUNT(*) AS n,
                   COUNT(CASE WHEN vec_id < {_NQ} THEN 1 END) AS nq
            FROM sigs GROUP BY 1, 2
        )
        SELECT table_id,
               COUNT(*) AS n_buckets,
               MAX(n) AS max_bucket,
               CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS collision_pairs,
               CAST(SUM(nq * (n - 1)) AS BIGINT) AS query_cand_pairs
        FROM buckets GROUP BY table_id ORDER BY table_id
    """,
    doc=f"LSH candidate-geometry digest twin of sim_ann_lsh (rows-only): "
    f"the {_ANN_TABLES}×{_ANN_BITS}-bit random-hyperplane signatures "
    "recomputed in micro-unit INTEGER arithmetic (same seeded planes, "
    "quantized) so signature bits, bucket sizes, per-table collision "
    "mass, and the query-side candidate counts are exact integers — a "
    "green row proves the banding geometry that decides ANN recall at "
    "100 TB. Spark shape: one posexplode + a broadcast plane join + two "
    "partial-aggregated groupBys (dot terms → sign bits → buckets) — no "
    "giant literal expression tree (the documented sim_ann_lsh "
    "plan-time lesson: plane constants ride as DATA, not as plan "
    "nodes). Sketch scoring itself stays float and is recall-tested in "
    "pytest vs brute force.",
)
def sim_ann_candidate_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    sigs = _int_signatures(spark, emb)
    buckets = sigs.groupBy("table_id", "sig").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("vec_id") < _NQ, 1)).alias("nq"),
    )
    return (
        buckets.groupBy("table_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum(F.expr("n * (n - 1) div 2")).alias("collision_pairs"),
            F.sum(F.col("nq") * (F.col("n") - 1)).alias("query_cand_pairs"),
        )
        .orderBy("table_id")
    )


_ANN_K = 5  # ground-truth top-k per query (matches sim_ann_lsh's k)


@register(
    "sim_ann_recall_digest",
    oracle=f"""
        WITH {_SIGS_SQL.replace("{PLANES}", _PLANES_VALUES_SQL)},
        qp AS (SELECT vec_id AS qid, pos, xi AS qi FROM pts
               WHERE vec_id < {_NQ}),
        d2 AS (
            SELECT p.vec_id, q.qid, SUM((p.xi - q.qi) * (p.xi - q.qi)) AS d2
            FROM pts p JOIN qp q USING (pos)
            WHERE p.vec_id <> q.qid
            GROUP BY 1, 2
        ),
        topk AS (
            SELECT qid, vec_id FROM d2
            QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY d2, vec_id) <= {_ANN_K}
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS qid, c.vec_id
            FROM sigs q
            JOIN sigs c ON q.table_id = c.table_id AND q.sig = c.sig
                        AND q.vec_id <> c.vec_id
            WHERE q.vec_id < {_NQ}
        ),
        cap AS (
            SELECT t.qid,
                   COUNT(c.vec_id) AS captured
            FROM topk t LEFT JOIN cand c
              ON t.qid = c.qid AND t.vec_id = c.vec_id
            GROUP BY t.qid
        ),
        nc AS (SELECT qid, COUNT(*) AS n_candidates FROM cand GROUP BY qid)
        SELECT cap.qid AS query_id,
               COALESCE(nc.n_candidates, 0) AS n_candidates,
               cap.captured AS topk_captured,
               CAST(cap.captured AS DOUBLE) / {_ANN_K} AS recall_at_k
        FROM cap LEFT JOIN nc USING (qid)
        ORDER BY query_id
    """,
    doc=f"ANN RECALL, hash-gated end to end — the number the rows-only "
    "sim_ann_lsh could never put in a driver row: per query, the exact "
    f"integer-L2 top-{_ANN_K} ground truth intersected with the multi-"
    "table LSH candidate set (both derived in exact integer arithmetic "
    "from the same quantized vectors and seeded planes), emitting "
    "candidate count, captured neighbors, and recall@k. A green row "
    "pins the COMPLETE quality chain: signature geometry → bucket "
    "collision → candidate union → recall against exact truth. Spark "
    "shape: ground truth is the bounded query-broadcast kernel (corpus "
    f"× {_NQ} queries, one TakeOrdered-style window over per-query "
    "frames); candidates reuse the checkpointed signature table with a "
    "signature-keyed self-join — never all-pairs.",
)
def sim_ann_recall_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    fixed = emb.select("vec_id", _to_fixed(F.col("embedding")).alias("xi_arr"))
    q_rows = fixed.filter(F.col("vec_id") < _NQ).collect()
    qvecs = {int(r["vec_id"]): list(r["xi_arr"]) for r in q_rows}

    # exact integer-L2 distances to the _NQ query literals (bounded fan-out)
    d2 = fixed.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(qid).alias("qid"),
                        F.expr(_d2_sql(qv)).alias("d2"),
                    )
                    for qid, qv in sorted(qvecs.items())
                ]
            )
        ).alias("q"),
    ).filter(F.col("vec_id") != F.col("q.qid"))

    from pyspark.sql import Window

    w = Window.partitionBy("q.qid").orderBy(F.col("q.d2"), F.col("vec_id"))
    topk = (
        d2.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _ANN_K)
        .select(F.col("q.qid").alias("qid"), "vec_id")
    )

    sigs = _int_signatures(spark, emb)
    qs = sigs.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("qid"), "table_id", "sig"
    )
    cand = (
        sigs.withColumnRenamed("vec_id", "cvid")
        .join(F.broadcast(qs), ["table_id", "sig"])
        .filter(F.col("cvid") != F.col("qid"))
        .select("qid", F.col("cvid").alias("vec_id"))
        .distinct()
    )
    cap = (
        topk.join(cand.withColumn("_hit", F.lit(1)), ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(F.count("_hit").alias("topk_captured"))
    )
    nc = cand.groupBy("qid").agg(F.count("*").alias("n_candidates"))
    return (
        cap.join(F.broadcast(nc), "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
            "topk_captured",
            (F.col("topk_captured").cast("double") / _ANN_K).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


@register(
    "sim_ivf_cell_digest",
    oracle=f"""
        WITH pts AS ({_PTS_SQL}),
        init AS (SELECT vec_id AS c, pos, xi AS mi FROM pts
                 WHERE vec_id < {_IVF_CELLS}),
        d0 AS (
            SELECT p.vec_id, i.c, SUM((p.xi - i.mi) * (p.xi - i.mi)) AS d2
            FROM pts p JOIN init i USING (pos) GROUP BY p.vec_id, i.c
        ),
        a0 AS (
            SELECT vec_id, c FROM d0
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, c) = 1
        ),
        probes AS (
            SELECT c FROM (
                SELECT vec_id, c,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d2, c) AS rnk
                FROM d0 WHERE vec_id < {_NQ}
            ) WHERE rnk <= {_IVF_NPROBE}
        ),
        pc AS (SELECT c, COUNT(*) AS np FROM probes GROUP BY c)
        SELECT a0.c AS cell, COUNT(*) AS n_vecs,
               CAST(SUM(a0.vec_id) AS BIGINT) AS id_sum,
               MIN(a0.vec_id) AS min_id, MAX(a0.vec_id) AS max_id,
               CAST(COALESCE(MIN(pc.np), 0) AS BIGINT) AS n_query_probes
        FROM a0 LEFT JOIN pc ON a0.c = pc.c
        GROUP BY cell ORDER BY cell
    """,
    doc=f"IVF coarse-quantizer digest twin of sim_ivf_topk (rows-only): "
    f"every corpus vector assigned to its nearest of the {_IVF_CELLS} "
    "deterministic lowest-id centroids by EXACT integer L2 (micro-unit "
    "quantization — the sim_kmeans_lloyd1 idiom, same assignment "
    "machinery), plus how many of the query set's nprobe="
    f"{_IVF_NPROBE} probe slots land on each cell. A green row proves "
    "the inverted-list build and probe routing — the parts of IVF that "
    "bound candidate work at 100 TB. Spark shape: centroids are k×64 "
    "literal arrays (the only driver-side state), assignment is a "
    "per-row single-expression argmin, one groupBy(cell) rollup; the "
    "float scoring stage keeps its recall pytest.",
)
def sim_ivf_cell_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    fixed = emb.select("vec_id", _to_fixed(F.col("embedding")).alias("xi_arr"))
    init_rows = fixed.filter(F.col("vec_id") < _IVF_CELLS).collect()
    cents = {int(r["vec_id"]): list(r["xi_arr"]) for r in init_rows}
    best = _best_assign(cents)
    cells = fixed.select("vec_id", best["lbl"].alias("cell"))
    # probe selection needs full (query, cell) distance ranking — rebuild
    # the per-cell distances only for the _NQ query vectors (bounded rows)
    dists = fixed.filter(F.col("vec_id") < _NQ).select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.expr(_d2_sql(mis)).alias("d2"),
                    )
                    for c, mis in sorted(cents.items())
                ]
            )
        ).alias("dc"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.col("dc.d2"), F.col("dc.c"))
    probes = (
        dists.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _IVF_NPROBE)
        .groupBy(F.col("dc.c").alias("cell"))
        .agg(F.count("*").alias("np"))
    )
    return (
        cells.groupBy("cell")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("vec_id").alias("id_sum"),
            F.min("vec_id").alias("min_id"),
            F.max("vec_id").alias("max_id"),
        )
        .join(F.broadcast(probes), "cell", "left")
        .select(
            "cell",
            "n_vecs",
            "id_sum",
            "min_id",
            "max_id",
            F.coalesce(F.col("np"), F.lit(0)).cast("long").alias("n_query_probes"),
        )
        .orderBy("cell")
    )


@register(
    "agg_sketch_param_digest",
    oracle="""
        WITH ex AS (
            SELECT event_type, COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS exact_users,
                   quantile_cont(value, 0.4) AS p40,
                   quantile_cont(value, 0.6) AS p60
            FROM events GROUP BY event_type
        )
        SELECT event_type, n_events, CAST(exact_users AS BIGINT) AS exact_users,
               TRUE AS users_within_5rsd,
               TRUE AS median_within_p40_p60
        FROM ex ORDER BY event_type
    """,
    doc="Sketch-contract digest twin of agg_approx_sketches (rows-only): "
    "runs the HLL++ distinct sketch (rsd=0.02) and the t-digest median "
    "next to their EXACT twins and evaluates the documented error "
    "bounds in-plan — |approx−exact| ≤ 10%·exact (5×rsd) for HLL, and "
    "the approximate median inside the exact p40–p60 band. The oracle "
    "computes the exact counts and asserts both bounds literally TRUE, "
    "so a green row hash-gates (a) the exact twins and (b) that the "
    "sketch configuration delivers its accuracy contract on this data — "
    "the engine-portable core of a sketch whose raw estimate is "
    "engine-specific by definition. One partial-aggregatable rollup; "
    "the exact percentile is the only per-group sort (the sketch "
    "replaces it at 100 TB — which is the point).",
)
def agg_sketch_param_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # The exact distinct count runs as its OWN aggregation, joined back on
    # the 5-row group key — not co-located with the sketch/percentile
    # aggregates. Co-located, Spark 4 plans the single-distinct rewrite as
    # a 4-phase aggregate whose FIRST phase groups by (event_type,
    # user_id): every imperative buffer (HLL registers, the acc=10k
    # QuantileSummaries, two exact-percentile value arrays) is then built
    # once per DISTINCT-KEY GROUP (7,500 at sf0.1; ~32 MiB of buffers
    # shuffled, measured) and merged 1500:1, instead of once per
    # event_type (5). Splitting keeps every buffer per-output-group and
    # the distinct count a plain cheap two-phase count — measured 3.04 s
    # → 0.45 s noop-sink at sf0.1 (guide §2.3 "aggregate before you
    # shuffle" / §2.4; r14 optimization round). Results are identical by
    # construction: same aggregates, same groups, inner join on the
    # complete group-key set.
    nd = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("_approx_median"),
        F.expr("percentile(value, 0.4)").alias("_p40"),
        F.expr("percentile(value, 0.6)").alias("_p60"),
    )
    dd = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    # Null-safe equality (<=>): the pre-split single GROUP BY (and the
    # DuckDB oracle) retain a NULL-event_type group; a plain inner equi-join
    # would silently drop it. No NULL event_type exists in the current
    # corpora (verified sf0.1), but the variant program injects NULL key
    # classes — <=> keeps the recombination exactly GROUP-BY-equivalent
    # while remaining a hashable equi-join key (plan stays BroadcastHashJoin).
    g = nd.join(dd, nd["event_type"].eqNullSafe(dd["event_type"])).drop(
        dd["event_type"]
    )
    within_rsd = (
        F.abs(F.col("_approx_users") - F.col("exact_users"))
        * 10  # |err| <= 10% * exact  (5 sigma at rsd=0.02)
        <= F.col("exact_users")
    )
    med_ok = (F.col("_approx_median") >= F.col("_p40")) & (
        F.col("_approx_median") <= F.col("_p60")
    )
    return g.select(
        "event_type",
        "n_events",
        "exact_users",
        within_rsd.alias("users_within_5rsd"),
        med_ok.alias("median_within_p40_p60"),
    ).orderBy("event_type")


_KNN_NQ = 50  # evaluation query set: vec_id < 50
_KNN_K = 5


@register(
    "sim_knn_label_accuracy",
    oracle=f"""
        WITH pts AS (
            SELECT vec_id, label, i - 1 AS pos,
                   CAST(ROUND(emb[i] * {_Q}) AS BIGINT) AS xi
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)
        ),
        qp AS (SELECT vec_id AS qid, label AS true_label, pos, xi AS qi
               FROM pts WHERE vec_id < {_KNN_NQ}),
        d2 AS (
            SELECT q.qid, ANY_VALUE(q.true_label) AS true_label,
                   p.vec_id, ANY_VALUE(p.label) AS nbr_label,
                   SUM((p.xi - q.qi) * (p.xi - q.qi)) AS d2
            FROM pts p JOIN qp q USING (pos)
            WHERE p.vec_id <> q.qid
            GROUP BY q.qid, p.vec_id
        ),
        topk AS (
            SELECT qid, true_label, nbr_label FROM d2
            QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY d2, vec_id) <= {_KNN_K}
        ),
        votes AS (
            SELECT qid, ANY_VALUE(true_label) AS true_label,
                   nbr_label, COUNT(*) AS cnt
            FROM topk GROUP BY qid, nbr_label
        ),
        pred AS (
            SELECT qid, true_label, nbr_label AS pred_label FROM votes
            QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cnt DESC, nbr_label) = 1
        )
        SELECT true_label,
               COUNT(*) AS n_queries,
               COUNT(CASE WHEN pred_label = true_label THEN 1 END)
                   AS n_correct,
               CAST(COUNT(CASE WHEN pred_label = true_label THEN 1 END)
                    AS DOUBLE) / COUNT(*) AS accuracy
        FROM pred GROUP BY true_label ORDER BY true_label
    """,
    doc=f"kNN CLASSIFICATION eval — the downstream task that justifies "
    "the whole similarity stack: each of the first "
    f"{_KNN_NQ} vectors predicts its label by majority vote of its "
    f"k={_KNN_K} exact integer-L2 nearest neighbors (self excluded; "
    "vote ties break count-desc then label-asc — fully deterministic), "
    "scored per true label. This is the quality number an embedding "
    "space is actually judged by (SemDeDup pruning, mixture reweighting "
    "and ANN recall all serve it). Shape: the bounded query set joins "
    "the corpus on the dimension key (exact integer dots, partial-"
    "aggregated), per-query top-k and vote windows run over query-keyed "
    "frames; every count exact, one division per label row.",
)
def sim_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", "label", F.posexplode(_to_fixed(F.col("embedding")))
    ).withColumnsRenamed({"col": "xi"})
    qp = pts.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        "pos",
        F.col("xi").alias("qi"),
    )
    d2 = (
        pts.join(qp, "pos")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            F.first("true_label").alias("true_label"),
            F.first("label").alias("nbr_label"),
            F.sum((F.col("xi") - F.col("qi")) * (F.col("xi") - F.col("qi"))).alias(
                "d2"
            ),
        )
    )
    wk = Window.partitionBy("qid").orderBy("d2", "vec_id")
    topk = d2.withColumn("_rn", F.row_number().over(wk)).filter(
        F.col("_rn") <= _KNN_K
    )
    votes = topk.groupBy("qid", "nbr_label").agg(
        F.first("true_label").alias("true_label"), F.count("*").alias("cnt")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("cnt"), F.asc("nbr_label"))
    pred = votes.withColumn("_rv", F.row_number().over(wv)).filter(
        F.col("_rv") == 1
    )
    correct = F.count(F.when(F.col("nbr_label") == F.col("true_label"), 1))
    return (
        pred.groupBy("true_label")
        .agg(
            F.count("*").alias("n_queries"),
            correct.alias("n_correct"),
            (correct.cast("double") / F.count("*")).alias("accuracy"),
        )
        .orderBy("true_label")
    )


# ------------- Johnson–Lindenstrauss random-projection distortion -----------

_JL_K = 16  # projected dimensions
_JL_NQ = 20  # query rows: pairs = _JL_NQ × (corpus − queries below them)


def _rademacher(k: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix (xorshift-style bit mix — no RNG
    state, reproducible everywhere, and independent per (i, j))."""
    out = []
    for i in range(k):
        row = []
        for j in range(dim):
            h = (i * 2654435761 + j * 40503 + 0x9E3779B9) & 0xFFFFFFFF
            h ^= h >> 16
            h = (h * 0x85EBCA6B) & 0xFFFFFFFF
            h ^= h >> 13
            row.append(1 if h & 1 else -1)
        out.append(row)
    return out


_JL_R = _rademacher(_JL_K, _DIM)

_JL_R_VALUES_SQL = ",\n            ".join(
    f"({p}, [{', '.join(str(v) for v in _JL_R[p])}])" for p in range(_JL_K)
)


def _jl_pair_d2_kernel():
    """Cogrouped NumPy kernel: per hash block, the exact-integer squared
    L2 distances (projected and original) for every (corpus row, query)
    pair with vec_id > qid.

    EXACTNESS: every quantity is int64 INTEGER algebra — the Rademacher
    projection is a ±1 integer matmul over micro-quantized BIGINT
    coordinates and both d2s are sums of integer squares, so results are
    order-independent and exactly equal to the sequential JVM folds (no
    floating point anywhere before the JVM's own decimal tail); the
    128-bit d2p·640 bucket product stays in the JVM's DECIMAL(38,0) tail.
    The int64 sums cannot wrap while max|x| ≤ m: a row of the projection
    width w projects to |y| ≤ w·m, so d2p ≤ _JL_K·(2·w·m)²; a row of any
    other width w gets only d2o ≤ w·(2·m)². A coordinate past that bound
    raises `KernelInputError` (m ≈ 5.9e6 at w = 64; micro-quantized unit
    embeddings have |x| ≤ 1e6).

    Rows whose xi length differs from the projection width keep the old
    padded-zip_with semantics: same-length pairs get a real d2o with a
    NULL d2p (the JVM projected NULL yarr for them); unequal-length pairs
    drop via the JVM's d2o > 0 filter never seeing them (the old plan
    produced NULL d2o)."""
    proj_rows = _JL_R  # plain list literal — pickled by value with the fn
    width, n_proj = len(_JL_R[0]), _JL_K

    def check(ids, X, column):
        terms = n_proj * width * width if X.shape[1] == width else X.shape[1]
        bound = math.isqrt((2**63 - 1) // (4 * max(terms, 1)))
        out = (X > bound) | (X < -bound)
        if out.any():
            i, k = np.argwhere(out)[0]
            raise KernelInputError(
                column, ids[i], int(X[i, k]),
                f"is past the int64 bound |x| <= {bound} of the JL kernel",
            )

    def compute(left, right):
        if not len(left) or not len(right):
            return pd.DataFrame()
        R = np.asarray(proj_rows, dtype=np.int64)
        cg = unpack(left["xi_arr"], left["vec_id"], np.int64)
        qg = unpack(right["q_xi"], right["qid"], np.int64)
        for groups, column in ((cg, "xi_arr"), (qg, "q_xi")):
            for ids, X in groups.values():
                check(ids, X, column)
        frames = []
        for ln, (cids, X) in cg.items():
            if ln not in qg:
                continue
            qids, Q = qg[ln]
            mask = cids[:, None] > qids[None, :]
            if not mask.any():
                continue
            D2O = np.zeros((len(cids), len(qids)), dtype=np.int64)
            for k in range(ln):
                d = X[:, k, None] - Q[None, :, k]
                D2O += d * d
            ii, jj = np.nonzero(mask)
            if ln == R.shape[1]:
                Yx = X @ R.T
                Yq = Q @ R.T
                D2P = np.zeros_like(D2O)
                for k in range(R.shape[0]):
                    d = Yx[:, k, None] - Yq[None, :, k]
                    D2P += d * d
                d2p_col = D2P[ii, jj]
            else:
                d2p_col = np.full(len(ii), None, dtype=object)
            frames.append(pd.DataFrame({"d2p": d2p_col, "d2o": D2O[ii, jj]}))
        return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()

    return compute


@register(
    "emb_jl_projection_distortion",
    oracle=f"""
        WITH pts AS ({_PTS_SQL}),
        r AS (
            SELECT p, rv FROM (VALUES
            {_JL_R_VALUES_SQL}
            ) AS t(p, rv)
        ),
        rl AS (
            SELECT p, i - 1 AS pos, rv[i] AS rj
            FROM r, UNNEST(range(1, len(rv) + 1)) AS t(i)
        ),
        proj AS (
            SELECT pts.vec_id, rl.p, CAST(SUM(rl.rj * pts.xi) AS BIGINT) AS y
            FROM pts JOIN rl USING (pos) GROUP BY pts.vec_id, rl.p
        ),
        qproj AS (SELECT vec_id AS qid, p, y AS qy FROM proj
                  WHERE vec_id < {_JL_NQ}),
        d2p AS (
            SELECT q.qid, c.vec_id AS cid,
                   CAST(SUM((c.y - q.qy) * (c.y - q.qy)) AS HUGEINT) AS d2p
            FROM proj c JOIN qproj q USING (p)
            WHERE c.vec_id > q.qid
            GROUP BY q.qid, c.vec_id
        ),
        qpts AS (SELECT vec_id AS qid, pos, xi AS qi FROM pts
                 WHERE vec_id < {_JL_NQ}),
        d2o AS (
            SELECT q.qid, c.vec_id AS cid,
                   CAST(SUM((c.xi - q.qi) * (c.xi - q.qi)) AS HUGEINT) AS d2o
            FROM pts c JOIN qpts q USING (pos)
            WHERE c.vec_id > q.qid
            GROUP BY q.qid, c.vec_id
        )
        SELECT CAST((d2p.d2p * {_DIM} * 10) // (d2o.d2o * {_JL_K}) AS BIGINT)
                   AS ratio_decile,
               COUNT(*) AS n_pairs
        FROM d2p JOIN d2o ON d2p.qid = d2o.qid AND d2p.cid = d2o.cid
        WHERE d2o.d2o > 0
        GROUP BY ratio_decile ORDER BY ratio_decile
    """,
    doc=f"Johnson–Lindenstrauss distance preservation under a Rademacher "
    f"(±1) projection to {_JL_K} dims — the dimensionality-reduction step "
    "that makes billion-vector similarity affordable, VALIDATED the way "
    "JL is stated: the histogram of (projected / original) squared-"
    "distance ratios (dimension-normalized, ×10, floor) over the "
    f"{_JL_NQ}-query × corpus pair set should concentrate around 10 "
    "(ratio 1). Everything is exact integer algebra: ±1 entries keep the "
    "projection a signed SUM of micro-quantized coordinates (no float "
    "matrix product), squared distances are exact BIGINTs, and the "
    "bucket floor-division runs 128-bit (HUGEINT / DECIMAL(38,0) — "
    "d2p·640 exceeds int64). Spark plan: the projection is ONE narrow "
    f"select ({_JL_K} zip_with dots against literal ±1 arrays — no "
    "shuffle, no join), and the bounded query side broadcasts; the "
    "histogram is one tiny groupBy. At 100 TB the same plan projects "
    "the corpus in a single scan.",
)
def emb_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # the _JL_NQ × corpus pair d2s come from one cogrouped integer kernel
    # (`_jl_pair_d2_kernel`); the decile / DECIMAL(38,0) tail and the
    # d2o > 0 filter stay in the JVM.
    n_groups = 16
    fixed = emb.select("vec_id", _to_fixed(F.col("embedding")).alias("xi_arr")).filter(
        # null-element vectors made every d2 involving them NULL (dropped
        # by d2o > 0); int64 ndarrays cannot hold NULL, so drop the rows
        # here — identical pair set.
        ~F.exists(F.col("xi_arr"), lambda x: x.isNull())
    )
    corpus = fixed.withColumn(
        "_g", F.pmod(F.hash(F.col("vec_id")), F.lit(n_groups))
    )
    queries = (
        fixed.filter(F.col("vec_id") < _JL_NQ)
        .crossJoin(
            F.broadcast(
                spark.range(n_groups).select(F.col("id").cast("int").alias("_g"))
            )
        )
        .select("_g", F.col("vec_id").alias("qid"), F.col("xi_arr").alias("q_xi"))
    )
    pairs = (
        corpus.groupBy("_g")
        .cogroup(queries.groupBy("_g"))
        .applyInPandas(_jl_pair_d2_kernel(), "d2p long, d2o long")
        .select(
            F.col("d2p").cast("decimal(38,0)").alias("d2p"),
            F.col("d2o").cast("decimal(38,0)").alias("d2o"),
        )
        .filter(F.col("d2o") > 0)
    )
    return (
        pairs.select(
            (
                (F.col("d2p") * _DIM * 10) / (F.col("d2o") * _JL_K)
            ).cast("long").alias("ratio_decile")
        )
        .groupBy("ratio_decile")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("ratio_decile")
    )
