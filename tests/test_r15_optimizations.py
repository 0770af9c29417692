"""Round-15 optimization equivalence twins + plan-shape pins.

The r15 kernel rewrites moved per-pair JVM HOF arithmetic into cogrouped
Arrow/NumPy block kernels (guide §4.2). Each test pins one of the two
halves: the optimized form still equals the pre-r15 formulation
ROW-FOR-ROW (bit-exact — these queries are hash-gated by the oracle), and
the plan property the optimization bought stays bought (the Arrow cogroup
stage exists; the pair stream no longer carries a per-pair fold).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from bigdata_etl_elt_dashboard_spark.plans import REGISTRY
from bigdata_etl_elt_dashboard_spark.sources.catalog import table


def _rows(df):
    # None-tolerant total order (the null-label edge corpus sorts too)
    return sorted(
        map(tuple, df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# near_dup_pairs: cogrouped NumPy block-matrix kernel (r15)
# ---------------------------------------------------------------------------


def _pre_r15_near_dup_pairs(corpus, min_sim):
    """The r14-era blocked equi-join + HOF-fold formulation, reconstructed
    inline (operators/similarity.py@r14). The r15 kernel must reproduce it
    bit-for-bit: the NumPy accumulation performs the same IEEE ops in the
    same order (see operators.kernels.inorder_dot)."""
    from bigdata_etl_elt_dashboard_spark.operators.similarity import (
        _as_double,
        _fan_out,
        dot,
        norm,
    )

    n_blocks = 16
    keys = [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j]

    def side(id_alias, vec_alias, norm_alias, key_exprs):
        return (
            _fan_out(corpus)
            .select(
                F.col("vec_id").alias(id_alias),
                _as_double(F.col("embedding")).alias(vec_alias),
                F.pmod(F.hash(F.col("vec_id")), F.lit(n_blocks)).alias("_blk"),
            )
            .withColumn(norm_alias, norm(F.col(vec_alias)))
            .withColumn("_k", F.explode(key_exprs))
            .select(
                id_alias, vec_alias, norm_alias, "_blk",
                F.col("_k.i").alias("_ki"), F.col("_k.j").alias("_kj"),
            )
        )

    pair_structs = F.array(
        *[F.struct(F.lit(i).alias("i"), F.lit(j).alias("j")) for i, j in keys]
    )
    left_keys = F.filter(pair_structs, lambda s: s["i"] == F.col("_blk"))
    right_keys = F.filter(pair_structs, lambda s: s["j"] == F.col("_blk"))
    a = side("doc_a", "_va", "_na", left_keys)
    b = side("doc_b", "_vb", "_nb", right_keys).drop("_blk")
    return (
        a.join(b, ["_ki", "_kj"])
        .filter(
            (F.col("_ki") != F.col("_kj")) | (F.col("doc_a") < F.col("doc_b"))
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / F.nullif(F.col("_na") * F.col("_nb"), F.lit(0.0)),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= F.lit(min_sim))
    )


def test_near_dup_pairs_equals_pre_r15_form(spark, sf_smoke):
    """Bit-exact equivalence of the NumPy kernel vs the JVM HOF fold on the
    real corpus — including the float cosine values (tuple equality compares
    the doubles exactly; the oracle gate hashes them)."""
    emb = table(spark, sf_smoke, "embeddings")
    for min_sim in (0.4, -1.0):
        old = _rows(_pre_r15_near_dup_pairs(emb, min_sim))
        new = _rows(
            REGISTRY["dedup_embedding_cosine"].fn(spark, sf_smoke)
            if min_sim == 0.4
            else __import__(
                "bigdata_etl_elt_dashboard_spark.operators.similarity",
                fromlist=["near_dup_pairs"],
            ).near_dup_pairs(emb, min_sim=min_sim)
        )
        assert old == new, f"kernel diverged from HOF form at min_sim={min_sim}"


def test_near_dup_pairs_edge_semantics(spark):
    """Zero-norm vectors drop (the nullif guard), ragged lengths drop (the
    zip_with NULL-pad), duplicate values dedupe per the a<b contract —
    the edge classes the variant corpus exercises."""
    from bigdata_etl_elt_dashboard_spark.operators.similarity import near_dup_pairs

    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(30)]
    rows += [(100, [0.0] * 8), (101, [0.0] * 8)]  # zero-norm: must drop
    rows += [(102, [1.0] * 4), (103, [1.0] * 4)]  # ragged island: pairs only inside
    rows += [(104, [])]  # empty: drops
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = _rows(near_dup_pairs(df, min_sim=-1.0))
    want = _rows(_pre_r15_near_dup_pairs(df, -1.0))
    assert got == want
    ids_in_pairs = {r[0] for r in got} | {r[1] for r in got}
    assert 100 not in ids_in_pairs and 101 not in ids_in_pairs
    assert (102, 103, 1.0) in got


def test_near_dup_pairs_plan_is_arrow_cogroup(spark, sf_smoke):
    """The pair scoring must run in ONE Arrow cogroup stage: the plan
    carries FlatMapCoGroupsInPandas and the 2M-pair JVM projection with its
    per-pair aggregate fold is gone (no zip_with in the final plan)."""
    df = REGISTRY["dedup_embedding_cosine"].fn(spark, sf_smoke)
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, "Arrow cogroup stage missing"
    assert "zip_with" not in plan, (
        "per-pair HOF dot back in the plan — the r15 kernel was bypassed"
    )


# ---------------------------------------------------------------------------
# emb_jl_projection_distortion: integer-exact NumPy kernel (r15)
# ---------------------------------------------------------------------------


def _pre_r15_jl(spark, sf_dir):
    """The r14-era broadcast-join + per-pair HOF integer folds."""
    from bigdata_etl_elt_dashboard_spark.plans.similarity_gate import (
        _DIM,
        _JL_K,
        _JL_NQ,
        _JL_R,
        _to_fixed,
    )

    emb = table(spark, sf_dir, "embeddings")
    fixed = emb.select("vec_id", _to_fixed(F.col("embedding")).alias("xi_arr"))
    dots = ", ".join(
        "aggregate(zip_with(xi_arr, array("
        + ", ".join(f"{v}L" for v in _JL_R[p])
        + "), (a, b) -> a * b), 0L, (s, v) -> s + v)"
        for p in range(_JL_K)
    )
    proj = fixed.select("vec_id", "xi_arr", F.expr(f"array({dots})").alias("yarr"))
    q = proj.select(
        F.col("vec_id").alias("qid"),
        F.col("xi_arr").alias("q_xi"),
        F.col("yarr").alias("q_y"),
    ).filter(F.col("qid") < _JL_NQ)
    d2 = "aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)), 0L, (s, v) -> s + v)"
    pairs = (
        proj.join(F.broadcast(q), F.col("vec_id") > F.col("qid"))
        .select(
            F.expr(d2.format(a="yarr", b="q_y")).cast("decimal(38,0)").alias("d2p"),
            F.expr(d2.format(a="xi_arr", b="q_xi")).cast("decimal(38,0)").alias("d2o"),
        )
        .filter(F.col("d2o") > 0)
    )
    return (
        pairs.select(
            ((F.col("d2p") * _DIM * 10) / (F.col("d2o") * _JL_K))
            .cast("long")
            .alias("ratio_decile")
        )
        .groupBy("ratio_decile")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("ratio_decile")
    )


def test_jl_distortion_equals_pre_r15_form(spark, sf_smoke):
    """Integer algebra end to end: the NumPy kernel's sums are exactly the
    JVM folds' values regardless of accumulation order."""
    old = _rows(_pre_r15_jl(spark, sf_smoke))
    new = _rows(REGISTRY["emb_jl_projection_distortion"].fn(spark, sf_smoke))
    assert old == new


def test_jl_distortion_plan_is_arrow_cogroup(spark, sf_smoke):
    """The pair d2s must come from the Arrow cogroup stage; the 36-fold
    per-pair zip_with chain must be gone from the final plan."""
    df = REGISTRY["emb_jl_projection_distortion"].fn(spark, sf_smoke)
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, "Arrow cogroup stage missing"
    assert "zip_with" not in plan, "per-pair HOF d2 back in the plan"


# ---------------------------------------------------------------------------
# dedup_semdedup_prune: label-grouped NumPy max-cosine kernel (r15)
# ---------------------------------------------------------------------------


def _pre_r15_semdedup(emb):
    """The r14-era label-keyed pair join with the unrolled codegen dot."""
    from bigdata_etl_elt_dashboard_spark.operators import similarity as S
    from bigdata_etl_elt_dashboard_spark.plans.corpus_spans import _SEM_TAU

    v = S._fan_out(emb).select(
        "label", "vec_id", S._as_double(F.col("embedding")).alias("ve")
    )
    v = v.withColumn("_nrm", S.norm("ve", S.EMBEDDING_DIM))
    a = v.select(
        F.col("label"), F.col("vec_id").alias("_aid"),
        F.col("ve").alias("_ave"), F.col("_nrm").alias("_an"),
    )
    b = v.select(
        F.col("label"), F.col("vec_id").alias("_bid"),
        F.col("ve").alias("_bve"), F.col("_nrm").alias("_bn"),
    )
    cos = F.round(
        S.dot("_ave", "_bve", S.EMBEDDING_DIM)
        / F.nullif(F.col("_an") * F.col("_bn"), F.lit(0.0)),
        6,
    )
    removed = (
        a.join(b, (a.label == b.label) & (F.col("_bid") < F.col("_aid")))
        .select(a.label, F.col("_aid"), cos.alias("_cos"))
        .filter(F.col("_cos") >= _SEM_TAU)
        .select("label", F.col("_aid").alias("vec_id"))
        .distinct()
    )
    n = emb.groupBy("label").agg(F.count("*").alias("n_vecs"))
    r = removed.groupBy("label").agg(F.count("*").alias("n_removed"))
    return (
        n.join(r, "label", "left")
        .select(
            "label", "n_vecs",
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
            (F.col("n_vecs") - F.coalesce(F.col("n_removed"), F.lit(0))).alias("n_kept"),
        )
        .orderBy("label")
    )


def test_semdedup_equals_pre_r15_form(spark, sf_smoke):
    """The max-cosine kernel + JVM round/threshold must reproduce the
    pair-join EXISTS exactly (round is monotone, so round(max) >= tau
    decides the same set)."""
    emb = table(spark, sf_smoke, "embeddings")
    old = _rows(_pre_r15_semdedup(emb))
    new = _rows(REGISTRY["dedup_semdedup_prune"].fn(spark, sf_smoke))
    assert old == new


def test_semdedup_zero_norm_and_null_label_semantics(spark):
    """Zero-norm vectors never prune (the nullif guard made those pairs
    NULL) and NULL labels never pair (the equi-join was NULL-rejecting) —
    the two variant-corpus classes."""
    rows = [(i % 3, i, [float((i * 13 + j) % 7 - 3) for j in range(64)]) for i in range(60)]
    rows += [(0, 100, [0.0] * 64), (0, 101, [0.0] * 64)]  # zero-norm
    rows += [(None, 102, [1.0] * 64), (None, 103, [1.0] * 64)]  # null label
    df = spark.createDataFrame(rows, "label int, vec_id long, embedding array<float>")
    old = _rows(_pre_r15_semdedup(df))
    from bigdata_etl_elt_dashboard_spark.plans.corpus_spans import semdedup_prune

    new = _rows(semdedup_prune(df))
    assert old == new


def test_semdedup_plan_is_grouped_arrow_kernel(spark, sf_smoke):
    df = REGISTRY["dedup_semdedup_prune"].fn(spark, sf_smoke)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "zip_with" not in plan


# ---------------------------------------------------------------------------
# ann_lsh_topk: NumPy signature kernel (r15)
# ---------------------------------------------------------------------------


def test_ann_lsh_signatures_equal_hof_form(spark):
    """The Arrow signature kernel must reproduce the crossJoin+HOF-dot
    signatures bit-for-bit, including the NULL-dot → 0-bit and
    ragged/NULL-vector → all-zero-signature semantics."""
    from bigdata_etl_elt_dashboard_spark.operators import similarity as S

    n_tables, ppt, dim = 16, 6, 64
    all_planes = S._hyperplanes(dim, n_tables * ppt)
    rows = [(i, [float((i * 5 + j) % 9 - 4) for j in range(dim)]) for i in range(25)]
    rows += [(90, None), (91, [None] * dim), (92, [1.0] * 32), (93, [0.0] * dim)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v = df.select(
        F.col("vec_id").alias("neighbor_id"),
        S._as_double(F.col("embedding")).alias("_v"),
    )
    planes_df = spark.createDataFrame(
        [
            (t, b, all_planes[t * ppt + b])
            for t in range(n_tables)
            for b in range(ppt)
        ],
        "table_id int, bit int, plane array<double>",
    )
    old = _rows(
        v.crossJoin(F.broadcast(planes_df))
        .select(
            "neighbor_id",
            "table_id",
            F.when(
                S.dot(F.col("_v"), F.col("plane")) >= 0,
                F.expr("shiftleft(1L, bit)"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("bitval"),
        )
        .groupBy("neighbor_id", "table_id")
        .agg(F.sum("bitval").alias("sig"))
    )
    new = _rows(
        v.select("neighbor_id", "_v")
        .mapInPandas(
            S._lsh_sig_kernel(all_planes, ppt, "neighbor_id"),
            "neighbor_id long, table_id int, sig long",
        )
        .groupBy("neighbor_id", "table_id")
        .agg(F.sum("sig").alias("sig"))
    )
    assert old == new


def test_sim_ann_lsh_plan_has_arrow_signatures(spark, sf_smoke):
    df = REGISTRY["sim_ann_lsh"].fn(spark, sf_smoke)
    plan = _plan(df)
    assert "MapInPandas" in plan, "Arrow signature kernel missing"
