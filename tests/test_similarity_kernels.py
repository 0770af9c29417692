"""Cost-shape pins for the similarity operators.

- the unrolled ``dot``/``norm`` is one parsed SQL expression whose
  optimized plan equals the Column-by-Column build it replaced;
- ``near_dup_pairs`` sizes its block grid from the session's parallelism,
  and its pair set does not depend on that size;
- ``dedup_embedding_cosine`` runs the Python kernel once per block-pair
  group per collect (the sort's range sample reads shuffle files);
- ``near_dup_pairs`` rejects non-integral ids by name.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from bigdata_etl_elt_dashboard_spark.operators import similarity as S
from bigdata_etl_elt_dashboard_spark.plans import REGISTRY
from bigdata_etl_elt_dashboard_spark.sources.catalog import table


def _rows(df):
    return sorted(map(tuple, df.collect()), key=lambda t: tuple((x is None, x) for x in t))


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(df) -> str:
    return _plan(df).split("\n\n", 1)[0]


# ---------------------------------------------------------------------------
# one-parse unrolled dot/norm
# ---------------------------------------------------------------------------


def _column_loop_dot(a, b, dim=None, _hof=S.dot):
    """The unrolled dot as it was built before: one Column call per term."""
    if dim is None:
        return _hof(a, b)
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    expr = a[0] * b[0]
    for i in range(1, dim):
        expr = expr + a[i] * b[i]
    return expr


def _normalized_plan(df) -> str:
    """Optimized logical plan with expression ids and the fresh names
    minted per build (lambda variables ``x_12``, ``_common_expr_3``) made
    neutral."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    return re.sub(r"\b(x|y|acc|s|_common_expr)_\d+\b", r"\1_", plan)


@pytest.mark.parametrize(
    "query", ["sim_topk_cosine", "sim_threshold_pairs", "sim_ivf_topk", "sim_ann_lsh"]
)
def test_unrolled_dot_plan_equals_column_loop(spark, sf_smoke, monkeypatch, query):
    new = REGISTRY[query].fn(spark, sf_smoke)
    new_plan, new_rows = _normalized_plan(new), _rows(new)
    monkeypatch.setattr(S, "dot", _column_loop_dot)
    old = REGISTRY[query].fn(spark, sf_smoke)
    assert "[63]" in new_plan, "the unrolled form is not in the plan"
    assert _normalized_plan(old) == new_plan
    assert _rows(old) == new_rows


def test_unrolled_dot_quotes_any_column_name(spark):
    """A name is one identifier, whatever it holds: a space, a dot or a
    backtick must not re-parse it into another column or a field access."""
    names = ["my vec", "a.b", "we`ird", "`q`"]
    quoted = ["`my vec`", "`a.b`", "`we``ird`", "```q```"]
    row = [[float(i + k) for i in range(4)] for k in range(len(names))]
    df = spark.createDataFrame([row], ", ".join(f"{q} array<double>" for q in quoted))
    got = df.select(
        *[S.dot(n, names[0], 4).alias(f"d{k}") for k, n in enumerate(names)],
        S.norm(names[2], 4).alias("n"),
    ).first()
    want = df.select(
        *[S.dot(F.col(q), F.col(quoted[0])).alias(f"d{k}") for k, q in enumerate(quoted)],
        S.norm(F.col(quoted[2])).alias("n"),
    ).first()
    assert tuple(got) == tuple(want)


def test_unrolled_dot_rejects_columns():
    """The unrolled form is SQL text built from names; a Column (which may
    be any expression) fails by name instead of being stringified."""
    with pytest.raises(TypeError, match="column names"):
        S.dot(F.col("a"), "b", 4)
    with pytest.raises(TypeError, match="column names"):
        S.norm(F.col("a") + 1, 4)


# ---------------------------------------------------------------------------
# near_dup_pairs: block count, kernel calls, stage boundary, id contract
# ---------------------------------------------------------------------------


def test_block_count_rule():
    """Smallest B with B(B+1)/2 >= parallelism."""
    assert [S._n_blocks(p) for p in (1, 4, 32)] == [1, 3, 8]
    for p in range(1, 300):
        b = S._n_blocks(p)
        assert b * (b + 1) // 2 >= p > (b - 1) * b // 2


@pytest.mark.parametrize("n_blocks", [1, 2, 7])
def test_near_dup_pairs_independent_of_block_count(spark, monkeypatch, n_blocks):
    """The kernel scores each pair bit-exactly wherever it meets, so the
    pair set and its cosines are the same for every block count."""
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(40)]
    rows += [(100, [0.0] * 8), (102, [1.0] * 4), (103, [1.0] * 4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = _rows(S.near_dup_pairs(df, min_sim=-1.0))
    monkeypatch.setattr(S, "_n_blocks", lambda parallelism: n_blocks)
    assert _rows(S.near_dup_pairs(df, min_sim=-1.0)) == want


def test_dedup_embedding_cosine_runs_each_kernel_group_once(spark, sf_smoke, monkeypatch):
    """One collect calls the Python kernel at most once per block-pair
    group: B(B+1)/2. Without the stage boundary under the sort, the range
    partitioner's sample job re-ran every group (272 calls at 16 blocks)."""
    calls = spark.sparkContext.accumulator(0)
    scorer = S._block_pair_scorer

    def counted(min_sim):
        score = scorer(min_sim)

        def run(left, right):
            calls.add(1)
            return score(left, right)

        return run

    monkeypatch.setattr(S, "_block_pair_scorer", counted)
    rows = REGISTRY["dedup_embedding_cosine"].fn(spark, sf_smoke).collect()
    b = S._n_blocks(spark.sparkContext.defaultParallelism)
    assert rows and 0 < calls.value <= b * (b + 1) // 2


def test_stage_boundary_sits_at_the_sorting_query(spark, sf_smoke):
    """near_dup_pairs itself has only the two cogroup shuffles; the hash
    exchange on doc_a belongs to dedup_embedding_cosine, so the other
    caller, dedup_method_agreement, keeps its exchange count (11, as in
    PLANS.md)."""
    emb = table(spark, sf_smoke, "embeddings")
    assert _tree(S.near_dup_pairs(emb, min_sim=0.4)).count("Exchange") == 2
    plan = _plan(REGISTRY["dedup_embedding_cosine"].fn(spark, sf_smoke))
    assert "hashpartitioning(doc_a" in plan
    assert plan.split("\n\n", 1)[0].count("Exchange") == 4
    assert _tree(REGISTRY["dedup_method_agreement"].fn(spark, sf_smoke)).count("Exchange") == 11


def test_near_dup_pairs_rejects_non_integral_ids(spark):
    """String ids fail at the operator boundary with the column and its
    type named, instead of an ANSI cast error deep in the job (or a quiet
    narrowing); int ids still work and come out as long."""
    vecs = [[1.0, 0.0], [1.0, 0.1], [0.0, 1.0]]
    strs = spark.createDataFrame(
        [(f"d{i}", v) for i, v in enumerate(vecs)], "doc_key string, embedding array<float>"
    )
    with pytest.raises(TypeError, match=r"'doc_key' is string"):
        S.near_dup_pairs(strs, min_sim=0.5, id_col="doc_key")
    ints = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<float>"
    )
    out = S.near_dup_pairs(ints, min_sim=0.5)
    assert out.schema["doc_a"].dataType.simpleString() == "bigint"
    assert [r[:2] for r in _rows(out)] == [(0, 1)]
