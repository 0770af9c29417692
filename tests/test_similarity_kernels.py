"""Cost-shape pins for the similarity operators.

- the unrolled ``dot``/``norm`` is one parsed SQL expression whose
  optimized plan equals the Column-by-Column build it replaced;
- ``near_dup_pairs`` sizes its block grid from the session's parallelism,
  and its pair set does not depend on that size;
- ``dedup_embedding_cosine`` runs the Python kernel once per block-pair
  group per collect (the sort's range sample reads shuffle files);
- ``near_dup_pairs`` rejects non-integral ids by name;
- the shared vector-kernel boundary (``operators/kernels.py``): one
  unpack, one in-order dot, and `KernelInputError` for SemDeDup's short
  vectors and the JL kernel's int64 bound.
"""

from __future__ import annotations

import contextlib
import io
import math
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from bigdata_etl_elt_dashboard_spark.operators import similarity as S
from bigdata_etl_elt_dashboard_spark.operators.kernels import (
    KernelInputError,
    inorder_dot,
    unpack,
)
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


# ---------------------------------------------------------------------------
# the vector-kernel boundary: unpack, in-order dot, named input errors
# ---------------------------------------------------------------------------


def test_unpack_groups_by_length_and_skips_null_vectors():
    """NULL vectors are skipped, a NULL element stays NaN, and each length
    (the empty one included) gets its own matrix, rows in input order."""
    vecs = pd.Series(
        [np.array([1.0, 2.0]), None, np.array([3.0, np.nan]), np.array([]), np.array([4.0, 5.0, 6.0])]
    )
    got = unpack(vecs, [10, 11, 12, 13, 14])
    assert sorted(got) == [0, 2, 3]
    ids, m = got[2]
    assert ids.dtype == np.int64 and ids.tolist() == [10, 12]
    np.testing.assert_array_equal(m, [[1.0, 2.0], [3.0, np.nan]])
    assert got[0][0].tolist() == [13] and got[0][1].shape == (1, 0)
    ids, m = unpack(pd.Series([np.array([7, -8])]), [0], np.int64)[2]
    assert m.dtype == np.int64 and m.tolist() == [[7, -8]]


def test_inorder_dot_is_the_left_fold():
    """Bit for bit the sequential fold ((0.0 + a0*b0) + a1*b1) + ..., for the
    dot matrix and the squared norms alike."""
    rng = np.random.default_rng(7)
    a, b = rng.standard_normal((5, 64)), rng.standard_normal((3, 64))

    def fold(x, y):
        acc = 0.0
        for xi, yi in zip(x.tolist(), y.tolist()):
            acc = acc + xi * yi
        return acc

    c = inorder_dot(a[:, None, :], b[None, :, :])
    assert c.tolist() == [[fold(x, y) for y in b] for x in a]
    assert inorder_dot(a, a).tolist() == [fold(x, x) for x in a]


@pytest.mark.parametrize("label_of_short", [0, 5], ids=["with-neighbors", "alone"])
def test_semdedup_short_vector_raises_named_error(spark, label_of_short):
    """A vector shorter than EMBEDDING_DIM fails the query with the column
    and the row id named, whether or not it has a same-label neighbor;
    it is never silently left out of the prune set."""
    from bigdata_etl_elt_dashboard_spark.plans.corpus_spans import semdedup_prune

    rows = [(i % 2, i, [float((i * 3 + j) % 5 - 2) for j in range(64)]) for i in range(6)]
    rows.append((label_of_short, 7, [1.0, 2.0]))
    df = spark.createDataFrame(rows, "label int, vec_id long, embedding array<float>")
    with pytest.raises(PythonException, match=r"KernelInputError: column 'embedding', row 7: \[1\.0, 2\.0\]"):
        semdedup_prune(df).collect()


def test_jl_kernel_rejects_coordinates_past_the_int64_bound():
    """At the bound the int64 d2s equal exact integer arithmetic; one past
    it, on either cogroup side, raises instead of wrapping."""
    from bigdata_etl_elt_dashboard_spark.plans.similarity_gate import _JL_R, _jl_pair_d2_kernel

    r = np.asarray(_JL_R, dtype=np.int64)
    k, w = r.shape
    bound = math.isqrt((2**63 - 1) // (4 * k * w * w))
    kernel = _jl_pair_d2_kernel()

    def frames(m):
        x, q = m * r[0], -m * r[0]
        left = pd.DataFrame({"_g": [0], "vec_id": [5], "xi_arr": [x]})
        right = pd.DataFrame({"_g": [0], "qid": [1], "q_xi": [q]})
        return x, q, left, right

    x, q, left, right = frames(bound)
    out = kernel(left, right)
    yx, yq = [int(v) for v in r @ x], [int(v) for v in r @ q]
    assert out["d2p"].tolist() == [sum((a - b) ** 2 for a, b in zip(yx, yq))]
    assert out["d2o"].tolist() == [sum((int(a) - int(b)) ** 2 for a, b in zip(x, q))]

    _, _, left, right = frames(bound + 1)
    for side, column, row in ((0, "xi_arr", 5), (1, "q_xi", 1)):
        args = [frames(bound)[2], frames(bound)[3]]
        args[side] = (left, right)[side]
        with pytest.raises(KernelInputError, match=rf"column '{column}', row {row}: -?{bound + 1} "):
            kernel(*args)
