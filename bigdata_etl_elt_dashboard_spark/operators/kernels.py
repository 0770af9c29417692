"""The Arrow/NumPy boundary of the corpus vector kernels.

Four kernels run inside ``applyInPandas``/``mapInPandas`` over array
columns: `near_dup_pairs`' block-pair scorer and `ann_lsh_topk`'s
signature kernel (``operators/similarity.py``), SemDeDup's max-cosine
kernel (``plans/corpus_spans.py``) and the Johnson–Lindenstrauss pair
distance kernel (``plans/similarity_gate.py``). Each receives a pandas
Series of vectors; this module holds what they share:

- `unpack`: the Series as ``{length: (ids, matrix)}``, NULL vectors
  skipped;
- `inorder_dot`: the coordinate-order multiply-add that makes a NumPy
  dot bit-identical to Spark's sequential fold;
- `KernelInputError`: the error for input outside a kernel's contract.

Call sites keep their own ``applyInPandas``/``mapInPandas`` call, schema
and grouping; a kernel with nothing to emit returns ``pd.DataFrame()``,
which grouped and cogrouped ``applyInPandas`` accept for any schema.
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark import cloudpickle


class KernelInputError(ValueError):
    """A vector kernel's input is outside its contract: names the column,
    the row id and the offending value."""

    def __init__(self, column: str, row_id, value, rule: str):
        super().__init__(f"column {column!r}, row {row_id}: {value!r} {rule}")


def unpack(vectors, ids, dtype=np.float64) -> dict:
    """``{length: (ids, matrix)}`` over a pandas Series of array values.

    Each non-NULL vector goes to the group of its length, in input
    order: ``ids`` (any sequence aligned with ``vectors``, returned as
    int64) and the ``(rows, length)`` matrix of ``dtype``. A NULL vector
    is skipped; a NULL element arrives from Arrow as NaN and stays NaN
    in a float matrix. Vectors of different lengths never share a
    matrix, so a kernel decides per length what a ragged row means."""
    groups: dict = {}
    for vid, vec in zip(ids, vectors):
        if vec is None:
            continue
        g_ids, rows = groups.setdefault(len(vec), ([], []))
        g_ids.append(vid)
        rows.append(vec)
    return {
        n: (
            np.asarray(g_ids, dtype=np.int64),
            np.array(rows, dtype=dtype).reshape(len(rows), n),
        )
        for n, (g_ids, rows) in groups.items()
    }


def inorder_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``Σ_k a[..., k]·b[..., k]`` over broadcast leading axes, summed in
    coordinate order: ``((0.0 + a₀b₀) + a₁b₁) + …``. The dot matrix of
    the rows of A and B is ``inorder_dot(A[:, None, :], B[None, :, :])``;
    the squared row norms of A are ``inorder_dot(A, A)``.

    Bit-exactness: Spark's array dot, ``aggregate(zip_with(a, b, (x, y)
    -> x * y), 0.0, (acc, t) -> acc + t)`` or the unrolled chain
    ``a[0] * b[0] + a[1] * b[1] + …``, is a left-associative fold over
    IEEE-754 doubles. Here every output element sees exactly the same
    multiply-then-add sequence: NumPy elementwise ufuncs perform one
    correctly-rounded operation per element, with no FMA contraction and
    no pairwise or reassociated reduction (only ``np.sum``/``np.dot``/
    ``@`` reorder), and the first ``0.0 + a₀b₀`` is exact in both. sqrt
    and a single division are correctly rounded in both runtimes, so a
    cosine built from these sums equals the JVM's bit for bit."""
    out = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for k in range(a.shape[-1]):
        out += a[..., k] * b[..., k]
    return out


# Ship this module's functions to Python workers by value, as the kernel
# closures that call them are: a worker then needs no import of this
# package, whatever the driver's working directory or PYTHONPATH.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
