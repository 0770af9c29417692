"""Similarity search over embedding columns (BASELINE.json north star).

The `embeddings` table carries `embedding array<float>`. Two paths:

- **Brute-force top-k** (baseline, exact): broadcast the (small) query set,
  one narrow pass over the corpus computing cosine via higher-order array
  functions (zip_with + aggregate — JVM-side, no Python), then per-query
  top-k with a window. Cost: O(corpus × queries × dim) FLOPs, zero shuffle
  on the corpus side until the final tiny top-k.
- **LSH-bucketed ANN** (scale path): random-hyperplane signatures → only
  same-bucket pairs are scored. Hyperplanes are a deterministic seeded
  matrix broadcast as literals; at 100 TB the candidate join is keyed on
  the signature, exactly like MinHash banding.

Everything stays in array<double> once cast — float math differs between
engines and between SIMD paths, so we standardize on double.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.types import IntegralType

from .kernels import inorder_dot, unpack


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


#: width of the `embeddings.embedding` column; lets the kernels emit the
#: unrolled codegen form (see `dot`). Pass dim=None for unknown-width input.
EMBEDDING_DIM = 64


def _quoted(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier: the whole string is
    the column name, so spaces, dots and backticks cannot re-parse it."""
    if not isinstance(name, str):
        raise TypeError(
            "the unrolled dot/norm (dim given) is SQL text and takes column "
            f"names, not {type(name).__name__}"
        )
    return "`" + name.replace("`", "``") + "`"


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Σ aᵢ·bᵢ, sequential array-order summation — deterministic and
    oracle-reproducible; both forms sum in identical left-associative
    order (0.0 + t is exact), so they hash-match each other.

    With ``dim`` given, ``a`` and ``b`` are column names and the sum is
    UNROLLED into a flat chain ``a[0] * b[0] + a[1] * b[1] + …``, parsed
    from one SQL string: Catalyst gets the same tree a Column-by-Column
    build gives, without one Python-to-JVM call per term (a 64-dim
    cosine is ~9k of them). Which form is faster depends on the
    consumer: in small, bounded projections the unrolled chain compiles
    into one whole-stage-codegen span and wins; in a wide pair-join
    projection the oversized generated method falls back to
    interpretation and the higher-order ``aggregate`` form (dim=None,
    any Column) is ~10× faster. Unrolled, every array must have ``dim``
    elements."""
    if dim is not None:
        qa, qb = _quoted(a), _quoted(b)
        return F.expr(" + ".join(f"{qa}[{i}] * {qb}[{i}]" for i in range(dim)))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str, dim: int | None = None) -> Column:
    if dim is not None:
        return F.sqrt(dot(a, a, dim))
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    return dot(a, b, dim) / F.nullif(norm(a, dim) * norm(b, dim), F.lit(0.0))


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread the compute-heavy side across all cores. The corpus arrives
    from a compact parquet scan — at small SF a single input split — but
    the per-row work downstream (signatures, O(n) pair fan-out) is quadratic
    in value, so one input partition serializes the whole kernel. One tiny
    round-robin shuffle of n rows buys full parallelism over n² work."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.

    ``queries`` is broadcast; the corpus is scanned once (narrow). The
    window's partition count equals the number of queries — small — so the
    final rank shuffle is negligible. Self-matches are excluded."""
    # norms are projected per ROW before the join; the join-stage projection
    # then holds a single unrolled dot — three inlined dots make the BNLJ's
    # generated method too large to compile (Janino bails, Spark interprets)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
    ).withColumn("_nq", norm("q_vec", EMBEDDING_DIM))
    c = _fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
    ).withColumn("_nc", norm("c_vec", EMBEDDING_DIM))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("q_vec", "c_vec", EMBEDDING_DIM)
                / F.nullif(F.col("_nq") * F.col("_nc"), F.lit(0.0)),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def threshold_cosine_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    min_sim: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (query, neighbor) pairs with cosine ≥ min_sim — the
    embedding-cosine near-dup primitive (no rank cutoff → no tie hazard)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
    ).withColumn("_nq", norm("q_vec", EMBEDDING_DIM))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
    ).withColumn("_nc", norm("c_vec", EMBEDDING_DIM))
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("q_vec", "c_vec", EMBEDDING_DIM)
                / F.nullif(F.col("_nq") * F.col("_nc"), F.lit(0.0)),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= F.lit(min_sim))
    )


def _block_pair_scorer(min_sim: float):
    """Cogrouped NumPy scorer for one (block_i, block_j) pair: the Arrow
    block-matrix form of the per-pair JVM HOF dot, bit-exact with it
    (`kernels.inorder_dot`). Rounding and the ≥ min_sim filter stay in
    the JVM (Spark's HALF_UP `round` and its NaN-greatest comparison are
    NOT replicated here): the kernel emits RAW cosines for a strict
    superset — everything with cos ≥ min_sim − 1e-6 (round(·, 6) moves a
    value by < 5e-7) plus any NaN (Spark treats NaN as the largest
    double, so the JVM filter must decide those).

    Semantics preserved per pair class:
    - same-block groups (ki == kj): both replicas hold the same rows;
      keep id_a < id_b (the join met each pair twice, filtered likewise);
    - cross-block groups: every unordered pair meets exactly once; keep
      id_a != id_b and canonicalize via min/max (cosine is bit-symmetric:
      commutative per-element products, same summation order);
    - zero-norm vectors: denom == 0.0 → the JVM form's nullif made the
      cosine NULL (dropped); the kernel drops them likewise;
    - vectors of differing lengths: zip_with pads the shorter with NULL →
      NULL dot → dropped; the kernel scores only same-length combos.
    """

    def score(left, right):
        if not len(left) or not len(right):
            return pd.DataFrame()
        same_block = bool(left["_ki"].iat[0] == left["_kj"].iat[0])
        la, ra = unpack(left["_v"], left["_id"]), unpack(right["_v"], right["_id"])
        out_a, out_b, out_c = [], [], []
        for ln, (ids_a, A) in la.items():
            if ln not in ra:
                continue
            ids_b, B = ra[ln]
            C = inorder_dot(A[:, None, :], B[None, :, :])
            denom = np.sqrt(inorder_dot(A, A))[:, None] * np.sqrt(inorder_dot(B, B))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = C / denom
            ia = ids_a[:, None]
            ib = ids_b[None, :]
            pair_ok = (ia < ib) if same_block else (ia != ib)
            keep = (
                pair_ok
                & (denom != 0.0)  # nullif guard: zero norms drop
                & (np.isnan(cos) | (cos >= min_sim - 1e-6))
            )
            ii, jj = np.nonzero(keep)
            if len(ii):
                da, db = ids_a[ii], ids_b[jj]
                out_a.append(np.minimum(da, db))
                out_b.append(np.maximum(da, db))
                out_c.append(cos[ii, jj])
        if not out_a:
            return pd.DataFrame()
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a),
                "doc_b": np.concatenate(out_b),
                "_raw": np.concatenate(out_c),
            }
        )

    return score


def _n_blocks(parallelism: int) -> int:
    """Block count for `near_dup_pairs`: the smallest B whose B(B+1)/2
    block-pair groups fill ``parallelism`` task slots (1 → 1, 4 → 3,
    32 → 8)."""
    b = 1
    while b * (b + 1) // 2 < parallelism:
        b += 1
    return b


def near_dup_pairs(
    corpus: DataFrame,
    min_sim: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs embedding-cosine near-dup: every (a, b) with a < b
    and cosine ≥ min_sim, over the WHOLE corpus (not a query subset).
    ``id_col`` must be integral; the output ids ``doc_a``/``doc_b`` are
    ``long``. Any other id type raises ``TypeError``.

    Shape: BLOCKED pair enumeration, never a nested loop. Each vector
    lands in one of B hash blocks; the left replica carries keys
    (own_block, j) for j in own_block..B-1, the right replica (i,
    own_block) for i in 0..own_block, so every unordered block pair meets
    on exactly one (i, j) key. B is the smallest count whose B(B+1)/2
    groups fill the session's default parallelism (`_n_blocks`): each
    group is one call of the Python kernel, and past one group per core
    more groups add per-call and per-task overhead, not parallelism. The
    pair set does not depend on B, because the kernel scores each pair
    bit-exactly wherever it meets.

    The scoring is a cogrouped Arrow/NumPy block-matrix kernel
    (`_block_pair_scorer`): one multiply-add sweep per dimension over
    whole block matrices, bit-identical to the sequential ``aggregate``
    fold. The JVM keeps the round(·, 6) + threshold filter, so
    NULL/NaN/rounding semantics are Spark's.

    A caller that sorts the result should put a stage boundary (a hash
    exchange) between this and its ``orderBy``. The sort's range
    partitioner draws its bounds from a sample job over the sort's input;
    with no shuffle in between, that input is the kernel stage itself, so
    every group ran twice per collect. With the boundary AQE materializes
    the kernel output once and the sample reads shuffle files (see
    ``dedup_embedding_cosine``). The boundary belongs at the sorting
    query, not here: a caller that joins or aggregates the pairs would
    only gain an exchange."""
    id_type = corpus.select(id_col).schema[0].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            f"near_dup_pairs: id column {id_col!r} is {id_type.simpleString()}; "
            "it must be an integral type (the pair ids are emitted as long)"
        )
    n_blocks = _n_blocks(corpus.sparkSession.sparkContext.defaultParallelism)

    # null-element vectors: the HOF dot made every pair involving one NULL
    # (zip_with product NULL → fold NULL → filter drops); np.float64 cannot
    # hold NULL, so drop those rows before the kernel — same pair set.
    base = corpus.select(
        F.col(id_col).cast("long").alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("_blk"),
    ).filter(~F.exists(F.col("_v"), lambda x: x.isNull()))

    def side(ki, kj):
        # every output column is re-ALIASED so each side() call mints fresh
        # attribute ids: left and right both derive from `base`, and a
        # self-cogroup whose sides share ids breaks under column pruning —
        # the analyzer dedups the right child's ids, the Python-side UDF
        # references (captured before dedup) then all resolve to the LEFT,
        # and an enclosing count()/agg prunes the right side down to its
        # grouping keys (observed: right pdf = [_ki, _kj] only).
        return base.select(
            ki.alias("_ki"),
            kj.alias("_kj"),
            F.col("_id").alias("_id"),
            F.col("_v").alias("_v"),
        )

    blk = F.col("_blk")
    scored = (
        side(blk, F.explode(F.sequence(blk, F.lit(n_blocks - 1))))
        .groupBy("_ki", "_kj")
        .cogroup(
            side(F.explode(F.sequence(F.lit(0), blk)), blk).groupBy("_ki", "_kj")
        )
        .applyInPandas(
            _block_pair_scorer(min_sim), "doc_a long, doc_b long, _raw double"
        )
    )
    return scored.select(
        "doc_a",
        "doc_b",
        F.round(F.col("_raw"), 6).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= F.lit(min_sim))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via IVF-flat: a coarse quantizer of ``n_cells``
    centroids partitions the corpus into inverted lists; each query probes
    its ``nprobe`` nearest cells and scores only those lists.

    Centroids are the ``n_cells`` lowest-id corpus vectors (deterministic,
    no trained k-means — the container has no MLlib fit here and the cell
    assignment math is what matters). They are collected once driver-side
    (tiny, like the reference's driver-computed stats) and injected as plan
    literals, so cell assignment is a narrow JVM-side pass. The candidate
    join is an equi-join on cell id — the inverted-list shape that survives
    scale; expected FLOPs drop by ~n_cells/nprobe vs brute force."""
    cent_rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    centroids = [[float(x) for x in r[vec_col]] for r in cent_rows]

    def probed_cells(vec: Column, n_best: int) -> Column:
        # struct array sorts ascending by (sim, -cell): reversing yields
        # descending sim with smaller cell winning ties — deterministic.
        sims = F.array(
            *[
                F.struct(
                    F.round(cosine(vec, F.array(*[F.lit(v) for v in c])), 9).alias("sim"),
                    F.lit(-i).alias("negcell"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        top = F.slice(F.reverse(F.array_sort(sims)), 1, n_best)
        return F.transform(top, lambda s: -s.negcell)

    c = _fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
    ).withColumn("cell", probed_cells(F.col("c_vec"), 1)[0])
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
    ).select("query_id", "q_vec", F.explode(probed_cells(F.col("q_vec"), nprobe)).alias("cell"))

    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("q_vec", "c_vec", EMBEDDING_DIM), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded LCG, no numpy import
    needed at executor side — these become plan literals)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to [-1, 1)
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit b = sign(vec · plane_b) packed into
    a long. Planes are array literals — the dot products are higher-order
    expressions over broadcast constants."""
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        # interpreted dot on purpose: 16 tables x 6 planes x 64 unrolled terms
        # builds a ~6k-node expression tree that Catalyst/codegen churns into
        # an OOM; the per-row signature cost is linear and fan-out parallelizes it
        sig = sig + F.when(dot(vec, p) >= 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def _lsh_sig_kernel(planes: list[list[float]], planes_per_table: int, id_name: str):
    """mapInPandas signature kernel: per input vector, the sign-bit
    signature of every hash table in one NumPy sweep.

    Exactness mirrors the JVM HOF form bit-for-bit where it matters:
    - each dot accumulates in coordinate order (`kernels.inorder_dot`),
      and ``-0.0 >= 0`` is true in both runtimes, so every sign bit
      matches;
    - a NULL element made the JVM dot NULL → ``when(dot >= 0, …)`` fell
      to the 0-bit; NULLs arrive here as NaN, and ``NaN >= 0`` is False
      in NumPy → same 0-bit;
    - a NULL vector, or one whose length differs from the plane width,
      zip_with-padded to NULL dots → all-zero signature; the kernel
      scores only the plane-width group and leaves every other row's
      bits zero."""

    def compute(it):
        P = np.asarray(planes, dtype=np.float64)
        n_tables = P.shape[0] // planes_per_table
        weights = (1 << np.arange(planes_per_table)).astype(np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_name].to_numpy()
            n = len(ids)
            bits = np.zeros((n, P.shape[0]), dtype=bool)
            rows = unpack(pdf["_v"], np.arange(n)).get(P.shape[1])
            if rows is not None:
                pos, V = rows
                # NaN → False: the JVM NULL-dot 0-bit
                bits[pos] = inorder_dot(V[:, None, :], P[None, :, :]) >= 0
            frames = {
                id_name: np.tile(ids, n_tables),
                "table_id": np.repeat(
                    np.arange(n_tables, dtype=np.int32), n
                ),
                "sig": np.concatenate(
                    [
                        (
                            bits[:, t * planes_per_table : (t + 1) * planes_per_table]
                            * weights
                        ).sum(axis=1)
                        for t in range(n_tables)
                    ]
                ).astype("int64"),
            }
            yield pd.DataFrame(frames)

    return compute


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 16,
    planes_per_table: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH.

    Each of the ``n_tables`` hash tables buckets vectors by a
    ``planes_per_table``-bit sign signature; candidates are vectors sharing
    a bucket in ANY table (union via the exploded (table_id, sig) join).
    For neighbors at angle θ, per-table match probability is (1−θ/π)^b —
    multiple coarse tables trade a few extra signature bits per vector for
    recall, while keeping the candidate join an equi-join on
    (table_id, sig): the plan shape that survives a 100×-bigger corpus
    (bucket join, never a cross product)."""
    from .scale import pin

    all_planes = _hyperplanes(dim, n_tables * planes_per_table)
    # the planes ride as a NumPy constant inside the signature kernel
    # (`_lsh_sig_kernel`): no plan nodes, one vectorized sweep per batch.
    base = (
        _fan_out(corpus)
        .select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_v"))
        .transform(pin)  # scan-budget: signature kernel and re-attach share one scan
    )

    def with_sigs(v, id_alias):
        # all n_tables signatures per vector from one kernel sweep; the
        # id-keyed groupBy-sum reproduces the per-plane bit aggregation
        # exactly (duplicate ids sum) over n_tables rows per vector.
        raw = v.select(id_alias, "_v").mapInPandas(
            _lsh_sig_kernel(all_planes, planes_per_table, id_alias),
            f"{id_alias} long, table_id int, sig long",
        )
        return raw.groupBy(id_alias, "table_id").agg(
            F.sum("sig").alias("sig")  # exact integer OR-as-sum
        )

    q = with_sigs(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("_v")
        ),
        "query_id",
    )
    c = with_sigs(base, "neighbor_id")
    # candidate union across tables carries ONLY the id pair — vectors are
    # 64 doubles/row, and dragging them through the dropDuplicates shuffle
    # multiplies its payload ~30×; re-attaching them afterwards is two
    # cheap joins against the PINNED base frame (queries broadcast), so
    # the corpus parquet is scanned exactly once
    cand = (
        c.select("neighbor_id", "table_id", "sig")
        .join(
            F.broadcast(q.select("query_id", "table_id", "sig")),
            ["table_id", "sig"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        cand.join(
            base.withColumnRenamed("_v", "c_vec"),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"),
                    _as_double(F.col(vec_col)).alias("q_vec"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("q_vec", "c_vec", EMBEDDING_DIM), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )
