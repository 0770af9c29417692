"""Iterative distributed algorithms (SURVEY §7.5 extension surface):
one full Lloyd k-means iteration and fixed-iteration PageRank.

Iterative algorithms are where naive cross-engine comparison breaks down
— accumulated float error diverges per iteration. Both queries here run
ENTIRELY in exact integer arithmetic (micro-unit quantized coordinates,
integer-division rank units), so every iteration is bit-identical on any
engine and any partitioning, and the DuckDB oracle is an exact hash
match, not a tolerance check.

Scale design:
- k-means: the k×dim centroid matrix is the ONLY driver-side state
  (k*dim = 512 values); the fact table never joins — assignments are
  zip_with/aggregate projections against literal arrays, and the M-step
  is one partial-aggregatable groupBy per iteration.
- PageRank: each iteration is one keyed shuffle (contributions grouped
  by destination); degree and rank tables are node-sized, never
  edge-materialized beyond the distinct edge list. Fixed 3 iterations —
  the convergence-loop variant would add localCheckpoint lineage
  truncation per round (see operators/dedup.connected_components_star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import table
from .registry import register
from ..operators.scale import pin

_K = 8  # initial centroids: vectors with vec_id 0..7 (deterministic seed)


def _to_fixed(arr: Column) -> Column:
    """Quantize a float vector to micro-unit BIGINTs (exact distances)."""
    return F.transform(arr, lambda x: F.round(x.cast("double") * 1_000_000).cast("long"))


def _d2_sql(vec_ints: list[int]) -> str:
    """SQL-string exact integer squared-L2 distance from the row's
    ``xi_arr`` column to a literal quantized vector — the shared kernel
    behind centroid assignment (here), IVF probe routing, and the ANN
    recall ground truth (plans/similarity_gate.py). ONE place to change
    if the expression ever needs an overflow guard or tie-break tweak."""
    return (
        "aggregate(zip_with(xi_arr, array("
        + ", ".join(f"{int(m)}L" for m in vec_ints)
        + "), (a, b) -> (a - b) * (a - b)), 0L, (s, v) -> s + v)"
    )


def _best_assign(cents: dict[int, list[int]]) -> Column:
    """struct(d2, lbl) of the nearest centroid (literal-array distances,
    tie-break on centroid id via array_min's struct ordering).

    Built as ONE SQL expression string: composing it from k*dim Column
    objects costs seconds of driver-side py4j round-trips per plan (the
    emb_pq_encode_stats plan-time lesson)."""
    structs = ", ".join(
        f"named_struct('d2', {_d2_sql(mis)}, 'lbl', {int(lbl)})"
        for lbl, mis in sorted(cents.items())
    )
    return F.expr(f"array_min(array({structs}))")


@register(
    "sim_kmeans_lloyd1",
    oracle=f"""
        WITH pts AS (
            SELECT vec_id, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)
        ),
        init AS (SELECT vec_id AS c, pos, xi AS mi FROM pts WHERE vec_id < {_K}),
        d0 AS (
            SELECT p.vec_id, i.c, SUM((p.xi - i.mi) * (p.xi - i.mi)) AS d2
            FROM pts p JOIN init i USING (pos) GROUP BY p.vec_id, i.c
        ),
        a0 AS (
            SELECT vec_id, c AS c0 FROM d0
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) = 1
        ),
        cent1 AS (
            SELECT a0.c0 AS c, p.pos, CAST(ROUND(AVG(p.xi)) AS BIGINT) AS mi
            FROM pts p JOIN a0 USING (vec_id) GROUP BY a0.c0, p.pos
        ),
        d1 AS (
            SELECT p.vec_id, c1.c, SUM((p.xi - c1.mi) * (p.xi - c1.mi)) AS d2
            FROM pts p JOIN cent1 c1 USING (pos) GROUP BY p.vec_id, c1.c
        ),
        a1 AS (
            SELECT vec_id, c AS c1, d2 AS best_d2 FROM d1
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) = 1
        )
        SELECT a1.c1 AS cluster, COUNT(*) AS n_vecs,
               CAST(SUM(a1.best_d2) AS BIGINT) AS inertia,
               COUNT(CASE WHEN a1.c1 <> a0.c0 THEN 1 END) AS n_moved
        FROM a1 JOIN a0 USING (vec_id)
        GROUP BY cluster ORDER BY cluster
    """,
    doc="One full Lloyd iteration of k-means (k=8, init = vectors "
    "vec_id 0..7): assign to init centroids, recompute means (M-step), "
    "re-assign, and report per-cluster size, exact integer inertia, and "
    "how many vectors moved. Coordinates quantize to micro-unit BIGINTs "
    "so distances, argmins, and inertia are exact integers — iteration "
    "results are engine- and partitioning-independent (the classic "
    "failure mode of float k-means testing). Spark plan: centroids live "
    "driver-side as k*64 literal arrays (512 values), assignments are "
    "per-row zip_with projections — the embeddings table never joins or "
    "explodes except the one M-step groupBy (k*64-row result).",
)
def sim_kmeans_lloyd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    fixed = emb.select("vec_id", _to_fixed(F.col("embedding")).alias("xi_arr"))

    init_rows = fixed.filter(F.col("vec_id") < _K).collect()
    init = {int(r["vec_id"]): list(r["xi_arr"]) for r in init_rows}

    a0 = fixed.select("vec_id", "xi_arr", _best_assign(init)["lbl"].alias("c0"))
    cent_rows = (
        a0.select("c0", F.posexplode("xi_arr"))
        .withColumnsRenamed({"col": "xi"})
        .groupBy("c0", "pos")
        .agg(F.round(F.avg("xi")).cast("long").alias("mi"))
        .collect()
    )
    cents: dict[int, list[int]] = {}
    for r in cent_rows:
        cents.setdefault(int(r["c0"]), [0] * 64)[r["pos"]] = int(r["mi"])

    # Stage the k-way array_min struct ONCE and read both fields from the
    # staged column: referencing best1["lbl"] and best1["d2"] directly in
    # one select re-evaluates the whole k-aggregate distance scan per field
    # (measured: 24 ArrayAggregate evals/row → 16; guide §1.2 step 2).
    # CollapseProject keeps the multi-referenced non-cheap alias staged.
    best1 = _best_assign(cents)
    assigned = a0.select("c0", best1.alias("_b"))
    return (
        assigned.select(
            "c0",
            F.col("_b")["lbl"].alias("cluster"),
            F.col("_b")["d2"].alias("best_d2"),
        )
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("best_d2").alias("inertia"),
            F.count(F.when(F.col("cluster") != F.col("c0"), 1)).alias("n_moved"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# PageRank (fixed 3 iterations, integer rank units)
# --------------------------------------------------------------------------

_PR_UNITS = 1_000_000_000  # total rank mass in integer units
_PR_ITERS = 3


def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""
        {out} AS (
            SELECT e.dst AS node,
                   b.b + SUM((r.r * 85) // (100 * d.deg)) AS r
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
            CROSS JOIN base b
            GROUP BY e.dst, b.b
        )"""


@register(
    "graph_pagerank_3iter",
    oracle=f"""
        WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        edges AS (
            SELECT 'P' || p AS src, 'S' || s AS dst FROM e0
            UNION ALL
            SELECT 'S' || s AS src, 'P' || p AS dst FROM e0
        ),
        deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        base AS (
            SELECT (CAST({_PR_UNITS} AS BIGINT) * 15) // (100 * COUNT(*)) AS b,
                   COUNT(*) AS n
            FROM deg
        ),
        r0 AS (
            SELECT d.src AS node, {_PR_UNITS} // b.n AS r
            FROM deg d CROSS JOIN base b
        ),
        {_pagerank_iter_sql("r0", "r1")},
        {_pagerank_iter_sql("r1", "r2")},
        {_pagerank_iter_sql("r2", "r3")}
        SELECT node, CAST(r AS BIGINT) AS rank_units
        FROM r3 ORDER BY r DESC, node LIMIT 20
    """,
    doc="PageRank, 3 fixed iterations, over the bipartite part↔supplier "
    "graph induced by lineitem (distinct edges, both directions — every "
    "node has degree ≥ 1, so no dangling-mass handling needed). Rank "
    "mass is 1e9 integer units; each contribution is an exact integer "
    "division (r*85 div (100*deg)) and each new rank an exact integer "
    "sum, so all three iterations are bit-identical across engines — no "
    "float accumulation drift. Spark plan per iteration: contributions "
    "= edges⋈ranks⋈degree (all keyed equi-joins on src), then ONE "
    "shuffle grouping by dst; the edge list shuffles once per iteration "
    "and rank/degree tables stay node-sized. Top-20 via "
    "TakeOrderedAndProject — no global sort.",
)
def graph_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    # Nodes are LONGS through every iteration — part p ↦ 2p, supplier s ↦
    # 2s+1 — and the 'P…'/'S…' display names the oracle uses are derived
    # in one projection over the ≤|nodes| final frame. The pre-r14 form
    # carried the string names through all 3 join+groupBy rounds: every
    # broadcast-hash probe and aggregate hash table keyed on ~8-char
    # strings instead of 8-byte longs — measured 2.10 s → 0.86 s noop at
    # sf0.1, bit-identical top-20 (guide §2.3 narrower types / shuffle
    # keys not payloads). The encoding is collision-free (parity splits
    # the two id spaces) and the name derivation is exact integer `div`.
    pid = F.col("p") * 2
    sid = F.col("s") * 2 + 1
    edges = (
        e0.select(pid.alias("src"), sid.alias("dst"))
        .unionAll(e0.select(sid.alias("src"), pid.alias("dst")))
        .transform(pin)  # iteration: every round joins it
    )
    # iteration: every round joins it
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).transform(pin)
    n_nodes = deg.count()  # driver-side scalar (graph cardinality)
    base = (_PR_UNITS * 15) // (100 * n_nodes)

    ranks = deg.select(
        F.col("src").alias("node"), F.lit(_PR_UNITS // n_nodes).alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(
                F.col("dst"),
                F.expr("(r * 85) div (100 * deg)").alias("c"),
            )
        )
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(base) + F.sum("c")).alias("r")
        )
    name = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("P"), F.expr("node div 2").cast("string")),
    ).otherwise(
        F.concat(F.lit("S"), F.expr("(node - 1) div 2").cast("string"))
    )
    return (
        ranks.select(name.alias("node"), F.col("r").alias("rank_units"))
        .orderBy(F.desc("rank_units"), "node")
        .limit(20)
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned distinct co-purchase edge list (x < y) from lineitem.

    No pre-distinct on (o, p): the final edge ``distinct`` collapses any
    duplicate pairs a twice-ordered part would create, and skipping the
    extra pass removes a full (o, p)-keyed shuffle of lineitem before the
    self-join (measured ~0.7 s at sf0.1; at 100 TB it's a whole stage)."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    lj = li.select(F.col("o"), F.col("p").alias("x"))
    rj = li.select(F.col("o").alias("o2"), F.col("p").alias("y"))
    return (
        lj.join(rj, (F.col("o") == F.col("o2")) & (F.col("x") < F.col("y")))
        .select("x", "y")
        .distinct()
        .transform(pin)  # scan-budget: every graph query reads the edge list 4-40 times
    )



@register(
    "graph_copurchase_triangles",
    oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        e AS (SELECT DISTINCT a.p AS x, b.p AS y
              FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        deg AS (
            SELECT node, COUNT(*) AS d
            FROM (SELECT x AS node FROM e UNION ALL SELECT y FROM e)
            GROUP BY node
        ),
        tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM e e1 JOIN e e2 ON e1.y = e2.x
                      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
        ),
        s AS (
            SELECT (SELECT COUNT(DISTINCT node) FROM deg) AS n_nodes,
                   (SELECT COUNT(*) FROM e) AS n_edges,
                   (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT)
                    FROM deg) AS n_wedges,
                   (SELECT n_triangles FROM tri) AS n_triangles
        )
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
                   AS global_clustering
        FROM s
    """,
    doc="Triangle counting + global clustering coefficient over the "
    "co-purchase graph (parts linked when they appear in the same order) "
    "— the market-basket graph statistic behind community detection and "
    "recommendation features. Scale shape: edges are distinct-projected "
    "once, then ORIENTED from the lower-(degree, id) endpoint to the "
    "higher so every triangle is counted exactly once at its lowest-"
    "degree corner — the standard O(m^1.5) bound that keeps hub nodes "
    "from exploding (a hub of degree d contributes C(d,2) wedges "
    "unoriented but near-zero once it outranks its neighbors). Closing "
    "is COMPACT-FORWARD: per-node out-neighbor arrays (size ≤ O(√m) by "
    "the orientation) are re-attached to each oriented edge by two "
    "node-keyed equi-joins and intersected JVM-side, so the wedge "
    "stream is never materialized or shuffled (148M unoriented wedges "
    "at sf0.1). The oracle counts the same triangles with DuckDB's "
    "unoriented 3-way join. Reports nodes/edges/wedges/triangles and "
    "3T/W clustering.",
)
def graph_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # orient each edge from the lower (degree, id) endpoint to the higher,
    # keeping the head's rank so wedges can be rank-ordered below
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    ranked = e.join(F.broadcast(dx), "x").join(F.broadcast(dy), "y")
    fwd = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    oe = ranked.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("v"),
    )
    # compact-forward closing: a triangle {u,a,b} with ranks u < a < b is
    # oriented u->a, u->b, a->b, so for each oriented edge (u,a) the
    # triangles it roots are |N+(u) ∩ N+(a)| — counted exactly once. The
    # wedge stream never materializes: one node-keyed adjacency rollup,
    # two node-keyed equi-joins re-attaching the (duplicate-free) neighbor
    # arrays, and a JVM-side array_intersect per edge. vs the explicit
    # wedge join this removes a shuffle of O(Σ C(outdeg,2)) wedge rows
    # (148M unoriented wedges at sf0.1); per-node array size is bounded by
    # the orientation (outdeg ≤ O(√m)), so rows stay executor-safe at
    # 100 TB and the joins remain ordinary shuffles.
    # the adjacency table is PART-keyed — a dimension-bounded frame (nodes
    # = catalog size, arrays ≤ O(√m) by the orientation; ~10 MB at sf0.1)
    # — so broadcasting it turns the close into a map-side pass over the
    # pinned edge stream with NO shuffle of array-carrying rows (shuffling
    # them cost ~600 MB / 1 s at sf0.1). For a graph whose node set is
    # fact-scale, drop the broadcast hints and the same plan runs as two
    # node-keyed shuffle joins.
    adj = oe.groupBy("u").agg(F.collect_list("v").alias("nb"))
    nb_u = F.broadcast(adj.select(F.col("u"), F.col("nb").alias("nb_u")))
    nb_v = F.broadcast(adj.select(F.col("u").alias("v"), F.col("nb").alias("nb_v")))
    tri = (
        oe.join(nb_u, "u")
        .join(nb_v, "v")  # inner: a head with no out-edges roots nothing
        .select(F.size(F.array_intersect("nb_u", "nb_v")).alias("t"))
        .agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    s = (
        deg.agg(F.count("*").alias("n_nodes"))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(deg.agg(F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")))
        .crossJoin(tri)
    )
    return s.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        (
            (F.lit(3) * F.col("n_triangles")).cast("double")
            / F.col("n_wedges").cast("double")
        ).alias("global_clustering"),
    )


# --------------------------------------------------------------------------
# k-core peel (fixed unroll) over the co-purchase graph
# --------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 5


def _kcore_round_sql(ein: str, dout: str, kout: str, eout: str, k: int) -> str:
    return f"""
        {dout} AS MATERIALIZED (
            SELECT node, COUNT(*) AS deg
            FROM (SELECT x AS node FROM {ein} UNION ALL SELECT y FROM {ein})
            GROUP BY node
        ),
        {kout} AS MATERIALIZED (SELECT node FROM {dout} WHERE deg >= {k}),
        {eout} AS MATERIALIZED (
            SELECT e.x, e.y FROM {ein} e
            JOIN {kout} a ON e.x = a.node
            JOIN {kout} b ON e.y = b.node
        )"""


@register(
    "graph_kcore_peel",
    oracle="""
        WITH e0 AS MATERIALIZED (
            SELECT DISTINCT a.p AS x, b.p AS y
            FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem) a
            JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem) b ON a.o = b.o AND a.p < b.p
        ),
        """
    + ",".join(
        _kcore_round_sql(f"e{i}", f"d{i + 1}", f"k{i + 1}", f"e{i + 1}", _KCORE_K)
        for i in range(_KCORE_ROUNDS)
    )
    + """
        SELECT * FROM (
            """
    + "\n            UNION ALL ".join(
        (
            f"SELECT {i} AS round, "
            f"(SELECT COUNT(DISTINCT node) FROM "
            f"(SELECT x AS node FROM e{i} UNION ALL SELECT y FROM e{i})) "
            f"AS n_nodes, (SELECT COUNT(*) FROM e{i}) AS n_edges"
        )
        for i in range(_KCORE_ROUNDS + 1)
    )
    + """
        ) ORDER BY round
    """,
    doc=f"k-core peel (k={_KCORE_K}, {_KCORE_ROUNDS} fixed rounds) over "
    "the co-purchase part graph — the density-core extraction behind "
    "community seeding and graph sparsification (a node is in the "
    "k-core iff it keeps >= k neighbors after everything weaker is "
    "iteratively removed). Each round = one degree groupBy + two "
    "semi-join filters of the edge list; the edge frame "
    "localCheckpoints per round so round r never re-executes rounds "
    "1..r-1 (the connected-components lineage pattern) — at 100 TB "
    "each round is one edge-keyed shuffle over a shrinking edge set. "
    "FIXED unroll keeps the oracle expressible as chained CTEs; the "
    "emitted per-round (nodes, edges) trajectory makes convergence "
    "visible (stable tail rows == fixpoint reached). Counts exact.",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore_peel

    e = _copurchase_edges(spark, sf_dir)
    out = kcore_peel(e, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return spark.createDataFrame(
        out, "round int, n_nodes long, n_edges long"
    ).orderBy("round")


# --------------------------------------------------------------------------
# label propagation (fixed synchronous rounds) over the co-purchase graph
# --------------------------------------------------------------------------

_LPA_ROUNDS = 3
_LPA_TOP = 10


def _lpa_round_sql(lin: str, lout: str) -> str:
    """One synchronous LPA round: each node adopts the most frequent label
    among its NEIGHBORS' previous-round labels, ties to the smallest."""
    return f"""
        {lout} AS MATERIALIZED (
            SELECT dst AS node, lbl
            FROM (
                SELECT ed.dst, l.lbl, COUNT(*) AS cnt
                FROM ed JOIN {lin} l ON ed.src = l.node
                GROUP BY ed.dst, l.lbl
            )
            QUALIFY ROW_NUMBER() OVER (PARTITION BY dst
                                       ORDER BY cnt DESC, lbl) = 1
        )"""


@register(
    "graph_label_propagation",
    oracle="""
        WITH e0 AS MATERIALIZED (
            SELECT DISTINCT a.p AS x, b.p AS y
            FROM (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem) a
            JOIN (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem) b
                ON a.o = b.o AND a.p < b.p
        ),
        ed AS MATERIALIZED (
            SELECT x AS src, y AS dst FROM e0
            UNION ALL SELECT y, x FROM e0
        ),
        l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM ed),
        """
    + ",".join(_lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(_LPA_ROUNDS))
    + f""",
        comm AS (
            SELECT lbl AS community_label, COUNT(*) AS size
            FROM l{_LPA_ROUNDS} GROUP BY lbl
        ),
        total AS (SELECT COUNT(*) AS n_communities FROM comm),
        top AS (
            SELECT ROW_NUMBER() OVER (ORDER BY size DESC, community_label)
                       AS rank,
                   community_label, size
            FROM comm
            ORDER BY size DESC, community_label LIMIT {_LPA_TOP}
        )
        SELECT rank, community_label, size, n_communities
        FROM top CROSS JOIN total ORDER BY rank
    """,
    doc=f"Community detection via synchronous label propagation "
    f"({_LPA_ROUNDS} fixed rounds) over the co-purchase part graph: each "
    "node starts as its own community and per round adopts the most "
    "frequent label among its neighbors' previous labels, ties broken to "
    "the SMALLEST label — fully deterministic (classic LPA breaks ties "
    "randomly, which is ungateable; min-tie-break is the same "
    "determinism discipline as the CC min-label rule). Emits the top-"
    f"{_LPA_TOP} community sizes plus the total community count. Scale "
    "shape: per round ONE label-keyed equi-join (edges ⋈ labels on src) "
    "and one (dst, lbl)-keyed count with a max_by merge — message-"
    "passing as two keyed shuffles over the edge list. Unlike "
    "the k-core/PageRank loops, round frames here are single-consumer "
    "(round r feeds only round r+1), so the chain runs as ONE lazy plan "
    "with no per-round pin. All "
    "counts/labels exact integers.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _copurchase_edges(spark, sf_dir)
    # the whole 3-round chain executes as ONE lazy plan: each round's
    # labels frame is consumed once, by the next round
    ed = e.unionAll(e.select(F.col("y").alias("x"), F.col("x").alias("y"))).select(
        F.col("x").alias("src"), F.col("y").alias("dst")
    )
    labels = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        msgs = ed.join(labels, ed.src == labels.node).select("dst", "lbl")
        labels = (
            # mode(lbl, deterministic=true) ties to the LOWEST value —
            # exactly the min-label rule — and runs as ONE dst-keyed
            # shuffle with partial count-map merges (ObjectHashAggregate),
            # instead of materializing the (dst, lbl) count grid through a
            # second shuffle; per-group state is bounded by the node's
            # distinct neighbor labels (≤ degree)
            msgs.groupBy("dst")
            .agg(F.expr("mode(lbl, true)").alias("lbl"))
            .select(F.col("dst").alias("node"), "lbl")
        )
    comm = labels.groupBy(F.col("lbl").alias("community_label")).agg(
        F.count("*").alias("size")
    )
    total = comm.agg(F.count("*").alias("n_communities"))
    w = Window.orderBy(F.desc("size"), "community_label")
    top = (
        comm.orderBy(F.desc("size"), "community_label")
        .limit(_LPA_TOP)
        .withColumn("rank", F.row_number().over(w))
    )
    return top.crossJoin(F.broadcast(total)).select(
        "rank", "community_label", "size", "n_communities"
    ).orderBy("rank")


# --------------------------------------------------------------------------
# k-means: the FULL Lloyd loop (fixed rounds, exact-integer trajectory)
# --------------------------------------------------------------------------

_KM_ROUNDS = 4


def _kmeans_round_sql(prev_a: str, cent: str, d: str, a: str) -> str:
    """One Lloyd round: recompute integer centroids from the previous
    assignment, re-assign every vector, carry best_d2 for the inertia."""
    return f"""
        {cent} AS MATERIALIZED (
            SELECT {prev_a}.c AS c, p.pos, CAST(ROUND(AVG(p.xi)) AS BIGINT) AS mi
            FROM pts p JOIN {prev_a} USING (vec_id)
            GROUP BY {prev_a}.c, p.pos
        ),
        {d} AS (
            SELECT p.vec_id, t.c, SUM((p.xi - t.mi) * (p.xi - t.mi)) AS d2
            FROM pts p JOIN {cent} t USING (pos)
            GROUP BY p.vec_id, t.c
        ),
        {a} AS MATERIALIZED (
            SELECT vec_id, c, d2 AS best_d2 FROM {d}
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, c) = 1
        )"""


@register(
    "sim_kmeans_trajectory",
    oracle=f"""
        WITH pts AS MATERIALIZED (
            SELECT vec_id, i - 1 AS pos,
                   CAST(ROUND(emb[i] * 1000000) AS BIGINT) AS xi
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
                 UNNEST(range(1, len(emb) + 1)) AS t(i)
        ),
        cent0 AS MATERIALIZED (
            SELECT vec_id AS c, pos, xi AS mi FROM pts WHERE vec_id < {_K}
        ),
        d0 AS (
            SELECT p.vec_id, t.c, SUM((p.xi - t.mi) * (p.xi - t.mi)) AS d2
            FROM pts p JOIN cent0 t USING (pos) GROUP BY p.vec_id, t.c
        ),
        a0 AS MATERIALIZED (
            SELECT vec_id, c, d2 AS best_d2 FROM d0
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, c) = 1
        ),
        """
    + ",".join(
        _kmeans_round_sql(f"a{r - 1}", f"cent{r}", f"d{r}", f"a{r}")
        for r in range(1, _KM_ROUNDS + 1)
    )
    + """
        SELECT * FROM (
            """
    + "\n            UNION ALL ".join(
        (
            f"SELECT {r} AS round,"
            f" (SELECT COUNT(*) FROM a{r} n JOIN a{r - 1} o USING (vec_id)"
            f"  WHERE n.c <> o.c) AS n_moved,"
            f" (SELECT COUNT(DISTINCT c) FROM a{r}) AS n_clusters,"
            f" (SELECT CAST(SUM(best_d2) AS BIGINT) FROM a{r}) AS inertia"
        )
        for r in range(1, _KM_ROUNDS + 1)
    )
    + """
        ) ORDER BY round
    """,
    doc=f"The FULL Lloyd loop ({_KM_ROUNDS} fixed rounds, k={_K}, init = "
    "lowest-id vectors): per round, re-assignments moved, surviving "
    "cluster count (empty clusters drop — both engines), and exact "
    "integer inertia — the convergence trajectory sim_kmeans_lloyd1's "
    "single iteration doesn't show (a stable n_moved→0 tail IS "
    "convergence). Every round runs in exact micro-unit integer "
    "arithmetic, so the trajectory is bit-identical across engines and "
    "partitionings. Spark shape per round: the k×64 centroid matrix is "
    "collected driver-side (512 values — the established centroid-"
    "collect idiom) and re-enters the plan as literals via the shared "
    "_d2_sql kernel; assignments checkpoint per round so round r never "
    "re-executes rounds 1..r-1 (the BPE/k-core lineage pattern); the "
    "M-step is one partial-aggregatable (cluster, pos) groupBy. The "
    "oracle chains the same rounds as MATERIALIZED CTEs.",
)
def sim_kmeans_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    fixed = emb.select(
        "vec_id", _to_fixed(F.col("embedding")).alias("xi_arr")
    ).transform(pin)  # iteration: every round reads it

    init_rows = fixed.filter(F.col("vec_id") < _K).collect()
    cents = {int(r["vec_id"]): list(r["xi_arr"]) for r in init_rows}
    assign = _best_assign(cents)
    a_prev = fixed.select(
        "vec_id", "xi_arr", assign["lbl"].alias("c"), assign["d2"].alias("best_d2")
    ).transform(pin)  # iteration: round 1 collects its centroids

    out = []
    for rnd in range(1, _KM_ROUNDS + 1):
        cent_rows = (
            a_prev.select("c", F.posexplode("xi_arr"))
            .withColumnsRenamed({"col": "xi"})
            .groupBy("c", "pos")
            .agg(F.round(F.avg("xi")).cast("long").alias("mi"))
            .collect()
        )
        cents = {}
        for r in cent_rows:
            cents.setdefault(int(r["c"]), [0] * 64)[r["pos"]] = int(r["mi"])
        assign = _best_assign(cents)
        a_new = fixed.select(
            "vec_id",
            "xi_arr",
            assign["lbl"].alias("c"),
            assign["d2"].alias("best_d2"),
        ).transform(pin)  # iteration: the next round collects its centroids
        stats = (
            a_new.join(
                a_prev.select("vec_id", F.col("c").alias("_oc")), "vec_id"
            )
            .agg(
                F.count(F.when(F.col("c") != F.col("_oc"), 1)).alias("n_moved"),
                F.count_distinct("c").alias("n_clusters"),
                F.sum("best_d2").alias("inertia"),
            )
            .first()
        )
        out.append(
            (rnd, int(stats["n_moved"]), int(stats["n_clusters"]), int(stats["inertia"]))
        )
        a_prev = a_new
    return spark.createDataFrame(
        out, "round int, n_moved long, n_clusters long, inertia long"
    ).orderBy("round")


@register(
    "graph_degree_distribution",
    oracle="""
        WITH e0 AS (
            SELECT DISTINCT a.p AS x, b.p AS y
            FROM (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem) a
            JOIN (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem) b
                ON a.o = b.o AND a.p < b.p
        ),
        deg AS (
            SELECT node, COUNT(*) AS d
            FROM (SELECT x AS node FROM e0 UNION ALL SELECT y FROM e0)
            GROUP BY node
        )
        SELECT length(bin(d)) AS log2_bucket,
               COUNT(*) AS n_nodes,
               MIN(d) AS min_degree,
               MAX(d) AS max_degree
        FROM deg GROUP BY log2_bucket ORDER BY log2_bucket
    """,
    doc="Degree distribution of the co-purchase graph on a log2 grid — "
    "the power-law diagnostic every graph-algorithm parameter (LSH "
    "bucket caps, orientation thresholds, skew-salt bucket counts) is "
    "read against: a heavy tail here is WHY triangles orient by degree "
    "and why hot-key salting exists. Bit-length bucketing (no floating "
    "log), exact counts, min/max degree per bucket. Shape: the shared "
    "pinned edge builder + one node-keyed degree rollup + a ~16-row "
    "histogram — the edge list is built once and the histogram is "
    "constant-size at any scale.",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return (
        deg.groupBy(
            F.length(F.conv(F.col("d"), 10, 2)).cast("long").alias("log2_bucket")
        )
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
        )
        .orderBy("log2_bucket")
    )


@register(
    "graph_clustering_coeff_hist",
    oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        e AS MATERIALIZED (
            SELECT DISTINCT a.p AS x, b.p AS y
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        ),
        deg AS MATERIALIZED (
            SELECT node, COUNT(*) AS d
            FROM (SELECT x AS node FROM e UNION ALL SELECT y FROM e)
            GROUP BY node
        ),
        t AS MATERIALIZED (
            SELECT e1.x AS a, e1.y AS b, e2.y AS c
            FROM e e1 JOIN e e2 ON e2.x = e1.y
                      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
        ),
        corner AS (
            SELECT a AS node FROM t
            UNION ALL SELECT b FROM t
            UNION ALL SELECT c FROM t
        ),
        tc AS (SELECT node, COUNT(*) AS tri FROM corner GROUP BY node),
        cc AS (
            SELECT d.node, COALESCE(tc.tri, 0) AS tri, d.d
            FROM deg d LEFT JOIN tc ON d.node = tc.node
            WHERE d.d >= 2
        )
        SELECT CAST(((tri * 2 * 1000000) // (d * (d - 1))) // 100000
                    AS BIGINT) AS cc_bucket,
               COUNT(*) AS n_nodes,
               CAST(SUM(tri) AS BIGINT) AS sum_corner_triangles
        FROM cc GROUP BY cc_bucket ORDER BY cc_bucket
    """,
    doc="Local clustering-coefficient histogram over the co-purchase "
    "graph — the per-node 'how clique-like is my neighborhood' "
    "diagnostic (community cores vs bridge nodes) that degree alone "
    "can't see. Per-node triangle counts come from the SAME "
    "compact-forward close as graph_copurchase_triangles, but the "
    "intersection is EXPLODED into the (much smaller than wedges) "
    "triangle stream so each triangle credits all three corners; "
    "cc = 2·tri/(d·(d−1)) is quantized to micro-units with pure "
    "integer div (bucket edges can't float-drift) and bucketed on a "
    "0..10 decile grid. Shape: shared pinned edge builder, degree "
    "rollup, broadcast adjacency close, one corner rollup — the "
    "histogram is constant-size at any scale.",
)
def graph_clustering_coeff_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    ranked = e.join(F.broadcast(dx), "x").join(F.broadcast(dy), "y")
    fwd = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    oe = ranked.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("v"),
    )
    adj = oe.groupBy("u").agg(F.collect_list("v").alias("nb"))
    nb_u = F.broadcast(adj.select(F.col("u"), F.col("nb").alias("nb_u")))
    nb_v = F.broadcast(adj.select(F.col("u").alias("v"), F.col("nb").alias("nb_v")))
    # explode the per-edge intersection: one row per triangle (u, v, w) —
    # bounded by the true triangle count, far below the wedge stream the
    # compact-forward close avoids materializing
    tris = (
        oe.join(nb_u, "u")
        .join(nb_v, "v")
        .select(
            F.col("u"),
            F.col("v"),
            F.explode(F.array_intersect("nb_u", "nb_v")).alias("w"),
        )
    )
    # ONE generator chain credits all three corners (r15, guide §2.4/§1.2-2):
    # the previous 3-way unionAll of tris.select(u/v/w) re-executed the
    # unpinned join+intersect+explode subtree once per branch (no Exchange
    # inside it, so no reuse); explode(array(u, v, w)) emits the same 3
    # corner rows per triangle from a single evaluation — measured
    # 1.52 → 1.40 s noop interleaved on the full histogram, identical rows.
    corners = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri"))
    )
    cc = (
        deg.filter(F.col("d") >= 2)
        .join(corners, "node", "left")
        .select(
            F.col("d"), F.coalesce(F.col("tri"), F.lit(0)).alias("tri")
        )
    )
    bucket = F.expr("((tri * 2 * 1000000) div (d * (d - 1))) div 100000").cast(
        "long"
    )
    return (
        cc.groupBy(bucket.alias("cc_bucket"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("tri").alias("sum_corner_triangles"),
        )
        .orderBy("cc_bucket")
    )


@register(
    "graph_degree_assortativity",
    oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        e AS MATERIALIZED (
            SELECT DISTINCT a.p AS x, b.p AS y
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        ),
        deg AS MATERIALIZED (
            SELECT node, COUNT(*) AS d
            FROM (SELECT x AS node FROM e UNION ALL SELECT y FROM e)
            GROUP BY node
        ),
        be AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
        ends AS (
            SELECT d1.d AS a, d2.d AS b
            FROM be JOIN deg d1 ON be.x = d1.node
                    JOIN deg d2 ON be.y = d2.node
        ),
        m AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(a) AS BIGINT) AS sx,
                   CAST(SUM(a * a) AS BIGINT) AS sxx,
                   CAST(SUM(a * b) AS BIGINT) AS sxy
            FROM ends
        )
        SELECT n, sx, sxx, sxy,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   AS assortativity
        FROM m
    """,
    doc="Degree assortativity of the co-purchase graph — Newman's r: do "
    "high-degree parts co-purchase with other hubs (r>0) or with the "
    "tail (r<0)? Listing every edge in BOTH directions makes the two "
    "endpoint-degree marginals identical, so Pearson collapses to "
    "(nΣab−(Σa)²)/(nΣa²−(Σa)²) — no sqrt. The four moments are exact "
    "BIGINT sums (order-independent, map-side combined); the closed "
    "form runs as ONE fixed IEEE sequence (int→double casts round "
    "half-even identically on both engines), so the double is "
    "bit-identical. Shape: shared pinned edge builder + broadcast "
    "degree join + a 1-row reduce; a negative r here is the measured "
    "justification for the triangle orientation and hot-key salting.",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    be = e.unionAll(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    d1 = deg.select(F.col("node").alias("x"), F.col("d").alias("a"))
    d2 = deg.select(F.col("node").alias("y"), F.col("d").alias("b"))
    ends = be.join(F.broadcast(d1), "x").join(F.broadcast(d2), "y")
    m = ends.agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sx"),
        F.sum(F.col("a") * F.col("a")).alias("sxx"),
        F.sum(F.col("a") * F.col("b")).alias("sxy"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    den = F.col("n").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    return m.select("n", "sx", "sxx", "sxy", (num / den).alias("assortativity"))


@register(
    "graph_bfs_layers",
    oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        e AS MATERIALIZED (
            SELECT DISTINCT a.p AS x, b.p AS y
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        ),
        be AS MATERIALIZED (
            SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e
        ),
        l0 AS MATERIALIZED (SELECT MIN(x) AS node FROM be),
        l1 AS MATERIALIZED (
            SELECT DISTINCT be.y AS node
            FROM be JOIN l0 ON be.x = l0.node
            WHERE be.y NOT IN (SELECT node FROM l0)
        ),
        l2 AS MATERIALIZED (
            SELECT DISTINCT be.y AS node
            FROM be JOIN l1 ON be.x = l1.node
            WHERE be.y NOT IN (SELECT node FROM l0
                               UNION ALL SELECT node FROM l1)
        ),
        l3 AS MATERIALIZED (
            SELECT DISTINCT be.y AS node
            FROM be JOIN l2 ON be.x = l2.node
            WHERE be.y NOT IN (SELECT node FROM l0
                               UNION ALL SELECT node FROM l1
                               UNION ALL SELECT node FROM l2)
        )
        SELECT 0 AS layer, COUNT(*) AS n_nodes,
               MIN(node) AS min_node, MAX(node) AS max_node FROM l0
        UNION ALL
        SELECT 1, COUNT(*), MIN(node), MAX(node) FROM l1
        UNION ALL
        SELECT 2, COUNT(*), MIN(node), MAX(node) FROM l2
        UNION ALL
        SELECT 3, COUNT(*), MIN(node), MAX(node) FROM l3
        ORDER BY layer
    """,
    doc="Unrolled breadth-first search (3 hops from the minimum part key) "
    "over the co-purchase graph — the reachability / diameter probe "
    "behind 'is this graph one community or many', and the simplest "
    "member of the frontier-expansion family (connected components, "
    "SSSP) expressed in the engine's iterative idiom: per-round "
    "frontier = neighbors(frontier) ANTI-JOIN visited, every frontier "
    "pinned so no round re-executes (the k-core/PageRank discipline), "
    "visited re-derived as a union of already-pinned layers (no extra "
    "pin jobs). Frontiers are broadcast against the pinned "
    "both-direction edge list, so each hop is one map-side join + one "
    "distinct — at fact-scale node sets the same plan degrades to "
    "keyed shuffles with no rewrite. The co-purchase graph is "
    "near-diameter-2, so layer 3 is legitimately empty on the test "
    "corpus; tests/test_properties.py proves the positive path on an "
    "engineered path graph.",
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    be = e.unionAll(
        e.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).transform(pin)  # iteration: every round's frontier join reads it
    l0 = be.agg(F.min("x").alias("node"))
    layers = [l0]
    for _ in range(3):
        visited = layers[0]
        for lyr in layers[1:]:
            visited = visited.unionAll(lyr)
        frontier = layers[-1].withColumnRenamed("node", "x")
        nxt = (
            be.join(F.broadcast(frontier), "x")
            .select(F.col("y").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .transform(pin)  # iteration: cuts lineage once per round
        )
        layers.append(nxt)
    out = None
    for i, lyr in enumerate(layers):
        row = lyr.agg(
            F.lit(i).alias("layer"),
            F.count("*").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("layer")
