"""Reusable distributed graph primitives (SURVEY §7.5 extension surface).

Connected components live in ``operators.dedup`` (min-label + star
algorithms, built for the near-dup use case); this module holds the
generic graph ops the analytic plans share. Everything follows the
iterative-algorithm shape those CC implementations established: per-round
keyed shuffles over a shrinking frame, ``localCheckpoint`` per round so
round r never re-executes rounds 1..r-1 through lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .scale import pin


def kcore_peel(
    edges: DataFrame, k: int, rounds: int
) -> list[tuple[int, int, int]]:
    """Iteratively remove nodes of degree < k for ``rounds`` fixed rounds.

    ``edges`` is an undirected edge list (x, y) with x < y, no
    self-loops. Returns the per-round trajectory
    ``[(round, n_nodes, n_edges), ...]`` including round 0 (the input) —
    a stable tail means the true k-core fixpoint was reached within the
    unroll. Each round costs one degree groupBy + two semi-join filters
    of the (pinned, shrinking) edge frame; at 100 TB that is one
    edge-keyed shuffle per round. (A window-over-doubled-endpoint-stream
    formulation with one fewer shuffle was measured SLOWER — the window
    sort costs more than the semi-join hash exchange it saves.)
    """
    e = edges.select("x", "y")

    rounds_frames = [e]
    for _ in range(rounds):
        deg = (
            e.select(F.col("x").alias("node"))
            .unionAll(e.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "x"), "x", "semi")
            .join(keep.withColumnRenamed("node", "y"), "y", "semi")
            .select("x", "y")
            .transform(pin)  # iteration: cuts lineage once per round
        )
        rounds_frames.append(e)

    # trajectory stats in ONE job: tag each round's frame, explode
    # endpoints, and roll up per round — instead of
    # a separate driver action per round (rounds+1 jobs -> 1)
    spark = edges.sparkSession
    tagged = None
    for rnd, frame in enumerate(rounds_frames):
        part = frame.select(
            F.lit(rnd).alias("rnd"),
            F.explode(F.array(F.col("x"), F.col("y"))).alias("node"),
        )
        tagged = part if tagged is None else tagged.unionAll(part)
    stats = {
        int(r["rnd"]): (int(r["n"]), int(r["m"]))
        for r in tagged.groupBy("rnd")
        .agg(
            F.count_distinct("node").alias("n"),
            (F.count("*") / 2).cast("long").alias("m"),
        )
        .collect()
    }
    # a round whose edge set emptied contributes no groups — report (0, 0)
    return [(rnd, *stats.get(rnd, (0, 0))) for rnd in range(rounds + 1)]
