"""Skew-handling primitives for the 100 TB posture (SURVEY §7.5).

AQE's skew-join splitting (enabled in session.py) handles most runtime skew;
these helpers are the *explicit* forms for the two cases AQE cannot fix:

- **Salted aggregation**: a groupBy on a power-law key (one user = 30% of
  events) funnels that key's entire partition through one task. Salting
  splits each hot key across ``buckets`` sub-keys in a first partial pass,
  then merges the tiny salted partials in a second pass. Both passes are
  partial-aggregatable, so total shuffle volume ≈ unsalted; only the
  per-task maximum drops.
- **Salted broadcast-replicate join**: joining a big skewed fact against a
  small dim by replicating the dim once per salt bucket, so one hot fact
  key spreads over ``buckets`` tasks. The salt on the fact side must vary
  WITHIN a join key, so it hashes a caller-named disambiguator column
  (never rand() — results must be deterministic and retry-safe).

The salted plans are equivalence-tested against their unsalted twins; the
salted aggregation is also registered in the driver's correctness gate with
the plain GROUP BY as its oracle (agg_salted_status_rollup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: session conf keys for the pin() materialization strategy
PIN_STRATEGY_CONF = "spark.graft.pin.strategy"
PIN_DIR_CONF = "spark.graft.pin.dir"


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and truncate its lineage (use as
    ``df.transform(pin)`` to keep method chains intact).

    Every call runs a Spark job while the query is being BUILT, before any
    collect, so call it only for one of three reasons, named in a one-line
    comment at the call site:

    - **iteration**: a loop runs a job per round (a fixpoint check, a
      driver-side centroid collect) or reads its previous round; pinning
      each round stops round k from re-executing rounds 1..k-1 through
      lineage (PageRank, k-core, connected components, BPE, Lloyd).
    - **freeze**: two branches must see the same bytes of a frame that a
      recompute could change — partition ids, a range-sample boundary, a
      nondeterministic order, or files the same plan overwrites. Name the
      test that depends on it.
    - **scan-budget**: without it, the query's plan reads one table more
      than ``tests/test_plan_shapes.py::_SCAN_BUDGET`` times, or runs a
      Python kernel twice.

    A frame that is merely referenced twice needs no pin: Catalyst's
    exchange reuse and AQE's stage reuse share it inside one job.

    The mechanism is deployment policy, selected per session via
    ``spark.graft.pin.strategy``:

    - ``local`` (default): ``localCheckpoint(eager=True)``. No setup, no
      distributed filesystem needed — right for local[n] and for stable
      (non-preemptible) clusters. The materialized blocks live ONLY on
      executors and the lineage is gone, so losing an executor loses its
      blocks unrecoverably and fails the job.
    - ``reliable``: ``checkpoint(eager=True)`` to the fault-tolerant
      checkpoint directory — right for preemptible/spot clusters at the
      100 TB scale, where some executor loss per job is expected. Costs a
      write+read of the frame to the cluster FS. The directory comes from
      ``spark.graft.pin.dir`` (set it to an HDFS/S3 path in production);
      if the context has no checkpoint dir yet, it is registered on first
      use (falling back to a driver-local tmp dir, which only makes sense
      single-node).
    - ``persist``: ``persist(MEMORY_AND_DISK)`` + an eager ``count()``.
      KEEPS lineage, so lost blocks recompute from source — zero-setup
      fault tolerance for one-shot multi-reference frames. Not a fix for
      iterative plans: the lineage (and Catalyst plan) still grows per
      round, which is exactly what pinning exists to stop there.

    All three strategies yield bit-identical query results (proven by
    ``tests/test_pin_strategies.py``, which re-runs checkpointed gate
    queries under each strategy and compares full row sets); they differ
    only in failure semantics and materialization cost.
    """
    spark = df.sparkSession
    strategy = (spark.conf.get(PIN_STRATEGY_CONF, "local") or "local").lower()
    if strategy == "local":
        out = _local_checkpoint_with_retry(spark, df)
    elif strategy == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            pin_dir = spark.conf.get(PIN_DIR_CONF, None)
            if not pin_dir:
                import tempfile

                pin_dir = tempfile.mkdtemp(prefix="graft-pin-")
            sc.setCheckpointDir(pin_dir)
        out = df.checkpoint(eager=True)
    elif strategy == "persist":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()  # eager materialization, same contract as the others
    else:
        raise ValueError(
            f"unknown {PIN_STRATEGY_CONF}={strategy!r}; "
            "expected local | reliable | persist"
        )
    return out


def _local_checkpoint_with_retry(spark, df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` with ONE gc-then-retry on transient
    allocation failure.

    Measured failure mode (r13, local[8], default 1 g heap, ~250 queries
    into a monolithic sweep): the checkpoint's 8 MB block writes race JNI
    critical sections (Arrow/parquet readers hold the GCLocker) and the
    JVM gives up with "Retried waiting for GCLocker too often" — a
    TIMING failure, not true heap exhaustion: the identical query
    sequence had passed earlier the same day, and queries after the
    failed one succeeded. One explicit System.gc() + second attempt
    clears it; a second failure is re-raised as real pressure. This is
    long-lived-session hygiene, the same class release_pins addresses —
    deterministic cleanup where the JVM's own timing is the only thing
    that failed."""
    try:
        return df.localCheckpoint(eager=True)
    except Exception as ex:  # noqa: BLE001 — py4j wraps the JVM error
        # Match the specific JVM message of the measured transient mode —
        # every Py4JJavaError from this call contains 'localCheckpoint'
        # (the py4j target name), so gating on that substring would retry
        # EVERY failure (real OOM, disk full) — r13 advice.
        if "GCLocker" not in str(ex):
            raise
        spark.sparkContext._jvm.System.gc()
        import time

        time.sleep(1.0)  # let finalizers release native buffers
        return df.localCheckpoint(eager=True)


def release_pins(spark) -> int:
    """Unpersist EVERY persistent RDD in the session — the deterministic
    reclaimer for pinned blocks in long-lived sessions (returns the
    number released).

    Why it exists (r12 verdict task 3): ``pin``'s default strategy is
    ``localCheckpoint``, whose blocks are freed only when the Python
    wrapper is garbage-collected AND the async ContextCleaner drains its
    reference queue. In a one-query session that is invisible; in a
    390-query single-process sweep (~45k stages) the cleaner lags the
    allocation rate and the default 1g heap eventually fails a
    localCheckpoint on the LAST queries (observed r12:
    ``graph_label_propagation`` red in the monolithic sweep, green
    solo). Calling this between queries makes reclamation synchronous
    with the sweep's own cadence instead of the GC's.

    Safety: only call it when no live DataFrame still depends on a
    pinned frame — a localCheckpointed frame has NO lineage, so its
    blocks are unrecoverable once dropped (a ``persist``-strategy pin
    would merely recompute). Between fully-consumed registry queries
    that holds by construction. ``getPersistentRDDs`` returns an
    immutable snapshot, so unpersisting while iterating is safe.
    """
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    n = 0
    it = jmap.iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)
        n += 1
    return n


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Raise compute parallelism before a CPU-dense narrow stage (span
    shingling, per-row hashing, interpreted higher-order functions) when —
    and only when — the upstream scan cannot provide it.

    Narrow stages run at SCAN parallelism: a table that arrives as one
    parquet row group runs every downstream per-row expression on ONE task
    until the first shuffle, serializing exactly the CPU-heavy part of the
    corpus plans (measured: the containment shingle build spent 3.5 s on a
    single core at sf0.1). The fix is a round-robin repartition to the
    context's default parallelism — but ONLY in the few-splits regime:
    ``inputFiles()`` is a metadata-only probe, and when the scan already
    has >= target splits (any real multi-file / multi-row-group dataset —
    the 100 TB case) this is an identity, so the full-corpus reshuffle
    this would imply at scale never happens.
    """
    spark = df.sparkSession
    t = target or spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # plans that can't report files: leave untouched
        return df
    # 0 files = not file-backed at all (range/localRelation/in-memory) —
    # those parallelize by their own split settings; only a REAL scan
    # with too few splits gets the widening repartition
    if n_files == 0 or n_files >= t:
        return df
    return df.repartition(t)


#: merge rule per partial-aggregatable measure: final_agg(partial_col)
_MERGE = {
    "sum": F.sum,
    "count": F.sum,  # counts merge by summing
    "min": F.min,
    "max": F.max,
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, Column]],
    salt_from: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``measures`` maps output column → (kind, input expression) with kind in
    {sum, count, min, max} — the decomposable aggregates. Stage 1 groups by
    (keys…, salt) where salt = hash(salt_from) % buckets; stage 2 merges
    per key. count uses count() in stage 1 and sum() in stage 2.
    """
    salt = F.pmod(F.xxhash64(F.col(salt_from)), F.lit(buckets)).alias("_salt")
    stage1 = df.groupBy(*[F.col(k) for k in keys], salt).agg(
        *[
            (F.count(expr) if kind == "count" else getattr(F, kind)(expr)).alias(f"_p_{out}")
            for out, (kind, expr) in measures.items()
        ]
    )
    return stage1.groupBy(*keys).agg(
        *[
            _MERGE[kind](F.col(f"_p_{out}")).alias(out)
            for out, (kind, _) in measures.items()
        ]
    )


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe global row numbering — the distributed two-pass form of
    ``ROW_NUMBER() OVER (ORDER BY ...)``.

    A bare unpartitioned window funnels EVERY row through one task (the
    round-2 scale-killer in the original gini rank); this operator keeps the
    row-bearing work fully parallel:

    1. ``repartitionByRange`` on the order keys — partition i holds only
       keys ≤ partition i+1's (the sort-order-preserving shuffle).
    2. ``row_number`` windowed BY PARTITION ID — n independent sorts of
       ~|rows|/n each, never a global single-partition sort.
    3. Per-partition counts roll up to ≤ n rows; a cumulative window over
       that TINY frame (bounded by the partition count, not the data)
       yields each partition's global offset; a broadcast join adds it.

    The repartitioned frame is ``localCheckpoint``'ed (eager) before either
    branch reads it: partition ids are FROZEN in materialized data, so the
    rank branch and the counts branch agree by construction — not by the
    optimizer happening to reuse one exchange (exchange reuse is an
    optimization, not a contract: ``spark.sql.exchange.reuse=false`` or a
    planner change would otherwise re-sample range boundaries per branch
    and silently corrupt ranks). The checkpoint's storage cost ≈ the
    shuffle the operator already pays. Range-boundary sampling may split a
    run of EQUAL keys across partitions, so pass a unique (key, tiebreaker)
    combination when exact rank reproducibility matters — same contract as
    any deterministic ORDER BY.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col(c) for c in order_cols]
    rp = (
        df.repartitionByRange(n, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(pin)  # freeze: test_global_rank_pids_frozen_by_checkpoint
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    ranked = rp.withColumn("_rn", F.row_number().over(w))
    counts = rp.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    # cumulative offsets: a window over ≤ n rows — bounded by the partition
    # count, the one place a single-partition sort is safe by construction
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(wo), F.lit(0)).alias("_off")
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def salted_broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_from: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed fact to a small dim with dim replicated per salt bucket.

    The join key becomes (key, salt): fact rows of one hot key scatter over
    ``buckets`` tasks, and the dim — already broadcast-sized — grows only
    ``buckets``×. Column set of the result matches a plain fact.join(dim,
    key, how)."""
    salt = F.pmod(F.xxhash64(F.col(salt_from)), F.lit(buckets))
    f = fact.withColumn("_salt", salt)
    d = dim.withColumn("_salt", F.explode(F.array(*[F.lit(b) for b in range(buckets)])))
    return f.join(F.broadcast(d), [key, "_salt"], how).drop("_salt")


def _grouped_two_pass(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    num_partitions: int | None = None,
) -> tuple[DataFrame, list, list]:
    """Shared spine of ``grouped_rank`` / ``grouped_running_sum``: range-
    partition on (group, order) so a HOT group spans many partitions while
    rows of one group stay contiguous in the range order, freeze partition
    ids (same checkpoint contract as ``global_rank``), and return the
    pinned frame plus resolved column lists."""
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    gcols = [F.col(c) for c in group_cols]
    ocols = [F.col(c) for c in order_cols]
    rp = (
        df.repartitionByRange(n, *gcols, *ocols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(pin)  # freeze: test_grouped_rank_matches_plain_window_on_hot_group
    )
    return rp, gcols, ocols


def _join_slice_offsets(
    left: DataFrame, offsets: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Broadcast-join the per-(group, _pid) offsets frame back onto the
    ranked rows with NULL-SAFE group-key equality.

    ``Window.partitionBy`` treats NULL as its own group, so the two-pass
    forms must too: a plain column-name equi-join would silently DROP every
    row whose group key is NULL (diverging from the window semantics the
    operators are bit-equivalence-tested against). ``eqNullSafe`` (<=>)
    keeps NULL-keyed rows matched to their NULL-keyed offset row.

    The offset-side aliases carry a ``_graft_off_`` prefix so a caller
    column that happens to be named ``_g0`` can never collide with them
    and turn the join condition ambiguous."""
    ren = {c: f"_graft_off_g{i}" for i, c in enumerate(group_cols)}
    off = offsets.withColumnRenamed("_pid", "_opid")
    for c, a in ren.items():
        off = off.withColumnRenamed(c, a)
    cond = F.col("_pid") == F.col("_opid")
    for c, a in ren.items():
        cond = cond & F.col(c).eqNullSafe(F.col(a))
    return left.join(F.broadcast(off), cond).drop("_opid", *ren.values())


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    out_col: str = "grouped_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe PER-GROUP row numbering — the distributed two-pass form
    of ``ROW_NUMBER() OVER (PARTITION BY group ORDER BY ...)`` for LOW-
    CARDINALITY groups.

    ``Window.partitionBy(group)`` routes EVERY row of a group through one
    task — fine when group cardinality scales with the data (user_id),
    but a single-task funnel when it doesn't (language, source, country:
    a 60%-English corpus puts 60% of all rows in one task). This operator
    keeps hot groups parallel:

    1. ``repartitionByRange`` on (group, order) — a hot group spans many
       partitions, rows stay range-ordered within it; ids frozen by the
       same eager-checkpoint contract as ``global_rank`` (exchange reuse
       is an optimization, not a correctness contract).
    2. ``row_number`` windowed by (group, partition id) — independent
       sorts of partition-sized slices, never group-sized ones.
    3. Per-(group, pid) counts roll up to a ≤ groups × n_partitions-row
       frame; a cumulative window over that TINY frame (partitioned by
       group, so no single task sees more than n_partitions rows) yields
       each slice's in-group offset; a broadcast join adds it.

    Pass a unique (order, tiebreaker) combination for reproducible ranks
    — same contract as any deterministic ORDER BY."""
    from pyspark.sql import Window

    rp, gcols, ocols = _grouped_two_pass(df, group_cols, order_cols, num_partitions)
    w = Window.partitionBy(*group_cols, "_pid").orderBy(*ocols)
    ranked = rp.withColumn("_rn", F.row_number().over(w))
    counts = rp.groupBy(*group_cols, "_pid").agg(F.count("*").alias("_cnt"))
    wo = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *group_cols, "_pid", F.coalesce(F.sum("_cnt").over(wo), F.lit(0)).alias("_off")
    )
    return (
        _join_slice_offsets(ranked, offsets, group_cols)
        .withColumn(out_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    val_col: str,
    out_col: str = "running_sum",
    inclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe PER-GROUP prefix sum — the two-pass form of
    ``SUM(val) OVER (PARTITION BY group ORDER BY ... ROWS UNBOUNDED
    PRECEDING [AND 1 PRECEDING])`` for low-cardinality groups (the
    sequential-fill packing offset, cumulative quota fills, running
    totals per region).

    Same spine as ``grouped_rank``; the per-slice offset is the SUM of
    earlier slices' ``val_col`` totals instead of their row counts.
    ``inclusive=False`` (default) excludes the current row — the packing
    convention (a document's bin is decided by the chars BEFORE it)."""
    from pyspark.sql import Window

    rp, gcols, ocols = _grouped_two_pass(df, group_cols, order_cols, num_partitions)
    end = 0 if inclusive else -1
    w = (
        Window.partitionBy(*group_cols, "_pid")
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local = rp.withColumn("_ls", F.coalesce(F.sum(val_col).over(w), F.lit(0)))
    totals = rp.groupBy(*group_cols, "_pid").agg(F.sum(val_col).alias("_tot"))
    wo = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *group_cols, "_pid", F.coalesce(F.sum("_tot").over(wo), F.lit(0)).alias("_off")
    )
    return (
        _join_slice_offsets(local, offsets, group_cols)
        .withColumn(out_col, F.col("_off") + F.col("_ls"))
        .drop("_pid", "_ls", "_off")
    )


def global_total(
    df: DataFrame,
    aggs: list[Column],
    *,
    pin_input: bool = True,
) -> DataFrame:
    """Attach GRAND-TOTAL aggregates to every row — the hierarchical
    two-stage replacement for an unpartitioned ``SUM(x) OVER ()`` /
    ``Window.partitionBy()`` full-frame window.

    An unpartitioned window physically moves the WHOLE frame through one
    task (``Exchange SinglePartition`` → single-task ``WindowExec``): fine
    while the frame is a dim-bounded post-agg rollup, a funnel once its
    cardinality scales with the data (per-part revenue at 100 TB ≈ 10⁸+
    rows through one task). This form never moves the rows:

    1. ``df.agg(...)`` — partial per-partition aggregates, then a 1-row
       final reduce (only one partial row per partition crosses the wire);
    2. broadcast that 1-row frame and cross-join it back — a
       BroadcastNestedLoopJoin with a 1-row build side, row-local.

    ``aggs`` are ready-made aggregate expressions WITH aliases
    (``[F.sum("c").alias("tot"), F.count("*").alias("n")]``); the output
    is ``df`` plus one column per alias, bit-identical to the window form
    for order-independent aggregates (integer SUM/COUNT/MIN/MAX — the
    engine's fixed-point convention; see ``functions/exact_agg.py``).

    ``pin_input`` (default True) materializes ``df`` first via the
    session pin policy: both the totals branch and the join branch then
    read the same frozen bytes instead of re-executing the upstream plan
    twice (exchange reuse across the two branches is an optimizer
    opportunity, not a contract — verified absent under AQE for the
    scalar-subquery shape, plans/analytics.py Q11 notes). Pass False when
    the caller already pinned."""
    clash = set(df.agg(*aggs).columns) & set(df.columns)
    if clash:
        # A colliding alias would give the joined frame duplicate column
        # names — ambiguous-reference failures (or silent wrong-column
        # resolution) downstream. Fail loudly BEFORE pinning (schema-only
        # analysis, no job) instead.
        raise ValueError(
            "global_total agg aliases collide with input columns: "
            f"{sorted(clash)}; rename the aggregate aliases"
        )
    # scan-budget: test_value_share_no_fact_rescan_no_window
    src = pin(df) if pin_input else df
    totals = src.agg(*aggs)
    return src.crossJoin(F.broadcast(totals))
