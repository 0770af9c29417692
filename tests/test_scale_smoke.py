"""Scale smoke tests: run the scale-path operators on multi-million-row
SYNTHETIC data (spark.range — no fixture dependence) and assert both the
answer and the plan shape hold. The sf0.01 oracle gate proves semantics;
these prove the same plans survive inputs ~1000x that size without
degenerating (single-partition sorts, driver collects, OOM-shaped fan-outs).
Sizes are tuned to keep the whole module under ~2 min on local[8]."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

N = 5_000_000  # rows per synthetic table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def skewed(spark):
    """5M events over a power-law key: key 0 holds ~30% of all rows —
    the skew profile AQE alone cannot fix for aggregation."""
    return spark.range(N).select(
        F.col("id"),
        # ~30% of rows land on user 0; the rest spread over 100k users
        F.when(F.pmod(F.col("id"), 10) < 3, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(100_000)))
        .alias("user_id"),
        F.pmod(F.col("id") * 7, F.lit(1000)).alias("v"),
    )


def test_salted_agg_handles_hot_key_at_5m(spark, skewed):
    from bigdata_etl_elt_dashboard_spark.operators.scale import salted_agg

    out = salted_agg(
        skewed,
        keys=["user_id"],
        measures={"n": ("count", F.lit(1)), "sv": ("sum", F.col("v"))},
        salt_from="id",
        buckets=16,
    )
    hot = out.filter(F.col("user_id") == 0).collect()
    assert len(hot) == 1
    assert hot[0]["n"] == skewed.filter(F.col("user_id") == 0).count()
    # exactness: salted two-stage sum == plain groupBy sum on the hot key
    plain = (
        skewed.filter(F.col("user_id") == 0).agg(F.sum("v").alias("sv")).first()["sv"]
    )
    assert hot[0]["sv"] == plain


def test_global_rank_5m_rows_no_global_sort(spark):
    from bigdata_etl_elt_dashboard_spark.operators.scale import global_rank

    df = spark.range(N).select(
        F.col("id"), F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("k")
    )
    ranked = global_rank(df, ["k", "id"], num_partitions=8)
    # simple mode: formatted output can never contain the substring
    # "Exchange SinglePartition" (round-3 ADVICE — the old formatted-mode
    # count==0 assert was vacuous)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ranked.explain("simple")
    plan = buf.getvalue()
    # the row-bearing window is keyed by _pid; the only SinglePartition
    # exchange feeds the <=|partitions|-row counts rollup
    from tests.test_plan_shapes import assert_single_partition_exchanges_are_bounded

    assert "windowspecdefinition(_pid" in plan
    assert_single_partition_exchanges_are_bounded(plan)
    stats = ranked.agg(
        F.count("*").alias("n"),
        F.min("global_rank").alias("lo"),
        F.max("global_rank").alias("hi"),
        F.count_distinct("global_rank").alias("d"),
    ).first()
    # a permutation of 1..N — the cheap O(1)-memory certificate
    assert (stats["n"], stats["lo"], stats["hi"], stats["d"]) == (N, 1, N, N)


def test_exact_dedup_5m_single_shuffle(spark):
    """25% planted duplicates at 5M rows: dedup must keep exactly the
    distinct keys, via groupBy (map-side combined), never a window."""
    df = spark.range(N).select(
        F.pmod(F.col("id"), F.lit(3 * N // 4)).alias("fp"), F.col("id")
    )
    deduped = df.groupBy("fp").agg(F.min("id").alias("keep_id"))
    plan = _plan(deduped)
    assert "Window" not in plan
    assert deduped.count() == 3 * N // 4


def test_lsh_band_join_stays_equi_at_width(spark):
    """200k synthetic signatures -> banded candidate join: the candidate
    pair count must track bucket sizes (never cross-product), and the join
    must stay a hash equi-join in the plan."""
    n = 200_000
    sigs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64("id"), F.lit(50_000)).alias("band_sig"),
    )
    a = sigs.select(F.col("doc_id").alias("a"), "band_sig")
    b = sigs.select(F.col("doc_id").alias("b"), "band_sig")
    cand = a.join(b, "band_sig").filter(F.col("a") < F.col("b"))
    plan = _plan(cand)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    n_pairs = cand.count()
    # E[pairs] = 50k * C(4,2)-ish; the certificate is the magnitude, not
    # the exact value: quadratic blowup would be ~2*10^10
    assert n_pairs < 10 * n


def test_strict_funnel_chain_at_5m(spark):
    """The ev_funnel_strict_steps shape (chained conditional-min steps,
    each localCheckpoint'ed) at 5M synthetic events: counts must be
    monotone non-increasing, and each step's plan must read the PREVIOUS
    step from its checkpoint (Scan ExistingRDD) instead of re-deriving
    the whole chain — the round-3 47-scan regression shape."""
    from bigdata_etl_elt_dashboard_spark.operators.temporal import (
        strict_funnel_times,
    )

    ev = spark.range(N).select(
        F.pmod(F.col("id"), F.lit(200_000)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(s) for s in ("signup", "view", "click", "purchase")]),
            (F.pmod(F.xxhash64("id"), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
        F.col("id").alias("ts"),  # ordering is all the funnel needs
    )
    # the SAME operator the gated query uses — a regression in its
    # checkpointing shows up here at 5M rows, not just in the plan lint
    t1, t2, t3, t4 = strict_funnel_times(
        ev, ["signup", "view", "click", "purchase"]
    )
    counts = [t.count() for t in (t1, t2, t3, t4)]
    assert counts[0] >= counts[1] >= counts[2] >= counts[3] > 0
    # step 4's own lineage reads the checkpointed step-3 frame — the raw
    # chain (t1..t3 subtrees) must NOT reappear in its plan
    plan = _plan(
        ev.filter(F.col("event_type") == "purchase")
        .join(t3, "user_id")
        .filter(F.col("ts") > F.col("t"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    assert "Scan ExistingRDD" in plan
    assert plan.count("Exchange") <= 4


def test_triangle_orientation_tames_hot_node(spark):
    """Compact-forward triangle closing on a pathological hub graph: one
    node adjacent to EVERY other node (a part in every basket). The
    unoriented wedge count through the hub is C(n-1, 2) ≈ 1.25e9 at
    n=50k — materializing it would OOM — but the (degree, id)
    orientation gives the hub OUT-degree 0 (every neighbor outranks
    nothing... the hub outranks everyone, so all hub edges point INTO
    it), keeping every adjacency array bounded by the non-hub degree.
    Asserts the exact closed-form triangle count and that no adjacency
    array exceeds the small-neighbor bound."""
    n = 50_000
    # ring edges (i, i+1) plus hub edges (i, hub): non-hub degree <= 3
    ring = spark.range(n - 1).select(
        F.col("id").alias("x"), (F.col("id") + 1).alias("y")
    )
    hub = spark.range(n - 1).select(
        F.col("id").alias("x"), F.lit(n - 1).alias("y")
    )
    e = ring.unionAll(hub).filter(F.col("x") < F.col("y")).distinct()
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
    # orientation bound: every out-adjacency stays tiny despite the hub
    assert adj.select(F.max(F.size("nb"))).first()[0] <= 3
    nb_u = F.broadcast(adj.select(F.col("u"), F.col("nb").alias("nb_u")))
    nb_v = F.broadcast(adj.select(F.col("u").alias("v"), F.col("nb").alias("nb_v")))
    tri = (
        oe.join(nb_u, "u")
        .join(nb_v, "v")
        .select(F.size(F.array_intersect("nb_u", "nb_v")).alias("t"))
        .agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n"))
        .first()["n"]
    )
    # triangles = ring edge (i, i+1) + hub, for i = 0..n-3 (edge (n-2, hub)
    # is itself a ring edge): exactly n - 2
    assert tri == n - 2


def test_grouped_rank_matches_plain_window_on_hot_group(spark):
    """grouped_rank (two-pass, hot-group-parallel) must be bit-equal to
    the plain Window.partitionBy(group) form — on data where ONE group
    holds 70% of rows (the low-cardinality funnel it exists to fix)."""
    from pyspark.sql import Window

    from bigdata_etl_elt_dashboard_spark.operators.scale import grouped_rank

    df = spark.range(200_000).select(
        F.col("id"),
        F.when(F.pmod("id", F.lit(10)) < 7, F.lit("en"))
        .otherwise(F.concat(F.lit("g"), F.pmod("id", F.lit(10)).cast("string")))
        .alias("grp"),
        F.pmod(F.xxhash64("id"), F.lit(997)).alias("ord"),
    )
    plain = df.withColumn(
        "rk",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("ord", "id"))
        .cast("long"),
    )
    two_pass = grouped_rank(df, ["grp"], ["ord", "id"], out_col="rk", num_partitions=8)
    a = {(r["grp"], r["id"]): r["rk"] for r in plain.collect()}
    b = {(r["grp"], r["id"]): r["rk"] for r in two_pass.collect()}
    assert a == b
    # the row-bearing window must be keyed by (grp, _pid) — slices, not
    # whole groups — and any SinglePartition exchange must be bounded
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        two_pass.explain("simple")
    plan = buf.getvalue()
    from tests.test_plan_shapes import assert_single_partition_exchanges_are_bounded

    assert "windowspecdefinition(grp" in plan and "_pid" in plan
    assert_single_partition_exchanges_are_bounded(plan)


def test_grouped_running_sum_matches_plain_window(spark):
    """grouped_running_sum vs the plain cumulative window, exclusive and
    inclusive, on the same hot-group data (integer values: exactness)."""
    from pyspark.sql import Window

    from bigdata_etl_elt_dashboard_spark.operators.scale import grouped_running_sum

    df = spark.range(100_000).select(
        F.col("id"),
        F.pmod("id", F.lit(3)).alias("grp"),
        F.pmod(F.xxhash64("id"), F.lit(50)).alias("v"),
    )
    for inclusive, end in ((False, -1), (True, 0)):
        w = (
            Window.partitionBy("grp")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, end)
        )
        plain = df.withColumn("rs", F.coalesce(F.sum("v").over(w), F.lit(0)))
        two_pass = grouped_running_sum(
            df, ["grp"], ["id"], "v", out_col="rs",
            inclusive=inclusive, num_partitions=8,
        )
        a = {(r["grp"], r["id"]): r["rs"] for r in plain.collect()}
        b = {(r["grp"], r["id"]): r["rs"] for r in two_pass.collect()}
        assert a == b, f"inclusive={inclusive}"


def test_grouped_ops_keep_null_group_rows(spark):
    """NULL group keys form their own group under Window.partitionBy; the
    two-pass forms must match — the offsets join is null-safe (<=>), so a
    plain-equi-join silent drop of NULL-keyed rows would fail this."""
    from pyspark.sql import Window

    from bigdata_etl_elt_dashboard_spark.operators.scale import (
        grouped_rank,
        grouped_running_sum,
    )

    df = spark.range(20_000).select(
        F.col("id"),
        F.when(F.pmod("id", F.lit(4)) == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("g"), F.pmod("id", F.lit(4)).cast("string")))
        .alias("grp"),
        F.pmod(F.xxhash64("id"), F.lit(50)).alias("v"),
    )
    n_in = df.count()

    w = Window.partitionBy("grp").orderBy("id")
    plain_rk = df.withColumn("rk", F.row_number().over(w).cast("long"))
    two_rk = grouped_rank(df, ["grp"], ["id"], out_col="rk", num_partitions=8)
    assert two_rk.count() == n_in  # no NULL-group row dropped
    a = {(r["grp"], r["id"]): r["rk"] for r in plain_rk.collect()}
    b = {(r["grp"], r["id"]): r["rk"] for r in two_rk.collect()}
    assert a == b

    ws = w.rowsBetween(Window.unboundedPreceding, -1)
    plain_rs = df.withColumn("rs", F.coalesce(F.sum("v").over(ws), F.lit(0)))
    two_rs = grouped_running_sum(
        df, ["grp"], ["id"], "v", out_col="rs", num_partitions=8
    )
    assert two_rs.count() == n_in
    a = {(r["grp"], r["id"]): r["rs"] for r in plain_rs.collect()}
    b = {(r["grp"], r["id"]): r["rs"] for r in two_rs.collect()}
    assert a == b


def test_factory_caps_ui_retained_executions(spark):
    """The long-lived-driver UI-retention cap is a session-factory
    default (r13 verdict task 7): the SQL UI status store would retain
    1000 executions' full plan graphs through the LISTENER even with the
    web UI off, which exhausts a 1g driver heap a few hundred large
    plans into a sweep or an always-on pipeline driver. The shared test
    session comes from get_spark, so asserting here proves the factory
    sets it (callers can still override via extra_conf — the conf is set
    before the extra_conf loop in session.get_spark)."""
    assert spark.conf.get("spark.sql.ui.retainedExecutions") == "50"


def test_local_cluster_conf_shape():
    """local_cluster_conf pins executor memory inside the worker budget
    (third bracket field, minus 1 GiB JVM headroom, floored at 1 GiB)
    and exports the repo root on the executor-side PYTHONPATH so
    executor-spawned Python workers can import module-referenced
    functions; non-local-cluster masters get an empty dict so callers
    can pass the result unconditionally."""
    import bigdata_etl_elt_dashboard_spark as pkg
    from bigdata_etl_elt_dashboard_spark.session import local_cluster_conf

    assert local_cluster_conf("local[8]") == {}
    assert local_cluster_conf("local[*]") == {}
    conf = local_cluster_conf("local-cluster[2,8,4096]")
    assert conf["spark.executor.memory"] == "3072m"
    root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    assert root in conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    # tiny worker budget floors at 1 GiB instead of going nonpositive
    assert local_cluster_conf("local-cluster[1,2,512]")[
        "spark.executor.memory"
    ] == "1024m"


def test_driver_stack_guard_is_live(spark):
    """The factory's -Xss64m stack guard reaches the running driver JVM
    through spark.driver.defaultJavaOptions (Spark puts it before any
    extraJavaOptions, so a caller's own -Xss still wins)."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-Xss64m" in args, args


def test_global_total_matches_full_frame_window(spark):
    """global_total (partial sums → 1-row reduce → broadcast cross-join) is
    bit-equivalent to the unpartitioned full-frame window it replaces, for
    the order-independent aggregates the engine uses (integer SUM / COUNT /
    MIN / MAX), including NULL measure values and a NULL-keyed row."""
    from pyspark.sql import Window

    from bigdata_etl_elt_dashboard_spark.operators.scale import global_total

    rows = [(i, (i * 37) % 101 if i % 7 else None) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(8)

    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ref = df.select(
        "id",
        "v",
        F.sum("v").over(w).alias("tot"),
        F.count("*").over(w).alias("n"),
        F.min("v").over(w).alias("mn"),
        F.max("v").over(w).alias("mx"),
    )
    got = global_total(
        df,
        [
            F.sum("v").alias("tot"),
            F.count("*").alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        ],
    )
    a = sorted(tuple(r) for r in ref.collect())
    b = sorted(tuple(r) for r in got.collect())
    assert a == b and len(a) == 500

    # the plan moves no rows: 1-row broadcast build side, no single-task
    # window exchange
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_global_total_rejects_colliding_alias(spark):
    """An agg alias colliding with an input column would yield duplicate
    column names after the broadcast cross-join (ambiguous-reference
    failures or silent wrong-column resolution downstream) — global_total
    must refuse loudly BEFORE running any job (round-11 ADVICE item)."""
    from bigdata_etl_elt_dashboard_spark.operators.scale import global_total

    df = spark.createDataFrame([(1, 2)], "id long, v long")
    with pytest.raises(ValueError, match="collide.*\\['v'\\]"):
        global_total(df, [F.sum("v").alias("v")])
    # disjoint aliases still work
    out = global_total(df, [F.sum("v").alias("tot")])
    assert out.collect() == [(1, 2, 2)]


def test_share_ppm_decimal_path_no_silent_wrap(spark):
    """The wave10 share_ppm expression must stay exact past the BIGINT
    c*1e6 wrap point (~9.2e12 per-part fixed-point cents ≈ sf100) under
    BOTH ANSI regimes: with a raw BIGINT product, ANSI errors and
    non-ANSI wraps SILENTLY, hash-mismatching the HUGEINT DuckDB oracle;
    the DECIMAL(25,0) widening is exact to 1e33 (round-11 ADVICE item)."""
    df = spark.createDataFrame(
        [(50_000_000_000_000, 100_000_000_000_000)], "c long, tot long"
    )
    expr = "CAST(CAST(c AS DECIMAL(25,0)) * 1000000 div tot AS BIGINT)"
    assert df.selectExpr(f"{expr} AS ppm").collect()[0]["ppm"] == 500_000
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        assert df.selectExpr(f"{expr} AS ppm").collect()[0]["ppm"] == 500_000
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)


def test_ordered_prefix_two_pass_matches_window(spark):
    """The ordered-prefix ESCAPE HATCH is executable, not just documented
    (r10 verdict task 3): grouped_running_sum with NO group columns — the
    two-pass range-partitioned form of ``SUM(v) OVER (ORDER BY ... ROWS
    UNBOUNDED PRECEDING)`` — is bit-equivalent to the unpartitioned
    ordered window on data that SPANS many range partitions, including
    duplicate order values (disambiguated by the unique tie-breaker, the
    same contract as any deterministic ORDER BY) and negative values."""
    from pyspark.sql import Window

    from bigdata_etl_elt_dashboard_spark.operators.scale import grouped_running_sum

    n = 50_000
    rows = [(i, ((i * 2654435761) % 997) - 498) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(16)

    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    ref = df.select("id", "v", F.sum("v").over(w).alias("cum"))
    got = grouped_running_sum(
        df, [], ["v", "id"], "v", out_col="cum", inclusive=True, num_partitions=16
    )
    a = sorted(tuple(r) for r in ref.collect())
    b = sorted(tuple(r) for r in got.select("id", "v", "cum").collect())
    assert a == b and len(a) == n

    # the two-pass frame really spans partitions: >1 distinct slice id
    from bigdata_etl_elt_dashboard_spark.operators.scale import _grouped_two_pass

    rp, _, _ = _grouped_two_pass(df, [], ["v", "id"], 16)
    n_slices = rp.select("_pid").distinct().count()
    assert n_slices > 1


def test_pareto_two_pass_matches_window_form(spark, sf_oracle):
    """supplier_pareto_cumshare_twopass (range-partitioned prefix sums +
    global_total) returns row-for-row EXACTLY what the window form
    returns — same values, same order, same schema — so the documented
    ordered-cumulative rewrite path provably preserves the readout."""
    from bigdata_etl_elt_dashboard_spark.plans import REGISTRY

    a = REGISTRY["supplier_pareto_cumshare"].fn(spark, sf_oracle)
    b = REGISTRY["supplier_pareto_cumshare_twopass"].fn(spark, sf_oracle)
    assert a.columns == b.columns
    ra = [tuple(r) for r in a.collect()]
    rb = [tuple(r) for r in b.collect()]
    assert ra == rb and len(ra) > 0
