"""SparkSession factory.

The reference has no engine of its own (eager pandas + MySQL; SURVEY §3), so
this module is where our engine's global execution posture lives:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting) —
  at sf0.001–0.1 the data is far smaller than the default 200 shuffle
  partitions; at 100 TB AQE re-plans around skewed keys.
- ``spark.sql.shuffle.partitions`` sized from SPARK_GRAFT_CPUS for local
  mode; on a real cluster this would be ~2–3× total cores and AQE coalesces.
- UTC session timezone: parquet timestamps are timezone-naive; pinning UTC
  makes year()/date_trunc() agree with the DuckDB oracle.
- ANSI mode is left at the Spark 4 default (ON). All engine expressions are
  written ANSI-safe (nullif-guarded division, explicit casts) so they run
  identically under ANSI and legacy modes — mirroring the reference's
  coerce-to-null semantics without requiring a session-level switch.
- Lineage pinning (``operators/scale.pin``) reads two session confs:
  ``spark.graft.pin.strategy`` (local | reliable | persist; default
  local) and ``spark.graft.pin.dir`` (the fault-tolerant checkpoint
  location for the reliable strategy). On a preemptible 100 TB cluster
  set ``strategy=reliable`` and point the dir at HDFS/S3; nothing else
  changes — see SCALING.md's executor-loss notes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Driver thread-stack floor. Spark 4.1's StreamExecution.isInterruptionException
#: matches the stopped query's exception string against a PROXY_ERROR regex with
#: a catastrophic `((.|\r\n|\r|\n)*)` group; a long py4j traceback (stop()
#: landing mid-foreachBatch) recurses one regex frame per character and
#: overflows a default 1 MiB thread stack, killing the stream execution thread
#: uncleanly. Larger stacks are virtual (lazily committed), so this is a cheap
#: guard for every streaming stop path. Observed live: the stack trace roots at
#: StreamExecution.scala:774 (isInterruptionException → findFirstIn).
_STACK_GUARD = "-Xss64m"


def local_cluster_conf(master: str) -> "dict[str, str]":
    """Extra conf for a ``local-cluster[W,C,M]`` master (multi-executor mode).

    ``local-cluster`` spawns W REAL executor JVMs (each with its own
    Python workers), so closure serialization, broadcast exchange, and
    executor-side imports cross genuine process boundaries — everything
    single-JVM ``local[N]`` short-circuits. Two things local mode gives
    for free must then be pinned explicitly:

    - executor memory must fit the worker's advertised budget (the third
      bracket field, MB) or the Worker never accepts the executor; 1 GiB
      headroom is left for JVM overhead;
    - executor-spawned Python workers unpickle module-referenced
      functions (``mapInPandas`` decoders, stateful processors) by
      IMPORT, so the repo root — and the vendored protobuf shim, which
      ``ensure_protobuf`` prepends to ``os.environ['PYTHONPATH']`` —
      must ride ``spark.executorEnv.PYTHONPATH`` to the executor side.

    Returns ``{}`` for non-local-cluster masters, so callers can pass
    the result unconditionally.
    """
    if not master.startswith("local-cluster"):
        return {}
    from .vendor import ensure_protobuf

    ensure_protobuf()  # must mutate PYTHONPATH before the snapshot below
    worker_mb = int(master.rstrip("]").split(",")[2])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "spark.executor.memory": f"{max(1024, worker_mb - 1024)}m",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            [p for p in [root, os.environ.get("PYTHONPATH", "")] if p]
        ),
    }


def get_spark(
    app_name: str = "bigdata-etl-elt-dashboard-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    local[N] for tests/bench; the same config block is what we would ship in
    ``spark-defaults.conf`` on a 1000-executor cluster (minus ``master``).

    The ``-Xss64m`` stack guard (see ``_STACK_GUARD``) is set as
    ``spark.driver.defaultJavaOptions``, which Spark puts before
    ``spark.driver.extraJavaOptions`` on the driver's command line: the
    caller's or spark-defaults.conf's extraJavaOptions are kept, and an
    ``-Xss`` among them wins. An admin's own
    ``spark.driver.defaultJavaOptions`` is replaced.
    """
    # Export the vendored google.protobuf shim onto PYTHONPATH while the
    # JVM (which hands that env to its Python workers) can still inherit
    # it — required for transformWithStateInPandas when no real protobuf
    # install exists. No-op when one does. Must precede getOrCreate().
    from .vendor import ensure_protobuf

    ensure_protobuf()

    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        # Long-lived-driver hygiene (r13 root-cause, promoted to a factory
        # default per the r13 verdict): the SQL UI status store retains
        # 1000 executions' FULL plan graphs by default — through the
        # LISTENER, even with the web UI disabled — and a driver that runs
        # hundreds of large plans (a 392-query sweep, a production
        # always-on pipeline driver) exhausts a small heap on retained
        # plan graphs alone (measured r13: monolithic sweep died at query
        # ~244 on a 1g heap with block reclamation healthy). 50 keeps
        # recent history inspectable; callers override via extra_conf.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", _STACK_GUARD)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
