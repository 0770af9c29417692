"""Sinks (SURVEY §2.1 S4–S8).

The reference's loads are full-refresh: TRUNCATE/DELETE then append
(etl_pipeline/load.py:143-157), batched inserts with chunksize=1000
(elt/extract_load_csv.ipynb:cell8). In Spark the native idiom is
``mode("overwrite")`` — atomic directory swap for parquet, per-partition
batched writes for JDBC — so the whole FK-checks-off / truncate dance
disappears (SURVEY §4.1).

Scale posture: fact tables are written partitioned by a low-cardinality
time-derived column (e.g. order_year) so the dashboard's date-range filter
(P7) becomes partition pruning instead of a 100 TB scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _error_class(e: Exception) -> str | None:
    """Spark error class of a captured exception (e.g. ``PATH_NOT_FOUND``).

    PySpark 4 exposes it as ``getCondition()`` (``getErrorClass()`` on
    older releases); fall back to sniffing the bracketed class tag Spark
    prefixes to every classified message, so the check degrades to the
    same answer rather than to "always unknown"."""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if callable(fn):
            try:
                cls = fn()
            except Exception:
                continue
            if cls:
                return cls
    msg = str(e)
    if msg.startswith("[") and "]" in msg:
        return msg[1 : msg.index("]")]
    return None


def _is_missing_path(e: Exception) -> bool:
    """True iff the AnalysisException means "the input path does not exist".

    Primary signal is the Spark error class (``PATH_NOT_FOUND``). When NO
    class is extractable at all — older Spark builds, some connectors, and
    Spark Connect re-wrapping strip both the accessor and the ``[CLASS]``
    message prefix — fall back to the stable message text those builds emit
    ("Path does not exist"). An exception that carries a DIFFERENT class is
    never sniffed by message: a classified error already told us what it is."""
    cls = _error_class(e)
    if cls is not None:
        return cls == "PATH_NOT_FOUND"
    return "path does not exist" in str(e).lower()


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Datalake CSV layer (S6) — kept for reference parity; parquet is the
    engine's standard interchange format."""
    df.write.mode(mode).option("header", True).csv(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    batchsize: int = 1000,
) -> None:
    """JDBC sink (S4 append / S5 overwrite). ``batchsize`` mirrors the
    reference's chunksize=1000, applied per partition in parallel."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    writer = writer.option("batchsize", str(batchsize))
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def save_as_table(df: DataFrame, name: str, mode: str = "overwrite") -> None:
    """Managed-table sink (replaces CREATE TABLE + INSERT, S7/S8)."""
    df.write.mode(mode).saveAsTable(name)


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    cluster_by: list[str],
    files_per_partition: int = 1,
) -> None:
    """Layout-optimized write: hive-partition by a low-cardinality column
    and CLUSTER the rows inside each file by ``cluster_by``.

    Partitioning makes coarse filters prune whole directories
    (PartitionFilters — zero I/O for excluded partitions); the
    within-file sort makes fine-grained filters prune row groups via
    parquet min/max statistics (tight, non-overlapping ranges instead of
    every row group spanning the full key domain). This is the
    ZORDER-lite layout for a single sort dimension — the right default
    for time-series facts queried by (day, key-range)."""
    (
        df.repartition(files_per_partition, *partition_by)
        .sortWithinPartitions(*partition_by, *cluster_by)
        .write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — for interchange with Hive-era consumers; same layout
    options (partitioning, compression) as the parquet sink."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def zorder_value(cols: list[Column], bits: int = 8) -> Column:
    """Morton (Z-order) curve value from per-column bucket ids.

    Each column must already be an integer bucket in [0, 2**bits); the
    result interleaves their bits (column d owns bit positions i*D + d),
    so rows close on the curve are close in EVERY dimension at once.
    Pure shiftright/&/shiftleft integer expressions — JVM-side, codegen.
    """
    d_n = len(cols)
    z = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        b = c.cast("long")
        for i in range(bits):
            z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * d_n + d)
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int,
    bits: int = 8,
) -> None:
    """Multi-dimensional data-skipping layout: sort the table along a
    Z-order (Morton) curve over ``zorder_by`` and write ``n_files`` files.

    ``write_clustered`` gives perfect skipping on ONE sort dimension;
    a lexicographic multi-column sort gives the trailing columns nothing.
    Z-ordering interleaves the bit representations, so each output file's
    min/max bounding box is tight in ALL curve dimensions — a filter on
    ANY of them prunes most files/row-groups at scan time.

    Bucketization maps each column onto [0, 2**bits) against its global
    min/max (one tiny driver-side stats row — the same pattern a real
    optimizer's file-skipping index build uses). repartitionByRange on
    the curve value assigns contiguous curve segments to files; the
    within-partition sort orders row groups inside each file.
    """
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in zorder_by],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in zorder_by],
    ).collect()[0]
    top = (1 << bits) - 1
    buckets = []
    for c in zorder_by:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        buckets.append(
            F.least(
                F.lit(top),
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * (top + 1)),
            )
        )
    z = zorder_value(buckets, bits=bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def overwrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Incremental load: replace ONLY the partitions present in ``df``,
    leaving all other partitions untouched (dynamic partition overwrite).

    This is the idempotent micro-batch/late-backfill pattern for a
    partitioned warehouse without a transactional table format: re-running
    a day's load replaces that day's partition exactly; static overwrite
    (the default) would wipe the whole table. Pairs with
    ``foreachBatch`` for streaming upserts into the Gold layer."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def upsert_bucket_expr(key_cols: list[str], n_buckets: int) -> Column:
    """Bucket id for ``merge_upsert_parquet``'s partition layout: a stable
    hash of the merge key, so every version of a key lands in the same
    partition directory and an upsert only rewrites that bucket."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


def merge_upsert_parquet(
    batch_df: DataFrame,
    path: str,
    key_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """MERGE (upsert) into a parquet lake table keyed by ``key_cols``:
    new-key rows insert, existing-key rows are replaced — the transactional
    ``MERGE INTO`` pattern without a table format.

    Layout: the table is hive-partitioned by ``_bucket = hash(key) %
    n_buckets``, so a key's every version lives in one bucket directory.
    The merge reads ONLY the buckets the batch touches, anti-joins away
    old versions of the incoming keys, unions the batch, and rewrites
    just those buckets via dynamic partition overwrite — rewrite
    amplification is bounded by touched-buckets size, never table size.
    At 100 TB, size ``n_buckets`` so one bucket ≈ a few GB (or swap in
    Iceberg/Delta MERGE, which this layout deliberately mirrors).

    The merged frame is materialized with LINEAGE TRUNCATED before the
    overwrite: the plan reads the same files the write replaces, and a
    lazy plan would consume its own output. Materialization follows the
    engine's pin policy (``spark.graft.pin.strategy`` — ``reliable``
    covers the gold layer on preemptible clusters with no code change),
    EXCEPT the ``persist`` strategy, which keeps lineage (a lost block
    would recompute from the very files this write deletes) and is
    therefore replaced by a local checkpoint here. Inside
    ``foreachBatch`` a failure between checkpoint and write is safe —
    streaming replays the uncommitted batch and the merge is idempotent
    (replaying the same keys replaces rather than duplicates).

    Precondition: one row per key per batch (the last-writer-wins order
    of two same-key rows in ONE batch is undefined — both would survive
    the anti-join). Streaming session closes satisfy this by construction;
    dedup a general changelog batch on ``key_cols`` first.

    Read the table back with ``spark.read.parquet(path).drop("_bucket")``.
    """
    from pyspark.errors import AnalysisException

    spark = batch_df.sparkSession
    b = batch_df.withColumn("_bucket", upsert_bucket_expr(key_cols, n_buckets))
    try:
        existing = spark.read.parquet(path)
    except AnalysisException as e:
        # First batch only: a genuinely missing table dir (PATH_NOT_FOUND,
        # or the classless "Path does not exist" message on builds that
        # strip error classes — _is_missing_path). The catch must be NARROW
        # in fact, not just in intent: any OTHER AnalysisException
        # (UNABLE_TO_INFER_SCHEMA from a half-written dir, a corrupt
        # footer) means the table EXISTS but is unreadable, and treating it
        # as "no table" would make the dynamic partition overwrite replace
        # every touched bucket with only the batch's rows — silent loss of
        # all other keys. Re-raise those.
        if not _is_missing_path(e):
            raise
        existing = None
    if existing is not None:
        touched = [
            r["_bucket"] for r in b.select("_bucket").distinct().collect()
        ]  # bounded: ≤ n_buckets rows
        old = existing.filter(F.col("_bucket").isin(touched)).join(
            b.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = old.unionByName(b)
    else:
        merged = b
    from ..operators.scale import PIN_STRATEGY_CONF, pin

    strategy = (spark.conf.get(PIN_STRATEGY_CONF, "local") or "local").lower()
    if strategy == "persist":  # lineage-keeping: unsafe for self-overwrite
        merged = merged.localCheckpoint(eager=True)
    else:
        # freeze: the plan reads the files it overwrites
        # (test_merge_upsert_rides_pin_policy_and_prunes_buckets)
        merged = pin(merged)
    overwrite_partitions(merged, path, ["_bucket"])


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(bytes / target) files and atomically swap it in.

    Streaming sinks and frequent small loads accumulate thousands of tiny
    files; at scale the NameNode/listing and per-file open costs dominate
    reads. Sizing from the actual on-disk bytes (not row counts) keeps
    row-group sizes near the HDFS-block sweet spot. Returns the new file
    count. The rewrite goes to a sibling temp dir first so readers never
    see a half-written directory.

    NOT atomic: POSIX cannot atomically swap directories, so between the
    two moves below there is a window where ``path`` does not exist and
    concurrent readers fail; a crash in that window strands the data at
    ``path + '._compact_old'``. Recovery is explicit: on entry, a leftover
    ``._compact_old`` (crash after the first move) is restored if ``path``
    is missing, and a stale ``._compact_tmp`` is discarded. Run compaction
    from a single maintenance job, not concurrently with readers — on a
    real deployment use a table format with atomic commit (Iceberg/Delta)
    instead."""
    import math
    import os
    import shutil

    old = path.rstrip("/") + "._compact_old"
    tmp = path.rstrip("/") + "._compact_tmp"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # prior run completed the swap but not cleanup
        else:
            shutil.move(old, path)  # prior run crashed mid-swap: restore
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # half-written rewrite from a crashed run

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(tmp)
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return n_files
