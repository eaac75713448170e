"""Cluster-scale configuration presets: the 100 TB deployment shape.

The local harness (session.py) runs local[32]; this module is the sizing
math and config set for the real target — a ~1000-executor cluster reading
~100 TB — so the same engine code deploys unchanged: everything in the repo
keys off session configs, never hard-coded partition counts.

Sizing model (why these numbers):
  * scan parallelism comes from maxPartitionBytes (128m → ~800k input
    splits over 100 TB compressed parquet — plenty for 1000×8 cores);
  * shuffle partitions start at 2-3× total cores and AQE coalesces DOWN by
    bytes (advisory 64-128m); undersizing is the unrecoverable direction —
    a partition that exceeds executor memory spills or OOMs;
  * streaming state lives in RocksDB with changelog checkpointing: state
    size is bounded by keys×windows, not input volume, and changelog
    uploads make commits O(delta) — the WAL+compactor role (SURVEY.md R7);
  * skew: AQE skew-join splitting handles join skew; groupBy hot keys are
    pre-salted by the dedup/similarity operators where power-law keys are
    expected (band buckets, fingerprints).
"""

from __future__ import annotations


def cluster_conf(
    *,
    executors: int = 1000,
    cores_per_executor: int = 8,
    executor_mem_gb: int = 32,
    streaming: bool = False,
    checkpoint_dir: str | None = None,
) -> dict[str, str]:
    """Config dict for ``SparkSession.builder.config(map=...)`` (or
    ``get_spark(extra_conf=...)``) sized for the given fleet.

    Returns only settings whose *shape* changes with scale; correctness
    configs (UTC, Arrow, ANSI posture) stay in session.get_spark."""
    total_cores = executors * cores_per_executor
    conf = {
        # scans: split count tracks bytes, not files; vectorized reader on
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.parquet.enableVectorizedReader": "true",
        # shuffles: start wide, let AQE coalesce by bytes (parallelismFirst
        # off so tiny stages do not fan out to 8000 tasks). Sizing rule
        # measured in r8 on the local harness (session.py): with
        # parallelismFirst off, a shuffle of S bytes runs on ~S/advisory
        # tasks — if the fleet's TYPICAL intermediate shuffle is smaller
        # than advisory x total_cores, CPU-bound reduce stages go
        # underparallel (locally 64m serialized ~100 MB aggregations;
        # 8m recovered a 28% suite wall cut at x10). 128m is right when
        # the big shuffles are TBs; drop it if profiling shows mid-size
        # shuffles coalescing below the core count.
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # broadcast: dims up to 256m avoid shuffling the 100 TB fact side;
        # executor memory comfortably holds 2-3 such tables
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        # resources
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.memoryOverheadFactor": "0.2",  # Arrow/python workers
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        # python stages (pandas UDF paths): bounded Arrow batches
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }
    if checkpoint_dir:
        # Iterative operators (CC / PageRank / BFS / BPE) cut lineage each
        # round; with this set they use durable checkpoint() on shared
        # storage instead of executor-local blocks, so a lost executor
        # costs one round's recompute, not the whole iteration chain
        # (operators/graph.py::cut_lineage reads this app-scoped key —
        # runtime-settable, unlike the core spark.checkpoint.dir).
        conf["spark.numaflow_spark.checkpoint.dir"] = checkpoint_dir
    if streaming:
        conf.update(
            {
                # RocksDB state store + changelog checkpointing: the
                # WAL/compactor replacement (R7) — commit cost scales with
                # the per-batch delta, recovery replays the changelog
                "spark.sql.streaming.stateStore.providerClass": (
                    "org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider"
                ),
                "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
                # one state partition per 2 cores keeps stores mem-resident
                "spark.sql.shuffle.partitions": str(total_cores // 2),
                "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
            }
        )
    return conf


def streaming_state_partitions(key_cardinality: int | None, cores: int) -> int:
    """Shuffle width for a stateful streaming stage, owned by the ENGINE
    (r13 verdict: the bench harness re-sized its own measured stage 8 -> 4,
    which broke the metric's round-over-round comparability — the sizing
    rule belongs here, versioned with the engine). ``compiler.start_stream``
    starts every in-repo stream at this width (cores from the session's
    defaultParallelism, keys from the caller's ``key_count``).

    Two ceilings, take the smaller: (a) one state partition per 2 cores
    keeps stores mem-resident and amortizes per-batch commit cost
    (cluster_conf's streaming preset rule); (b) the grouping-key
    cardinality itself — partitions beyond ~ceil(keys/2) hold 0-1 groups
    and pay pure state-store commit overhead per micro-batch (measured on
    the bench stage, 8 distinct keys: 57K ev/s at 32 partitions, 133K at
    8, 161K at 4; 2-3 plateau with 4 but leave no headroom against hash
    imbalance). ``key_cardinality=None`` (not declared) drops ceiling (b).
    Floor of 2 keeps the multi-partition contract. At cluster scale a
    high-cardinality key keeps the cores/2 width — the clamp only bites
    when keys are few, exactly when extra width is pure overhead."""
    width = max(cores, 2) // 2
    if key_cardinality is not None:
        width = min(width, (key_cardinality + 1) // 2)
    return max(2, width)


CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
# Spark 4.1 moved the checkpoint managers into the ``checkpointing`` package.
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def streaming_checkpoint_conf(spark, checkpoint_root: str | None) -> dict[str, str]:
    """Checkpoint-manager conf for a stream whose checkpoint lives at
    ``checkpoint_root`` (``None``: Spark's own location — the session's
    ``spark.sql.streaming.checkpointLocation``, else the temporary one a
    memory sink gets). ``compiler.start_stream`` applies it inside the
    ``graph.scoped_conf`` block around every in-repo stream start; the
    query keeps it because Spark clones the session at start.

    On the ``file`` scheme it names Spark's FileSystem-based manager.
    Spark's default, the FileContext manager, checks link status through
    Hadoop's ``FileUtil.readLink``, which forks a ``readlink`` process:
    1,952 of the 2,528 process starts in one stream-window run (SCALE.md
    r19).
    Nothing is lost on ``file:`` — Hadoop's local FileContext renames with
    overwrite by the same non-atomic check-then-rename that the FileSystem
    manager uses, and both write the same checkpoint files. Every other
    scheme (hdfs, s3a, abfs, ...) and a session that already names a
    manager keep Spark's choice: ``{}``. The scheme resolves as Spark
    resolves it, through the session's Hadoop conf, so a scheme-less root
    follows ``fs.defaultFS``; nothing contacts the filesystem."""
    if spark.conf.get(CHECKPOINT_MANAGER, None) is not None:
        return {}
    location = checkpoint_root or spark.conf.get(
        "spark.sql.streaming.checkpointLocation", None)
    hadoop = spark._jvm.org.apache.hadoop.fs
    scheme = hadoop.Path(location).toUri().getScheme() if location else None
    if scheme is None:
        hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = hadoop.FileSystem.getDefaultUri(hadoop_conf).getScheme()
    return {CHECKPOINT_MANAGER: FS_CHECKPOINT_MANAGER} if scheme == "file" else {}


def partitions_for(input_bytes: int, target_partition_bytes: int = 128 * 1024 * 1024) -> int:
    """Partition count for a given input volume at the advisory size —
    the number the repartition/bucketing call sites should use instead of
    a constant (100 TB → ~800k)."""
    return max(1, -(-input_bytes // target_partition_bytes))


# ---------------------------------------------------------------------------
# Bucketed (co-located) joins: the repeated-join killer at 100 TB. A fact
# table joined on the same key across many queries pays one shuffle PER
# QUERY; bucketing pays it once at write time, and every later equi-join or
# groupBy on the bucket key runs exchange-free (Spark matches bucket specs
# and elides both Exchanges). Reference framing: numaflow's per-edge hash
# partitioning (forward.rs:31-41) is this exact idea applied to buffers;
# here it becomes a durable table layout.
# ---------------------------------------------------------------------------


def write_bucketed(
    df,
    table: str,
    *,
    buckets: int,
    by: str | list[str],
    sort_by: str | list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed parquet table (catalog-registered —
    bucketing metadata lives in the catalog, so plain ``read.parquet`` of
    the same files would NOT get the exchange-free join). ``buckets``
    should come from :func:`partitions_for` at the expected table size.
    ``sort_by`` additionally sorts within buckets, upgrading merge joins to
    zero-sort."""
    by = [by] if isinstance(by, str) else list(by)
    w = df.write.format("parquet").mode(mode).bucketBy(buckets, *by)
    if sort_by:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(spark, left_table: str, right_table: str, on: str | list[str], how: str = "inner"):
    """Join two same-bucketed catalog tables on the bucket key: with equal
    bucket counts Spark plans a shuffle-free (and with sortBy, sort-free)
    merge join. Pair with ``spark.sql.autoBroadcastJoinThreshold=-1`` in a
    plan test to pin the property."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


# ---------------------------------------------------------------------------
# Z-ordered layout: multi-dimensional data skipping. Bucketing co-locates
# ONE join key; selective scans at 100 TB also need file/row-group pruning
# on SEVERAL filter columns at once. Sorting by (a, b) prunes on a but
# leaves b's min/max spanning the whole domain in every file; interleaving
# the bits of both keys (Morton order) keeps each file's bounding box small
# in EVERY dimension, so parquet min/max stats prune scans on a, on b, or
# on both. Same idea as Delta OSS OPTIMIZE ZORDER BY; implemented here as
# pure JVM bit arithmetic — no UDF, no collect (one tiny min/max agg per
# layout write).
# ---------------------------------------------------------------------------


def zorder_column(df, cols: list[str], *, bits: int = 16):
    """Morton (Z-curve) value over ``cols`` as a JVM Column: each column is
    linearly scaled to ``bits``-bit integers using its own min/max (one
    small agg, broadcast as literals), then the bit planes are interleaved
    with shift/or expressions inside codegen.

    Linear scaling is skew-sensitive (a power-law column concentrates ranks
    in few cells); for heavy skew pre-transform the column (log, rank
    bucket) before layout. ``bits``×len(cols) must fit a signed 64-bit
    value: bits <= 63 // len(cols)."""
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        raise ValueError(f"bits={bits} x {len(cols)} cols exceeds a signed int64")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"min_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"max_{c}") for c in cols],
    ).first()
    cells = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo, hi = stats[f"min_{c}"], stats[f"max_{c}"]
        span = (hi - lo) or 1.0
        scaled.append(
            F.least(
                F.lit(cells),
                F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * cells).cast(
                    "long"
                ),
            )
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            # bit b of column i lands at interleaved position b*len+i
            z = z + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)), b * len(cols) + i
            ).cast("long")
    return z


def write_zordered(
    df, path: str, *, by: list[str], n_files: int, bits: int = 16, mode: str = "overwrite"
) -> None:
    """Persist ``df`` to parquet in Z-order over ``by``: range-partition on
    the Morton value (files = contiguous Z-ranges = small per-file bounding
    boxes on every ``by`` column), sort within partitions so row groups
    inherit the same property, drop the helper column before writing.
    ``n_files`` should come from :func:`partitions_for` at the table size.
    One pass over the data + the tiny stats agg; reads need nothing special
    — parquet min/max pruning fires on any engine."""
    z = zorder_column(df, by, bits=bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def rowgroup_skip_fraction(path: str, col: str, lo, hi) -> float:
    """Measured data-skipping: the fraction of parquet row groups whose
    min/max stats EXCLUDE the predicate ``col BETWEEN lo AND hi`` — i.e.
    what a stats-pruning reader never touches. Layout QA / regression
    metric for :func:`write_zordered` (pyarrow-side, no Spark needed)."""
    import os

    import pyarrow.parquet as pq

    total = skipped = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st is not None and st.has_min_max and (st.min > hi or st.max < lo):
                    skipped += 1
    return skipped / total if total else 0.0
