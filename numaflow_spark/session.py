"""SparkSession factory tuned for this engine.

Defaults are sized for a local run (local[N], N = SPARK_GRAFT_CPUS or else
the cores this process may run on) but every knob is chosen to also be
the right *shape* at cluster scale: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), shuffle partitions
sized to cores locally (on a real cluster this is overridden to ~2-3x total
cores or left to AQE), UTC session timezone so event-time semantics match the
DuckDB oracle and are deployment-independent, and Arrow enabled so any
pandas-UDF slow path is batch-vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle sizing: local harness => one partition per core. At cluster scale
# callers should set spark.sql.shuffle.partitions (or rely on AQE coalescing
# from a high initial value); everything in this repo keys off the session
# config rather than hard-coding partition counts.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory(
    meminfo: str = "/proc/meminfo", cgroup_max: str = "/sys/fs/cgroup/memory.max"
) -> str:
    """Driver heap ceiling: ``SPARK_GRAFT_DRIVER_MEM`` when set, otherwise
    half of the memory this process may use — the smaller of the host's
    MemTotal and the cgroup v2 ``memory.max`` — in whole GiB, at least 1g
    and at most 48g. A fixed 48g ceiling on a 16 GB
    host let the JVM grow until the kernel OOM-killed it (the distributed
    CC loop at 2M edges reached 16 GB RSS) instead of collecting garbage.
    A missing or unlimited (``max``) cgroup file leaves MemTotal alone;
    with neither file readable the ceiling stays 48g."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    limits = []
    try:
        with open(meminfo) as f:
            limits += [int(ln.split()[1]) * 1024 for ln in f if ln.startswith("MemTotal:")]
    except OSError:
        pass
    try:
        with open(cgroup_max) as f:
            raw = f.read().strip()
        if raw.isdigit():
            limits.append(int(raw))
    except OSError:
        pass
    if not limits:
        return "48g"
    gib = min(limits) // 2 // 2**30
    return f"{max(1, min(48, gib))}g"


def get_spark(
    app_name: str = "numaflow_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    All engine code and tests go through this factory so the oracle-critical
    configs (UTC timezone, Arrow on) are applied uniformly. ANSI mode is
    left at Spark's default, which is on: an overflowing bigint raises
    instead of wrapping.

    The driver heap ceiling comes from :func:`driver_memory`.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE size post-shuffle partitions by bytes, not by core count:
        # with parallelismFirst (the default) tiny shuffles still fan out to
        # defaultParallelism tasks and scheduling overhead dominates small
        # stages (measured 3x on the dedup self-join); with it off the same
        # config serves sf0.001 and 100 TB unchanged.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # Advisory sized so a big LOCAL shuffle still spreads across the 32
        # cores: at 64m a ~100 MB shuffle coalesced to 1-2 reduce tasks and
        # CPU-bound aggregations ran nearly serial (measured r8 at x10:
        # degree_distribution 32.7 -> 19.3 s, pagerank_bipartite 34.5 ->
        # 20.9 s, 10-heavy-query set 202 -> 128 s just from 64m -> 8m; tiny
        # shuffles still coalesce to one task because parallelismFirst is
        # off). On a real cluster with thousands of cores raise this back
        # toward 64m; like every knob here it keys off session config.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: pushdown + vectorized reader are defaults, keep them
        # explicit so a misconfigured deployment is caught by tests.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # The synthetic testdata stores TIMESTAMP(NANOS) which the Spark
        # parquet reader rejects; read them as epoch-nano longs and convert
        # in load_table (micro truncation matches DuckDB's ns->us handling).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Timestamp columns per synthetic table; stored as TIMESTAMP(NANOS) in the
# driver's parquet, surfaced as epoch-nano longs via nanosAsLong (see above).
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# Suite-mode table memo (SPARK_GRAFT_CACHE_TABLES=1): one persisted
# DataFrame per (session, sf_dir, table), so a 150-query suite scans each
# parquet file ONCE into an in-memory columnar relation instead of paying
# footer reads + decode per query. This is the Spark twin of the OS page
# cache every single-process engine (the DuckDB baseline included) gets for
# free on a re-read — NOT a benchmark cheat: at cluster scale the same role
# is played by bucketed-table reuse or executor-local block caching, and the
# env gate keeps one-shot runs (tests, the driver's correctness pass) on the
# plain scan path where parquet pushdown/pruning stay observable in plans.
_TABLE_MEMO: dict[tuple[str, str], tuple[SparkSession, "object"]] = {}


def cache_tables_enabled() -> bool:
    """ONE shared truthiness for SPARK_GRAFT_CACHE_TABLES (ADVICE r9 #3:
    session.py parsed == "1" while bench.py/duckdb_standalone.py parsed
    != "0", so a value like "true" cached the DuckDB baseline but not
    Spark — a silently asymmetric ratio). 1/true turn it on, unset/empty/
    0/false leave it off (any case); anything else raises, so a typo such
    as "off" cannot silently cache. Unset stays OFF so tests and the
    driver's correctness pass keep plain scans with observable pushdown.
    bench.py and tools/duckdb_standalone.py setdefault it to "1" at entry,
    so both engines always share one basis inside a benchmark run."""
    raw = os.environ.get("SPARK_GRAFT_CACHE_TABLES", "")
    val = raw.strip().lower()
    if val not in ("", "0", "false", "1", "true"):
        raise ValueError(
            f"SPARK_GRAFT_CACHE_TABLES={raw!r}: expected 1/true or 0/false"
        )
    return val in ("1", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Parquet scan for one synthetic table (TESTDATA.md). Column pruning and
    predicate pushdown are handled by Catalyst on top of this scan; nano
    timestamps are restored to TimestampType at micro precision."""
    from pyspark.sql import functions as F

    # Defensive: the driver may run queries() on its own session; these two
    # confs are required for oracle-equivalent semantics regardless of how
    # that session was built (both are runtime-settable SQL confs).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    cache_on = cache_tables_enabled()
    if cache_on:
        hit = _TABLE_MEMO.get((sf_dir, name))
        if hit is not None and hit[0] is spark:
            return hit[1]

    df = spark.read.parquet(table_path(sf_dir, name))
    for col in _NANO_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            # integer div keeps full precision (a double round-trip would not)
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif dtype == "timestamp_ntz":
            # some generator versions store micro-precision NTZ instead of
            # nanos; with the session pinned to UTC this cast maps wall time
            # to the identical instant the nanos path produces, and restores
            # TimestampType for functions that reject NTZ (unix_micros)
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if cache_on:
        stale = _TABLE_MEMO.get((sf_dir, name))
        # Columnar persist, not localCheckpoint: the r13 ckpt memo kept
        # Catalyst exchange reuse but its row-oriented blocks were the common
        # device under a 32-core anti-scaling family, and a cold-JVM load-16
        # A/B (tools/coldq_cachemode_load16.json) measured the two as a wash.
        df = df.persist()
        _TABLE_MEMO[(sf_dir, name)] = (spark, df)
        if stale is not None and stale[0] is not spark:
            # overwrite from a NEWER session: release the old session's
            # cached blocks instead of leaking them in long-lived processes
            try:
                stale[1].unpersist()
            except Exception:  # noqa: BLE001 — the old session may be stopped
                pass
    return df
