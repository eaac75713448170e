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

import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

from pyspark import SparkContext
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


def _engine_conf(n: int) -> dict[str, str]:
    """The confs every engine session starts with, at ``n`` cores."""
    return {
        "spark.master": os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"),
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Let AQE size post-shuffle partitions by bytes, not by core count:
        # with parallelismFirst (the default) tiny shuffles still fan out to
        # defaultParallelism tasks and scheduling overhead dominates small
        # stages (measured 3x on the dedup self-join); with it off the same
        # config serves sf0.001 and 100 TB unchanged.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        # Advisory sized so a big LOCAL shuffle still spreads across the 32
        # cores: at 64m a ~100 MB shuffle coalesced to 1-2 reduce tasks and
        # CPU-bound aggregations ran nearly serial (measured r8 at x10:
        # degree_distribution 32.7 -> 19.3 s, pagerank_bipartite 34.5 ->
        # 20.9 s, 10-heavy-query set 202 -> 128 s just from 64m -> 8m; tiny
        # shuffles still coalesce to one task because parallelismFirst is
        # off). On a real cluster with thousands of cores raise this back
        # toward 64m; like every knob here it keys off session config.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        "spark.driver.memory": driver_memory(),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # parquet scans: pushdown + vectorized reader are defaults, keep them
        # explicit so a misconfigured deployment is caught by tests.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        # The synthetic testdata stores TIMESTAMP(NANOS) which the Spark
        # parquet reader rejects; read them as epoch-nano longs and convert
        # in load_table (micro truncation matches DuckDB's ns->us handling).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
    }


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

    When this call starts the driver JVM (no gateway is live yet), the JVM
    maps a class-data-sharing archive (JEP 310/350) of the classes a
    typical engine run loads, so it skips most class loading and
    verification at start-up. The archive lives at
    ``${XDG_CACHE_HOME:-~/.cache}/numaflow_spark/jvm/<key>.jsa``; the key
    covers the JDK, Spark's jar set, the conf dir and the heap's
    compressed-oops mode, so any change there gets a new archive. The first
    start on a host builds it (about 40 s on 4 cores) in a child process
    that runs a fixed warm-up; a failed build leaves ``<key>.failed`` and is
    not retried, and a start that finds another process building launches
    without the archive instead of waiting. The JVM cannot archive with a
    non-empty directory on its classpath, which holds the conf dir: one
    with only Spark's ``*.template`` files (which Spark never reads) is
    swapped for an empty engine-owned ``SPARK_CONF_DIR``, and one with any
    other file launches without the archive. See :func:`_class_archive`.
    Deleting the directory clears every archive and marker."""
    conf = {**_engine_conf(cpus or DEFAULT_CPUS), "spark.app.name": app_name,
            **(extra_conf or {})}
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = _class_archive(conf)
        if archive is not None:
            path, conf_dir = archive
            conf[JAVA_OPTS] = f"-XX:SharedArchiveFile={path} {conf.get(JAVA_OPTS, '')}".rstrip()
            # the launcher reads it from this process's environment; the
            # empty dir stands in for a templates-only one from here on
            os.environ["SPARK_CONF_DIR"] = conf_dir
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---------------------------------------------------------------------------
# Driver JVM class-data sharing: one archive per host and classpath.
#
# A cold driver JVM loads about 11K classes before its first job. The JDK's
# dynamic archive (-XX:ArchiveClassesAtExit, JEP 350) records the classes a
# run loaded, already parsed and verified, and a later JVM maps it with
# -XX:SharedArchiveFile. The archive is written at the exit of a child
# process, never by the caller's own JVM: a process that ends with os._exit
# or SIGKILL runs no exit hook, and an in-process VM.cds dynamic_dump skips
# classes that are loaded but not yet linked.
# ---------------------------------------------------------------------------

JAVA_OPTS = "spark.driver.defaultJavaOptions"
ARCHIVE_BUILD_TIMEOUT_S = 600
_COMPRESSED_OOPS_MAX = 32 * 2**30


def _archive_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "numaflow_spark", "jvm")


def _heap_bytes(mem: str) -> int | None:
    """``spark.driver.memory`` in bytes (Spark reads a bare number as MiB)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if not m:
        return None
    return int(m[1]) * 2 ** (10 * " kmgt".index(m[2] or "m"))


def _launch_conf_dir(engine_dir: str) -> str | None:
    """The conf dir to launch with when sharing classes, or ``None`` when
    the archive must be skipped. The launcher puts the conf dir on the
    classpath, and the JVM refuses to archive with a non-empty directory
    there. Spark reads nothing from ``*.template`` files, so a conf dir
    holding only those (Spark's distribution default) is swapped for the
    empty ``engine_dir``; any other file means a real deployment conf,
    which is left alone and launched plain."""
    from pyspark.find_spark_home import _find_spark_home

    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        names = []
    if any(not n.endswith(".template") for n in names):
        return None
    os.makedirs(engine_dir, mode=0o700, exist_ok=True)
    return None if os.listdir(engine_dir) else engine_dir


def _archive_key(conf: dict[str, str], conf_dir: str) -> str | None:
    """What an archive is valid for: ``java.home`` and the JDK version, the
    jar set (name, size, mtime), the classpath additions, the conf dir and
    the compressed-oops mode of the heap. ``None`` when one of them cannot
    be read."""
    from pyspark.find_spark_home import _find_spark_home

    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        java_home = java and os.path.dirname(os.path.dirname(os.path.realpath(java)))
    heap = _heap_bytes(conf.get("spark.driver.memory", "1g"))
    if not java_home or heap is None:
        return None
    with open(os.path.join(java_home, "release")) as f:
        release = f.read()
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "*")))
    if not jars:
        return None
    parts = [java_home, release, conf_dir, str(heap < _COMPRESSED_OOPS_MAX),
             conf.get("spark.driver.extraClassPath", "")]
    for jar in jars:
        st = os.stat(jar)
        parts.append(f"{jar}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:32]


def _class_archive(conf: dict[str, str]) -> tuple[str, str] | None:
    """``(archive path, conf dir)`` for a driver JVM about to start with
    ``conf``, building the archive first when this host has none; ``None``
    for a plain launch.

    Plain launches: a cache dir that cannot be created, is not this user's
    or is open to others (a loaded archive is code); a conf dir with real
    files; a key that cannot be read; a ``<key>.failed`` marker; another
    process holding the build lock (no waiting); a failed build."""
    try:
        root = _archive_dir()
        os.makedirs(root, mode=0o700, exist_ok=True)
        st = os.stat(root)
        if st.st_uid != os.getuid() or st.st_mode & 0o077:
            return None
        conf_dir = _launch_conf_dir(os.path.join(root, "conf"))
        key = conf_dir and _archive_key(conf, conf_dir)
        if not key or re.search(r"\s", root):
            return None
        path = os.path.join(root, f"{key}.jsa")
        failed = os.path.join(root, f"{key}.failed")
        if not os.path.exists(path) and not os.path.exists(failed):
            fd = os.open(os.path.join(root, f"{key}.lock"), os.O_CREAT | os.O_RDWR, 0o600)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                if not os.path.exists(path) and not os.path.exists(failed):
                    _build_archive(conf, conf_dir, path, failed)
            except BlockingIOError:
                return None
            finally:
                os.close(fd)  # releases the lock
        return (path, conf_dir) if os.path.exists(path) else None
    except OSError:
        return None


def _archive_builder_argv(tmp: str, conf: dict[str, str]) -> list[str]:
    return [sys.executable, "-c",
            "import sys; from numaflow_spark.session import _archive_child; "
            "sys.exit(_archive_child(sys.argv[1], sys.argv[2]))",
            tmp, json.dumps(conf)]


def _build_archive(conf: dict[str, str], conf_dir: str, path: str, failed: str) -> None:
    """Run the warm-up child and move its archive to ``path`` only when the
    child and its JVM both exited 0; otherwise write ``failed``. The JVM
    writes the archive in place as it exits, so a killed dump leaves a
    truncated file — which would crash every later JVM that maps it — at a
    temporary name only. The caller holds the key's lock, so any other
    temporary file for this key is a dead builder's."""
    for stale in glob.glob(f"{path}.*.tmp"):
        os.unlink(stale)
    tmp = f"{path}.{os.getpid()}.tmp"
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_CONF_DIR": conf_dir, "PYTHONPATH": os.pathsep.join(
        p for p in (pkg_root, os.environ.get("PYTHONPATH")) if p)}
    print(f"numaflow_spark: building the driver JVM's class-data archive {path} "
          "(once per host and classpath)", file=sys.stderr)
    with tempfile.TemporaryFile() as log:
        child = subprocess.Popen(_archive_builder_argv(tmp, conf), env=env,
                                 stdin=subprocess.DEVNULL, stdout=log,
                                 stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = child.wait(timeout=ARCHIVE_BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
            os.killpg(child.pid, signal.SIGKILL)  # the child's JVM is in its group
            child.wait()
        if code == 0 and os.path.isfile(tmp) and os.path.getsize(tmp) > 0:
            os.replace(tmp, path)
            return
        log.seek(max(0, log.seek(0, os.SEEK_END) - 8192))
        tail = log.read().decode(errors="replace")
    if os.path.exists(tmp):
        os.unlink(tmp)
    with open(failed, "w") as f:
        f.write(f"archive build exited {code}; output tail:\n{tail}")
    print(f"numaflow_spark: the class-data archive build failed ({failed}); "
          "launching without it", file=sys.stderr)


def _archive_child(tmp: str, conf_json: str) -> int:
    """The build child: start the driver JVM with ``conf`` plus
    ``-XX:ArchiveClassesAtExit=tmp``, run the warm-up, stop Spark and close
    the gateway's stdin, which makes the JVM write the archive and exit.
    Returns the JVM's exit code."""
    if sys.platform.startswith("linux"):  # die with the process that waits for us
        import ctypes

        ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    conf = json.loads(conf_json)
    conf[JAVA_OPTS] = f"-XX:ArchiveClassesAtExit={tmp} {conf.get(JAVA_OPTS, '')}".rstrip()
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="numaflow-cds-")
    try:
        _archive_warm_up(spark, work)
    finally:
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        jvm.stdin.close()
        code = jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


def _archive_warm_up(spark: SparkSession, work: str) -> None:
    """A fixed engine-shaped run whose loaded classes the archive records:
    a parquet write and read, a join, an aggregate, a window function, Arrow
    in both directions, and one checkpointed, watermarked window stream
    (availableNow) into foreachBatch. Needs no test data."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from numaflow_spark.compiler import start_stream

    src = os.path.join(work, "events")
    spark.range(20_000).select(
        "id", (F.col("id") % 17).alias("k"), F.rand(7).alias("v"),
        F.timestamp_seconds("id").alias("ts"),
        F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias("s"),
    ).write.parquet(src)
    events = spark.read.parquet(src)
    names = spark.createDataFrame(pd.DataFrame({"k": range(17), "name": [f"n{i}" for i in range(17)]}))
    events.join(names, "k").groupBy("name", "s").agg(
        F.sum("v").alias("v"), F.count("*").alias("n")).toPandas()
    rank = F.row_number().over(Window.partitionBy("k").orderBy(F.desc("v")))
    events.withColumn("r", rank).filter("r <= 3").toPandas()

    def write(batch, _epoch):
        batch.write.mode("append").parquet(os.path.join(work, "sink"))

    windows = (
        spark.readStream.schema(events.schema).parquet(src)
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "10 seconds"), "k")
        .agg(F.sum("v").alias("v"))
    )
    writer = windows.writeStream.outputMode("append").foreachBatch(write).trigger(availableNow=True)
    start_stream(spark, writer, checkpoint=os.path.join(work, "ckpt"), key_count=17).awaitTermination()


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
