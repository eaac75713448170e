"""One benchmark workload, run in a fresh process by ``run.py``.

    python3 perfbench/workload.py --workload W --seed N --seconds S \
        --trace 0|1 --out RESULT.json --trace-out TRACE.json \
        --work DIR --spawned-at EPOCH_S

Writes {"correct", "attempted", "failed", "metrics"} to RESULT.json. With
--trace 0 the metrics are the end-to-end set, with --trace 1 the per-layer
set; the traced run also writes its spans to TRACE.json.

Closed loop, one client: the next query or trigger starts only after the
previous one completed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import sys
import time
from typing import NamedTuple

import measure

HERE = os.path.dirname(os.path.abspath(__file__))


def sf_dir() -> str:
    """Batch data: the read-only sf0.01 tables beside the smoke-test set
    the repository's entry module names. At sf0.1 one cold batch-iterative
    pass alone takes about 50 s on 4 cores, too long for a run of about
    40 s."""
    from __spark_entry__ import SMOKE_SF_DIR

    return os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.01")


class Batch(NamedTuple):
    queries: tuple[str, ...]
    tables: tuple[str, ...]  # cached during set-up
    # length of one cold pass on a 4-core host: --seconds is turned into a
    # number of passes with it, so the work a run measures does not depend
    # on how fast the code under test is
    nominal_pass_s: float


WORKLOADS = {
    # Per-query fixed cost: Catalyst planning, job scheduling and py4j/Arrow
    # gaps over the cached tables; no loops, no eager actions.
    "batch-relational": Batch((
        # TPC-H shapes
        "pricing_summary", "join_agg", "returned_item_revenue",
        "local_supplier_volume", "top_k", "rank_per_group", "grouping_sets",
        "pivot_agg", "window_running", "asof_join", "range_join_bands",
        "min_cost_supplier", "excess_shipment_supplier", "waiting_supplier",
        "sql_shipping_priority",
        # windowed reduce
        "fixed_window_keyed", "session_window",
        # tag routing and fan-in
        "route_or", "pipeline_diamond", "flat_map",
    ), ("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events"), 15.0),
    # Eager per-round checkpoints, loop jobs and LSH pair builds:
    # neardup_clusters runs minhash LSH and connected components under
    # sized_loop_conf, simhash_neardup a pandas-UDF LSH, triangle_count the
    # AQE-off materialization.
    "batch-iterative": Batch((
        "neardup_clusters", "simhash_neardup", "triangle_count",
        "graph_assortativity",
    ), ("customer", "orders", "lineitem", "documents"), 20.0),
}

STREAM_YAML = os.path.join(HERE, "stream-window.yaml")
# length of one 10-trigger window on a 4-core host (see Batch.nominal_pass_s)
NOMINAL_WINDOW_S = 5.0
POLL_S = 0.05

PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def start_session(app: str, work: str):
    """Imports plus JVM start; returns (spark, layer timings)."""
    t0 = time.perf_counter()
    from numaflow_spark.session import get_spark
    import numaflow_spark.queries  # noqa: F401 — registry import is set-up
    t1 = time.perf_counter()
    java_opts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    spark = get_spark(app, cpus=ncpus(), extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    return spark, {"session.import_s": t1 - t0, "session.jvm_start_s": t2 - t1}


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


class StatusReader:
    """Spark's status surfaces, read from outside the engine: the status
    tracker's job groups and the AppStatusStore's job and stage records
    (populated with spark.ui.enabled=false)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def drain(self) -> None:
        # the store is fed by the listener bus asynchronously
        self.jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict:
        j = self.store.job(job_id)
        sub, done = j.submissionTime(), j.completionTime()
        ids = j.stageIds()
        return {
            "job": job_id,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
            "stages": [ids.apply(i) for i in range(ids.size())],
        }

    def stage(self, stage_id: int) -> dict | None:
        s = self.store.lastStageAttempt(stage_id)
        if s.status().toString() == "SKIPPED":
            return None
        return {
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
            "shuffle_read_mb": (s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()) / 2**20,
            "spill_mb": s.diskBytesSpilled() / 2**20,
        }

    def stage_totals(self, jobs: list[dict]) -> dict:
        """Stage totals over the distinct stages of ``jobs`` that ran."""
        totals = dict.fromkeys(("stages", "tasks", "run_s", "cpu_s", "gc_s",
                                "shuffle_write_mb", "shuffle_read_mb",
                                "spill_mb"), 0.0)
        for sid in sorted({s for j in jobs for s in j["stages"]}):
            st = self.stage(sid)
            if st is None:
                continue
            totals["stages"] += 1
            for k, v in st.items():
                totals[k] += v
        return totals


SPARK_LAYER = {
    "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.exec_run_s": "run_s", "spark.exec_cpu_s": "cpu_s",
    "spark.gc_s": "gc_s", "spark.shuffle_write_mb": "shuffle_write_mb",
    "spark.shuffle_read_mb": "shuffle_read_mb", "spark.spill_mb": "spill_mb",
}


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------


def run_batch(args, work: str, t_spawn: float) -> dict:
    import check

    probe = measure.host_probe_s()
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    spark, layer = start_session(f"perfbench-{args.workload}", work)
    from numaflow_spark.queries import QUERIES
    from numaflow_spark.session import load_table

    data = sf_dir()
    if not os.path.isdir(data):
        raise SystemExit(f"perfbench: test data {data} not found")
    t0 = time.perf_counter()
    spec = WORKLOADS[args.workload]
    for t in spec.tables:
        load_table(spark, data, t).count()
    layer["session.table_cache_s"] = time.perf_counter() - t0
    setup_s = time.time() - t_spawn

    names = list(spec.queries)
    rng = random.Random(args.seed)
    status = StatusReader(spark) if args.trace else None
    tracer = measure.Tracer()
    times: dict[str, list[float]] = {n: [] for n in names}
    last: dict[str, tuple] = {}
    errors: dict[str, str] = {}
    attempted = 0
    pass_walls: list[float] = []
    acc = dict.fromkeys(("build_s", "plan_s", "exec_s", "build_jobs", "jobs",
                         "job_span_s", "gap_s", "overhead_s"), 0.0)
    acc.update(dict.fromkeys(SPARK_LAYER.values(), 0.0))
    job_counts: dict[str, list[int]] = {n: [] for n in names}
    cover_err = 0.0

    root = os.getpid()
    cpu0, steal0 = measure.process_tree_cpu_s(root), measure.read_cpu_counters()
    t_start = time.perf_counter()
    for _ in range(max(1, round(args.seconds / spec.nominal_pass_s))):
        order = names[:]
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            attempted += 1
            df = None
            trace_id = f"p{len(pass_walls)}:{name}"
            try:
                if status is None:
                    tq = time.perf_counter()
                    df = QUERIES[name](spark, data)
                    pdf = df.toPandas()
                    times[name].append(time.perf_counter() - tq)
                else:
                    df, pdf, wall, rec = traced_query(
                        spark, status, tracer, QUERIES[name], data, trace_id)
                    times[name].append(wall)
                    for k in acc:
                        acc[k] += rec.get(k, 0.0)
                    job_counts[name].append(int(rec["jobs"]))
                    cover_err = max(cover_err, rec["cover_err_pct"])
                last[name] = (list(df.columns), df.schema, pdf)
            except Exception as ex:  # noqa: BLE001 — count it, keep the loop going
                errors[name] = f"{type(ex).__name__}: {ex}"[:300]
                print(f"# {name} raised {errors[name]}", file=sys.stderr)
            del df
            gc.collect()
        pass_walls.append(time.perf_counter() - t_pass)
    cpu_s = measure.process_tree_cpu_s(root) - cpu0
    steal = measure.steal_pct(steal0, measure.read_cpu_counters())
    peak_rss = measure.vm_hwm_mb(jvm_pid(spark))

    # correctness, outside the timed region: last result vs DuckDB oracle
    from numaflow_spark.oracles import ORACLES

    con = check.oracle_connection(data)
    twin_s = 0.0
    mismatched = 0
    for name in names:
        if name not in last:
            continue
        tq = time.perf_counter()
        res = con.execute(ORACLES[name])
        drows = res.fetchall()
        twin_s += time.perf_counter() - tq
        cols, schema, pdf = last[name]
        why = check.compare(cols, check.spark_rows(pdf, schema),
                            [d[0] for d in res.description], check.duck_rows(drows))
        if why:
            mismatched += 1
            errors.setdefault(name, why)
            print(f"# {name} wrong result: {why}", file=sys.stderr)
    con.close()
    t_stop = time.perf_counter()
    spark.stop()
    print(f"# check {t_stop - t_start - sum(pass_walls):.2f} s, "
          f"stop {time.perf_counter() - t_stop:.2f} s", file=sys.stderr)

    failed_execs = attempted - sum(len(t) for t in times.values())
    failed = failed_execs + mismatched
    medians = {n: measure.percentile(t, 50) for n, t in times.items() if t}
    suite_s = sum(medians.values())
    passes = len(pass_walls)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "errors": [f"{k}: {v}" for k, v in errors.items()]}
    host = host_layer(probe, steal)
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "throughput_per_s": metric(len(medians) / suite_s, "1/s"),
        "latency_ms": metric(1000 * measure.geomean(list(medians.values())), "ms"),
        "cpu_ms_per_op": metric(1000 * cpu_s / max(1, attempted - failed_execs), "ms"),
    }
    if not args.trace:
        result["metrics"] = e2e
        return result

    rows = sum(len(v[2]) for v in last.values())
    m = {k: metric(v, "s") for k, v in layer.items()}
    m["session.jvm_peak_rss_mb"] = metric(peak_rss, "MB")
    m.update({
        "queries.build_s": metric(acc["build_s"] / passes, "s"),
        "queries.build_jobs": metric(acc["build_jobs"] / passes, "count"),
        "queries.plan_s": metric(acc["plan_s"] / passes, "s"),
        "queries.exec_s": metric(acc["exec_s"] / passes, "s"),
        "queries.first_pass_s": metric(sum(t[0] for t in times.values() if t), "s"),
        "queries.result_rows": metric(rows, "count"),
        "spark.jobs": metric(acc["jobs"] / passes, "count"),
        "spark.job_span_s": metric(acc["job_span_s"] / passes, "s"),
        "spark.driver_gap_s": metric(acc["gap_s"] / passes, "s"),
        "oracles.twin_s": metric(twin_s, "s"),
        "oracles.twin_ratio": metric(suite_s / twin_s, "x"),
    })
    for name, key in SPARK_LAYER.items():
        m[name] = metric(acc[key] / passes, unit_of(name))
    m.update(zeros(STREAM_LAYER))
    m.update(host)
    m["trace.overhead_pct"] = metric(100 * acc["overhead_s"] / sum(pass_walls), "%")
    m["trace.cover_err_pct"] = metric(cover_err, "%")
    result["metrics"] = m
    result["trace"] = {
        "workload": args.workload, "seed": args.seed, "sf_dir": data,
        "end_to_end": e2e,
        "job_counts": job_counts,
        "query_medians_s": medians,
        "spans": tracer.to_json(),
    }
    return result


def traced_query(spark, status: StatusReader, tracer: measure.Tracer,
                 build, data: str, trace_id: str):
    """Run one query with build / plan / exec spans and its jobs' spans
    (job group = trace id). Returns (df, pdf, wall_s, layer record)."""
    sc = spark.sparkContext
    sc.setJobGroup(trace_id, trace_id)
    t0 = time.time()
    df = build(spark, data)
    t1 = time.time()
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    pdf = df.toPandas()
    t3 = time.time()
    sc.setLocalProperty("spark.jobGroup.id", None)

    o0 = time.perf_counter()
    status.drain()
    jobs = [status.job(j) for j in status.job_ids(trace_id)]
    totals = status.stage_totals(jobs)
    q = tracer.add("query", t0, t3, trace_id, rows=len(pdf))
    phases = [(tracer.add(n, a, b, trace_id, parent=q), a, b)
              for n, a, b in (("build", t0, t1), ("plan", t1, t2), ("exec", t2, t3))]
    spans = []
    build_jobs = 0
    for j in jobs:
        if j["start"] is None or j["end"] is None:
            continue
        parent = next((i for i, a, b in phases if a <= j["start"] < b), phases[-1][0])
        build_jobs += parent == phases[0][0]
        tracer.add("job", j["start"], j["end"], trace_id, parent=parent, job=j["job"])
        spans.append((j["start"], j["end"]))
    job_span = measure.covered(t0, t3, spans)
    wall = t3 - t0
    phase_sum = sum(b - a for _, a, b in phases)
    rec = {
        "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
        "build_jobs": build_jobs, "jobs": len(jobs),
        "job_span_s": job_span, "gap_s": wall - job_span,
        "cover_err_pct": 100 * abs(1 - phase_sum / wall),
        **totals,
    }
    rec["overhead_s"] = time.perf_counter() - o0
    return df, pdf, wall, rec


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def host_layer(probe: float, steal: float) -> dict:
    """The host stamp; untraced runs print it to stderr."""
    print(f"# host: {ncpus()} cpus, steal {steal:.2f}%, probe {probe:.3f} s, "
          f"SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS')}", file=sys.stderr)
    return {"host.steal_pct": metric(steal, "%"), "host.probe_s": metric(probe, "s")}


STREAM_LAYER = (
    ("compiler.compile_s", "s"),
    ("sources.latest_offset_ms_p50", "ms"), ("sources.get_batch_ms_p50", "ms"),
    ("stream.plan_ms_p50", "ms"), ("stream.add_batch_ms_p50", "ms"),
    ("stream.wal_commit_ms_p50", "ms"), ("stream.commit_offsets_ms_p50", "ms"),
    ("stream.triggers", "count"),
    ("state.rows_total", "count"), ("state.mem_mb", "MB"),
    ("state.commit_ms_p50", "ms"), ("state.rows_removed", "count"),
    ("sinks.write_ms_p50", "ms"), ("sinks.rows_written", "count"),
)
BATCH_LAYER = (
    ("session.table_cache_s", "s"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("queries.plan_s", "s"), ("queries.exec_s", "s"),
    ("queries.first_pass_s", "s"), ("queries.result_rows", "count"),
    ("oracles.twin_s", "s"), ("oracles.twin_ratio", "x"),
)


def zeros(layer: tuple) -> dict:
    """The layers a workload does not exercise read 0."""
    return {n: metric(0, u) for n, u in layer}


# ---------------------------------------------------------------------------
# Stream workload
# ---------------------------------------------------------------------------


def run_stream(args, work: str, t_spawn: float) -> dict:
    import yaml

    import check

    probe = measure.host_probe_s()
    spark, layer = start_session("perfbench-stream-window", work)
    from numaflow_spark.compiler import compile_streaming
    from numaflow_spark.streaming.sinks import parquet_sink
    from numaflow_spark.yaml_compiler import pipeline_from_yaml

    with open(STREAM_YAML) as f:
        text = f.read()
    gen, length_s, delay_s = stream_shape(yaml.safe_load(text))
    out_dir = f"{work}/sink"
    write = parquet_sink(out_dir)
    sink_spans: dict[int, tuple[float, float]] = {}

    def timed_write(df, epoch_id):
        t0 = time.time()
        write(df, epoch_id)
        sink_spans[epoch_id] = (t0, time.time())

    t0 = time.perf_counter()
    pipeline = pipeline_from_yaml(text, {"out": timed_write})
    deployment = compile_streaming(pipeline, spark, checkpoint_root=f"{work}/ckpt")
    layer["compiler.compile_s"] = time.perf_counter() - t0
    setup_s = time.time() - t_spawn
    (query,) = deployment.queries.values()

    def last_batch() -> int:
        p = query.lastProgress
        return -1 if p is None else p["batchId"]

    def wait_for(batch_id: int) -> None:
        while last_batch() < batch_id:
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            time.sleep(POLL_S)

    # The first window's triggers warm the code paths and are not measured.
    # Measurement then covers whole windows (one closing trigger each), so
    # every run weighs window closes alike.
    wait_for(length_s - 1)
    root = os.getpid()
    first = last_batch() + 1
    cpu0, steal0 = measure.process_tree_cpu_s(root), measure.read_cpu_counters()
    wait_for(first + length_s * max(1, round(args.seconds / NOMINAL_WINDOW_S)) - 1)
    end_batch = last_batch()
    cpu_s = measure.process_tree_cpu_s(root) - cpu0
    steal = measure.steal_pct(steal0, measure.read_cpu_counters())
    progress = [p for p in query.recentProgress]
    run_id = query.runId
    jobs = []
    if args.trace:
        status = StatusReader(spark)
        status.drain()
        jobs = [status.job(j) for j in status.job_ids(run_id)]
        run_start = next(iso_epoch(p["timestamp"]) for p in progress
                         if p["batchId"] == first)
        jobs = [j for j in jobs if j["start"] is not None and j["end"] is not None
                and run_start <= j["start"]]
        totals = status.stage_totals(jobs)
    # stopping interrupts the trigger in flight; its abort is expected
    spark.sparkContext.setLogLevel("OFF")
    try:
        deployment.stop()
    except Exception as ex:  # noqa: BLE001 — stopping mid-trigger may raise
        print(f"# stop: {type(ex).__name__}", file=sys.stderr)
    peak_rss = measure.vm_hwm_mb(jvm_pid(spark))
    spark.stop()

    measured = [p for p in progress if first <= p["batchId"] <= end_batch]
    durations = [float(p["durationMs"]["triggerExecution"]) for p in measured]
    starts = [iso_epoch(p["timestamp"]) for p in measured]
    wall = starts[-1] + durations[-1] / 1000 - starts[0]
    events = sum(p["numInputRows"] for p in measured)

    # correctness, outside the timed region: every emitted window
    import pyarrow.parquet as pq

    table = pq.read_table(out_dir)
    rows = [(ws, we, keys[0], s) for ws, we, keys, s in zip(
        *(table.column(c).to_pylist() for c in ("window_start", "window_end", "keys", "sum_value")))]
    windows, wrong = check.check_windows(rows, length_s, gen["rpu"], gen["keyCount"])
    last_done = max(p["batchId"] for p in progress)
    # trigger b carries event second b; the window ending at second E
    # closes once the watermark (b - maxDelay) reaches E, and the next
    # trigger emits it
    due = max(0, (last_done - delay_s - 1) // length_s)
    missing = max(0, due - windows)
    for w in wrong:
        print(f"# {w}", file=sys.stderr)
    if missing:
        print(f"# {missing} windows due but not emitted", file=sys.stderr)
    attempted = last_done + 1
    failed = len(wrong) + missing
    result = {"correct": failed == 0 and windows > 0, "attempted": attempted,
              "failed": failed, "errors": wrong}
    host = host_layer(probe, steal)
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "throughput_per_s": metric(events / wall, "1/s"),
        "latency_ms": metric(measure.percentile(durations, 50), "ms"),
        "cpu_ms_per_op": metric(1000 * cpu_s / (end_batch - first + 1), "ms"),
    }
    if not args.trace:
        result["metrics"] = e2e
        return result

    tracer = measure.Tracer()
    cover_err = 0.0
    for p, start in zip(measured, starts):
        d = p["durationMs"]
        tid = f"b{p['batchId']}"
        trig = tracer.add("trigger", start, start + d["triggerExecution"] / 1000, tid)
        # durationMs gives phase lengths only; lay them out in execution order
        t = start
        for ph in PHASES:
            idx = tracer.add(ph, t, t + d.get(ph, 0) / 1000, tid, parent=trig)
            if ph == "addBatch" and p["batchId"] in sink_spans:
                a, b = sink_spans[p["batchId"]]
                tracer.add("sink.write", a, b, tid, parent=idx)
            t += d.get(ph, 0) / 1000
        cover_err = max(cover_err, 100 * abs(1 - sum(d.get(ph, 0) for ph in PHASES)
                                             / d["triggerExecution"]))

    def p50(key):
        return measure.percentile([float(p["durationMs"].get(key, 0)) for p in measured], 50)

    states = [p["stateOperators"][0] for p in measured]
    in_window = [j for j in jobs if j["start"] <= starts[0] + wall]
    job_span = measure.covered(starts[0], starts[0] + wall,
                               [(j["start"], j["end"]) for j in in_window])
    n = len(measured)
    m = {
        "session.import_s": metric(layer["session.import_s"], "s"),
        "session.jvm_start_s": metric(layer["session.jvm_start_s"], "s"),
        "session.jvm_peak_rss_mb": metric(peak_rss, "MB"),
        "compiler.compile_s": metric(layer["compiler.compile_s"], "s"),
        "sources.latest_offset_ms_p50": metric(p50("latestOffset"), "ms"),
        "sources.get_batch_ms_p50": metric(p50("getBatch"), "ms"),
        "stream.plan_ms_p50": metric(p50("queryPlanning"), "ms"),
        "stream.add_batch_ms_p50": metric(p50("addBatch"), "ms"),
        "stream.wal_commit_ms_p50": metric(p50("walCommit"), "ms"),
        "stream.commit_offsets_ms_p50": metric(p50("commitOffsets"), "ms"),
        "stream.triggers": metric(n, "count"),
        "state.rows_total": metric(states[-1]["numRowsTotal"], "count"),
        "state.mem_mb": metric(states[-1]["memoryUsedBytes"] / 2**20, "MB"),
        "state.commit_ms_p50": metric(measure.percentile(
            [float(s["commitTimeMs"]) for s in states], 50), "ms"),
        "state.rows_removed": metric(sum(s["numRowsRemoved"] for s in states), "count"),
        "sinks.write_ms_p50": metric(measure.percentile(
            [1000 * (b - a) for e, (a, b) in sink_spans.items() if first <= e <= end_batch],
            50), "ms"),
        "sinks.rows_written": metric(table.num_rows, "count"),
        # per trigger, like the batch workloads' per-pass figures
        "spark.jobs": metric(len(in_window) / n, "count"),
        "spark.job_span_s": metric(job_span / n, "s"),
        "spark.driver_gap_s": metric((wall - job_span) / n, "s"),
    }
    for name, key in SPARK_LAYER.items():
        m[name] = metric(totals[key] / n, unit_of(name))
    m.update(zeros(BATCH_LAYER))
    m.update(host)
    m["trace.overhead_pct"] = metric(0.0, "%")
    m["trace.cover_err_pct"] = metric(cover_err, "%")
    result["metrics"] = m
    result["trace"] = {"workload": args.workload, "seed": args.seed,
                       "end_to_end": e2e, "spans": tracer.to_json()}
    return result


def stream_shape(doc: dict) -> tuple[dict, int, int]:
    """(generator spec, window length, watermark maxDelay), lengths in
    seconds, from the pipeline YAML."""
    gen = length = None
    for v in doc["spec"]["vertices"]:
        if "generator" in (v.get("source") or {}):
            gen = v["source"]["generator"]
        win = ((v.get("udf") or {}).get("groupBy") or {}).get("window") or {}
        if "fixed" in win:
            length = int(str(win["fixed"]["length"]).rstrip("s"))
    return gen, length, int(str(doc["spec"]["watermark"]["maxDelay"]).rstrip("s"))


def iso_epoch(ts: str) -> float:
    """StreamingQueryProgress.timestamp ('2026-01-01T00:00:00.123Z') as
    epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()
    if args.workload == "stream-window":
        result = run_stream(args, args.work, args.spawned_at)
    else:
        result = run_batch(args, args.work, args.spawned_at)
    trace = result.pop("trace", None)
    if trace is not None:
        with open(args.trace_out, "w") as f:
            json.dump(trace, f)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # Skip interpreter teardown (about 2 s of py4j shutdown): the results
    # are on disk and run.py kills the stopped JVM with the process group.
    os._exit(code)
