"""Streaming end-to-end tests: the reference's e2e pattern (pump batches,
assert golden sink contents — SURVEY.md §5) realized as parquet replay →
compiled streaming query → memory sink, with watermark-driven emission.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from numaflow_spark.compiler import compile_streaming
from numaflow_spark.pipeline import MapUDF, Pipeline, ReduceUDF, Sink, Source, Vertex
from numaflow_spark.sources.file_source import replay_stream, write_replay_batches


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="nfs_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _event_df(spark, n=60):
    # one event per 30s per key over two keys: 10-minute windows hold 20 each
    return spark.createDataFrame(
        [(i, f"key-{i % 2}", 1, i * 30) for i in range(n)],
        "id long, key string, v long, off long",
    ).select(
        "id",
        "key",
        "v",
        F.timestamp_seconds(F.col("off") + 1704067200).alias("event_time"),
    )


def test_streaming_fixed_window_append(spark, tmpdir):
    """Keyed fixed-window sum over a replayed stream: windows whose end the
    watermark passed are emitted exactly once (the reference's CLOSE->emit
    contract, reduce.proto:38-49) and match the batch computation."""
    events = _event_df(spark)
    data_dir = write_replay_batches(events, f"{tmpdir}/in", batches=4, order_col="id")

    def stream_reader(s):
        return replay_stream(s, data_dir, schema=events.schema, max_files_per_trigger=1)

    p = (
        Pipeline("stream-reduce")
        .add(Vertex("in", source=Source(reader=lambda s: events, stream_reader=stream_reader)))
        .add(
            Vertex(
                "agg",
                udf=ReduceUDF(
                    window={"fixed": "10 minutes"},
                    keys=("key",),
                    aggs=[F.sum("v").alias("s")],
                    allowed_lateness="0 seconds",
                ),
            )
        )
        .add(Vertex("out", sink=Sink()))
        .connect("in", "agg")
        .connect("agg", "out")
    )
    dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
    try:
        dep.process_all_available()
        got = {
            (r.window_start, r.key): r.s
            for r in spark.sql("SELECT * FROM out").collect()
        }
    finally:
        dep.stop()

    # 60 events over 30 minutes -> 3 windows; the last window (holding the
    # max event time) is not closed by the final watermark, so append mode
    # has emitted the first two (10 per key each).
    assert len(got) == 4
    assert all(v == 10 for v in got.values())


def test_streaming_map_filter_foreach_batch(spark, tmpdir):
    """Map+filter pipeline with a UDSink-style foreachBatch writer
    (sink.proto:30-35): every batch lands in the collected golden list."""
    events = _event_df(spark, n=20)
    data_dir = write_replay_batches(events, f"{tmpdir}/in", batches=2, order_col="id")
    collected = []

    def writer(df, epoch_id):
        collected.extend((r.id, r.v2) for r in df.collect())

    def stream_reader(s):
        return replay_stream(s, data_dir, schema=events.schema, max_files_per_trigger=1)

    p = (
        Pipeline("stream-map")
        .add(Vertex("in", source=Source(reader=lambda s: events, stream_reader=stream_reader)))
        .add(
            Vertex(
                "double-evens",
                udf=MapUDF(lambda df: df.filter(F.col("id") % 2 == 0).withColumn("v2", F.col("v") * 2)),
            )
        )
        .add(Vertex("out", sink=Sink(writer=writer)))
        .connect("in", "double-evens")
        .connect("double-evens", "out")
    )
    dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
    try:
        dep.process_all_available()
    finally:
        dep.stop()

    assert sorted(collected) == [(i, 2) for i in range(0, 20, 2)]


def test_streaming_generator_smoke(spark, tmpdir):
    """S1 generator source produces enveloped rows (generator.rs:10-24)."""
    from numaflow_spark.sources.generator import generator_stream

    df = generator_stream(spark, rpu=10, key_count=4, jitter_seconds=5)
    q = (
        df.writeStream.format("memory")
        .queryName("gen_out")
        .option("checkpointLocation", f"{tmpdir}/ckpt_gen")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM gen_out").collect()
    finally:
        q.stop()
    assert len(rows) > 0
    r = rows[0]
    assert r.keys[0].startswith("key-")
    assert r.id.vertex_name == "generator"
    assert bytes(r.value).decode() in {"1", "2", "3"}


def test_streaming_session_window_merges(spark, tmpdir):
    """R3 session windows in streaming compile: two bursts per key separated
    by more than the gap form two sessions, and an out-of-order bridging
    event delivered in a LATER replay batch merges them (the
    sessionreduce.proto MERGE op, handled by Spark's session_window state)."""
    base = 1704067200
    rows = []
    for k in ("a", "b"):
        rows += [(len(rows), k, base + s) for s in (0, 60, 120)]        # burst 1
        rows += [(len(rows) + i, k, base + 600 + 60 * i) for i in range(3)]  # burst 2 (gap 8 min > 5 min)
    bridge = [(100, "a", base + 360)]  # lands between a's bursts: gap to both < 5 min
    flush = [(200, "a", base + 7200), (201, "b", base + 7200)]  # pushes the final WM
    events = spark.createDataFrame(
        [(i, k, t) for (i, k, t) in rows], "id long, key string, sec long"
    ).select("id", "key", F.timestamp_seconds("sec").alias("event_time"))
    late = spark.createDataFrame(bridge, "id long, key string, sec long").select(
        "id", "key", F.timestamp_seconds("sec").alias("event_time")
    )
    flush_df = spark.createDataFrame(flush, "id long, key string, sec long").select(
        "id", "key", F.timestamp_seconds("sec").alias("event_time")
    )
    # batch 1 = both bursts, batch 2 = the bridging event (out-of-order,
    # admitted because lateness > its lag), batch 3 = far-future events
    # whose only job is to advance the watermark past every session end
    data_dir = f"{tmpdir}/in"
    events.coalesce(1).write.parquet(f"{data_dir}/b=0")
    late.coalesce(1).write.parquet(f"{data_dir}/b=1")
    flush_df.coalesce(1).write.parquet(f"{data_dir}/b=2")
    schema = events.schema

    def stream_reader(s):
        return replay_stream(s, data_dir, schema=schema, max_files_per_trigger=1)

    p = (
        Pipeline("session-merge")
        .add(Vertex("in", source=Source(reader=lambda s: events,
                                        stream_reader=stream_reader)))
        .add(
            Vertex(
                "agg",
                udf=ReduceUDF(
                    window={"session": "5 minutes"},
                    keys=("key",),
                    aggs=[F.count("*").alias("n")],
                    allowed_lateness="6 minutes",
                ),
            )
        )
        .add(Vertex("out", sink=Sink()))
        .connect("in", "agg")
        .connect("agg", "out")
    )
    dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
    try:
        dep.process_all_available()
        got = {(r.key, r.n) for r in spark.sql("SELECT key, n FROM out").collect()}
    finally:
        dep.stop()
    # key b: two separate 3-event sessions closed by the final watermark;
    # key a: the bridge merged both bursts into one 7-event session
    assert ("a", 7) in got, f"merge failed: {got}"
    assert ("b", 3) in got


def test_reduce_failover_recovers_state(spark, tmpdir):
    """R7 WAL-failover analogue (reduce_two_test.go:140): the query dies
    after the first micro-batch of a keyed windowed reduce; the restarted
    query recovers window state from the checkpoint and the final emitted
    windows are exactly what an uninterrupted run produces — no loss, no
    double-count of the replayed range."""
    import time as _t

    events = _event_df(spark)  # 60 events, 2 keys, 10-minute windows of 20
    data_dir = write_replay_batches(events, f"{tmpdir}/in", batches=4, order_col="id")
    schema = events.schema
    emitted: list[tuple] = []

    def start():
        src = replay_stream(spark, data_dir, schema=schema, max_files_per_trigger=1)
        agg = (
            src.withWatermark("event_time", "0 seconds")
            .groupBy(F.window("event_time", "10 minutes"), "key")
            .agg(F.sum("v").alias("s"))
            .select(F.col("window.start").alias("ws"), "key", "s")
        )
        # the memory sink cannot recover from a checkpoint; a foreachBatch
        # sink (the UDSink shape, compiler.py) is the durable path
        return (
            agg.writeStream.foreachBatch(
                lambda df, eid: emitted.extend((r.key, r.s) for r in df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .start()
        )

    # run 1: process exactly one micro-batch, then "crash"
    q1 = start()
    try:
        deadline = _t.monotonic() + 60
        while not q1.recentProgress and _t.monotonic() < deadline:
            _t.sleep(0.2)
    finally:
        q1.stop()
    # run 2: fresh query object, same checkpoint — replays uncommitted
    # ranges, restores in-flight window state
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # 60 events / 2 keys / 30 min => 10 events per key per 10-min window;
    # the final watermark closes the first two of the three windows, so each
    # key emits two windows of sum 10 — exactly once despite the crash.
    got = sorted(emitted)
    assert got == [("key-0", 10), ("key-0", 10), ("key-1", 10), ("key-1", 10)], got


def test_streaming_sliding_window_append(spark, tmpdir):
    """R2 sliding windows in streaming compile: each event lands in
    length/slide windows; append mode emits each window once when the
    watermark passes its end, matching the batch computation."""
    events = _event_df(spark)  # 60 events, 2 keys, 30s apart over 30 min
    data_dir = write_replay_batches(events, f"{tmpdir}/in", batches=3, order_col="id")
    schema = events.schema

    def stream_reader(s):
        return replay_stream(s, data_dir, schema=schema, max_files_per_trigger=1)

    p = (
        Pipeline("stream-slide")
        .add(Vertex("in", source=Source(reader=lambda s: events, stream_reader=stream_reader)))
        .add(
            Vertex(
                "agg",
                udf=ReduceUDF(
                    window={"sliding": ("10 minutes", "5 minutes")},
                    keys=("key",),
                    aggs=[F.count("*").alias("n")],
                    allowed_lateness="0 seconds",
                ),
            )
        )
        .add(Vertex("out", sink=Sink()))
        .connect("in", "agg")
        .connect("agg", "out")
    )
    dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
    try:
        dep.process_all_available()
        emitted = spark.sql("SELECT * FROM out").collect()
    finally:
        dep.stop()

    # batch-mode twin of the same spec is the golden result, restricted to
    # windows the final watermark (last event time) actually closed
    from numaflow_spark.compiler import compile_batch

    golden = compile_batch(p, spark)["out"].collect()
    last_et = max(r.event_time for r in events.collect())
    cols = emitted[0].asDict().keys() if emitted else []
    assert "window_end" in cols or emitted, f"no rows emitted: {emitted}"
    def keyed(rows, closed_only):
        out = {}
        for r in rows:
            d = r.asDict()
            end = d.get("window_end")
            if closed_only and end is not None and end > last_et.timestamp():
                continue
            out[(d.get("window_start"), d.get("key"))] = d.get("n")
        return out
    got = keyed(emitted, closed_only=False)
    want = keyed(golden, closed_only=True)
    assert got == want and len(got) >= 8, f"sliding mismatch: {got} vs {want}"


SHUFFLE = "spark.sql.shuffle.partitions"

WIDTH_YAML = """
kind: Pipeline
metadata: {name: width}
spec:
  watermark: {maxDelay: 0s}
  vertices:
    - name: in
      source:
        generator: {rpu: 50, duration: 1s, keyCount: 6}
    - name: agg
      udf:
        container: {image: quay.io/numaio/numaflow-go/reduce-sum:stable}
        groupBy:
          window: {fixed: {length: 10s}}
          keyed: true
    - name: out
      sink:
        udsink:
          container: {image: example/sink:v1}
  edges:
    - {from: in, to: agg}
    - {from: agg, to: out}
"""


def _state_width(query) -> int:
    """numShufflePartitions of the query's stateful operator, once a
    trigger has run."""
    import time

    deadline = time.monotonic() + 60
    while query.lastProgress is None or not query.lastProgress["stateOperators"]:
        assert query.exception() is None, query.exception()
        assert time.monotonic() < deadline, "no stateful progress within 60 s"
        time.sleep(0.1)
    return query.lastProgress["stateOperators"][0]["numShufflePartitions"]


def test_compiled_stream_state_width_from_rule(spark, tmpdir):
    """A compiled stateful YAML stream starts at the engine's width rule
    (cores from defaultParallelism, keys from the generator's keyCount),
    also after pause -> resume, and the session's own shuffle width is
    untouched at every step."""
    from numaflow_spark.scale import streaming_state_partitions
    from numaflow_spark.streaming.sinks import parquet_sink
    from numaflow_spark.yaml_compiler import pipeline_from_yaml

    p = pipeline_from_yaml(WIDTH_YAML, {"out": parquet_sink(f"{tmpdir}/sink")})
    width = streaming_state_partitions(6, spark.sparkContext.defaultParallelism)
    session_width = spark.conf.get(SHUFFLE)
    assert str(width) != session_width  # the check below can tell them apart
    dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
    try:
        assert spark.conf.get(SHUFFLE) == session_width
        assert _state_width(dep.queries["out"]) == width
        dep.pause(drain=False)
        assert spark.conf.get(SHUFFLE) == session_width
        dep.resume()
        assert spark.conf.get(SHUFFLE) == session_width
        assert _state_width(dep.queries["out"]) == width
    finally:
        dep.stop()
    assert spark.conf.get(SHUFFLE) == session_width


FS_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
              "FileSystemBasedCheckpointFileManager")
FC_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
              "FileContextBasedCheckpointFileManager")
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def _log_managers(query) -> set[str]:
    """Classes of the checkpoint managers behind a running query's offset
    and commit logs."""
    jq = query._jsq.streamingQuery()
    return {log.fileManager().getClass().getName()
            for log in (jq.offsetLog(), jq.commitLog())}


def test_compiled_stream_checkpoints_through_filesystem_manager(spark, tmpdir):
    """A compiled YAML stream with a local checkpoint root runs on Spark
    4.1's FileSystem-based checkpoint manager — the cloned session the
    query runs on names it and its offset and commit logs use it, also
    after pause -> resume — while the caller's session never carries it.
    The class name is spelled out: a Spark upgrade that moves it fails
    here."""
    from numaflow_spark.streaming.sinks import parquet_sink
    from numaflow_spark.yaml_compiler import pipeline_from_yaml

    def check(q):
        cloned = q._jsq.streamingQuery().sparkSessionForStream()
        assert cloned.conf().get(MANAGER) == FS_MANAGER
        assert _log_managers(q) == {FS_MANAGER}
        assert spark.conf.get(MANAGER, None) is None

    p = pipeline_from_yaml(WIDTH_YAML, {"out": parquet_sink(f"{tmpdir}/sink")})
    assert spark.conf.get(MANAGER, None) is None
    dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
    try:
        check(dep.queries["out"])
        dep.pause(drain=False)
        assert spark.conf.get(MANAGER, None) is None
        dep.resume()
        check(dep.queries["out"])
    finally:
        dep.stop()
    assert spark.conf.get(MANAGER, None) is None


def test_blackhole_sink_runs_stateful_stream(spark, tmpdir):
    """A YAML keyed fixed-window reduce feeding ``blackhole: {}`` runs
    trigger after trigger: the discard writer consumes each micro-batch,
    which a stateful query requires of a foreachBatch writer."""
    import time

    from numaflow_spark.yaml_compiler import pipeline_from_yaml

    yaml = WIDTH_YAML.replace(
        "        udsink:\n          container: {image: example/sink:v1}\n",
        "        blackhole: {}\n")
    assert "blackhole" in yaml
    dep = compile_streaming(pipeline_from_yaml(yaml, {}), spark,
                            checkpoint_root=f"{tmpdir}/ckpt")
    q = dep.queries["out"]
    try:
        deadline = time.monotonic() + 60
        while q.lastProgress is None or q.lastProgress["batchId"] < 2:
            assert q.exception() is None, q.exception()
            assert time.monotonic() < deadline, "fewer than 3 triggers in 60 s"
            time.sleep(0.1)
        assert q.exception() is None, q.exception()
    finally:
        dep.stop()


def _keyed_sum_pipeline(events, data_dir, sink_dir, key_count):
    from numaflow_spark.streaming.sinks import parquet_sink

    def stream_reader(s):
        return replay_stream(s, data_dir, schema=events.schema, max_files_per_trigger=1)

    return (
        Pipeline("restart-width")
        .add(Vertex("in", source=Source(reader=lambda s: events,
                                        stream_reader=stream_reader,
                                        key_count=key_count)))
        .add(Vertex("agg", udf=ReduceUDF(window={"fixed": "10 minutes"}, keys=("key",),
                                         aggs=[F.sum("v").alias("s")])))
        .add(Vertex("out", sink=Sink(writer=parquet_sink(sink_dir))))
        .connect("in", "agg")
        .connect("agg", "out")
    )


def test_restart_keeps_checkpoint_state_width(spark, tmpdir, monkeypatch):
    """A stream restarted from a checkpoint written at width 4 keeps 4
    (the rule now says 2) and its sink holds the same rows as one
    uninterrupted run at the rule's width."""
    import numaflow_spark.compiler as compiler

    events = _event_df(spark)
    staged = write_replay_batches(events, f"{tmpdir}/staged", batches=4, order_col="id")
    files = sorted(os.listdir(staged))

    def sink_rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    # reference: one run over all four files at the rule's width (2)
    ref = _keyed_sum_pipeline(events, staged, f"{tmpdir}/ref_sink", key_count=2)
    dep = compile_streaming(ref, spark, checkpoint_root=f"{tmpdir}/ref_ckpt")
    try:
        dep.process_all_available()
        assert _state_width(dep.queries["out"]) == 2
    finally:
        dep.stop()

    # first half at width 4, then a restart over the rest
    live = f"{tmpdir}/live"
    os.makedirs(live)
    for f in files[:2]:
        shutil.copy(os.path.join(staged, f), live)
    p = _keyed_sum_pipeline(events, live, f"{tmpdir}/sink", key_count=2)
    with monkeypatch.context() as m:
        m.setattr(compiler, "streaming_state_partitions", lambda keys, cores: 4)
        dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
        try:
            dep.process_all_available()
            assert _state_width(dep.queries["out"]) == 4
        finally:
            dep.stop()
    for f in files[2:]:
        shutil.copy(os.path.join(staged, f), live)
    dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
    try:
        dep.process_all_available()
        assert _state_width(dep.queries["out"]) == 4
    finally:
        dep.stop()

    want = sink_rows(f"{tmpdir}/ref_sink")
    assert len(want) == 4  # two closed 10-minute windows x two keys
    assert sink_rows(f"{tmpdir}/sink") == want


def _checkpoint_files(root) -> dict[str, set[str]]:
    return {d: {os.path.relpath(os.path.join(dp, f), root)
                for dp, _, fs in os.walk(os.path.join(root, d)) for f in fs}
            for d in ("offsets", "commits", os.path.join("state", "0", "0"))}


def test_checkpoint_managers_write_the_same_files(spark, tmpdir, monkeypatch):
    """Three triggers of a keyed windowed reduce leave the same files
    under offsets/, commits/ and state/0/0/ — Spark's checksum sidecars
    and Hadoop's .crc files included — whether the FileContext manager
    (Spark's default) or the FileSystem manager (the engine's rule on
    ``file:``) wrote them."""
    import numaflow_spark.compiler as compiler

    events = _event_df(spark)
    staged = write_replay_batches(events, f"{tmpdir}/staged", batches=3, order_col="id")
    files = {}
    for arm, manager in (("fc", FC_MANAGER), ("fs", FS_MANAGER)):
        p = _keyed_sum_pipeline(events, staged, f"{tmpdir}/{arm}/sink", key_count=2)
        with monkeypatch.context() as m:
            m.setattr(compiler, "streaming_checkpoint_conf",
                      lambda spark, root, manager=manager: {MANAGER: manager})
            dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/{arm}/ckpt")
        try:
            dep.process_all_available()
            assert _log_managers(dep.queries["out"]) == {manager}
            assert dep.queries["out"].lastProgress["batchId"] >= 2
        finally:
            dep.stop()
        files[arm] = _checkpoint_files(f"{tmpdir}/{arm}/ckpt/out")
    assert all(files["fs"].values()), files["fs"]
    assert files["fc"] == files["fs"]


def test_filecontext_checkpoint_resumes_under_rule(spark, tmpdir, monkeypatch):
    """A checkpoint written under the FileContext manager (what every
    local stream used before the rule) resumes under the FileSystem
    manager, and the sink ends with the rows of one uninterrupted run."""
    import numaflow_spark.compiler as compiler

    events = _event_df(spark)
    staged = write_replay_batches(events, f"{tmpdir}/staged", batches=4, order_col="id")
    files = sorted(os.listdir(staged))

    def sink_rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    ref = _keyed_sum_pipeline(events, staged, f"{tmpdir}/ref_sink", key_count=2)
    dep = compile_streaming(ref, spark, checkpoint_root=f"{tmpdir}/ref_ckpt")
    try:
        dep.process_all_available()
    finally:
        dep.stop()

    live = f"{tmpdir}/live"
    os.makedirs(live)
    for f in files[:2]:
        shutil.copy(os.path.join(staged, f), live)
    p = _keyed_sum_pipeline(events, live, f"{tmpdir}/sink", key_count=2)
    with monkeypatch.context() as m:
        m.setattr(compiler, "streaming_checkpoint_conf",
                  lambda spark, root: {MANAGER: FC_MANAGER})
        dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
    try:
        dep.process_all_available()
        assert _log_managers(dep.queries["out"]) == {FC_MANAGER}
    finally:
        dep.stop()
    for f in files[2:]:
        shutil.copy(os.path.join(staged, f), live)
    dep = compile_streaming(p, spark, checkpoint_root=f"{tmpdir}/ckpt")
    try:
        dep.process_all_available()
        assert _log_managers(dep.queries["out"]) == {FS_MANAGER}
    finally:
        dep.stop()

    want = sink_rows(f"{tmpdir}/ref_sink")
    assert len(want) == 4  # two closed 10-minute windows x two keys
    assert sink_rows(f"{tmpdir}/sink") == want


@pytest.mark.parametrize("manager", [FC_MANAGER, FS_MANAGER])
def test_create_atomic_refuses_existing_file(spark, tmpdir, manager):
    """On ``file:``, ``createAtomic(existing, overwriteIfPossible=False)``
    fails on close with FileAlreadyExistsException under the FileSystem
    manager exactly as under the FileContext manager, and the existing
    file keeps its bytes."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    conf.set(MANAGER, manager)
    path = os.path.join(tmpdir, "0")
    with open(path, "wb") as f:
        f.write(b"old")
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path(tmpdir), conf)
    assert fm.getClass().getName() == manager
    out = fm.createAtomic(jvm.org.apache.hadoop.fs.Path(path), False)
    out.write(bytearray(b"new"))
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(err.value.java_exception), err.value.java_exception
    with open(path, "rb") as f:
        assert f.read() == b"old"


def test_parquet_sink_writes_only_nonempty_batches(spark, tmpdir):
    """parquet_sink over empty / non-empty / empty batches leaves exactly
    one parquet file holding the rows once, and evaluates each batch's
    plan once (a counting UDF stands in for the stateful step)."""
    from pyspark.sql.types import LongType

    from numaflow_spark.streaming.sinks import parquet_sink

    evaluated = spark.sparkContext.accumulator(0)

    def step(v):
        evaluated.add(1)
        return v

    # nondeterministic: the filter is not pushed below the UDF's projection
    # (which would evaluate it twice a row), and, reading the UDF's output,
    # it keeps every action from pruning the UDF away
    step_udf = F.udf(step, LongType()).asNondeterministic()
    rows = spark.range(0, 5, 1, 1).select(step_udf("id").alias("id"))
    batch, empty = rows.filter(F.col("id") >= 0), rows.filter(F.col("id") < 0)
    path = f"{tmpdir}/sink"
    write = parquet_sink(path)
    write(empty, 0)
    write(batch, 1)
    write(empty, 2)
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(parts) == 1, parts
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(5))
    # each batch ran its plan once: the write reads what the count cached
    assert evaluated.value == 5 + 5 + 5


def test_replay_batches_replay_in_batch_order(spark, tmpdir):
    """The file source replays in modification-time order at millisecond
    resolution; replay files written within one millisecond used to tie
    and replay in directory-listing order. Their mtimes now rise by whole
    seconds in batch order."""
    data_dir = write_replay_batches(_event_df(spark), f"{tmpdir}/in", batches=4, order_col="id")
    files = sorted(os.listdir(data_dir))
    seconds = [os.stat(os.path.join(data_dir, f)).st_mtime_ns // 10**9 for f in files]
    assert len(files) == 4 and seconds == sorted(set(seconds)), seconds
