"""Pipeline CRD YAML → engine Pipeline: the reference's own example shapes
(simple generator→cat→log, even-odd conditional routing, keyed reduce)
parse, validate, and run through the batch/streaming compilers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from numaflow_spark.compiler import compile_batch
from numaflow_spark.yaml_compiler import parse_go_duration, pipeline_from_yaml

SIMPLE = """
apiVersion: numaflow.numaproj.io/v1alpha1
kind: Pipeline
metadata:
  name: simple-pipeline
spec:
  vertices:
    - name: input
      source:
        generator:
          rpu: 5
          duration: 1s
    - name: p1
      udf:
        container:
          image: quay.io/numaio/numaflow-go/map-cat:stable
    - name: output
      sink:
        log: {}
  edges:
    - from: input
      to: p1
    - from: p1
      to: output
"""

EVEN_ODD = """
kind: Pipeline
metadata:
  name: even-odd
spec:
  vertices:
    - name: in
      source:
        generator:
          rpu: 10
          duration: 1s
    - name: even-or-odd
      udf:
        container:
          image: quay.io/numaio/numaflow-go/even-odd:stable
    - name: even-sink
      sink:
        log: {}
    - name: odd-sink
      sink:
        blackhole: {}
  edges:
    - from: in
      to: even-or-odd
    - from: even-or-odd
      to: even-sink
      conditions:
        tags:
          operator: or
          values:
            - even
    - from: even-or-odd
      to: odd-sink
      conditions:
        tags:
          values:
            - odd
"""

REDUCE = """
kind: Pipeline
metadata:
  name: keyed-reduce
spec:
  vertices:
    - name: in
      source:
        generator:
          rpu: 5
          duration: 1s
          keyCount: 2
    - name: compute-sum
      udf:
        container:
          image: quay.io/numaio/numaflow-go/reduce-sum:stable
        groupBy:
          window:
            fixed:
              length: 10s
          keyed: true
          allowedLateness: 30s
    - name: out
      sink:
        log: {}
  edges:
    - from: in
      to: compute-sum
    - from: compute-sum
      to: out
"""


def test_go_durations():
    assert parse_go_duration("10s") == "10 seconds"
    assert parse_go_duration("1m30s") == "90 seconds"
    assert parse_go_duration("100ms") == "100 milliseconds"
    assert parse_go_duration("1h") == "3600 seconds"
    with pytest.raises(ValueError):
        parse_go_duration("ten seconds")


def test_simple_pipeline_parses_and_runs(spark):
    p = pipeline_from_yaml(SIMPLE)
    assert [v.name for v in p.vertices] == ["input", "p1", "output"]
    out = compile_batch(p, spark)["output"]
    rows = out.collect()
    assert len(rows) == 150  # rpu 5 x 30-tick batch twin
    assert bytes(rows[0].value).decode() in {"1", "2", "3"}


def test_even_odd_routing(spark):
    p = pipeline_from_yaml(EVEN_ODD)
    sinks = compile_batch(p, spark)
    even = sinks["even-sink"].select(F.col("value").cast("string").cast("long").alias("n"))
    odd = sinks["odd-sink"].select(F.col("value").cast("string").cast("long").alias("n"))
    assert even.filter(F.col("n") % 2 != 0).count() == 0
    assert odd.filter(F.col("n") % 2 == 0).count() == 0
    assert even.count() + odd.count() == 300  # multicast partition is exact


def test_keyed_reduce_window(spark):
    p = pipeline_from_yaml(REDUCE)
    v = p.vertex("compute-sum")
    assert v.kind == "reduce"
    assert v.udf.window == {"fixed": "10 seconds"}
    assert v.udf.keys == ("keys",) and v.udf.allowed_lateness == "30 seconds"
    out = compile_batch(p, spark)["out"]
    # 150 generator rows, 2 keys, values cycle 1,2,3 -> sums exist per
    # (window x key) and total equals the global sum
    total = out.agg(F.sum("sum_value")).first()[0]
    assert total == sum((i % 3) + 1 for i in range(150))


def test_unknown_udf_image_is_actionable():
    bad = SIMPLE.replace("map-cat", "map-mystery")
    with pytest.raises(ValueError, match="udf_registry"):
        pipeline_from_yaml(bad)


def test_registry_overrides_by_vertex_name(spark):
    p = pipeline_from_yaml(
        SIMPLE, udf_registry={"p1": lambda df: df.withColumn("extra", F.lit(1))}
    )
    out = compile_batch(p, spark)["output"]
    assert "extra" in out.columns


MONO = """
kind: MonoVertex
metadata:
  name: mv
spec:
  source:
    generator:
      rpu: 4
      duration: 1s
  udf:
    container:
      image: quay.io/numaio/numaflow-go/map-cat:stable
  sink:
    log: {}
"""

WM_PIPELINE = """
kind: Pipeline
metadata:
  name: wm
spec:
  watermark:
    maxDelay: 30s
  vertices:
    - name: in
      source:
        generator:
          rpu: 5
          duration: 1s
    - name: agg
      udf:
        container:
          image: quay.io/numaio/numaflow-go/reduce-sum:stable
        groupBy:
          window:
            fixed:
              length: 10s
          keyed: false
    - name: out
      sink:
        log: {}
  edges:
    - from: in
      to: agg
    - from: agg
      to: out
"""


def test_monovertex_parses_and_runs(spark):
    p = pipeline_from_yaml(MONO)
    assert [v.kind for v in p.vertices] == ["source", "map", "sink"]
    out = compile_batch(p, spark)["mv-sink"]
    assert out.count() == 120  # rpu 4 x 30-tick batch twin


def test_pipeline_watermark_maxdelay_defaults_lateness(spark):
    p = pipeline_from_yaml(WM_PIPELINE)
    assert p.vertex("agg").udf.allowed_lateness == "30 seconds"
    # non-keyed reduce collapses to one group per window (reducer.rs:26)
    out = compile_batch(p, spark)["out"]
    assert "keys" not in out.columns and "sum_value" in out.columns
    assert out.count() > 0


def test_pulsar_and_sqs_sinks_parse():
    """K4/K5: broker sink specs compile to their foreachBatch handles."""
    from numaflow_spark.sources.connectors import PulsarSinkHandle, SqsSinkHandle

    yaml_text = """
apiVersion: numaflow.numaproj.io/v1alpha1
kind: Pipeline
metadata: {name: broker-sinks}
spec:
  vertices:
    - name: in
      source: {generator: {rpu: 5, duration: 1s}}
    - name: out-pulsar
      sink: {pulsar: {serverAddr: pulsar://h:6650, topic: t}}
    - name: out-sqs
      sink: {sqs: {queue_url: "https://sqs.region.amazonaws.com/1/q"}}
  edges:
    - {from: in, to: out-pulsar}
    - {from: in, to: out-sqs}
"""
    p = pipeline_from_yaml(yaml_text)
    pw = p.vertex("out-pulsar").sink.writer
    sw = p.vertex("out-sqs").sink.writer
    assert isinstance(pw, PulsarSinkHandle) and pw.topic == "t"
    assert pw.service_url == "pulsar://h:6650"
    assert isinstance(sw, SqsSinkHandle) and sw.queue_url.endswith("/q")


def test_monovertex_transformer_raises_like_pipeline():
    """ADVICE r1: a MonoVertex source transformer must not be silently
    dropped (event-time rewrite/filter/DROP would be skipped)."""
    yaml_text = """
apiVersion: numaflow.numaproj.io/v1alpha1
kind: MonoVertex
metadata: {name: mv}
spec:
  source:
    generator: {rpu: 5, duration: 1s}
    transformer:
      container: {image: my-transformer:v1}
  sink: {log: {}}
"""
    with pytest.raises(ValueError, match="transformer"):
        pipeline_from_yaml(yaml_text)


def test_generator_zero_keycount_is_nonkeyed(spark):
    """ADVICE r1: absent/zero keyCount => no keys (reference generator),
    which routes the reduce down the non-keyed path."""
    yaml_text = """
apiVersion: numaflow.numaproj.io/v1alpha1
kind: Pipeline
metadata: {name: nonkeyed}
spec:
  vertices:
    - name: in
      source: {generator: {rpu: 6, duration: 1s}}
    - name: out
      sink: {log: {}}
  edges:
    - {from: in, to: out}
"""
    p = pipeline_from_yaml(yaml_text)
    out = compile_batch(p, spark)["out"]
    assert all(r.keys is None for r in out.select("keys").collect())


def test_serving_pipeline_yaml(spark, tmp_path):
    """kind: ServingPipeline (serving_pipeline_types.go:58-109; example
    shape 30-serving-pipeline.yaml): the wrapped PipelineSpec — including
    the `serving: {}` request source (S8) — compiles through the normal
    path, and the serving knobs (msgIDHeaderKey, requestTimeoutSeconds,
    ports) surface on the parsed spec and its harness default."""
    from numaflow_spark.yaml_compiler import (
        pipeline_from_yaml,
        serving_pipeline_from_yaml,
    )

    text = """
apiVersion: numaflow.numaproj.io/v1alpha1
kind: ServingPipeline
metadata:
  name: serve-simple
spec:
  serving:
    msgIDHeaderKey: X-Numaflow-Id
    requestTimeoutSeconds: 60
    ports:
      http: 8080
  pipeline:
    vertices:
      - name: in
        source:
          serving: {}
      - name: cat
        udf:
          container:
            image: quay.io/numaio/numaflow-go/map-cat:stable
      - name: out
        sink:
          log: {}
    edges:
      - from: in
        to: cat
      - from: cat
        to: out
"""
    sp = serving_pipeline_from_yaml(text, {"in.inbox": str(tmp_path / "inbox")})
    assert sp.name == "serve-simple"
    assert sp.msg_id_header_key == "X-Numaflow-Id"
    assert sp.request_timeout_s == 60.0
    assert sp.http_port == 8080 and sp.https_port is None
    assert [v.name for v in sp.pipeline.vertices] == ["in", "cat", "out"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="serving_pipeline_from_yaml"):
        pipeline_from_yaml(text)

    from numaflow_spark.serving import MemoryServingStore

    h = sp.harness(MemoryServingStore(), lambda rid, v: None)
    assert h.default_timeout_s == 60.0

    # the serving source compiles to a readable request-inbox stream
    src = next(v for v in sp.pipeline.vertices if v.name == "in").source
    (tmp_path / "inbox").mkdir()
    stream = src.stream_reader(spark)
    assert stream.isStreaming and set(stream.columns) == {"request_id", "value"}


def test_shipped_examples_parse(spark):
    """examples/*.yaml stay runnable: every shipped CRD file parses into a
    validated Pipeline (serving file via its own entry point)."""
    import glob
    import os

    from numaflow_spark.yaml_compiler import (
        pipeline_from_yaml,
        serving_pipeline_from_yaml,
    )

    root = os.path.join(os.path.dirname(__file__), "..", "examples")
    files = sorted(glob.glob(os.path.join(root, "*.yaml")))
    assert len(files) >= 4
    for f in files:
        text = open(f).read()
        if "kind: ServingPipeline" in text:
            sp = serving_pipeline_from_yaml(text, {"in.inbox": "/tmp/examples_inbox"})
            assert sp.pipeline.vertices
        else:
            assert pipeline_from_yaml(text).vertices


BYPASS_MONO = """
kind: MonoVertex
metadata:
  name: bp
spec:
  bypass:
    fallback:
      tags:
        operator: or
        values:
          - odd
  source:
    generator:
      rpu: 10
      duration: 1s
  udf:
    container:
      image: quay.io/numaio/numaflow-go/even-odd:stable
  sink:
    log: {}
    fallback:
      blackhole: {}
"""


def test_monovertex_bypass_routes_tagged_messages(spark):
    """spec.bypass (mono_vertex_types.go:537-542, monovertex-bypass.md):
    messages tagged 'odd' by the UDF short-circuit to the fallback sink
    and must NOT reach the primary sink; untagged/even messages take the
    normal chain. The partition is exact — no loss, no duplication."""
    p = pipeline_from_yaml(BYPASS_MONO)
    assert {v.name for v in p.vertices} == {
        "bp-source", "bp-map", "bp-sink", "bp-fallback-sink"
    }
    sinks = compile_batch(p, spark)
    primary = sinks["bp-sink"].select(
        F.col("value").cast("string").cast("long").alias("n")
    )
    fb = sinks["bp-fallback-sink"].select(
        F.col("value").cast("string").cast("long").alias("n")
    )
    assert primary.filter(F.col("n") % 2 != 0).count() == 0
    assert fb.filter(F.col("n") % 2 == 0).count() == 0
    assert primary.count() + fb.count() == 300


def test_monovertex_bypass_doc_example_spec_compiles():
    """The user guide's three-destination example (monovertex-bypass.md
    'Spec' section) parses: sink/fallback/onSuccess each with their
    conditional-forwarding tags block."""
    yaml_text = """
kind: MonoVertex
metadata: {name: docs}
spec:
  bypass:
    fallback:
      tags:
        operator: or
        values:
          - tag-a
    onSuccess:
      tags:
        operator: and
        values:
          - tag-b
    sink:
      tags:
        operator: not
        values:
          - tag-c
  source:
    generator: {rpu: 5, duration: 1s}
  udf:
    container: {image: quay.io/numaio/numaflow-go/map-cat:stable}
  sink:
    log: {}
    fallback:
      blackhole: {}
    onSuccess:
      blackhole: {}
"""
    p = pipeline_from_yaml(yaml_text)
    names = {v.name for v in p.vertices}
    assert {"docs-fallback-sink", "docs-onsuccess-sink"} <= names
    # the chain edge into the primary sink carries the bypass.sink
    # condition (doc caveat: non-matching messages are dropped there)
    final = [e for e in p.edges
             if e.from_ == "docs-map" and e.to == "docs-sink"]
    assert final and final[0].condition.operator == "not"
    assert final[0].condition.values == ("tag-c",)
    # and excludes the fallback/onSuccess diversions
    assert {u.values for u in final[0].unless} == {("tag-a",), ("tag-b",)}


def test_monovertex_bypass_sink_caveat_drops_unmatched(spark):
    """monovertex-bypass.md caveat: with bypass conditions on the PRIMARY
    sink, a message matching no bypass condition is dropped when it
    reaches the primary sink."""
    yaml_text = """
kind: MonoVertex
metadata: {name: gate}
spec:
  bypass:
    sink:
      tags:
        values:
          - even
  source:
    generator: {rpu: 10, duration: 1s}
  udf:
    container: {image: quay.io/numaio/numaflow-go/even-odd:stable}
  sink:
    log: {}
"""
    p = pipeline_from_yaml(yaml_text)
    out = compile_batch(p, spark)["gate-sink"].select(
        F.col("value").cast("string").cast("long").alias("n")
    )
    assert out.filter(F.col("n") % 2 != 0).count() == 0
    # generator payloads cycle 1,2,3 -> 100 of 300 are even; the 200 odd
    # messages are dropped at the sink, not delivered anywhere
    assert out.count() == 100


def test_monovertex_bypass_requires_destination_sink_spec():
    bad = BYPASS_MONO.replace("    fallback:\n      blackhole: {}\n", "")
    with pytest.raises(ValueError, match="spec.sink.fallback"):
        pipeline_from_yaml(bad)


def test_monovertex_streaming_flag_parses_and_kafka_is_rejected():
    """spec.streaming (mono_vertex_types.go:543-547, mvtx-streaming.md):
    accepted and recorded (micro-batch subsumes per-message acking —
    documented divergence); the reference's admission rule stands: with
    the built-in Kafka source the combination is rejected."""
    ok = """
kind: MonoVertex
metadata: {name: st}
spec:
  streaming: true
  source:
    generator: {rpu: 4, duration: 1s}
  sink:
    log: {}
"""
    p = pipeline_from_yaml(ok)
    assert p.per_message_streaming is True
    assert pipeline_from_yaml(MONO).per_message_streaming is False
    bad = """
kind: MonoVertex
metadata: {name: stk}
spec:
  streaming: true
  source:
    kafka:
      brokers: [b:9092]
      topic: t
      consumerGroup: g
  sink:
    log: {}
"""
    with pytest.raises(ValueError, match="Kafka"):
        pipeline_from_yaml(bad)


# ---------------------------------------------------------------------------
# r12: accumulator window via YAML (VERDICT r11 task 3) + sideInputs /
# idleSource / lifecycle parse-or-reject (task 4) + unknown-key sweep.
# ---------------------------------------------------------------------------

ACCUM_YAML = """
kind: Pipeline
metadata: {name: sort-e2e}
spec:
  vertices:
    - name: in
      source:
        udsource: {}
    - name: accum
      udf:
        container:
          image: quay.io/numaio/numaflow-rs/stream-sorter:stable
        groupBy:
          window:
            accumulator:
              timeout: 30s
          keyed: true
    - name: out
      sink:
        log: {}
  edges:
    - {from: in, to: accum}
    - {from: accum, to: out}
"""


def _envelope_rows(spark):
    """Out-of-order (keys, value, event_time) envelope: arrival order is a
    seeded shuffle of event times, so the sorter has real work."""
    import random

    rnd = random.Random(11)
    rows = []
    base = 1704067200
    for batch in range(4):
        times = [base + batch * 600 + i * 60 for i in range(10)]
        rnd.shuffle(times)
        for i, t in enumerate(times):
            rows.append((batch * 10 + i, ["k%d" % (t % 2)], str(t % 7), t))
    return spark.createDataFrame(
        rows, "arrival long, keys array<string>, v string, et long"
    ).select(
        "arrival",
        "keys",
        F.col("v").cast("binary").alias("value"),
        F.timestamp_seconds(F.col("et")).alias("event_time"),
    )


def test_accumulator_window_reference_examples_compile():
    """The reference's own accumulator example specs
    (examples/13-accumulator-window.yaml:29, 40-stream-sorter.yaml:29)
    compile instead of raising 'unsupported window' (r11 missing #1)."""
    import os

    for fname, timeout in (
        ("13-accumulator-window.yaml", "10 seconds"),
        ("40-stream-sorter.yaml", "30 seconds"),
    ):
        path = os.path.join("/root/reference/examples", fname)
        if not os.path.exists(path):
            pytest.skip("reference examples unavailable")
        p = pipeline_from_yaml(open(path).read())
        accum = p.vertex("accum")
        assert accum.kind == "reduce"
        assert accum.udf.window == {"accumulator": timeout}
        assert accum.udf.keys == ("keys",)


def test_accumulator_yaml_stream_sorter_e2e(spark, tmp_path):
    """SURVEY §7-M4 stream-sorter acceptance THROUGH the YAML compiler:
    out-of-order events enter via a replayed udsource, the accumulator
    vertex re-emits them per key in event-time order."""
    from numaflow_spark.compiler import compile_streaming
    from numaflow_spark.pipeline import Source
    from numaflow_spark.sources.file_source import (
        replay_stream,
        write_replay_batches,
    )

    df = _envelope_rows(spark)
    data_dir = write_replay_batches(
        df, str(tmp_path / "in"), batches=4, order_col="arrival"
    )
    src = Source(
        reader=lambda s: s.read.schema(df.schema).parquet(data_dir),
        stream_reader=lambda s: replay_stream(
            s, data_dir, schema=df.schema, max_files_per_trigger=1
        ),
    )
    p = pipeline_from_yaml(ACCUM_YAML, {"in": src})
    d = compile_streaming(p, spark, checkpoint_root=str(tmp_path / "ckpt"))
    try:
        d.process_all_available()
        out = spark.sql("SELECT * FROM out").collect()
    finally:
        d.stop()
    assert out, "accumulator emitted nothing — watermark never advanced"
    by_key = {}
    for r in out:
        by_key.setdefault(r.key, []).append(r.event_time)
    for key, times in by_key.items():
        assert times == sorted(times), f"key {key} emitted out of order"


def test_accumulator_yaml_batch_twin(spark, tmp_path):
    """Batch compile of the same accumulator spec: per-key event-time order
    with a deterministic seq (the correctness-harness twin)."""
    from numaflow_spark.pipeline import Source

    df = _envelope_rows(spark)
    pq = str(tmp_path / "batch_in")
    df.write.parquet(pq)
    src = Source(reader=lambda s: s.read.parquet(pq))
    p = pipeline_from_yaml(ACCUM_YAML, {"in": src})
    out = compile_batch(p, spark)["out"]
    rows = out.orderBy("key", "seq").collect()
    assert len(rows) == 40
    by_key = {}
    for r in rows:
        by_key.setdefault(r.key, []).append(r.event_time)
    for key, times in by_key.items():
        assert times == sorted(times)


def test_accumulator_registry_fn_overrides_builtin(spark, tmp_path):
    """A registry callable on the accumulator vertex replaces the built-in
    sorter body (custom accumulator images)."""
    from numaflow_spark.pipeline import Source

    df = _envelope_rows(spark)
    pq = str(tmp_path / "acc_in")
    df.write.parquet(pq)
    src = Source(reader=lambda s: s.read.parquet(pq))
    p = pipeline_from_yaml(
        ACCUM_YAML,
        {"in": src, "accum": lambda d: d.withColumn("custom", F.lit(1))},
    )
    out = compile_batch(p, spark)["out"]
    assert "custom" in out.columns and out.count() == 40


def test_accumulator_requires_timeout():
    from numaflow_spark.pipeline import Source

    bad = ACCUM_YAML.replace("accumulator:\n              timeout: 30s",
                             "accumulator: {}")
    with pytest.raises(ValueError, match="timeout"):
        pipeline_from_yaml(bad, {"in": Source(reader=lambda s: None)})


LIFECYCLE_YAML = """
kind: Pipeline
metadata: {name: lc}
spec:
  lifecycle:
    desiredPhase: Paused
    pauseGracePeriodSeconds: 7
  vertices:
    - name: in
      source:
        udsource: {}
    - name: out
      sink:
        log: {}
  edges:
    - {from: in, to: out}
"""


def test_lifecycle_desired_phase_parses_and_gates_start(spark, tmp_path):
    """spec.lifecycle (pipeline_types.go:444-493): desiredPhase=Paused
    compiles WITHOUT starting queries; resume() flips to Running (W6)."""
    from numaflow_spark.compiler import compile_streaming
    from numaflow_spark.pipeline import Source
    from numaflow_spark.sources.file_source import (
        replay_stream,
        write_replay_batches,
    )

    df = _envelope_rows(spark)
    data_dir = write_replay_batches(
        df, str(tmp_path / "lc_in"), batches=2, order_col="arrival"
    )
    src = Source(
        reader=lambda s: s.read.schema(df.schema).parquet(data_dir),
        stream_reader=lambda s: replay_stream(s, data_dir, schema=df.schema),
    )
    p = pipeline_from_yaml(LIFECYCLE_YAML, {"in": src})
    assert p.desired_phase == "Paused" and p.pause_grace_period_s == 7
    d = compile_streaming(p, spark, checkpoint_root=str(tmp_path / "lc_ckpt"))
    assert d.queries == {}, "Paused pipeline must not start its queries"
    d.resume()
    try:
        assert set(d.queries) == {"out"}
        d.process_all_available()
        assert spark.sql("SELECT count(*) c FROM out").first().c == 40
    finally:
        d.pause(drain=False)
    assert d.queries == {}


def test_lifecycle_bad_phase_rejected():
    with pytest.raises(ValueError, match="desiredPhase"):
        pipeline_from_yaml(
            LIFECYCLE_YAML.replace("desiredPhase: Paused", "desiredPhase: Zombie")
        )


IDLE_YAML = """
kind: Pipeline
metadata: {name: idle}
spec:
  watermark:
    maxDelay: 0s
    idleSource:
      threshold: 5s
      incrementBy: 3s
      stepInterval: 1s
  vertices:
    - name: in
      source:
        udsource: {}
    - name: agg
      udf:
        container: {image: example/counter:v1}
        groupBy:
          window:
            fixed: {length: 10s}
    - name: out
      sink:
        log: {}
  edges:
    - {from: in, to: agg}
    - {from: agg, to: out}
"""


def test_idle_source_yaml_closes_windows(spark, tmp_path):
    """spec.watermark.idleSource (pipeline_types.go:604-616) compiles onto
    the WMB heartbeat union (W3): a source that goes idle forever still
    closes its append-mode windows."""
    import time as _t

    from numaflow_spark.compiler import compile_streaming
    from numaflow_spark.pipeline import Source
    from numaflow_spark.sources.user_defined import SequenceSource, make_udsource

    spark.dataSource.register(make_udsource(SequenceSource, name="seq_idle_yaml"))

    def stream_reader(s):
        return (
            s.readStream.format("seq_idle_yaml")
            .options(total="5", batch_size="5")
            .load()
            .select("offset", "event_time")
        )

    src = Source(reader=lambda s: None, stream_reader=stream_reader)
    p = pipeline_from_yaml(
        IDLE_YAML,
        {"in": src, "agg": lambda: [F.count("*").alias("cnt"),
                                    F.sum("offset").alias("total")]},
    )
    assert p.idle_source == {
        "threshold": "5 seconds", "increment_by": "3 seconds",
        "step_interval_s": 1, "max_delay": "0 seconds",
    }
    d = compile_streaming(p, spark, checkpoint_root=str(tmp_path / "idle_ckpt"))
    try:
        deadline = _t.monotonic() + 60
        rows = []
        while _t.monotonic() < deadline:
            rows = spark.sql("SELECT cnt, total FROM out").collect()
            if rows:
                break
            _t.sleep(0.5)
        assert rows, "idle-source window never closed despite WMB heartbeats"
        assert rows[0].cnt == 5 and rows[0].total == 10
    finally:
        d.stop()


@pytest.mark.parametrize("text", [
    SIMPLE.replace("duration: 1s", "duration: 1s\n          jitter: 5x"),
    IDLE_YAML.replace("stepInterval: 1s", "stepInterval: 2sec"),
], ids=["jitter", "stepInterval"])
def test_malformed_go_durations_raise(text):
    """A generator jitter or idle-source stepInterval that is not a Go
    duration fails the compile instead of reading as 0 s ('5x') or 2 s
    ('2sec')."""
    from numaflow_spark.pipeline import Source

    registry = {"in": Source(reader=lambda s: None), "agg": lambda: []}
    with pytest.raises(ValueError, match="unparseable duration"):
        pipeline_from_yaml(text, registry)


SIDE_YAML = """
kind: Pipeline
metadata: {name: si}
spec:
  sideInputs:
    - name: cfg
      container: {image: example/si:v1}
      trigger: {schedule: "@every 1m30s"}
  vertices:
    - name: in
      source:
        udsource: {}
    - name: enrich
      udf:
        container: {image: example/enrich:v1}
      sideInputs: [cfg]
    - name: out
      sink:
        udsink: {}
      sideInputs: [cfg]
  edges:
    - {from: in, to: enrich}
    - {from: enrich, to: out}
"""


def test_side_inputs_yaml_parse_and_wire(spark, tmp_path):
    """spec.sideInputs + vertex sideInputs (side_inputs.go:30-47) compile
    onto streaming/side_inputs.py: map vertices receive the SideInput
    handles; udsink writers get {name: latest_value} per micro-batch."""
    from numaflow_spark.compiler import compile_streaming
    from numaflow_spark.pipeline import Source
    from numaflow_spark.sources.file_source import (
        replay_stream,
        write_replay_batches,
    )

    df = _envelope_rows(spark)
    data_dir = write_replay_batches(
        df, str(tmp_path / "si_in"), batches=2, order_col="arrival"
    )
    src = Source(
        reader=lambda s: s.read.schema(df.schema).parquet(data_dir),
        stream_reader=lambda s: replay_stream(s, data_dir, schema=df.schema),
    )
    fetches = []
    seen_handles = {}
    batches = []

    def enrich(d, sides):
        seen_handles.update(sides)
        return d

    registry = {
        "in": src,
        "sideinput:cfg": lambda: fetches.append(1) or {"threshold": len(fetches)},
        "enrich": enrich,
        "out": lambda d, eid, sides: batches.append(sides["cfg"]),
    }
    p = pipeline_from_yaml(SIDE_YAML, registry)
    assert list(p.side_inputs) == ["cfg"]
    assert p.side_inputs["cfg"].interval_s == 90.0
    assert p.vertex("enrich").side_inputs == ("cfg",)
    d = compile_streaming(p, spark, checkpoint_root=str(tmp_path / "si_ckpt"))
    try:
        d.process_all_available()
    finally:
        d.stop()
    assert "cfg" in seen_handles  # map vertex got the handle
    assert batches and batches[0]["threshold"] >= 1  # writer got values
    assert fetches  # the fetch actually ran


def test_side_inputs_missing_registry_raises():
    with pytest.raises(ValueError, match="sideinput:cfg"):
        pipeline_from_yaml(SIDE_YAML, {"in": object(), "enrich": lambda d: d})


def test_side_inputs_cron_schedule_rejected():
    with pytest.raises(ValueError, match="cron"):
        pipeline_from_yaml(
            SIDE_YAML.replace("@every 1m30s", "0 30 * * * *"),
            {"sideinput:cfg": lambda: 1},
        )


def test_side_inputs_undeclared_reference_rejected():
    from numaflow_spark.pipeline import Source

    bad = SIDE_YAML.replace("sideInputs: [cfg]", "sideInputs: [nope]", 1)
    with pytest.raises(ValueError, match="nope"):
        pipeline_from_yaml(bad, {
            "sideinput:cfg": lambda: 1,
            "in": Source(reader=lambda s: None),
            "enrich": lambda d, sides: d,
            "out": lambda d, eid, sides: None,
        })


def test_unknown_spec_key_rejected():
    bad = SIMPLE.replace("spec:", "spec:\n  frobnicate: {a: 1}")
    with pytest.raises(ValueError, match="frobnicate"):
        pipeline_from_yaml(bad)


def test_unknown_vertex_key_rejected():
    bad = SIMPLE.replace("    - name: p1", "    - name: p1\n      mystery: 1")
    with pytest.raises(ValueError, match="mystery"):
        pipeline_from_yaml(bad)


def test_deployment_keys_still_ignored():
    """scale/limits/templates are K8s resourcing — documented out of scope,
    must keep parsing (the reference examples carry them)."""
    ok = SIMPLE.replace(
        "spec:",
        "spec:\n  limits: {readBatchSize: 1}\n  templates: {}",
    ).replace("    - name: p1", "    - name: p1\n      scale: {min: 1}")
    assert pipeline_from_yaml(ok).vertices


def test_ordered_flag_parses():
    y = SIMPLE.replace("spec:", "spec:\n  ordered: {enabled: true}")
    assert pipeline_from_yaml(y).ordered is True
    assert pipeline_from_yaml(SIMPLE).ordered is False


# ---------------------------------------------------------------------------
# S4-S7 connector sources from YAML (r13, VERDICT r12 missing #1): the
# reference CRD spellings (sqs_source.go, pulsar_source.go, nats_source.go,
# jetstream_source.go) compile onto the wire-tested handles, and each source
# runs YAML -> compile_streaming -> in-process broker -> log sink e2e.
# ---------------------------------------------------------------------------


def _src_pipeline_yaml(kind_block: str) -> str:
    return f"""
apiVersion: numaflow.numaproj.io/v1alpha1
kind: Pipeline
metadata: {{name: conn-smoke}}
spec:
  vertices:
    - name: in
      source:
{kind_block}
    - name: out
      sink: {{log: {{}}}}
  edges:
    - from: in
      to: out
"""


def test_reference_sqs_example_compiles():
    """examples/22-sqs-source-mvtx.yaml (the r12 verdict's reproduced
    failure) now compiles: the sqs spec maps onto SqsSourceHandle with the
    canonical queue URL composed from queueName/awsRegion/accountID."""
    import os

    path = "/root/reference/examples/22-sqs-source-mvtx.yaml"
    if not os.path.exists(path):
        pytest.skip("reference examples unavailable")
    p = pipeline_from_yaml(open(path).read())
    v = p.vertices[0]
    assert v.source is not None and v.source.stream_reader is not None


def test_sqs_source_missing_fields_raise():
    with pytest.raises(ValueError, match="awsRegion"):
        pipeline_from_yaml(_src_pipeline_yaml(
            "        sqs:\n          queueName: q\n"
            "          queueOwnerAWSAccountID: '1'"
        ))
    with pytest.raises(ValueError, match="topic"):
        pipeline_from_yaml(_src_pipeline_yaml(
            "        pulsar: {serverAddr: 'pulsar://x:6650'}"
        ))
    with pytest.raises(ValueError, match="subject"):
        pipeline_from_yaml(_src_pipeline_yaml(
            "        nats: {url: 'nats://x:4222'}"
        ))
    with pytest.raises(ValueError, match="stream"):
        pipeline_from_yaml(_src_pipeline_yaml(
            "        jetstream: {url: 'nats://x:4222'}"
        ))


def _run_stream_collect(spark, tmp_path, p, table="out", min_rows=1,
                        publish=None, attempts=40):
    """compile_streaming + poll the sink table until rows arrive (the
    connector handles poll with short timeouts, so an empty early batch is
    normal)."""
    import time as _time

    from numaflow_spark.compiler import compile_streaming

    d = compile_streaming(p, spark, checkpoint_root=str(tmp_path / "ckpt"))
    try:
        rows = []
        for _ in range(attempts):
            if publish is not None:
                publish()
            d.process_all_available()
            rows = spark.sql(f"SELECT * FROM {table}").collect()
            if len(rows) >= min_rows:
                break
            _time.sleep(0.1)
        return rows
    finally:
        d.stop()


def test_sqs_source_yaml_e2e(spark, tmp_path):
    """YAML sqs source -> MiniSqsServer (AWS-JSON wire) -> log sink. The
    registry's '<vertex>.options' injects the mini server's queue URL over
    the YAML's production one — the documented test/override seam."""
    boto3 = pytest.importorskip("boto3")  # noqa: F841 — handle needs it
    from numaflow_spark.sources.sqs_wire import MiniSqsServer

    srv = MiniSqsServer().start()
    try:
        url = srv.create_queue("numa-smoke")
        for i in range(3):
            srv.queues["numa-smoke"].send(f"sq{i}")
        p = pipeline_from_yaml(
            _src_pipeline_yaml(
                "        sqs:\n"
                "          queueName: numa-smoke\n"
                "          awsRegion: us-east-1\n"
                "          queueOwnerAWSAccountID: '123456789012'\n"
                "          maxNumberOfMessages: 10"
            ),
            {"in.options": {"queue_url": url, "endpoint_url": srv.endpoint,
                            "access_key": "test", "secret_key": "test"}},
        )
        rows = _run_stream_collect(spark, tmp_path, p, min_rows=3)
        assert sorted(bytes(r["value"]).decode() for r in rows) == [
            "sq0", "sq1", "sq2",
        ]
    finally:
        srv.stop()


def test_pulsar_source_yaml_e2e(spark, tmp_path):
    """YAML pulsar source -> MiniPulsarServer (binary protocol) -> log
    sink; the broker retains pre-subscription messages, so the publish
    happens before the stream starts."""
    from numaflow_spark.sources.pulsar_wire import Client, MiniPulsarServer

    srv = MiniPulsarServer().start()
    try:
        c = Client(srv.url)
        prod = c.create_producer("orders")
        for i in range(3):
            prod.send_async(f"pu{i}".encode())
        prod.flush()
        p = pipeline_from_yaml(
            _src_pipeline_yaml(
                "        pulsar:\n"
                "          serverAddr: pulsar://prod-broker:6650\n"
                "          topic: orders\n"
                "          subscriptionName: smoke"
            ),
            {"in.options": {"service_url": srv.url, "client": "builtin",
                            "batch_size": 10}},
        )
        rows = _run_stream_collect(spark, tmp_path, p, min_rows=3)
        assert sorted(bytes(r["value"]).decode() for r in rows) == [
            "pu0", "pu1", "pu2",
        ]
    finally:
        srv.stop()


def test_jetstream_source_yaml_e2e(spark, tmp_path):
    """YAML jetstream source -> MiniNatsServer's JetStream subset (durable
    pull consumer over real frames) -> log sink."""
    from numaflow_spark.sources.nats_wire import MiniNatsServer

    srv = MiniNatsServer().start()
    try:
        srv.add_stream("ORDERS", ["orders.>"])
        for i in range(3):
            srv.publish("orders.eu", f"js{i}".encode())
        p = pipeline_from_yaml(
            _src_pipeline_yaml(
                "        jetstream:\n"
                "          url: nats://prod:4222\n"
                "          stream: ORDERS"
            ),
            {"in.options": {"servers": srv.url, "client": "builtin",
                            "batch_size": 10, "fetch_timeout_s": 0.3}},
        )
        rows = _run_stream_collect(spark, tmp_path, p, min_rows=3)
        assert sorted(bytes(r["value"]).decode() for r in rows) == [
            "js0", "js1", "js2",
        ]
    finally:
        srv.stop()


def test_nats_source_yaml_e2e(spark, tmp_path):
    """YAML core-NATS source -> MiniNatsServer -> log sink. Core NATS is
    fire-and-forget (no retention), so a publisher keeps feeding the
    subject while the stream polls — the at-most-once semantics the
    reference's nats source documents."""
    from numaflow_spark.sources.nats_wire import MiniNatsServer

    srv = MiniNatsServer().start()
    try:
        n_sent = [0]

        def publish():
            for _ in range(3):
                srv.publish("orders.eu", f"nx{n_sent[0]}".encode())
                n_sent[0] += 1

        p = pipeline_from_yaml(
            _src_pipeline_yaml(
                "        nats:\n"
                "          url: nats://prod:4222\n"
                "          subject: orders.*"
            ),
            {"in.options": {"servers": srv.url, "client": "builtin",
                            "batch_size": 10}},
        )
        rows = _run_stream_collect(
            spark, tmp_path, p, min_rows=1, publish=publish
        )
        assert rows and all(
            bytes(r["value"]).decode().startswith("nx") for r in rows
        )
    finally:
        srv.stop()


def test_reduce_yaml_validates_without_spark_session():
    """VERDICT r12 missing #2: spec validation is control-plane work (the
    reference validates CRDs with no data plane, controller.go:124) — a
    reduce spec must parse in a plain Python process with NO JVM. Proven
    in a subprocess so the test suite's own session can't mask it."""
    import os
    import subprocess
    import sys

    path = "/root/reference/examples/6-reduce-fixed-window.yaml"
    if not os.path.exists(path):
        pytest.skip("reference examples unavailable")
    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from numaflow_spark.yaml_compiler import pipeline_from_yaml\n"
        f"p = pipeline_from_yaml(open({path!r}).read())\n"
        "v = [x for x in p.vertices if x.kind == 'reduce'][0]\n"
        "assert v.udf.window == {'fixed': '60 seconds'}, v.udf.window\n"
        "print('SESSIONLESS_OK')\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120,
        env={k: v for k, v in os.environ.items() if k != "SPARK_HOME"},
    )
    assert "SESSIONLESS_OK" in r.stdout, r.stderr


def test_lazy_aggs_materialize_at_compile_time(spark):
    """The deferred agg columns still compile and aggregate correctly."""
    p = pipeline_from_yaml(REDUCE)
    out = compile_batch(p, spark)["out"]
    total = out.agg(F.sum("sum_value")).first()[0]
    assert total == sum((i % 3) + 1 for i in range(150))


def test_builtin_example_images_compile_and_run(spark):
    """The reference example images with documented builtin semantics
    (numaflow-go examples: forward_message = identity, reducestreamer/sum
    = window sum, sessionreducer/counter = session count) compile without
    a registry entry, so examples 1/12/13 parse out of the box."""
    yaml_text = """
kind: Pipeline
metadata: {name: builtin-images}
spec:
  vertices:
    - name: in
      source: {generator: {rpu: 5, duration: 1s, keyCount: 2}}
    - name: fwd
      udf:
        container: {image: quay.io/numaio/numaflow-go/map-forward-message:stable}
    - name: sum
      udf:
        container: {image: quay.io/numaio/numaflow-go/reduce-stream-sum:stable}
        groupBy:
          window: {fixed: {length: 10s}}
          keyed: true
    - name: out
      sink: {log: {}}
  edges:
    - {from: in, to: fwd}
    - {from: fwd, to: sum}
    - {from: sum, to: out}
"""
    p = pipeline_from_yaml(yaml_text)
    out = compile_batch(p, spark)["out"]
    total = out.agg(F.sum("sum_value")).first()[0]
    assert total == sum((i % 3) + 1 for i in range(150))
    # session-counter: counts per session window
    sess = """
kind: Pipeline
metadata: {name: sess-count}
spec:
  vertices:
    - name: in
      source: {generator: {rpu: 5, duration: 1s, keyCount: 2}}
    - name: compute-count
      udf:
        container: {image: quay.io/numaio/numaflow-go/session-counter:stable}
        groupBy:
          window: {session: {timeout: 120s}}
          keyed: true
    - name: out
      sink: {log: {}}
  edges:
    - {from: in, to: compute-count}
    - {from: compute-count, to: out}
"""
    p2 = pipeline_from_yaml(sess)
    out2 = compile_batch(p2, spark)["out"]
    assert out2.agg(F.sum("count_value")).first()[0] == 150
