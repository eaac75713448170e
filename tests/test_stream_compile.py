"""The streaming compile path: one watermark per reduce, one window
dispatch shared with batch, and stream starts that leave the caller's
session confs as they were."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from numaflow_spark.compiler import compile_batch, compile_streaming
from numaflow_spark.pipeline import Source
from numaflow_spark.yaml_compiler import pipeline_from_yaml

DISPATCH_YAML = """
kind: Pipeline
metadata: {{name: dispatch}}
spec:
  watermark:
    maxDelay: 0s{idle}
  vertices:
    - name: in
      source:
        udsource: {{}}
    - name: agg
      udf:
        container: {{image: example/counter:v1}}
        groupBy:
          window: {window}
          keyed: true
          allowedLateness: 7s
    - name: out
      sink:
        log: {{}}
  edges:
    - {{from: in, to: agg}}
    - {{from: agg, to: out}}
"""

IDLE = """
    idleSource:
      threshold: 5s
      incrementBy: 3s
      stepInterval: 1s"""

WINDOWS = {
    "fixed": "{fixed: {length: 10s}}",
    "sliding": "{sliding: {length: 10s, slide: 5s}}",
    "session": "{session: {timeout: 10s}}",
}


def _nodes(plan, depth=0):
    """Pre-order (depth, nodeName, node) over a JVM logical plan."""
    yield depth, plan.nodeName(), plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i), depth + 1)


def _below(nodes, at):
    """Indices of the nodes under nodes[at] in a pre-order listing."""
    end = at + 1
    while end < len(nodes) and nodes[end][0] > nodes[at][0]:
        end += 1
    return range(at + 1, end)


@pytest.mark.parametrize("idle", [False, True], ids=["plain", "idle"])
@pytest.mark.parametrize("kind", list(WINDOWS))
def test_streaming_reduce_has_one_watermark(spark, tmp_path, kind, idle):
    """Every window kind, with or without ``idleSource``, compiles to a
    plan with exactly one EventTimeWatermark at the declared
    ``allowedLateness``, below the window aggregate; with ``idleSource``
    the heartbeat union sits beneath it."""
    def stream_reader(s):
        return (s.readStream.format("rate").option("rowsPerSecond", 1).load()
                .select(F.array(F.lit("k")).alias("keys"),
                        F.col("timestamp").alias("event_time"), "value"))

    p = pipeline_from_yaml(
        DISPATCH_YAML.format(idle=IDLE if idle else "", window=WINDOWS[kind]),
        {"in": Source(reader=lambda s: None, stream_reader=stream_reader),
         "agg": lambda: [F.count("*").alias("cnt")]},
    )
    assert (p.idle_source is not None) == idle
    dep = compile_streaming(p, spark, checkpoint_root=str(tmp_path / "ckpt"))
    q = dep.queries["out"]
    try:
        deadline = time.monotonic() + 60
        while q.lastProgress is None:
            assert q.exception() is None, q.exception()
            assert time.monotonic() < deadline, "no trigger within 60 s"
            time.sleep(0.1)
        nodes = list(_nodes(q._jsq.streamingQuery().logicalPlan()))
    finally:
        dep.stop()

    marks = [i for i, (_, name, _) in enumerate(nodes) if name == "EventTimeWatermark"]
    assert len(marks) == 1, [name for _, name, _ in nodes]
    (mark,) = marks
    assert nodes[mark][2].delay().toString() == "7 seconds"
    aggs = [i for i, (_, name, _) in enumerate(nodes) if name == "Aggregate"]
    assert any(mark in _below(nodes, a) for a in aggs)
    unions = [i for i in _below(nodes, mark) if nodes[i][1] == "Union"]
    assert len(unions) == (1 if idle else 0)


HTTP_YAML = """
kind: Pipeline
metadata: {name: http-in}
spec:
  vertices:
    - name: in
      source:
        http: {}
    - name: out
      sink:
        log: {}
  edges:
    - {from: in, to: out}
"""


def test_batch_compile_of_stream_only_source_raises(spark):
    """A stream-only source (http here) has no batch twin: a batch compile
    that reads it raises instead of returning an empty frame."""
    p = pipeline_from_yaml(HTTP_YAML, {})
    with pytest.raises(ValueError, match="http source has no batch twin"):
        compile_batch(p, spark)


def test_bench_stream_stage_leaves_session_confs(spark):
    """bench.py's streaming stage starts through compiler.start_stream: it
    drains its events and leaves the caller's shuffle width and checkpoint
    manager conf as they were."""
    import bench

    shuffle = "spark.sql.shuffle.partitions"
    manager = "spark.sql.streaming.checkpointFileManagerClass"
    width = spark.conf.get(shuffle)
    assert spark.conf.get(manager, None) is None
    assert bench._streaming_throughput(spark, n_batches=2) > 0
    assert spark.conf.get(shuffle) == width
    assert spark.conf.get(manager, None) is None
