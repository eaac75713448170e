"""Spec -> DataFrame-program compiler (SURVEY.md §3.1 Spark equivalent).

Where the reference's controller materializes a pipeline as K8s pods wired
through JetStream buffers (pkg/reconciler/pipeline/controller.go:124-360),
this compiler materializes it as ONE lazy DataFrame program per sink:

  * each vertex's output is a DataFrame, built in topological order;
  * an in-edge applies its tag condition + DROP filter (forward.rs:9-71)
    to the upstream vertex's output — fan-out is just several filtered
    branches of the same lazy plan (Catalyst shares the common prefix);
  * fan-in unions the filtered in-edge branches (join-vertex.md:1-44);
  * a reduce vertex compiles to a windowed groupBy (SURVEY.md §2.4);
  * sinks name the final DataFrames (batch) or start streaming queries
    (streaming compile, one query per sink, watermark on reduce inputs).

There is no ISB: Spark's shuffle + (in streaming) checkpointing replace the
buffer and its at-least-once ack machinery (message.rs:130-296).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from numaflow_spark.operators import reduce_ops, routing
from numaflow_spark.operators.graph import scoped_conf
from numaflow_spark.pipeline import MapUDF, Pipeline, ReduceUDF, Vertex
from numaflow_spark.scale import streaming_checkpoint_conf, streaming_state_partitions
from numaflow_spark.streaming.lifecycle import Lifecycle


def _accumulator_shape(df: DataFrame, ts_col: str) -> DataFrame:
    """Message envelope -> the stream-sorter's (key, event_time, value)
    shape: keys array joined to one grouping key, binary payload decoded as
    the e2e integer payload (accumulator.proto's canonical sorter body)."""
    key = (
        F.concat_ws(",", "keys") if "keys" in df.columns else F.lit("")
    ).alias("key")
    return df.select(
        key,
        F.col(ts_col).alias("event_time"),
        F.col("value").cast("string").cast("long").alias("value"),
    )


def _apply_reduce(v: Vertex, df: DataFrame, streaming: bool,
                  idle_source: dict | None = None) -> DataFrame:
    udf = v.udf
    assert isinstance(udf, ReduceUDF)
    (wkind, wargs), = udf.window.items()
    if wkind == "accumulator":
        # R4 (window_types.go AccumulatorWindow; accumulator.rs:38-58;
        # examples/13-accumulator-window.yaml, 40-stream-sorter.yaml): a
        # per-key ORDERED replay, not an aggregation. The YAML `timeout`
        # bounds how long a key's buffer waits before closing — mapped to
        # the sorter's watermark delay, the same straggler bound the
        # reference enforces via inactivity closure.
        if udf.accumulator_fn is not None:
            return udf.accumulator_fn(df)
        from numaflow_spark.operators import accumulator as acc

        shaped = _accumulator_shape(df, udf.ts_col)
        if streaming:
            return acc.stream_sorter(shaped, watermark_delay=wargs)
        return acc.sorted_replay_batch(
            shaped, ["key"], "event_time", ["value"]
        ).select("key", "event_time", "value", "seq")
    if streaming:
        # The watermark supplies the window-close signal the reference
        # derives from propagated WMs (udf.go:101-104 allowedLateness ==
        # the watermark delay); append mode then emits a window exactly once
        # when the watermark passes its end (reduce.proto:38-49).
        if idle_source is not None:
            # W3 (spec.watermark.idleSource): union the WMB heartbeat so
            # the watermark advances while sources idle and assign the
            # watermark over the union — exactly ONE EventTimeWatermark
            # node (a second withWatermark below the WMB filter would never
            # see the heartbeats).
            from numaflow_spark.streaming.idle import (
                heartbeat_stream,
                with_idle_watermark,
            )

            hb = heartbeat_stream(
                df.sparkSession,
                step_interval_s=idle_source.get("step_interval_s", 1),
                max_delay=idle_source.get("max_delay", "0 seconds"),
            )
            df = with_idle_watermark(
                df, hb, ts_col=udf.ts_col, delay=udf.allowed_lateness
            )
        else:
            df = df.withWatermark(udf.ts_col, udf.allowed_lateness)
    if wkind == "fixed":
        return reduce_ops.tumbling(df, udf.ts_col, wargs, udf.keys, udf.aggs)
    if wkind == "sliding":
        length, slide = wargs
        return reduce_ops.sliding(df, udf.ts_col, length, slide, udf.keys, udf.aggs)
    if wkind == "session":
        return reduce_ops.session(df, udf.ts_col, wargs, udf.keys, udf.aggs)
    raise ValueError(f"unknown window kind {wkind!r} on vertex {v.name!r}")


def _vertex_output(p: Pipeline, v: Vertex, spark: SparkSession,
                   outputs: dict[str, DataFrame], streaming: bool) -> DataFrame:
    if v.kind == "source":
        if streaming:
            if v.source.stream_reader is None:
                raise ValueError(f"source {v.name!r} has no stream_reader")
            return v.source.stream_reader(spark)
        return v.source.reader(spark)

    # Gather in-edge branches: tag condition + DROP filter per edge
    # (forward.rs evaluation order), then interleaved union (fan-in).
    branches = []
    for e in p.in_edges(v.name):
        up = outputs[e.from_]
        cond = e.condition
        has_tags = "tags" in up.columns
        if (cond is not None or e.unless) and not has_tags:
            raise ValueError(f"edge {e.from_}->{e.to} has a tag condition but upstream has no tags column")
        if has_tags:
            b = routing.forward(up, cond.operator if cond else None, cond.values if cond else None)
            # bypass skip semantics (Edge.unless): suppress messages a
            # bypass condition already diverted to another sink
            for u in e.unless:
                b = b.filter(~routing.tag_condition(u.operator, u.values))
            branches.append(b)
        else:
            branches.append(up)
    df = routing.fan_in(*branches)

    # vertex_types.go:618-621: `partitions` = number of owned buffer
    # partitions (udf/sink only) — keys hash to a fixed partition of the
    # vertex's buffer (forward.rs:31-41). Spark equivalent: an explicit
    # key-hash repartition in front of the vertex body, which is what
    # ordered processing (F9) and per-partition stateful maps rely on.
    # Reduce vertices skip it: groupBy shuffles on its own keys.
    if v.partitions > 1 and v.kind in ("map", "sink"):
        key_col = "keys" if "keys" in df.columns else None
        df = (
            routing.hash_partition(df, v.partitions, key_col)
            if key_col
            else df.repartition(v.partitions)
        )

    if v.kind == "sink":
        return df
    if isinstance(v.udf, MapUDF):
        if v.side_inputs:
            # W9: a map vertex declaring sideInputs gets the SideInput
            # HANDLES (not frozen values) as a second argument — the fn
            # calls .value()/side_table() itself. Plan-level transforms
            # bake the value at compile; per-batch refresh belongs to sink
            # writers (with_side_inputs), same split as the operator docs.
            return v.udf.fn(df, {n: p.side_inputs[n] for n in v.side_inputs})
        return v.udf.fn(df)
    return _apply_reduce(v, df, streaming,
                         idle_source=p.idle_source if streaming else None)


def compile_batch(p: Pipeline, spark: SparkSession) -> dict[str, DataFrame]:
    """Batch compile: returns {sink_vertex_name: DataFrame}. This is the
    correctness harness — identical operator semantics to streaming, minus
    watermark-driven emission (a closed batch emits every window)."""
    p.validate()
    outputs: dict[str, DataFrame] = {}
    sinks: dict[str, DataFrame] = {}
    for name in p.topo_order():
        v = p.vertex(name)
        outputs[name] = _vertex_output(p, v, spark, outputs, streaming=False)
        if v.kind == "sink":
            sinks[name] = outputs[name]
    return sinks


@dataclass
class StreamingDeployment:
    """Handle over the started queries (one per sink, §3.1 step 5).

    ``lifecycles`` holds one Lifecycle controller per sink. When the spec
    declared ``lifecycle.desiredPhase: Paused`` (pipeline_types.go:444-493),
    ``queries`` starts empty and the controllers are unstarted —
    ``resume()`` brings the pipeline to Running, exactly the reconciler's
    phase flip (W6, streaming/lifecycle.py)."""

    queries: dict[str, object]
    lifecycles: dict[str, Lifecycle]

    def resume(self) -> None:
        for name, lc in self.lifecycles.items():
            self.queries[name] = lc.run()

    def pause(self, drain: bool = True) -> None:
        for name, lc in self.lifecycles.items():
            lc.pause(drain=drain)
            self.queries.pop(name, None)

    def process_all_available(self) -> None:
        for q in self.queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()


def start_stream(spark: SparkSession, writer, *, checkpoint: str | None,
                 key_count: int | None):
    """Start the DataStreamWriter ``writer`` on ``spark``: the one place an
    in-repo stream start decides its confs. Returns the StreamingQuery.

    ``checkpoint`` becomes the ``checkpointLocation`` option; ``None``
    leaves Spark's own location (a memory sink's temporary dir, or the
    session's ``spark.sql.streaming.checkpointLocation``). The query starts
    at the state width ``scale.streaming_state_partitions(key_count,
    defaultParallelism)`` (``key_count=None``: no key limit) and under
    ``scale.streaming_checkpoint_conf`` for that location — on ``file:``
    Spark's FileSystem-based checkpoint manager, which forks no
    ``readlink`` per file check. Both are set in one ``graph.scoped_conf``
    around ``writer.start()`` and restored afterwards, so the session's own
    confs are untouched; the query keeps them because Spark clones the
    session at start. A query restarted from an existing checkpoint keeps
    the width recorded there (Spark restores it from the offset log), and
    a checkpoint written under either manager resumes under the other."""
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    width = streaming_state_partitions(key_count, spark.sparkContext.defaultParallelism)
    confs = {"spark.sql.shuffle.partitions": str(width),
             **streaming_checkpoint_conf(spark, checkpoint)}
    with scoped_conf(spark, confs):
        return writer.start()


def compile_streaming(
    p: Pipeline,
    spark: SparkSession,
    *,
    checkpoint_root: str,
    default_format: str = "memory",
    trigger: dict | None = None,
) -> StreamingDeployment:
    """Streaming compile: one writeStream per sink vertex.

    Sinks with a ``writer`` callable run it via foreachBatch (UDSink contract,
    sink.proto:30-35 — per-batch status routing/fallback happens inside the
    writer); others go to a named memory sink (the test harness's golden-sink,
    mirroring the reference's Redis check sink, test/fixtures/redis_check.go).

    Every start — a resume after pause included — goes through
    :func:`start_stream` with the sink's checkpoint location
    (``checkpoint_root/<sink>``, or ``None`` for a memory sink) and a key
    count that is the sum of the sources' declared ``key_count`` when every
    source declares one, else ``None`` (a map may re-key, but the width is
    a cost choice, never a correctness one).
    """
    p.validate()
    outputs: dict[str, DataFrame] = {}
    started: dict[str, object] = {}
    lifecycles: dict[str, Lifecycle] = {}
    paused = p.desired_phase == "Paused"
    declared = [v.source.key_count for v in p.vertices if v.kind == "source"]
    key_count = None if None in declared else sum(declared)
    for name in p.topo_order():
        v = p.vertex(name)
        outputs[name] = _vertex_output(p, v, spark, outputs, streaming=True)
        if v.kind != "sink":
            continue
        df = outputs[name]
        writer = df.writeStream
        location = f"{checkpoint_root}/{name}"
        if trigger:
            writer = writer.trigger(**trigger)
        if v.sink.writer is not None:
            batch_writer = v.sink.writer
            if v.side_inputs:
                # W9 sink shape: refresh-then-process per micro-batch —
                # the writer receives {name: latest_value} as a third arg.
                from numaflow_spark.streaming.side_inputs import with_side_inputs

                batch_writer = with_side_inputs(
                    batch_writer, [p.side_inputs[n] for n in v.side_inputs]
                )
            # UDSink: durable, checkpoint-recoverable (WAL analogue of the
            # reference's at-least-once ack chain, message.rs:130-296).
            writer = writer.foreachBatch(batch_writer)
        else:
            writer = writer.format(default_format).queryName(name).outputMode("append")
            if default_format == "memory":
                # memory sink = test golden-sink; it cannot recover from a
                # checkpoint, so it runs at Spark's temporary location
                # (ephemeral by design).
                location = None
        lifecycles[name] = Lifecycle(start_fn=partial(
            start_stream, spark, writer, checkpoint=location, key_count=key_count))
        if not paused:
            started[name] = lifecycles[name].run()
    return StreamingDeployment(started, lifecycles=lifecycles)
