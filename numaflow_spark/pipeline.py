"""Pipeline spec: the numaflow program model (DAG of vertices) as Python.

Mirrors the CRD surface (``pkg/apis/numaflow/v1alpha1``):
  * ``PipelineSpec{vertices[], edges[], watermark, ...}`` — pipeline_types.go:495-530
  * ``AbstractVertex{name, source|sink|udf, partitions, ...}`` — vertex_types.go:585-637
  * ``Edge{from, to, conditions{tags{operator, values}}}`` — edge_types.go:21,76-97
  * vertex type derivation (Source/Sink/MapUDF/ReduceUDF) — vertex_types.go:656-665;
    a UDF with ``groupBy`` is a reducer (udf.go:42-48, 96-107)
  * MonoVertex (source→[map]→sink, no ISB) — mono_vertex_types.go

Validation reproduces the reference controller's DAG checks
(pkg/reconciler/pipeline/validate.go): unique vertex names, edges reference
declared vertices, sources have no in-edges, sinks no out-edges, every vertex
reachable from a source and reaching a sink, and no cycles into or through a
reduce vertex (cycles are legal toward map vertices in the reference;
our streaming compiler rejects all cycles and documents the divergence —
SURVEY.md §2.6 F6).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession


@dataclass(frozen=True)
class TagCondition:
    """ForwardConditions.tags (edge_types.go:76-97): operator ∈ {and,or,not}."""

    operator: str = "or"
    values: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        if self.operator not in ("and", "or", "not"):
            raise ValueError(f"edge condition operator must be and|or|not, got {self.operator!r}")


@dataclass(frozen=True)
class Edge:
    """Edge{from, to, conditions} (edge_types.go:21).

    ``unless`` is the compile-time SKIP mechanism behind MonoVertex bypass
    routing (mono_vertex_forwarding.go:19-32): the edge fires only when
    NONE of the ``unless`` conditions match, so a message diverted to a
    bypass sink does not also continue down the normal chain."""

    from_: str
    to: str
    condition: TagCondition | None = None
    unless: tuple[TagCondition, ...] = ()


@dataclass
class Source:
    """A source vertex body: a reader producing a DataFrame.

    ``reader(spark)`` returns a batch DataFrame; ``stream_reader(spark)``
    (optional) returns a streaming DataFrame for the same logical source —
    the batch form is the correctness harness (SURVEY.md §7).
    """

    reader: Callable[[SparkSession], DataFrame]
    stream_reader: Callable[[SparkSession], DataFrame] | None = None
    # Declared number of distinct message keys (the generator's keyCount);
    # None = not declared. compile_streaming sizes state from it.
    key_count: int | None = None


@dataclass
class MapUDF:
    """A map vertex body (map.proto:29-52): DataFrame -> DataFrame transform;
    1->N fanout, filtering, key/tag rewrite all allowed."""

    fn: Callable[[DataFrame], DataFrame]


@dataclass
class ReduceUDF:
    """A reduce vertex body (udf.go:96-107): groupBy makes a vertex a reducer.

    window: {"fixed": length} | {"sliding": (length, slide)} |
            {"session": gap} — SURVEY.md §2.4 R1-R3.
    keys:   group keys; empty = non-keyed collapse (reducer.rs:26).
    aggs:   aggregate Columns (the built-in replacement for the reduce UDF
            contract, reduce.proto:29-34).
    ts_col / allowed_lateness: event-time column and watermark delay
            (udf.go:101-104).
    """

    window: dict[str, Any]
    aggs: Sequence[Column]
    keys: Sequence[str] = ()
    ts_col: str = "event_time"
    allowed_lateness: str = "0 seconds"
    # R4 accumulator window only (window_types.go AccumulatorWindow;
    # accumulator.rs): window == {"accumulator": timeout_interval} gives the
    # UDF a per-key ORDERED replay instead of an aggregation. ``aggs`` is
    # unused; ``accumulator_fn`` (optional) replaces the built-in
    # stream-sorter body with a registry-supplied DataFrame transform.
    accumulator_fn: Any = None


@dataclass
class Sink:
    """A sink vertex body. In batch compile a sink just names its result
    DataFrame; ``writer`` (optional) is applied in streaming compile via
    foreachBatch (sink.proto:30-35 / SURVEY.md §2.5)."""

    writer: Callable[[DataFrame, int], None] | None = None
    fallback: Callable[[DataFrame, int], None] | None = None


@dataclass
class Vertex:
    """AbstractVertex (vertex_types.go:585-637): exactly one body."""

    name: str
    source: Source | None = None
    udf: MapUDF | ReduceUDF | None = None
    sink: Sink | None = None
    partitions: int = 1
    # vertex_types.go:585-637 `sideInputs: [name]` — names of pipeline-level
    # side inputs this vertex consumes (W9, streaming/side_inputs.py).
    side_inputs: tuple[str, ...] = ()

    @property
    def kind(self) -> str:
        # vertex_types.go:656-665 derivation order
        if self.source is not None:
            return "source"
        if self.sink is not None:
            return "sink"
        if isinstance(self.udf, ReduceUDF):
            return "reduce"
        if isinstance(self.udf, MapUDF):
            return "map"
        raise ValueError(f"vertex {self.name!r} has no body (source/udf/sink)")


@dataclass
class Pipeline:
    """PipelineSpec (pipeline_types.go:495-530)."""

    name: str
    vertices: list[Vertex] = field(default_factory=list)
    edges: list[Edge] = field(default_factory=list)
    # MonoVertex spec.streaming (mono_vertex_types.go:543-547): per-message
    # out-of-order source acking. Recorded for spec fidelity; Spark's
    # micro-batch engine subsumes the semantics (documented divergence —
    # offsets commit per checkpoint, safe for cumulative-commit sources).
    per_message_streaming: bool = False
    # spec.lifecycle (pipeline_types.go:444-493): the declared start phase
    # and pause drain budget. compile_streaming honors desiredPhase=Paused
    # by returning Lifecycle controllers without starting the queries.
    desired_phase: str = "Running"
    pause_grace_period_s: int = 30
    # spec.watermark.idleSource (pipeline_types.go:604-616), parsed to
    # {"threshold","step_interval","increment_by","max_delay"} Spark
    # interval strings. When set, streaming reduce inputs get the WMB
    # heartbeat union (W3, streaming/idle.py) so windows close while
    # sources idle.
    idle_source: dict | None = None
    # spec.sideInputs (pipeline_types.go:495-530; side_inputs.go:30-47):
    # name -> streaming.side_inputs.SideInput (fetch callable + refresh
    # interval). Vertices reference them via Vertex.side_inputs (W9).
    side_inputs: dict = field(default_factory=dict)
    # spec.ordered (pipeline_types.go:540-550): FIFO-per-partition intent,
    # recorded; the streaming compiler's ordered path (F9,
    # streaming/ordered.py) is the executor.
    ordered: bool = False

    # -- builder API ------------------------------------------------------
    def add(self, vertex: Vertex) -> "Pipeline":
        self.vertices.append(vertex)
        return self

    def connect(
        self,
        from_: str,
        to: str,
        operator: str | None = None,
        values: Sequence[str] | None = None,
    ) -> "Pipeline":
        cond = TagCondition(operator or "or", tuple(values)) if values else None
        self.edges.append(Edge(from_, to, cond))
        return self

    # -- validation (reconciler/pipeline/validate.go semantics) -----------
    def vertex(self, name: str) -> Vertex:
        for v in self.vertices:
            if v.name == name:
                return v
        raise KeyError(name)

    def in_edges(self, name: str) -> list[Edge]:
        return [e for e in self.edges if e.to == name]

    def out_edges(self, name: str) -> list[Edge]:
        return [e for e in self.edges if e.from_ == name]

    def validate(self) -> None:
        names = [v.name for v in self.vertices]
        if len(set(names)) != len(names):
            raise ValueError("duplicate vertex names")
        if not self.vertices:
            raise ValueError("pipeline has no vertices")
        for e in self.edges:
            for n in (e.from_, e.to):
                if n not in names:
                    raise ValueError(f"edge references unknown vertex {n!r}")
            if e.from_ == e.to:
                raise ValueError(f"self-edge on {e.from_!r} not supported (cycle divergence, SURVEY.md F6)")
        sources = [v for v in self.vertices if v.kind == "source"]
        sinks = [v for v in self.vertices if v.kind == "sink"]
        if not sources:
            raise ValueError("pipeline needs at least one source vertex")
        if not sinks:
            raise ValueError("pipeline needs at least one sink vertex")
        for v in self.vertices:
            if v.kind == "source" and self.in_edges(v.name):
                raise ValueError(f"source {v.name!r} cannot have in-edges")
            if v.kind == "sink" and self.out_edges(v.name):
                raise ValueError(f"sink {v.name!r} cannot have out-edges")
            if v.kind in ("map", "reduce"):
                if not self.in_edges(v.name) or not self.out_edges(v.name):
                    raise ValueError(f"udf vertex {v.name!r} must have in- and out-edges")
            for s in v.side_inputs:
                if s not in self.side_inputs:
                    raise ValueError(
                        f"vertex {v.name!r} references side input {s!r} not "
                        "declared in spec.sideInputs (side_inputs.go:30-47)"
                    )
        self.topo_order()  # raises on cycles

    def topo_order(self) -> list[str]:
        """Kahn topological sort; cycles raise (streaming divergence F6)."""
        indeg = {v.name: 0 for v in self.vertices}
        for e in self.edges:
            indeg[e.to] += 1
        ready = sorted(n for n, d in indeg.items() if d == 0)
        order: list[str] = []
        while ready:
            n = ready.pop(0)
            order.append(n)
            for e in self.out_edges(n):
                indeg[e.to] -= 1
                if indeg[e.to] == 0:
                    ready.append(e.to)
            ready.sort()
        if len(order) != len(self.vertices):
            cyclic = sorted(set(indeg) - set(order))
            raise ValueError(
                f"cycle detected involving {cyclic}; cycles are not compilable to "
                "Structured Streaming (documented divergence from numaflow F6)"
            )
        return order


def mono_vertex(
    name: str,
    source: Source,
    sink: Sink,
    map_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> Pipeline:
    """MonoVertex (mono_vertex_types.go; rust monovertex.rs:20-30): the
    degenerate source→[map]→sink pipeline with no inter-step buffer."""
    p = Pipeline(name)
    p.add(Vertex(f"{name}-source", source=source))
    if map_fn is not None:
        p.add(Vertex(f"{name}-map", udf=MapUDF(map_fn)))
        p.add(Vertex(f"{name}-sink", sink=sink))
        p.connect(f"{name}-source", f"{name}-map").connect(f"{name}-map", f"{name}-sink")
    else:
        p.add(Vertex(f"{name}-sink", sink=sink))
        p.connect(f"{name}-source", f"{name}-sink")
    return p
