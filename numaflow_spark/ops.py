"""Observability / ops surface: the daemon-service equivalent (SURVEY.md §2.10).

The reference exposes a DaemonService over the running pipeline
(pkg/apis/proto/daemon/daemon.proto:138-163): ListBuffers / GetBuffer,
GetVertexMetrics (processing rate + pending), GetPipelineWatermarks,
GetPipelineStatus, GetVertexErrors; rates are computed over sliding lookback
windows by a "rater" that polls per-pod counts
(pkg/daemon/server/service/rater/rater.go, doc.go:18-19).

Here the running pipeline is a set of Structured Streaming queries (one per
sink vertex), and every answer the daemon gives is derivable from
``StreamingQuery.lastProgress`` / ``recentProgress`` plus a
``StreamingQueryListener``:

  * processing rate  -> progress.processedRowsPerSecond (per-trigger), and
    windowed averages over a retained progress history (the rater's 1m/5m/15m
    lookback, rater.go default lookback 120s);
  * pending (lag)    -> source-specific: Kafka progress carries
    ``sources[].metrics`` backlog; file/rate sources expose latestOffset vs
    endOffset. We surface ``numInputRows`` and the raw source offsets and
    leave semantics to the source, as the reference does (LagReader trait).
  * watermarks       -> progress.eventTime["watermark"] per query ≙
    GetPipelineWatermarks (one WM per query replaces per-edge WMs — Spark's
    global-per-query watermark, SURVEY.md §1.4).
  * status           -> query.isActive / status["message"] ≙ GetPipelineStatus;
  * errors           -> query.exception() ≙ GetVertexErrors.
"""

from __future__ import annotations

import json
import time
from collections import deque
from dataclasses import dataclass, field


@dataclass
class VertexMetrics:
    """GetVertexMetricsResponse analogue (daemon.proto VertexMetrics)."""

    name: str
    processing_rate: float  # rows/s, latest trigger
    windowed_rates: dict[str, float]  # lookback-window averages, rater-style
    num_input_rows: int
    batch_id: int


@dataclass
class PipelineStatus:
    """GetPipelineStatusResponse analogue: OK iff every query is active and
    exception-free (pipeline phase healthy/critical)."""

    status: str  # "healthy" | "critical" | "inactive"
    message: str


@dataclass
class _History:
    """Per-query progress history for windowed rate computation (the rater's
    sliding lookback, rater/doc.go:18-19)."""

    samples: deque = field(default_factory=lambda: deque(maxlen=720))  # (wall_ts, rows)


class PipelineMonitor:
    """Daemon-service facade over a dict of {vertex/sink name: StreamingQuery}.

    Accepts the ``queries`` mapping of a ``StreamingDeployment`` (or any
    name -> StreamingQuery dict). Call :meth:`observe` periodically (or wire
    :class:`RateListener` for push-based collection) so windowed rates have
    samples; every getter is also correct with no history (falls back to the
    latest progress only).
    """

    LOOKBACKS = {"1m": 60.0, "5m": 300.0, "15m": 900.0}

    def __init__(self, queries: dict[str, object]):
        self._queries = dict(queries)
        self._hist: dict[str, _History] = {n: _History() for n in self._queries}

    # -- collection -------------------------------------------------------
    def observe(self) -> None:
        """Sample every query's cumulative input rows (rater poll cycle)."""
        now = time.time()
        for name, q in self._queries.items():
            p = q.lastProgress
            if not p:
                continue
            hist = self._hist.setdefault(name, _History())
            rows = int(p.get("numInputRows", 0))
            batch = int(p.get("batchId", -1))
            if hist.samples and hist.samples[-1][2] == batch:
                continue  # same trigger, don't double-count
            hist.samples.append((now, rows, batch))

    # -- daemon.proto getters --------------------------------------------
    def list_queries(self) -> list[str]:
        """ListBuffers analogue — the addressable units (queries ≙ edges)."""
        return sorted(self._queries)

    def get_vertex_metrics(self, name: str) -> VertexMetrics:
        q = self._queries[name]
        p = q.lastProgress or {}
        hist = self._hist.get(name, _History())
        now = time.time()
        windowed: dict[str, float] = {}
        for label, span in self.LOOKBACKS.items():
            pts = [(t, r) for (t, r, _b) in hist.samples if now - t <= span]
            dt = (pts[-1][0] - pts[0][0]) if len(pts) > 1 else 0.0
            windowed[label] = round(sum(r for _t, r in pts[1:]) / dt, 3) if dt > 0 else 0.0
        return VertexMetrics(
            name=name,
            processing_rate=float(p.get("processedRowsPerSecond", 0.0) or 0.0),
            windowed_rates=windowed,
            num_input_rows=int(p.get("numInputRows", 0)),
            batch_id=int(p.get("batchId", -1)),
        )

    def get_watermarks(self) -> dict[str, str | None]:
        """GetPipelineWatermarks analogue: ISO event-time watermark per query."""
        out: dict[str, str | None] = {}
        for name, q in self._queries.items():
            p = q.lastProgress or {}
            out[name] = (p.get("eventTime") or {}).get("watermark")
        return out

    def get_pending(self, name: str) -> dict[str, object]:
        """Source lag surface (LagReader / source.proto pending): raw start/
        end/latest offsets per source; numeric lag where the source encodes
        offsets as integers (Kafka, rate), else opaque strings."""
        q = self._queries[name]
        p = q.lastProgress or {}
        return {
            "sources": [
                {
                    "description": s.get("description"),
                    "startOffset": s.get("startOffset"),
                    "endOffset": s.get("endOffset"),
                    "latestOffset": s.get("latestOffset"),
                    "numInputRows": s.get("numInputRows"),
                }
                for s in p.get("sources", [])
            ]
        }

    def get_status(self) -> PipelineStatus:
        """GetPipelineStatus analogue."""
        msgs = []
        any_active = False
        for name, q in self._queries.items():
            if q.exception() is not None:
                return PipelineStatus("critical", f"{name}: {q.exception()}")
            if q.isActive:
                any_active = True
            msgs.append(f"{name}: {q.status.get('message', '')}")
        return PipelineStatus("healthy" if any_active else "inactive", "; ".join(msgs))

    def get_errors(self) -> dict[str, str | None]:
        """GetVertexErrors analogue."""
        return {
            name: (str(q.exception()) if q.exception() is not None else None)
            for name, q in self._queries.items()
        }

    def snapshot(self) -> str:
        """One JSON blob of everything — the daemon's HTTP/metrics surface."""
        return json.dumps(
            {
                "status": self.get_status().__dict__,
                "watermarks": self.get_watermarks(),
                "metrics": {n: self.get_vertex_metrics(n).__dict__ for n in self._queries},
                "errors": self.get_errors(),
            },
            default=str,
        )


def make_rate_listener(monitor: PipelineMonitor):
    """Push-based collection: a StreamingQueryListener whose onQueryProgress
    feeds the monitor (instead of polling observe()). Register with
    ``spark.streams.addListener(make_rate_listener(mon))``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class RateListener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802 (Spark API casing)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            monitor.observe()

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return RateListener()


def prometheus_exposition(monitor: PipelineMonitor, *, pipeline: str = "pipeline") -> str:
    """Prometheus text-exposition of the daemon metrics surface
    (docs/operations/metrics/metrics.md): the reference's documented metric
    names re-derived from StreamingQuery progress —

      * ``forwarder_read_total`` (counter, metrics.md:15): cumulative rows
        read per vertex, from the rater history;
      * ``vertex_pending_messages`` (gauge, metrics.md:34): numeric source
        lag where offsets are integers;
      * ``reduce_watermark_lag`` (gauge ms, metrics.md:68): wall clock minus
        event-time watermark;
      * ``vertex_processing_rate`` (gauge, rater/doc.go:18-19): the daemon
        rater's 1m-lookback rate.

    Scrape via any HTTP shim (the engine stays server-free, same as
    :meth:`PipelineMonitor.snapshot`).
    """
    from datetime import datetime, timezone

    def fmt(metric: str, mtype: str, help_: str, rows: list[tuple[dict, float]]) -> list[str]:
        out = [f"# HELP {metric} {help_}", f"# TYPE {metric} {mtype}"]
        for labels, val in rows:
            lbl = ",".join(f'{k}="{v}"' for k, v in sorted(labels.items()))
            out.append(f"{metric}{{{lbl}}} {val}")
        return out

    read_rows, rate_rows, lag_rows, pending_rows = [], [], [], []
    now = time.time()
    for name in monitor.list_queries():
        labels = {"pipeline": pipeline, "vertex": name}
        hist = monitor._hist.get(name)
        total = sum(r for (_t, r, _b) in hist.samples) if hist else 0
        read_rows.append((labels, total))
        vm = monitor.get_vertex_metrics(name)
        rate_rows.append((labels, vm.windowed_rates.get("1m", 0.0)))
        wm = monitor.get_watermarks().get(name)
        if wm:
            wm_ts = datetime.fromisoformat(wm.replace("Z", "+00:00"))
            lag_ms = max(0.0, (now - wm_ts.replace(tzinfo=wm_ts.tzinfo or timezone.utc).timestamp()) * 1000)
            lag_rows.append((labels, round(lag_ms, 1)))
        try:
            pend = monitor.get_pending(name)
        except Exception:
            pend = {}
        lag = 0
        lag_known = False
        for src in pend.get("sources", []):
            latest, end = src.get("latestOffset"), src.get("endOffset")
            if isinstance(latest, (int, float)) and isinstance(end, (int, float)):
                lag += max(0, latest - end)
                lag_known = True
        if lag_known:
            pending_rows.append((labels, lag))

    lines: list[str] = []
    lines += fmt("forwarder_read_total", "counter",
                 "Total number of messages read by a vertex", read_rows)
    lines += fmt("vertex_processing_rate", "gauge",
                 "Vertex processing rate over the 1m lookback", rate_rows)
    if lag_rows:
        lines += fmt("reduce_watermark_lag", "gauge",
                     "Wall clock minus event-time watermark in milliseconds", lag_rows)
    if pending_rows:
        lines += fmt("vertex_pending_messages", "gauge",
                     "Pending (unread) source messages", pending_rows)
    return "\n".join(lines) + "\n"


class DaemonServer:
    """HTTP daemon server over a :class:`PipelineMonitor` — the served
    counterpart of the reference's daemon service (daemon.proto:138-163,
    whose gRPC-gateway exposes GetPipelineStatus / GetVertexMetrics /
    GetPipelineWatermarks / GetVertexErrors over HTTP), plus the Prometheus
    scrape endpoint the reference's metrics doc expects
    (docs/operations/metrics/metrics.md).

    Routes (all GET):
      * ``/metrics``                  Prometheus text exposition
      * ``/api/v1/status``            GetPipelineStatus JSON
      * ``/api/v1/watermarks``        GetPipelineWatermarks JSON
      * ``/api/v1/errors``            GetVertexErrors JSON
      * ``/api/v1/vertices``          ListBuffers analogue (query names)
      * ``/api/v1/vertices/<name>``   GetVertexMetrics JSON (404 unknown)
      * ``/api/v1/snapshot``          everything (PipelineMonitor.snapshot)

    Same ``wire.TLSThreadingHTTPServer`` as ``sources/http_source.py`` —
    driver-side only, daemon-threaded, ephemeral port by default.
    """

    def __init__(self, monitor: PipelineMonitor, *, port: int = 0,
                 pipeline: str = "pipeline",
                 tls_cert_file: str | None = None,
                 tls_key_file: str | None = None):
        self._monitor = monitor
        self._pipeline = pipeline
        self._server = None
        self._port = port
        # The reference daemon serves its gRPC/HTTP API over TLS (the
        # daemon deployment mounts a server cert); parity here is the same
        # caller-provided cert pattern as the other listeners.
        self._tls_cert_file = tls_cert_file
        self._tls_key_file = tls_key_file

    @property
    def port(self) -> int:
        if self._server is None:
            raise RuntimeError("DaemonServer not started")
        return self._server.server_address[1]

    def start(self) -> "DaemonServer":
        import threading
        from http.server import BaseHTTPRequestHandler

        from numaflow_spark import wire

        monitor, pipeline = self._monitor, self._pipeline

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (http.server casing)
                try:
                    body, ctype = self._route(self.path.rstrip("/") or "/")
                except KeyError:
                    self.send_error(404)
                    return
                except Exception as e:  # noqa: BLE001 — surface, don't kill the server
                    self.send_error(500, str(e))
                    return
                data = body.encode()
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _route(self, path: str) -> tuple[str, str]:
                prom = "text/plain; version=0.0.4; charset=utf-8"
                js = "application/json"
                if path == "/metrics":
                    return prometheus_exposition(monitor, pipeline=pipeline), prom
                if path == "/api/v1/status":
                    return json.dumps(monitor.get_status().__dict__), js
                if path == "/api/v1/watermarks":
                    return json.dumps(monitor.get_watermarks()), js
                if path == "/api/v1/errors":
                    return json.dumps(monitor.get_errors()), js
                if path == "/api/v1/vertices":
                    return json.dumps(monitor.list_queries()), js
                if path.startswith("/api/v1/vertices/"):
                    name = path.rsplit("/", 1)[1]
                    if name not in monitor.list_queries():
                        raise KeyError(name)
                    return json.dumps(monitor.get_vertex_metrics(name).__dict__), js
                if path == "/api/v1/snapshot":
                    return monitor.snapshot(), js
                raise KeyError(path)

            def log_message(self, *a) -> None:  # quiet CI logs
                pass

        self._server = wire.TLSThreadingHTTPServer(
            ("127.0.0.1", self._port), Handler,
            wire.server_context(self._tls_cert_file, self._tls_key_file)
            if self._tls_cert_file else None,
        )
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        return self

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
