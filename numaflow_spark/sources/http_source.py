"""S2 HTTP source: POST /vertices/{name} ingestion, on the udsource contract.

Reference: the HTTP source exposes ``POST /vertices/{vertex}`` and reads
three headers — ``x-numaflow-id`` (dedup id), ``x-numaflow-event-time``
(epoch millis), ``x-numaflow-keys`` (comma-separated keys) — body is the
opaque payload (rust/extns/numaflow-http/src/lib.rs:39-45,647-676;
docs/user-guide/sources/http.md:114-146). Receipt is acknowledged with 200
once buffered; delivery downstream is at-least-once from the buffer, and
the dedup id enables effectively-once via the ISB dedup window (F8).

Spark realization: an :class:`HttpSourceHandle` (the S9 SourceHandle
contract) runs a stdlib ThreadingHTTPServer *inside the stream-reader
process*; reads drain the in-memory buffer in arrival order, acked ranges
are released, unacked ranges stay replayable (read_between) for recovery of
a planned-but-uncommitted batch. Divergence (same as the reference's
in-memory buffer): requests accepted but not yet checkpoint-committed are
lost if the driver dies — effectively-once resumes at the committed offset.

Dedup: the id lands in the ``id`` column; apply
``dropDuplicatesWithinWatermark(["id"])`` downstream to get the reference's
ISB dedup-window semantics (SURVEY.md §2.6 F8).
"""

from __future__ import annotations

import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler

from pyspark.sql import types as T

from numaflow_spark import wire
from numaflow_spark.sources.user_defined import SourceHandle

HTTP_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("offset", T.LongType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("id", T.StringType(), True),
        T.StructField("keys", T.ArrayType(T.StringType()), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


class _Buffer:
    """Arrival-ordered buffer with ack-releases (the source-side slice of
    the ISB: retained until acked, replayable in between)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.rows: list[tuple] = []  # rows[i] has offset = base + i
        self.base = 0  # offset of rows[0]
        self.next_seq = 0

    def append(self, row_tail: tuple) -> int:
        with self.lock:
            seq = self.next_seq
            self.next_seq += 1
            self.rows.append((seq, 0, *row_tail))
            return seq

    def slice_from(self, start: int, limit: int) -> list[tuple]:
        with self.lock:
            lo = max(0, start - self.base)
            return self.rows[lo : lo + limit]

    def release_until(self, end: int) -> None:
        with self.lock:
            drop = max(0, end - self.base)
            self.rows = self.rows[drop:]
            self.base = max(self.base, end)


class HttpSourceHandle(SourceHandle):
    """Options: ``port`` (required), ``vertex`` (path name, default "in"),
    ``batch_size`` (max rows per ReadFn, default 500 — the reference's
    readBatchSize default, const.go:185)."""

    def __init__(self, options: dict):
        self.port = int(options["port"])
        self.vertex = options.get("vertex", "in")
        self.batch_size = int(options.get("batch_size", 500))
        # HTTPS parity: the reference's HTTP source listens with TLS
        # (rust/extns/numaflow-http generates a self-signed cert and
        # clients post https with insecure-skip-verify). Here the cert is
        # caller-provided so tests can verify the chain properly instead
        # of skipping verification.
        self.tls_cert_file = options.get("tls_cert_file")
        self.tls_key_file = options.get("tls_key_file")
        self._buf: _Buffer | None = None
        self._server: wire.TLSThreadingHTTPServer | None = None

    # -- server lifecycle (lazy: the handle is pickled before the reader
    # process exists; sockets must be created post-unpickle) ---------------
    def _ensure_server(self) -> _Buffer:
        if self._buf is not None:
            return self._buf
        buf = _Buffer()
        path = f"/vertices/{self.vertex}"

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 (http.server casing)
                if self.path != path:
                    self.send_response(404)
                    self.end_headers()
                    return
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                msg_id = self.headers.get("x-numaflow-id")
                keys_hdr = self.headers.get("x-numaflow-keys")
                et_hdr = self.headers.get("x-numaflow-event-time")
                event_time = (
                    datetime.fromtimestamp(int(et_hdr) / 1000.0, tz=timezone.utc)
                    if et_hdr
                    else datetime.now(tz=timezone.utc)
                )
                headers = {k.lower(): v for k, v in self.headers.items()}
                seq = buf.append(
                    (
                        msg_id,
                        keys_hdr.split(",") if keys_hdr else None,
                        body,
                        event_time,
                        headers,
                    )
                )
                # default the dedup id the way the reference does: uuid per
                # request is the client's job; absent header -> offset id
                if msg_id is None:
                    with buf.lock:
                        i = seq - buf.base
                        r = buf.rows[i]
                        buf.rows[i] = (r[0], r[1], str(seq), *r[3:])
                self.send_response(200)
                self.end_headers()

            def log_message(self, *a) -> None:  # quiet CI logs
                pass

        self._server = wire.TLSThreadingHTTPServer(
            ("127.0.0.1", self.port), Handler,
            wire.server_context(self.tls_cert_file, self.tls_key_file)
            if self.tls_cert_file else None,
        )
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        self._buf = buf
        return buf

    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        state["_buf"] = None
        state["_server"] = None
        return state

    # -- SourceHandle ------------------------------------------------------
    def schema(self) -> T.StructType:
        return HTTP_SOURCE_SCHEMA

    def initial_offset(self) -> dict:
        self._ensure_server()
        return {"seq": 0}

    def pending(self) -> int:
        buf = self._ensure_server()
        with buf.lock:
            return buf.base + len(buf.rows) - 0

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        buf = self._ensure_server()
        rows = buf.slice_from(start["seq"], self.batch_size)
        if not rows:
            return [], start
        return rows, {"seq": rows[-1][0] + 1}

    def read_between(self, start: dict, end: dict) -> list[tuple]:
        # Replay path — may run on an EXECUTOR for ranges missing from the
        # driver-side prefetch cache (notably empty ranges, which the
        # wrapper never caches). It must not start a server: a second bind
        # on the same host fails, and an executor-local server would see no
        # traffic anyway. Serve from the in-process buffer when present
        # (driver recovery), else the range is gone — the same in-memory
        # loss window the reference's HTTP source has.
        if self._buf is None:
            return []
        return self._buf.slice_from(start["seq"], end["seq"] - start["seq"])

    def ack(self, end: dict) -> None:
        if self._buf is not None:
            self._buf.release_until(end["seq"])
