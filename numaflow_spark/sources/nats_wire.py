"""Minimal core-NATS wire protocol: a real asyncio client and an
in-process TCP server, both speaking the published text protocol
(docs.nats.io → reference → NATS protocol: INFO / CONNECT / PING / PONG /
SUB / PUB / MSG frames over TCP, CRLF-delimited, payload length-prefixed).

Why this exists: the sandboxed build environment has neither a nats-server
binary nor the nats-py client, so the S6 NATS source could only ever be
driven by in-memory fakes — which verify the handle's offset/queue
plumbing but not a single protocol frame. This module closes that gap at
the wire level:

  * :func:`connect` is a from-scratch asyncio client implementing the
    subset of the nats-py surface the source handle uses
    (``subscribe(subject, cb)`` / ``publish`` / ``flush`` / ``close``),
    including server PING→PONG keepalive and ``*`` / ``>`` subject
    wildcards. ``NatsSourceHandle`` falls back to it automatically when
    nats-py is not installed, so the S6 source now works out of the box
    against any real NATS server.
  * :class:`MiniNatsServer` is a protocol-faithful in-process server (one
    asyncio loop on a daemon thread) used by the wire-level e2e test
    (tests/test_nats_wire.py): handle → our client → TCP → our server is a
    genuine network round trip with real NATS frames on the socket.

Reference parity: numaflow's nats source (rust/numaflow-core/src/source/
nats.rs) is the same core-NATS fire-and-forget consumer; its e2e runs
against a containerized nats-server (test/builtin-source-e2e/), which this
sandbox cannot run — MiniNatsServer is the closest wire-faithful stand-in.

A minimal JetStream layer (S7) rides on the same frames: the JS API is
core-NATS request/reply on $JS.API.> subjects, delivery is MSG frames
whose reply-to is the ack subject, acks are PUBs to it. The subset is
exactly what ``JetStreamSourceHandle`` needs — durable PULL consumers,
batch MSG.NEXT fetch, explicit ack, ack-wait redelivery (at-least-once;
the reference's jetstream.rs consumer shape).

Also implemented (r8 depth): TLS in the "TLS-first handshake" mode
(docs.nats.io → securing NATS → TLS, ``handshake_first``: the socket is
TLS from byte 0, INFO follows inside the tunnel — the mode modern
nats-server offers for exactly this client shape), with full
certificate verification against ``tls_ca_file`` and optional mutual
TLS (client cert/key; server built with ``tls_client_ca_file`` requires
it at the handshake). And CONNECT-carried authentication (the published
auth fields: ``user``/``pass`` and ``auth_token``): the server
advertises ``auth_required`` in INFO and answers any frame from an
unauthenticated connection with the real -ERR 'Authorization Violation'
and a close; the client surfaces that as ConnectionError at connect
time, not a hang.

Not implemented (documented divergences): nkey/JWT auth, the
INFO-then-upgrade STARTTLS mode (TLS-first only), INFO-driven cluster
topology, max_payload enforcement; JetStream push consumers, flow
control, replicas, and persistence across server restarts.
"""

from __future__ import annotations

import asyncio
import json
import threading
import time

from numaflow_spark import wire


def _subject_matches(pattern: str, subject: str) -> bool:
    """Core-NATS subject matching: tokens split on '.', '*' matches exactly
    one token, '>' matches one-or-more trailing tokens."""
    pt, st = pattern.split("."), subject.split(".")
    for i, p in enumerate(pt):
        if p == ">":
            return len(st) >= i + 1
        if i >= len(st):
            return False
        if p != "*" and p != st[i]:
            return False
    return len(pt) == len(st)


# ---------------------------------------------------------------------------
# Client
# ---------------------------------------------------------------------------


class _Msg:
    """Delivered message — same attribute surface as nats-py's Msg where
    the handles touch it (``data``, ``subject``, ``reply``)."""

    __slots__ = ("subject", "data", "reply")

    def __init__(self, subject: str, data: bytes, reply: str = ""):
        self.subject = subject
        self.data = data
        self.reply = reply


class WireNatsConnection:
    """Async core-NATS connection over raw asyncio streams. Single reader
    task dispatches MSG frames to subscription callbacks and answers
    server PINGs; writes are serialized by a lock."""

    def __init__(self):
        self._reader: asyncio.StreamReader | None = None
        self._writer: asyncio.StreamWriter | None = None
        self._subs: dict[int, object] = {}  # sid -> async callback
        self._next_sid = 1
        self._wlock = asyncio.Lock()
        self._reader_task: asyncio.Task | None = None
        self._pong_waiters: list[asyncio.Future] = []
        self.server_info: dict = {}

    async def _start(self, host: str, port: int,
                     tls_ca_file: str | None = None,
                     tls_cert_file: str | None = None,
                     tls_key_file: str | None = None,
                     user: str | None = None,
                     password: str | None = None,
                     token: str | None = None,
                     use_tls: bool = False) -> None:
        ssl_ctx = None
        if use_tls or tls_ca_file:
            # TLS-first handshake mode (docs.nats.io handshake_first):
            # encrypt from byte 0, INFO arrives inside the tunnel. Full
            # verification; optional client cert for mutual TLS.
            ssl_ctx = wire.client_context(tls_ca_file, tls_cert_file,
                                          tls_key_file)
        self._reader, self._writer = await asyncio.open_connection(
            host, port, ssl=ssl_ctx, server_hostname=host if ssl_ctx else None
        )
        line = await self._reader.readline()  # INFO {...}
        if line.startswith(b"INFO "):
            self.server_info = json.loads(line[5:].strip() or b"{}")
        opts = {"verbose": False, "pedantic": False, "name": "numaflow-spark"}
        if user is not None:
            opts["user"], opts["pass"] = user, password or ""
        if token is not None:
            opts["auth_token"] = token
        await self._send(b"CONNECT " + json.dumps(opts).encode() + b"\r\n")
        self._reader_task = asyncio.ensure_future(self._read_loop())
        await self.flush()  # PING/PONG round trip proves the CONNECT landed

    async def _send(self, frame: bytes) -> None:
        async with self._wlock:
            self._writer.write(frame)
            await self._writer.drain()

    async def _read_loop(self) -> None:
        try:
            while True:
                line = await self._reader.readline()
                if not line:
                    break
                if line.startswith(b"MSG "):
                    # MSG <subject> <sid> [reply-to] <#bytes>
                    parts = line[4:].strip().split(b" ")
                    subject, sid = parts[0].decode(), int(parts[1])
                    reply = parts[2].decode() if len(parts) == 4 else ""
                    nbytes = int(parts[-1])
                    payload = await self._reader.readexactly(nbytes + 2)  # +CRLF
                    cb = self._subs.get(sid)
                    if cb is not None:
                        await cb(_Msg(subject, payload[:-2], reply))
                elif line.startswith(b"PING"):
                    await self._send(b"PONG\r\n")
                elif line.startswith(b"PONG"):
                    for f in self._pong_waiters:
                        if not f.done():
                            f.set_result(True)
                    self._pong_waiters.clear()
                elif line.startswith(b"-ERR"):
                    # Surface server errors (e.g. 'Authorization Violation')
                    # to whoever is awaiting a flush — a raise inside this
                    # task would die silently and the waiter would hang to
                    # its timeout instead of failing fast.
                    err = ConnectionError(line.decode(errors="replace").strip())
                    for f in self._pong_waiters:
                        if not f.done():
                            f.set_exception(err)
                    self._pong_waiters.clear()
                    break
                # +OK / INFO updates: ignored (verbose off)
        except (asyncio.CancelledError, asyncio.IncompleteReadError):
            pass
        finally:
            # EOF/teardown: fail any remaining waiters instead of hanging
            err = ConnectionError("connection closed by server")
            for f in self._pong_waiters:
                if not f.done():
                    f.set_exception(err)
            self._pong_waiters.clear()

    async def subscribe(self, subject: str, cb) -> int:
        sid = self._next_sid
        self._next_sid += 1
        self._subs[sid] = cb
        await self._send(f"SUB {subject} {sid}\r\n".encode())
        return sid

    async def publish(self, subject: str, data: bytes) -> None:
        await self._send(
            f"PUB {subject} {len(data)}\r\n".encode() + data + b"\r\n"
        )

    async def publish_request(self, subject: str, reply: str, data: bytes) -> None:
        await self._send(
            f"PUB {subject} {reply} {len(data)}\r\n".encode() + data + b"\r\n"
        )

    async def unsubscribe(self, sid: int) -> None:
        self._subs.pop(sid, None)
        await self._send(f"UNSUB {sid}\r\n".encode())

    async def request(
        self, subject: str, data: bytes, timeout: float = 5.0
    ) -> bytes:
        """Core-NATS request/reply: one-shot inbox subscription + PUB with
        reply-to — the transport every $JS.API call rides on."""
        self._next_sid += 1
        inbox = f"_INBOX.req.{self._next_sid}"
        fut = asyncio.get_running_loop().create_future()

        async def _cb(msg):
            if not fut.done():
                fut.set_result(msg.data)

        sid = await self.subscribe(inbox, _cb)
        try:
            await self.publish_request(subject, inbox, data)
            return await asyncio.wait_for(fut, timeout)
        finally:
            await self.unsubscribe(sid)

    async def flush(self, timeout: float = 5.0) -> None:
        f = asyncio.get_running_loop().create_future()
        self._pong_waiters.append(f)
        await self._send(b"PING\r\n")
        await asyncio.wait_for(f, timeout)

    async def close(self) -> None:
        if self._reader_task:
            self._reader_task.cancel()
        if self._writer:
            self._writer.close()

    def jetstream(self) -> "_JsContext":
        """nats-py-shaped JetStream context (pull consumers only)."""
        return _JsContext(self)


async def connect(servers: str,
                  tls_ca_file: str | None = None,
                  tls_cert_file: str | None = None,
                  tls_key_file: str | None = None,
                  user: str | None = None,
                  password: str | None = None,
                  token: str | None = None) -> WireNatsConnection:
    """nats-py-shaped entry point: ``await connect("nats://host:port")``
    (or ``tls://host:port`` for the TLS-first listener). Only the first
    server of a comma list is used (no cluster failover)."""
    url = servers.split(",")[0].strip()
    scheme = url.split("://", 1)[0] if "://" in url else "nats"
    hostport = url.split("://", 1)[-1]
    host, _, port = hostport.rpartition(":")
    conn = WireNatsConnection()
    await conn._start(
        host or "127.0.0.1", int(port or 4222),
        tls_ca_file=tls_ca_file, tls_cert_file=tls_cert_file,
        tls_key_file=tls_key_file, user=user, password=password,
        token=token, use_tls=scheme == "tls",
    )
    return conn


# ---------------------------------------------------------------------------
# In-process server (tests / examples)
# ---------------------------------------------------------------------------


class MiniNatsServer:
    """Protocol-faithful in-process core-NATS server for wire-level tests:
    real TCP listener, real frames. Supports CONNECT/PING/PONG/SUB/UNSUB/
    PUB/MSG and '*'/'>' wildcards, TLS-first listeners (optionally
    mutual), and user/pass + token auth with the real -ERR 'Authorization
    Violation' close on bad or missing credentials."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 tls_cert_file: str | None = None,
                 tls_key_file: str | None = None,
                 tls_client_ca_file: str | None = None,
                 auth_users: dict[str, str] | None = None,
                 auth_token: str | None = None):
        self.host, self.port = host, port
        self._auth_users = auth_users
        self._auth_token = auth_token
        self._tls = bool(tls_cert_file)
        self._ssl_ctx = (wire.server_context(tls_cert_file, tls_key_file,
                                             tls_client_ca_file)
                         if tls_cert_file else None)
        self._loop = asyncio.new_event_loop()
        self._thread = threading.Thread(target=self._loop.run_forever, daemon=True)
        self._server = None
        self._conns: dict[int, tuple] = {}  # id(writer) -> (send, subs)
        # JetStream state: stream -> {"subjects": [...], "msgs": [(subj, payload)]}
        self._streams: dict[str, dict] = {}
        # (stream, durable) -> {"cursor": int, "pending": {sseq: deadline}}
        self._consumers: dict[tuple[str, str], dict] = {}
        self.js_ack_wait: float = 30.0  # seconds before an unacked msg redelivers
        self.frames_seen: list[str] = []  # first word of every inbound frame

    def start(self) -> "MiniNatsServer":
        self._thread.start()

        async def _up():
            self._server = await asyncio.start_server(
                self._handle, self.host, self.port, ssl=self._ssl_ctx
            )
            self.port = self._server.sockets[0].getsockname()[1]

        asyncio.run_coroutine_threadsafe(_up(), self._loop).result(10)
        return self

    @property
    def url(self) -> str:
        return f"{'tls' if self._tls else 'nats'}://{self.host}:{self.port}"

    async def _handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter):
        # (pattern, sid, writer, wlock) per subscription on this connection
        subs: list[tuple[str, int]] = []
        wlock = asyncio.Lock()

        async def send(frame: bytes):
            async with wlock:
                writer.write(frame)
                await writer.drain()

        info = {"server_name": "mini-nats", "proto": 1, "max_payload": 1 << 20}
        auth_on = bool(self._auth_users or self._auth_token)
        if auth_on:
            info["auth_required"] = True
        if self._tls:
            info["tls_required"] = True
        await send(b"INFO " + json.dumps(info).encode() + b"\r\n")
        self._conns[id(writer)] = (send, subs)
        authed = not auth_on
        try:
            while True:
                line = await reader.readline()
                if not line:
                    break
                word = line.split(b" ", 1)[0].strip().decode()
                self.frames_seen.append(word)
                if line.startswith(b"CONNECT"):
                    if auth_on:
                        try:
                            opts = json.loads(line[7:].strip() or b"{}")
                        except ValueError:
                            opts = {}
                        ok_user = (
                            self._auth_users is not None
                            and opts.get("user") in self._auth_users
                            and self._auth_users[opts["user"]]
                            == opts.get("pass")
                        )
                        ok_token = (
                            self._auth_token is not None
                            and opts.get("auth_token") == self._auth_token
                        )
                        if not (ok_user or ok_token):
                            await send(b"-ERR 'Authorization Violation'\r\n")
                            break
                        authed = True
                    continue
                if not authed:
                    # real nats-server behavior: any op (PING included)
                    # before a successful CONNECT on an auth_required
                    # listener is a violation
                    await send(b"-ERR 'Authorization Violation'\r\n")
                    break
                if line.startswith(b"PING"):
                    await send(b"PONG\r\n")
                elif line.startswith(b"PONG"):
                    continue
                elif line.startswith(b"SUB "):
                    parts = line[4:].strip().split(b" ")
                    # SUB <subject> [queue] <sid> — queue groups collapse to
                    # plain subs (single consumer per group is still valid
                    # queue semantics)
                    subject, sid = parts[0].decode(), int(parts[-1])
                    subs.append((subject, sid))
                elif line.startswith(b"UNSUB "):
                    sid = int(line[6:].strip().split(b" ")[0])
                    subs[:] = [(p, s) for p, s in subs if s != sid]
                elif line.startswith(b"PUB "):
                    # PUB <subject> [reply-to] <#bytes>
                    parts = line[4:].strip().split(b" ")
                    subject = parts[0].decode()
                    reply = parts[1].decode() if len(parts) == 3 else ""
                    nbytes = int(parts[-1])
                    payload = (await reader.readexactly(nbytes + 2))[:-2]
                    if subject.startswith("$JS."):
                        self._handle_js(subject, reply, payload)
                    else:
                        self._append_streams(subject, payload)
                        self._route(subject, payload, reply)
                else:
                    await send(b"-ERR 'Unknown Protocol Operation'\r\n")
                    break
        except (asyncio.IncompleteReadError, ConnectionResetError):
            pass
        finally:
            self._conns.pop(id(writer), None)
            writer.close()

    def _route(self, subject: str, payload: bytes, reply: str = "") -> None:
        # connection registry: PUB on one connection reaches SUBs on others
        for send, subs in list(self._conns.values()):
            for pattern, sid in subs:
                if _subject_matches(pattern, subject):
                    head = (
                        f"MSG {subject} {sid} {reply} {len(payload)}\r\n"
                        if reply
                        else f"MSG {subject} {sid} {len(payload)}\r\n"
                    )
                    frame = head.encode() + payload + b"\r\n"
                    asyncio.run_coroutine_threadsafe(send(frame), self._loop)

    def publish(self, subject: str, data: bytes) -> None:
        """Driver-side convenience: publish through a real client
        connection (wire frames, not an internal shortcut)."""

        async def _pub():
            conn = await connect(self.url)
            await conn.publish(subject, data)
            await conn.flush()
            await conn.close()

        asyncio.run_coroutine_threadsafe(_pub(), self._loop).result(10)

    def stop(self) -> None:
        async def _down():
            self._server.close()
            await self._server.wait_closed()
            # cancel live connection handlers cleanly so stopping the loop
            # doesn't garbage-collect coroutines mid-await
            me = asyncio.current_task()
            for t in asyncio.all_tasks():
                if t is not me:
                    t.cancel()
            await asyncio.sleep(0)

        asyncio.run_coroutine_threadsafe(_down(), self._loop).result(10)
        self._loop.call_soon_threadsafe(self._loop.stop)

    # ------------------------------------------------------------------
    # JetStream server side (subset — see the JetStream section below):
    # durable pull consumers, MSG.NEXT batch fetch, explicit ack,
    # ack-wait redelivery. All interactions arrive as ordinary PUB frames
    # on $JS.* subjects and leave as ordinary MSG frames.
    # ------------------------------------------------------------------

    def add_stream(self, name: str, subjects: list[str]) -> None:
        """Declare a stream capturing every PUB whose subject matches one
        of ``subjects`` (like `nats stream add`). In-memory only."""
        self._streams[name] = {"subjects": list(subjects), "msgs": []}

    def _append_streams(self, subject: str, payload: bytes) -> None:
        for st in self._streams.values():
            if any(_subject_matches(p, subject) for p in st["subjects"]):
                st["msgs"].append((subject, payload))

    def _handle_js(self, subject: str, reply: str, payload: bytes) -> None:
        parts = subject.split(".")
        if subject.startswith("$JS.API.CONSUMER.DURABLE.CREATE."):
            stream, durable = parts[-2], parts[-1]
            if stream not in self._streams:
                self._route(
                    reply,
                    json.dumps(
                        {"error": {"code": 404, "description": "stream not found"}}
                    ).encode(),
                )
                return
            self._consumers.setdefault(
                (stream, durable), {"cursor": 0, "pending": {}}
            )
            self._route(
                reply,
                json.dumps(
                    {
                        "name": durable,
                        "stream_name": stream,
                        "config": {"durable_name": durable},
                    }
                ).encode(),
            )
        elif subject.startswith("$JS.API.CONSUMER.MSG.NEXT."):
            stream, durable = parts[-2], parts[-1]
            cons = self._consumers.get((stream, durable))
            if cons is None or stream not in self._streams:
                return  # fetch on unknown consumer: client times out (JS parity)
            batch = int(json.loads(payload or b"{}").get("batch", 1))
            msgs = self._streams[stream]["msgs"]
            now = time.monotonic()
            out: list[int] = []
            # redeliveries first: pending past their ack-wait deadline
            for sseq, deadline in sorted(cons["pending"].items()):
                if len(out) >= batch:
                    break
                if now >= deadline:
                    out.append(sseq)
            # then new messages from the cursor
            while len(out) < batch and cons["cursor"] < len(msgs):
                out.append(cons["cursor"])
                cons["cursor"] += 1
            for sseq in out:
                cons["pending"][sseq] = now + self.js_ack_wait
                _subj, data = msgs[sseq]
                ack = f"$JS.ACK.{stream}.{durable}.{sseq}"
                self._route(reply, data, reply=ack)
        elif subject.startswith("$JS.ACK."):
            stream, durable, sseq = parts[2], parts[3], int(parts[4])
            cons = self._consumers.get((stream, durable))
            if cons is not None:
                cons["pending"].pop(sseq, None)


# ---------------------------------------------------------------------------
# Minimal JetStream layer (client + server), same wire-faithful posture:
# the JS API is ordinary core-NATS request/reply on $JS.API.> subjects,
# message delivery is ordinary MSG frames whose reply-to is the ack
# subject, and acks are ordinary PUBs to it — so everything below rides the
# frames already implemented above. Subset: durable PULL consumers with
# explicit ack, batch MSG.NEXT fetch, and ack-wait redelivery (the
# at-least-once contract JetStreamSourceHandle needs — the reference's
# jetstream.rs consumer is the same shape). Not implemented: push
# consumers, flow control, replicas, persistence across server restarts.
# ---------------------------------------------------------------------------


class _JsMsg:
    """Fetched JetStream message: nats-py surface used by the handle
    (``data`` + ``ack()``)."""

    __slots__ = ("subject", "data", "_reply", "_conn")

    def __init__(self, subject: str, data: bytes, reply: str, conn):
        self.subject = subject
        self.data = data
        self._reply = reply
        self._conn = conn

    async def ack(self) -> None:
        await self._conn.publish(self._reply, b"+ACK")
        await self._conn.flush()


class _JsPullSubscription:
    def __init__(self, conn: "WireNatsConnection", stream: str, durable: str):
        self._conn = conn
        self.stream, self.durable = stream, durable
        self._inbox_seq = 0

    async def fetch(self, batch: int, timeout: float = 5.0) -> list[_JsMsg]:
        self._inbox_seq += 1
        inbox = f"_INBOX.{self.durable}.{self._inbox_seq}"
        got: list[_JsMsg] = []
        done = asyncio.get_running_loop().create_future()

        async def _cb(msg):
            got.append(_JsMsg(msg.subject, msg.data, msg.reply, self._conn))
            if len(got) >= batch and not done.done():
                done.set_result(True)

        sid = await self._conn.subscribe(inbox, _cb)
        try:
            await self._conn.publish_request(
                f"$JS.API.CONSUMER.MSG.NEXT.{self.stream}.{self.durable}",
                inbox,
                json.dumps({"batch": batch}).encode(),
            )
            try:
                await asyncio.wait_for(done, timeout)
            except asyncio.TimeoutError:
                if not got:
                    raise
        finally:
            await self._conn.unsubscribe(sid)
        return got


class _JsContext:
    def __init__(self, conn: "WireNatsConnection"):
        self._conn = conn

    async def pull_subscribe(
        self, subject: str, durable: str, stream: str
    ) -> _JsPullSubscription:
        # Durable-consumer create is idempotent on the server side; the
        # request/reply proves the consumer exists before the first fetch.
        reply = await self._conn.request(
            f"$JS.API.CONSUMER.DURABLE.CREATE.{stream}.{durable}",
            json.dumps(
                {"stream_name": stream, "config": {"durable_name": durable}}
            ).encode(),
        )
        info = json.loads(reply or b"{}")
        if info.get("error"):
            raise ConnectionError(f"consumer create failed: {info['error']}")
        return _JsPullSubscription(self._conn, stream, durable)


