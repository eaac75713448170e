"""Network plumbing shared by the in-process wire servers and clients
(sources/kafka_wire.py, pulsar_wire.py, nats_wire.py, sqs_wire.py,
http_source.py and the ops daemon): TLS contexts, TLS listeners and exact
socket reads. This is the only module that builds a TLS context or wraps
a socket.

Every TLS listener here runs the handshake in the connection's own
thread. Wrapping the *listening* socket instead would run it inside
``accept()``, and one peer that connects and sends nothing would then
stall every other client.
"""

from __future__ import annotations

import socket
import ssl
import threading
from collections.abc import Callable
from http.server import ThreadingHTTPServer


def server_context(cert: str, key: str | None,
                   client_ca: str | None = None) -> ssl.SSLContext:
    """Server-side TLS context. With ``client_ca`` the handshake itself
    rejects a peer whose certificate does not chain to that CA (mutual
    TLS), before any application frame is exchanged."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(cert, key)
    if client_ca:
        ctx.verify_mode = ssl.CERT_REQUIRED
        ctx.load_verify_locations(cafile=client_ca)
    return ctx


def client_context(ca: str | None, cert: str | None = None,
                   key: str | None = None) -> ssl.SSLContext:
    """Verifying client context: chain and hostname are checked against
    ``ca`` (the system trust store when None); ``cert``/``key`` present a
    client certificate for mutual TLS."""
    ctx = ssl.create_default_context(cafile=ca)
    if cert:
        ctx.load_cert_chain(cert, key)
    return ctx


def connect(host: str, port: int, timeout: float,
            ctx: ssl.SSLContext | None = None) -> socket.socket:
    """TCP connection to ``host:port``, TLS-wrapped (verifying ``host``)
    when ``ctx`` is given."""
    sock = socket.create_connection((host, port), timeout=timeout)
    if ctx is not None:
        sock = ctx.wrap_socket(sock, server_hostname=host)
    return sock


def accept_loop(srv: socket.socket, serve: Callable[[socket.socket], None],
                ctx: ssl.SSLContext | None = None) -> None:
    """Accept on ``srv`` in a daemon thread until it is closed. Each
    connection gets its own daemon thread, which does the TLS handshake
    (when ``ctx`` is given; a failed one drops only that connection) and
    then runs ``serve(conn)``."""

    def handle(conn: socket.socket) -> None:
        if ctx is not None:
            try:
                conn = ctx.wrap_socket(conn, server_side=True)
            except OSError:
                return  # failed handshake: the wrapper has closed the socket
        serve(conn)

    def loop() -> None:
        while True:
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            threading.Thread(target=handle, args=(conn,), daemon=True).start()

    threading.Thread(target=loop, daemon=True).start()


class TLSThreadingHTTPServer(ThreadingHTTPServer):
    """``ThreadingHTTPServer`` that speaks HTTPS when given ``ssl_context``,
    doing each handshake in that request's own thread."""

    def __init__(self, address: tuple[str, int], handler,
                 ssl_context: ssl.SSLContext | None = None):
        super().__init__(address, handler)
        self.ssl_context = ssl_context

    def finish_request(self, request, client_address) -> None:
        if self.ssl_context is None:
            super().finish_request(request, client_address)
            return
        try:
            tls = self.ssl_context.wrap_socket(request, server_side=True)
        except OSError:
            return  # failed handshake: the wrapper has closed the socket
        try:
            super().finish_request(tls, client_address)
        finally:
            # the caller's shutdown_request gets the raw socket, which the
            # wrapper has detached
            self.shutdown_request(tls)


def recv_exact(sock: socket.socket, n: int) -> bytes:
    """Exactly ``n`` bytes from ``sock``; ConnectionError if the peer
    closes first."""
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed the connection")
        buf += chunk
    return bytes(buf)
