"""numaflow_spark/wire.py: every TLS listener handshakes per connection,
and no other module builds a TLS context or wraps a socket."""

from __future__ import annotations

import socket
import time

import pytest


def _http_source(cert: str, key: str):
    from numaflow_spark.sources.http_source import HttpSourceHandle

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    h = HttpSourceHandle(
        {"port": str(port), "tls_cert_file": cert, "tls_key_file": key}
    )
    h.initial_offset()  # starts the listener

    def stop() -> None:
        h._server.shutdown()
        h._server.server_close()

    return port, ("POST", "/vertices/in", b"x", {}), stop


def _daemon(cert: str, key: str):
    from numaflow_spark.ops import DaemonServer, PipelineMonitor

    srv = DaemonServer(PipelineMonitor({}), tls_cert_file=cert,
                       tls_key_file=key).start()
    return srv.port, ("GET", "/metrics", None, {}), srv.stop


def _sqs(cert: str, key: str):
    from numaflow_spark.sources.sqs_wire import MiniSqsServer

    srv = MiniSqsServer(tls_cert_file=cert, tls_key_file=key).start()
    request = ("POST", "/", b'{"QueueName": "q"}',
               {"X-Amz-Target": "AmazonSQS.CreateQueue"})
    return srv.port, request, srv.stop


@pytest.mark.parametrize("server", [_http_source, _daemon, _sqs],
                         ids=["http_source", "ops_daemon", "sqs"])
def test_idle_peer_does_not_stall_tls_listener(tmp_path, server):
    """One TCP peer that connects and sends nothing must not hold up
    anyone else: an HTTPS request from a second client completes within
    2 s. (A listener that wraps its listening socket handshakes inside
    accept(), and this request times out.)"""
    pytest.importorskip("cryptography")
    import http.client
    import ssl

    from tests.tls_helper import make_self_signed_cert

    cert, key = make_self_signed_cert(str(tmp_path))
    port, (method, path, body, headers), stop = server(cert, key)
    idle = socket.create_connection(("127.0.0.1", port))
    try:
        t0 = time.monotonic()
        conn = http.client.HTTPSConnection(
            "127.0.0.1", port, timeout=2,
            context=ssl.create_default_context(cafile=cert),
        )
        conn.request(method, path, body=body, headers=headers)
        assert conn.getresponse().status == 200
        conn.close()
        assert time.monotonic() - t0 < 2
    finally:
        idle.close()
        stop()


def test_tls_lives_in_wire():
    """Static, Spark-free: across numaflow_spark/, ``ssl.SSLContext(``,
    ``ssl.create_default_context(`` and ``.wrap_socket(`` are called only
    in wire.py, so every listener gets the per-connection handshake and
    every client the same verification."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    banned = {"SSLContext", "create_default_context", "wrap_socket"}
    sites = []
    for path in sorted((root / "numaflow_spark").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                name = (getattr(node.func, "attr", None)
                        or getattr(node.func, "id", None))
                if name in banned:
                    sites.append((str(path.relative_to(root)), name))
    assert {name for _path, name in sites} == banned, sites
    assert {path for path, _name in sites} == {"numaflow_spark/wire.py"}, sites
