"""Minimal Pulsar binary protocol: a real socket client and an in-process
TCP server, both speaking the published wire format (pulsar.apache.org →
Development → Binary protocol; message schemas transcribed from the public
``PulsarApi.proto`` in apache/pulsar — field numbers cited inline).

Why this exists: the sandboxed build environment has neither a Pulsar
broker nor the ``pulsar-client`` wheel, so the S4 source / K4 sink could
only ever be driven by in-memory fakes — which verify the handle's
offset/ack plumbing but not one protocol byte. This module closes that gap
the same way ``kafka_wire.py`` / ``nats_wire.py`` did for S3/S6/S7:

  * a from-scratch protobuf micro-codec (varint + length-delimited — the
    only wire types ``PulsarApi.proto``'s command subset uses);
  * CRC32C (Castagnoli, the checksum the payload frame mandates),
    table-driven, verified against the public check value
    ``crc32c(b"123456789") == 0xE3069283``;
  * :class:`WirePulsarClient` — a synchronous client implementing the
    subset of the ``pulsar-client`` Python surface the connector handles
    use (``Client``/``subscribe``/``create_producer``/``receive``/
    ``acknowledge``/``send_async``/``flush``), so ``PulsarSourceHandle``
    and ``PulsarSinkHandle`` fall back to it automatically and work
    out of the box against a broker speaking the binary protocol;
  * :class:`MiniPulsarServer` — a protocol-faithful in-process server for
    the wire e2e tests: CONNECT→CONNECTED handshake, producer registration,
    SEND with CRC32C verification (corrupt frames get SEND_ERROR),
    SUBSCRIBE/FLOW permit-based dispatch, individual + cumulative ACK,
    redelivery of unacked messages on reconnect or ack-timeout, PING/PONG.

Frame layout (published spec):
  simple command:   [totalSize u32][commandSize u32][BaseCommand]
  payload command:  [totalSize u32][commandSize u32][BaseCommand]
                    [0x0e01][crc32c u32][metadataSize u32][metadata][payload]
  where crc32c covers everything AFTER the checksum field
  (metadataSize + metadata + payload); all integers big-endian.

Implemented transports: plaintext (pulsar://), one-way TLS
(pulsar+ssl://, server-certificate verification against the system trust
store or a ``tls_trust_certs_file_path`` CA bundle — the reference's
pulsar spec `tls` block), and CONNECT-carried authentication
(``Client(auth_method_name="basic", auth_data=b"user:password")`` —
CommandConnect.auth_method_name/auth_data per the public PulsarApi.proto,
the published AuthenticationBasic wire form; the broker enforces it when
built with ``basic_users`` and rejects with
CommandError(AuthenticationError) + close, pre-auth data commands drop
the link).

Also implemented (r8 depth): topic lookup (CommandLookupTopic 23/24 —
single-broker Connect answers; Redirect surfaces as an error, no
redirect-following), partitioned-topic metadata
(CommandPartitionedTopicMetadata 21/22) with transparent client-side
expansion — ``create_producer``/``subscribe`` on an N-partition topic
return a :class:`PartitionedProducer` (key-hash / round-robin routing)
and a :class:`MultiConsumer` (merged receive, acks routed to the source
partition) over ``{topic}-partition-{i}`` — and batched messages
(MessageMetadata num_messages_in_batch=11; payload = repeated
[u32 size][SingleMessageMetadata][bytes]): ``Producer.send_batch`` packs,
the consumer path unpacks transparently, acks are batch-granular.

Also implemented (r8 depth): mutual TLS — the client presents
``tls_certificate_file_path``/``tls_key_file_path`` (AuthenticationTls)
and a broker built with ``tls_client_ca_file`` requires a cert chained
to that CA at the handshake (tlsRequireTrustedClientCertOnConnect),
rejecting cert-less peers before CONNECT.

Not implemented (documented divergences, same scoping as the Kafka v0
codec): token/OAuth2 auth providers beyond basic, lookup-redirect
following (single-broker scope), partition-key routing via
JavaStringHash (CRC32C here), compression codecs beyond ZLIB
(lz4/zstd/snappy wheels absent here — unsupported codecs fail loudly),
schema registry, key-shared dispatch ordering.

Reference parity: numaflow's Pulsar source/sink live in
rust/extns/numaflow-pulsar/src/lib.rs + rust/numaflow-core/src/source/
pulsar.rs and are e2e-tested against a containerized broker, which this
sandbox cannot run — MiniPulsarServer is the closest wire-faithful
stand-in.
"""

from __future__ import annotations

import socket
import struct
import threading
import time
from collections.abc import Sequence

from numaflow_spark import wire

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli) — reflected polynomial 0x82F63B78, init/xorout
# 0xFFFFFFFF. Public check value: crc32c(b"123456789") == 0xE3069283.
# ---------------------------------------------------------------------------

_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# Protobuf micro-codec. The command subset uses only wire types 0 (varint:
# ints, enums, uint64) and 2 (length-delimited: strings, bytes, nested
# messages), so a generic tag→values multimap round-trips everything.
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    # Two's-complement 64-bit mask: protobuf encodes a negative int64 as the
    # 10-byte varint of its unsigned equivalent. Without the mask, Python's
    # arithmetic right shift of a negative never reaches 0 and the loop
    # hangs (ADVICE r7).
    n &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def pb_encode(fields: dict[int, object]) -> bytes:
    """Encode {field_num: value | [values]}; int → varint, bytes → len-
    delimited, str → utf-8 len-delimited, dict → nested message."""
    out = bytearray()
    for num in sorted(fields):
        vals = fields[num]
        if not isinstance(vals, list):
            vals = [vals]
        for v in vals:
            if isinstance(v, int):
                out += _varint(num << 3 | 0) + _varint(v)
            else:
                if isinstance(v, dict):
                    v = pb_encode(v)
                elif isinstance(v, str):
                    v = v.encode()
                out += _varint(num << 3 | 2) + _varint(len(v)) + v
    return bytes(out)


def pb_decode(buf: bytes) -> dict[int, list]:
    """Decode to {field_num: [values]} — varints as int, len-delimited as
    bytes (callers re-decode nested messages / utf-8 as they know best)."""
    fields: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        num, wt = tag >> 3, tag & 7
        if wt == 0:
            v, pos = _read_varint(buf, pos)
        elif wt == 2:
            ln, pos = _read_varint(buf, pos)
            v = buf[pos : pos + ln]
            pos += ln
        elif wt == 5:  # fixed32 (not used by our subset, but skip safely)
            v = buf[pos : pos + 4]
            pos += 4
        elif wt == 1:  # fixed64
            v = buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")
        fields.setdefault(num, []).append(v)
    return fields


def _one(fields: dict[int, list], num: int, default=None):
    return fields[num][0] if num in fields else default


# BaseCommand.type enum values == their optional-field numbers in
# BaseCommand (PulsarApi.proto: `required Type type = 1; optional
# CommandConnect connect = 2; ...` with Type.CONNECT = 2 etc.).
CONNECT = 2
CONNECTED = 3
SUBSCRIBE = 4
PRODUCER = 5
SEND = 6
SEND_RECEIPT = 7
SEND_ERROR = 8
MESSAGE = 9
ACK = 10
FLOW = 11
UNSUBSCRIBE = 12
SUCCESS = 13
ERROR = 14
CLOSE_PRODUCER = 15
CLOSE_CONSUMER = 16
PRODUCER_SUCCESS = 17
PING = 18
PONG = 19
REDELIVER_UNACKNOWLEDGED_MESSAGES = 20
PARTITIONED_METADATA = 21
PARTITIONED_METADATA_RESPONSE = 22
LOOKUP = 23
LOOKUP_RESPONSE = 24

PROTOCOL_VERSION = 6  # pre-batch-index-ack baseline; fields used are v1

_MAGIC = b"\x0e\x01"


def encode_frame(cmd_type: int, body: dict[int, object] | None = None) -> bytes:
    """Simple command frame."""
    cmd = pb_encode({1: cmd_type, **({cmd_type: body} if body is not None else {})})
    return struct.pack(">II", 4 + len(cmd), len(cmd)) + cmd


def encode_payload_frame(
    cmd_type: int, body: dict[int, object], metadata: dict[int, object], payload: bytes
) -> bytes:
    """Payload command frame (SEND / MESSAGE) with CRC32C."""
    cmd = pb_encode({1: cmd_type, cmd_type: body})
    meta = pb_encode(metadata)
    tail = struct.pack(">I", len(meta)) + meta + payload
    chk = struct.pack(">I", crc32c(tail))
    rest = cmd + _MAGIC + chk + tail
    # totalSize counts everything after itself: the commandSize u32 + rest
    return struct.pack(">II", 4 + len(rest), len(cmd)) + rest


def _unpack_batch(payload: bytes) -> list[tuple[dict[int, list], bytes]]:
    """Decode a batched-message payload (published framing: repeated
    [u32 metadataSize][SingleMessageMetadata][payload bytes], where
    SingleMessageMetadata carries properties=1, partition_key=2 and the
    required payload_size=3). Returns [(single_meta_fields, payload)]."""
    out: list[tuple[dict[int, list], bytes]] = []
    pos = 0
    while pos < len(payload):
        (msize,) = struct.unpack(">I", payload[pos : pos + 4])
        pos += 4
        smeta = pb_decode(payload[pos : pos + msize])
        pos += msize
        psize = _one(smeta, 3, 0)
        out.append((smeta, payload[pos : pos + psize]))
        pos += psize
    return out


def _pack_batch(
    payloads: Sequence[bytes], partition_key: str | None = None
) -> bytes:
    """Encode payloads into the batched framing above (partition_key, when
    given, rides each SingleMessageMetadata — real batches group by key)."""
    out = bytearray()
    for p in payloads:
        fields: dict[int, object] = {3: len(p)}
        if partition_key:
            fields[2] = partition_key
        sm = pb_encode(fields)
        out += struct.pack(">I", len(sm)) + sm + bytes(p)
    return bytes(out)


def read_frame(sock: socket.socket) -> tuple[int, dict[int, list], dict[int, list] | None, bytes | None, bool]:
    """Read one frame → (cmd_type, cmd_fields_of_sub_message, metadata_fields,
    payload, checksum_ok). metadata/payload are None for simple commands."""
    (total,) = struct.unpack(">I", wire.recv_exact(sock, 4))
    frame = wire.recv_exact(sock, total)
    (cmd_size,) = struct.unpack(">I", frame[:4])
    base = pb_decode(frame[4 : 4 + cmd_size])
    cmd_type = _one(base, 1)
    sub_raw = _one(base, cmd_type, b"")
    sub = pb_decode(sub_raw) if sub_raw else {}
    rest = frame[4 + cmd_size :]
    if not rest:
        return cmd_type, sub, None, None, True
    if rest[:2] != _MAGIC:
        raise ValueError("payload frame missing magic 0x0e01")
    (chk,) = struct.unpack(">I", rest[2:6])
    tail = rest[6:]
    ok = crc32c(tail) == chk
    (meta_size,) = struct.unpack(">I", tail[:4])
    meta = pb_decode(tail[4 : 4 + meta_size])
    payload = tail[4 + meta_size :]
    return cmd_type, sub, meta, payload, ok


# ---------------------------------------------------------------------------
# Client — the pulsar-client surface the connector handles use.
# ---------------------------------------------------------------------------


class ConsumerType:
    Exclusive = 0
    Shared = 1
    Failover = 2
    KeyShared = 3


class MessageId:
    __slots__ = ("ledger", "entry")

    def __init__(self, ledger: int, entry: int):
        self.ledger, self.entry = ledger, entry

    def __repr__(self):  # pragma: no cover - debugging aid
        return f"MessageId({self.ledger},{self.entry})"


class _WireMessage:
    """Received message — pulsar-client Message surface the handle touches."""

    def __init__(self, msg_id: MessageId, data: bytes, key: str, publish_ms: int,
                 properties: dict, redelivery_count: int):
        self._id, self._data, self._key = msg_id, data, key
        self._publish_ms, self._props = publish_ms, properties
        self.redelivery_count = redelivery_count

    def message_id(self) -> MessageId:
        return self._id

    def data(self) -> bytes:
        return self._data

    def partition_key(self) -> str:
        return self._key

    def publish_timestamp(self) -> int:
        return self._publish_ms

    def properties(self) -> dict:
        return self._props


def _parse_service_url(url: str) -> tuple[str, int, bool]:
    scheme, _, rest = url.partition("://")
    tls = scheme == "pulsar+ssl"  # published scheme for the TLS listener
    hostport = (rest or scheme).strip("/")
    host, _, port = hostport.partition(":")
    return host or "localhost", int(port or (6651 if tls else 6650)), tls


class Client:
    """Synchronous wire client. One socket; a reader thread dispatches
    CONNECTED / *_SUCCESS / SEND_RECEIPT / MESSAGE / PING frames."""

    def __init__(self, service_url: str, operation_timeout_seconds: float = 10.0,
                 tls_trust_certs_file_path: str | None = None,
                 auth_method_name: str | None = None,
                 auth_data: bytes | None = None,
                 tls_certificate_file_path: str | None = None,
                 tls_key_file_path: str | None = None):
        self._timeout = operation_timeout_seconds
        self._handshake_error: str | None = None
        host, port, tls = _parse_service_url(service_url)
        # pulsar+ssl:// — TLS with full certificate verification, the
        # reference's tls block (pulsar spec: tlsTrustCertsFilePath). A
        # custom CA file covers the self-signed/private-CA deployment;
        # with none given, the system trust store applies.
        # tlsCertificateFilePath/tlsKeyFilePath present a CLIENT
        # certificate (AuthenticationTls / mutual TLS).
        ctx = (wire.client_context(tls_trust_certs_file_path,
                                   tls_certificate_file_path, tls_key_file_path)
               if tls else None)
        self._sock = wire.connect(host, port, operation_timeout_seconds, ctx)
        self._sock.settimeout(None)
        self._wlock = threading.Lock()
        self._cv = threading.Condition()
        self._connected = False
        self._responses: dict[int, dict] = {}  # request_id -> decoded reply
        self._next_request = 1
        self._next_producer = 1
        self._next_consumer = 1
        self._producers: dict[int, Producer] = {}
        self._consumers: dict[int, Consumer] = {}
        self._closed = False
        # CommandConnect: client_version=1, auth_data=3, protocol_version=4,
        # auth_method_name=5 (proto nums). Auth parity with the reference's
        # pulsar `auth` block: method "basic" carries "user:password" bytes
        # (the published AuthenticationBasic wire form); credentials only
        # belong on a pulsar+ssl:// URL in real deployments.
        connect_body: dict[int, object] = {
            1: "numaflow-spark-wire", 4: PROTOCOL_VERSION,
        }
        if auth_method_name is not None:
            connect_body[5] = auth_method_name
            connect_body[3] = auth_data or b""
        # The CONNECT handshake runs SYNCHRONOUSLY, before the reader
        # thread exists: with a reader already blocked in SSL_read, the
        # main thread's CONNECT write races OpenSSL's connection state
        # exactly when TLS 1.3 post-handshake session tickets arrive
        # (concurrent SSL_read/SSL_write on one connection is not safe),
        # observed as a silently-lost CONNECT frame and a hung handshake
        # (~60% repro on loopback TLS). One thread, no race; the reader
        # starts only once CONNECTED is in hand.
        self._sock.settimeout(self._timeout)
        try:
            self._write(encode_frame(CONNECT, connect_body))
            while not self._connected:
                cmd_type, sub, _meta, _payload, _ok = read_frame(self._sock)
                if cmd_type == CONNECTED:
                    self._connected = True
                elif cmd_type == PING:
                    self._write(encode_frame(PONG, {}))
                elif cmd_type == ERROR:
                    raise ConnectionError(
                        _one(sub, 3, b"").decode(errors="replace")
                        or "handshake rejected"
                    )
        except TimeoutError:
            raise TimeoutError("CONNECTED not received") from None
        except (ConnectionError, OSError, ValueError) as ex:
            if isinstance(ex, ConnectionError) and str(ex):
                raise
            raise ConnectionError(
                self._handshake_error or "connection closed during handshake"
            ) from ex
        self._sock.settimeout(None)
        self._reader = threading.Thread(target=self._read_loop, daemon=True)
        self._reader.start()

    # -- plumbing ---------------------------------------------------------

    def _write(self, frame: bytes) -> None:
        with self._wlock:
            self._sock.sendall(frame)

    def _request_id(self) -> int:
        with self._cv:
            rid = self._next_request
            self._next_request += 1
            return rid

    def _await_response(self, rid: int) -> dict:
        with self._cv:
            if not self._cv.wait_for(lambda: rid in self._responses or self._closed, self._timeout):
                raise TimeoutError(f"no response for request {rid}")
            if rid not in self._responses:
                raise ConnectionError("connection closed awaiting response")
            return self._responses.pop(rid)

    def _read_loop(self) -> None:
        try:
            while True:
                cmd_type, sub, meta, payload, ok = read_frame(self._sock)
                if cmd_type == CONNECTED:
                    with self._cv:
                        self._connected = True
                        self._cv.notify_all()
                elif cmd_type == PING:
                    self._write(encode_frame(PONG, {}))
                elif cmd_type in (LOOKUP_RESPONSE, PARTITIONED_METADATA_RESPONSE):
                    # request_id lives at field 4 (LookupTopicResponse) /
                    # field 2 (PartitionedTopicMetadataResponse)
                    rid = _one(sub, 4 if cmd_type == LOOKUP_RESPONSE else 2)
                    with self._cv:
                        self._responses[rid] = {"type": cmd_type, "fields": sub}
                        self._cv.notify_all()
                elif cmd_type in (SUCCESS, PRODUCER_SUCCESS, ERROR):
                    rid = _one(sub, 1)
                    if cmd_type == ERROR and not self._connected:
                        # Handshake rejection (e.g. AuthenticationError):
                        # surface the broker's message through the
                        # constructor's ConnectionError, not a bare close.
                        self._handshake_error = (
                            _one(sub, 3, b"").decode(errors="replace")
                            or "handshake rejected"
                        )
                    with self._cv:
                        self._responses[rid] = {"type": cmd_type, "fields": sub}
                        self._cv.notify_all()
                elif cmd_type == SEND_RECEIPT:
                    pid, seq = _one(sub, 1), _one(sub, 2)
                    prod = self._producers.get(pid)
                    if prod is not None:
                        prod._receipt(seq, None)
                elif cmd_type == SEND_ERROR:
                    # CommandSendError: producer_id=1 sequence_id=2
                    # error(ServerError enum)=3 message=4
                    pid, seq = _one(sub, 1), _one(sub, 2)
                    prod = self._producers.get(pid)
                    if prod is not None:
                        msg = _one(sub, 4, b"").decode(errors="replace")
                        prod._receipt(seq, msg or "send error")
                elif cmd_type == MESSAGE and not ok:
                    # A frame failing CRC32C must not be silently dropped:
                    # the broker counted it inflight and a FLOW permit is
                    # consumed, so without redelivery the message is lost to
                    # this consumer until ack-timeout (ADVICE r7). Ask for
                    # immediate redelivery of everything unacked.
                    cid = _one(sub, 1)
                    if cid in self._consumers:
                        self._write(encode_frame(
                            REDELIVER_UNACKNOWLEDGED_MESSAGES, {1: cid}
                        ))
                elif cmd_type == MESSAGE and ok:
                    cid = _one(sub, 1)
                    mid = pb_decode(_one(sub, 2, b""))
                    rdc = _one(sub, 3, 0)
                    cons = self._consumers.get(cid)
                    if cons is not None:
                        props = {}
                        for kv in meta.get(4, []):
                            kvf = pb_decode(kv)
                            props[_one(kvf, 1, b"").decode()] = _one(kvf, 2, b"").decode()
                        msg_id = MessageId(_one(mid, 1, 0), _one(mid, 2, 0))
                        pkey = _one(meta, 6, b"").decode()  # partition_key = 6
                        pub = _one(meta, 3, 0)  # publish_time = 3
                        codec = _one(meta, 19, 0)  # CompressionType
                        if codec == 2:  # ZLIB
                            import zlib as _zlib

                            payload = _zlib.decompress(payload)
                        elif codec:
                            # LZ4/ZSTD/SNAPPY codecs aren't in this
                            # environment: fail loudly (closes the link)
                            # rather than deliver undecodable bytes.
                            raise ValueError(
                                f"unsupported compression codec {codec}"
                            )
                        nbatch = _one(meta, 11, 0)  # num_messages_in_batch
                        if nbatch and nbatch > 1:
                            # Batched entry (published framing: repeated
                            # [u32 size][SingleMessageMetadata][bytes]).
                            # Every unpacked message shares the batch's
                            # MessageId — acks are batch-granular, exactly
                            # the broker-entry semantics of real batches.
                            for smeta, spay in _unpack_batch(payload):
                                spk = _one(smeta, 2, b"").decode() or pkey
                                sprops = dict(props)
                                for kv in smeta.get(1, []):
                                    kvf = pb_decode(kv)
                                    sprops[_one(kvf, 1, b"").decode()] = (
                                        _one(kvf, 2, b"").decode()
                                    )
                                cons._deliver(_WireMessage(
                                    msg_id, spay, spk, pub, sprops, rdc,
                                ))
                        else:
                            cons._deliver(_WireMessage(
                                msg_id, payload, pkey, pub, props, rdc,
                            ))
        except (ConnectionError, OSError, ValueError):
            pass
        finally:
            with self._cv:
                self._closed = True
                self._cv.notify_all()
            for cons in list(self._consumers.values()):
                cons._closed()
            # Wake producers blocked in flush(): their pending receipts will
            # never arrive once the connection is down (ADVICE r7).
            for prod in list(self._producers.values()):
                with prod._cv:
                    prod._cv.notify_all()

    # -- pulsar-client surface -------------------------------------------

    def lookup(self, topic: str) -> str:
        """CommandLookupTopic (23) -> CommandLookupTopicResponse (24):
        returns the broker service URL owning the topic. Our single-broker
        server always answers itself with LookupType.Connect; a real
        multi-broker cluster may Redirect, which this client surfaces as an
        error (documented divergence: no redirect-following)."""
        rid = self._request_id()
        # CommandLookupTopic: topic=1 request_id=2
        self._write(encode_frame(LOOKUP, {1: topic, 2: rid}))
        resp = self._await_response(rid)
        f = resp["fields"]
        # CommandLookupTopicResponse: brokerServiceUrl=1 response=3
        # (Redirect=0 Connect=1 Failed=2) request_id=4
        kind = _one(f, 3, 2)
        if kind == 1:
            return _one(f, 1, b"").decode()
        if kind == 0:
            raise ConnectionError(
                f"lookup({topic}): broker answered Redirect to "
                f"{_one(f, 1, b'').decode()!r}; redirect-following is not "
                "implemented"
            )
        raise ConnectionError(f"lookup({topic}) failed")

    def partitioned_metadata(self, topic: str) -> int:
        """CommandPartitionedTopicMetadata (21) -> response (22): the
        partition count of a topic (0 = non-partitioned)."""
        rid = self._request_id()
        # CommandPartitionedTopicMetadata: topic=1 request_id=2
        self._write(encode_frame(PARTITIONED_METADATA, {1: topic, 2: rid}))
        resp = self._await_response(rid)
        f = resp["fields"]
        # response: partitions=1 request_id=2 response=3 (Success=0)
        if _one(f, 3, 0) != 0:
            raise ConnectionError(f"partitioned_metadata({topic}) failed")
        return _one(f, 1, 0)

    def subscribe(self, topic: str, subscription_name: str,
                  consumer_type: int = ConsumerType.Shared,
                  consumer_name: str | None = None,
                  receiver_queue_size: int = 1000):
        """Partitioned topics expand transparently (pulsar-client parity):
        metadata says N>0 -> one consumer per ``{topic}-partition-{i}``
        merged behind a single receive() surface."""
        n = self.partitioned_metadata(topic)
        if n > 0:
            subs = [
                self._subscribe_single(
                    f"{topic}-partition-{i}", subscription_name,
                    consumer_type, consumer_name, receiver_queue_size,
                )
                for i in range(n)
            ]
            return MultiConsumer(subs)
        return self._subscribe_single(
            topic, subscription_name, consumer_type, consumer_name,
            receiver_queue_size,
        )

    def _subscribe_single(self, topic: str, subscription_name: str,
                          consumer_type: int = ConsumerType.Shared,
                          consumer_name: str | None = None,
                          receiver_queue_size: int = 1000) -> "Consumer":
        cid = self._next_consumer
        self._next_consumer += 1
        cons = Consumer(self, cid, topic, subscription_name, receiver_queue_size)
        self._consumers[cid] = cons
        rid = self._request_id()
        # CommandSubscribe: topic=1 subscription=2 subType=3 consumer_id=4
        # request_id=5 consumer_name=6
        body = {1: topic, 2: subscription_name, 3: consumer_type, 4: cid, 5: rid}
        if consumer_name:
            body[6] = consumer_name
        self._write(encode_frame(SUBSCRIBE, body))
        resp = self._await_response(rid)
        if resp["type"] == ERROR:
            del self._consumers[cid]
            raise ConnectionError(_one(resp["fields"], 3, b"subscribe failed").decode())
        cons._flow(receiver_queue_size)
        return cons

    def create_producer(self, topic: str, producer_name: str | None = None):
        """Partitioned topics expand transparently: metadata says N>0 ->
        one wire producer per partition behind a routing facade
        (key-hash when a partition_key is given, else round-robin)."""
        n = self.partitioned_metadata(topic)
        if n > 0:
            parts = [
                self._create_producer_single(
                    f"{topic}-partition-{i}",
                    f"{producer_name}-p{i}" if producer_name else None,
                )
                for i in range(n)
            ]
            return PartitionedProducer(topic, parts)
        return self._create_producer_single(topic, producer_name)

    def _create_producer_single(
        self, topic: str, producer_name: str | None = None
    ) -> "Producer":
        pid = self._next_producer
        self._next_producer += 1
        rid = self._request_id()
        # CommandProducer: topic=1 producer_id=2 request_id=3 producer_name=4
        body = {1: topic, 2: pid, 3: rid}
        if producer_name:
            body[4] = producer_name
        self._write(encode_frame(PRODUCER, body))
        resp = self._await_response(rid)
        if resp["type"] == ERROR:
            raise ConnectionError(_one(resp["fields"], 3, b"producer failed").decode())
        name = _one(resp["fields"], 2, b"").decode() or producer_name or f"producer-{pid}"
        prod = Producer(self, pid, topic, name)
        self._producers[pid] = prod
        return prod

    def close(self) -> None:
        with self._cv:
            self._closed = True
            self._cv.notify_all()
        # shutdown BEFORE close: close() alone does not send FIN while the
        # reader thread is blocked in recv on the same fd (the in-progress
        # syscall keeps the open file description alive), so the broker
        # would never see the disconnect and never return inflight messages
        # to the subscription.
        try:
            self._sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        try:
            self._sock.close()
        except OSError:
            pass


class Consumer:
    def __init__(self, client: Client, cid: int, topic: str, subscription: str, queue_size: int):
        self._client, self._id = client, cid
        self.topic, self.subscription = topic, subscription
        self._queue: list[_WireMessage] = []
        self._cv = threading.Condition()
        self._alive = True
        self._queue_size = queue_size
        self._since_flow = 0

    def _deliver(self, msg: _WireMessage) -> None:
        with self._cv:
            self._queue.append(msg)
            self._cv.notify_all()

    def _closed(self) -> None:
        with self._cv:
            self._alive = False
            self._cv.notify_all()

    def _flow(self, permits: int) -> None:
        # CommandFlow: consumer_id=1 messagePermits=2
        self._client._write(encode_frame(FLOW, {1: self._id, 2: permits}))

    def receive(self, timeout_millis: int | None = None) -> _WireMessage:
        deadline = None if timeout_millis is None else time.time() + timeout_millis / 1000.0
        with self._cv:
            while not self._queue:
                if not self._alive:
                    raise ConnectionError("consumer closed")
                remaining = None if deadline is None else deadline - time.time()
                if remaining is not None and remaining <= 0:
                    raise TimeoutError("receive timed out")
                self._cv.wait(remaining)
            msg = self._queue.pop(0)
        self._replenish()
        return msg

    def _replenish(self) -> None:
        # replenish permits in half-queue chunks (the standard client's
        # behaviour) so delivery never stalls on an empty permit budget
        self._since_flow += 1
        if self._since_flow >= max(1, self._queue_size // 2):
            self._flow(self._since_flow)
            self._since_flow = 0

    def _ack(self, msg_id: MessageId, ack_type: int) -> None:
        # CommandAck: consumer_id=1 ack_type=2 message_id=3 (MessageIdData:
        # ledgerId=1 entryId=2)
        self._client._write(
            encode_frame(ACK, {1: self._id, 2: ack_type, 3: {1: msg_id.ledger, 2: msg_id.entry}})
        )

    def acknowledge(self, msg_or_id) -> None:
        mid = msg_or_id.message_id() if hasattr(msg_or_id, "message_id") else msg_or_id
        self._ack(mid, 0)  # AckType.Individual = 0

    def acknowledge_cumulative(self, msg_or_id) -> None:
        mid = msg_or_id.message_id() if hasattr(msg_or_id, "message_id") else msg_or_id
        self._ack(mid, 1)  # AckType.Cumulative = 1

    def redeliver_unacknowledged_messages(self) -> None:
        self._client._write(encode_frame(REDELIVER_UNACKNOWLEDGED_MESSAGES, {1: self._id}))

    def close(self) -> None:
        rid = self._client._request_id()
        self._client._write(encode_frame(CLOSE_CONSUMER, {1: self._id, 2: rid}))
        try:
            self._client._await_response(rid)
        except (TimeoutError, ConnectionError):
            pass
        self._client._consumers.pop(self._id, None)
        self._closed()


class Producer:
    def __init__(self, client: Client, pid: int, topic: str, name: str):
        self._client, self._id, self.topic, self._name = client, pid, topic, name
        self._cv = threading.Condition()
        self._next_seq = 0
        self._pending: dict[int, object] = {}  # seq -> callback | None
        self._errors: list[str] = []

    def _receipt(self, seq: int, error: str | None) -> None:
        with self._cv:
            cb = self._pending.pop(seq, None)
            if error:
                self._errors.append(error)
            self._cv.notify_all()
        if callable(cb):
            cb("Ok" if error is None else error, MessageId(0, seq))

    def send_async(self, content: bytes, callback=None, partition_key: str | None = None,
                   event_timestamp: int | None = None, properties: dict | None = None,
                   compression: str | None = None) -> None:
        with self._cv:
            seq = self._next_seq
            self._next_seq += 1
            self._pending[seq] = callback
        # MessageMetadata: producer_name=1 sequence_id=2 publish_time=3
        # properties=4 (KeyValue key=1 value=2) partition_key=6 event_time=12
        # compression=19 (CompressionType: NONE=0 LZ4=1 ZLIB=2 ZSTD=3)
        # uncompressed_size=20
        meta: dict[int, object] = {1: self._name, 2: seq, 3: int(time.time() * 1000)}
        if properties:
            meta[4] = [{1: k, 2: v} for k, v in properties.items()]
        if partition_key:
            meta[6] = partition_key
        if event_timestamp:
            meta[12] = int(event_timestamp)
        payload = bytes(content)
        if compression == "zlib":
            import zlib as _zlib

            meta[19] = 2
            meta[20] = len(payload)
            payload = _zlib.compress(payload)
        elif compression is not None:
            raise ValueError(
                f"unsupported compression {compression!r} (zlib only — "
                "lz4/zstd/snappy codecs are not in this environment)"
            )
        # CommandSend: producer_id=1 sequence_id=2 num_messages=3
        frame = encode_payload_frame(SEND, {1: self._id, 2: seq, 3: 1}, meta, payload)
        self._client._write(frame)

    def send(self, content: bytes, **kw) -> None:
        self.send_async(content, **kw)
        self.flush()

    def send_batch(
        self,
        payloads: Sequence[bytes],
        partition_key: str | None = None,
        properties: dict | None = None,
    ) -> None:
        """Batched publish (published framing: MessageMetadata
        num_messages_in_batch=11 + repeated [u32 size]
        [SingleMessageMetadata][bytes] in the payload): ONE sequence id,
        one CRC frame, one receipt and one broker entry for the whole
        batch — the amortization real producers get from batching.
        Consumers unpack it transparently (client MESSAGE path); acks are
        batch-granular, matching real broker-entry semantics."""
        if not payloads:
            return
        with self._cv:
            seq = self._next_seq
            self._next_seq += 1
            self._pending[seq] = None
        meta: dict[int, object] = {
            1: self._name, 2: seq, 3: int(time.time() * 1000),
            11: len(payloads),
        }
        if properties:
            meta[4] = [{1: k, 2: v} for k, v in properties.items()]
        if partition_key:
            meta[6] = partition_key
        body = _pack_batch(payloads, partition_key)
        frame = encode_payload_frame(
            SEND, {1: self._id, 2: seq, 3: len(payloads)}, meta, body
        )
        self._client._write(frame)
        self.flush()

    def flush(self, timeout_s: float = 10.0) -> None:
        with self._cv:
            # Fail fast on a dead connection instead of burning the full
            # timeout waiting for receipts that can never arrive (ADVICE r7):
            # the client's read loop notifies this CV when it closes.
            if not self._cv.wait_for(
                lambda: not self._pending or self._client._closed, timeout_s
            ):
                raise TimeoutError(f"{len(self._pending)} sends unacknowledged")
            if self._pending and self._client._closed:
                raise ConnectionError(
                    f"connection closed with {len(self._pending)} sends "
                    f"unacknowledged"
                )
            if self._errors:
                errs, self._errors = self._errors, []
                raise ConnectionError(f"send failed: {errs}")

    def close(self) -> None:
        rid = self._client._request_id()
        self._client._write(encode_frame(CLOSE_PRODUCER, {1: self._id, 2: rid}))
        try:
            self._client._await_response(rid)
        except (TimeoutError, ConnectionError):
            pass
        self._client._producers.pop(self._id, None)


class PartitionedProducer:
    """Routing facade over one wire :class:`Producer` per partition
    (pulsar-client parity for partitioned topics): a partition_key routes
    by hash so one key always lands on one partition (ordering per key);
    keyless sends round-robin. Divergence: the hash is CRC32C of the key
    bytes, not JavaStringHash — stable here, but cross-client key
    placement will differ from the Java client's."""

    def __init__(self, topic: str, parts: list[Producer]):
        self.topic = topic
        self._parts = parts
        self._rr = 0
        self._lock = threading.Lock()

    @property
    def num_partitions(self) -> int:
        return len(self._parts)

    def _route(self, partition_key: str | None) -> Producer:
        if partition_key:
            return self._parts[crc32c(partition_key.encode()) % len(self._parts)]
        with self._lock:
            i = self._rr
            self._rr = (self._rr + 1) % len(self._parts)
        return self._parts[i]

    def send_async(self, content: bytes, callback=None,
                   partition_key: str | None = None, **kw) -> None:
        self._route(partition_key).send_async(
            content, callback, partition_key=partition_key, **kw
        )

    def send(self, content: bytes, partition_key: str | None = None, **kw) -> None:
        p = self._route(partition_key)
        p.send_async(content, partition_key=partition_key, **kw)
        p.flush()

    def flush(self, timeout_s: float = 10.0) -> None:
        for p in self._parts:
            p.flush(timeout_s)

    def close(self) -> None:
        for p in self._parts:
            p.close()


class MultiConsumer:
    """One receive() surface over the per-partition consumers of a
    partitioned topic: all partitions deliver into a shared queue (the
    sub-consumers' queue/condition are pointed at shared objects, and
    each message remembers its source partition so acks route back to the
    right consumer_id). Permit replenishment stays per-partition."""

    def __init__(self, consumers: list[Consumer]):
        self._consumers = consumers
        self._cv = threading.Condition()
        self._queue: list[_WireMessage] = []
        for c in consumers:
            c._cv = self._cv
            c._queue = self._queue
            c._deliver = self._tagged_deliver(c)

    def _tagged_deliver(self, src: Consumer):
        def deliver(msg: _WireMessage) -> None:
            msg._src = src
            with self._cv:
                self._queue.append(msg)
                self._cv.notify_all()

        return deliver

    def receive(self, timeout_millis: int | None = None) -> _WireMessage:
        deadline = (
            None if timeout_millis is None
            else time.time() + timeout_millis / 1000.0
        )
        with self._cv:
            while not self._queue:
                if not any(c._alive for c in self._consumers):
                    raise ConnectionError("consumer closed")
                remaining = None if deadline is None else deadline - time.time()
                if remaining is not None and remaining <= 0:
                    raise TimeoutError("receive timed out")
                self._cv.wait(remaining)
            msg = self._queue.pop(0)
        msg._src._replenish()
        return msg

    def acknowledge(self, msg) -> None:
        msg._src.acknowledge(msg)

    def acknowledge_cumulative(self, msg) -> None:
        # cumulative acks are per-partition orderings; route to the source
        msg._src.acknowledge_cumulative(msg)

    def redeliver_unacknowledged_messages(self) -> None:
        for c in self._consumers:
            c.redeliver_unacknowledged_messages()

    def close(self) -> None:
        for c in self._consumers:
            c.close()


# ---------------------------------------------------------------------------
# Server
# ---------------------------------------------------------------------------


class _Stored:
    __slots__ = ("entry", "meta", "payload", "publish_ms")

    def __init__(self, entry: int, meta: bytes, payload: bytes, publish_ms: int):
        self.entry, self.meta, self.payload, self.publish_ms = entry, meta, payload, publish_ms


class _Subscription:
    """Durable subscription cursor: individually-acked entry set + the set
    currently inflight to a live consumer (entry → (conn, consumer_id,
    delivered_at, redelivery_count))."""

    def __init__(self):
        self.acked: set[int] = set()
        self.inflight: dict[int, tuple] = {}
        self.redeliveries: dict[int, int] = {}
        self.consumers: list[tuple] = []  # (conn, consumer_id)
        self.rr = 0  # round-robin cursor for Shared dispatch


class MiniPulsarServer:
    """In-process Pulsar-binary-protocol broker for wire e2e tests. One
    thread per connection; shared-subscription dispatch with permit
    accounting; unacked messages are redelivered when their consumer
    disconnects, asks for redelivery, or exceeds ``ack_timeout_s``."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, ack_timeout_s: float | None = None,
                 tls_cert_file: str | None = None, tls_key_file: str | None = None,
                 basic_users: dict[str, str] | None = None,
                 partitioned_topics: dict[str, int] | None = None,
                 tls_client_ca_file: str | None = None):
        self._host, self._port = host, port
        self.ack_timeout_s = ack_timeout_s
        # topic -> partition count served by CommandPartitionedTopicMetadata
        # (a topic absent here answers 0 = non-partitioned; the per-
        # partition topics themselves auto-create on first touch)
        self._partitioned = dict(partitioned_topics or {})
        # Basic-auth credential store; when set, CONNECT must carry
        # auth_method_name="basic" + "user:password" auth_data or the
        # broker answers CommandError(AuthenticationError) and closes.
        self._basic_users = basic_users
        # tls_client_ca_file: mutual TLS
        # (tlsRequireTrustedClientCertOnConnect parity)
        self._ssl_ctx = (wire.server_context(tls_cert_file, tls_key_file,
                                             tls_client_ca_file)
                         if tls_cert_file else None)
        self._lock = threading.RLock()
        self._topics: dict[str, list[_Stored]] = {}
        self._producer_topics: dict[tuple, str] = {}
        self._subs: dict[tuple[str, str], _Subscription] = {}
        self._permits: dict[tuple, int] = {}  # (conn_id, consumer_id) -> permits
        self._consumer_topic: dict[tuple, tuple[str, str]] = {}
        self.frames_seen: list[str] = []
        self.crc_failures = 0
        self._corrupt_next: set[str] = set()  # topics whose next dispatch is mangled
        self._srv: socket.socket | None = None
        self._running = False

    @property
    def url(self) -> str:
        scheme = "pulsar+ssl" if self._ssl_ctx is not None else "pulsar"
        return f"{scheme}://{self._host}:{self._actual_port}"

    def start(self) -> "MiniPulsarServer":
        self._srv = socket.create_server((self._host, self._port))
        self._actual_port = self._srv.getsockname()[1]
        self._running = True
        wire.accept_loop(self._srv, self._serve, self._ssl_ctx)
        if self.ack_timeout_s:
            threading.Thread(target=self._timeout_loop, daemon=True).start()
        return self

    def stop(self) -> None:
        self._running = False
        if self._srv is not None:
            try:
                self._srv.close()
            except OSError:
                pass

    # -- test helpers -----------------------------------------------------

    def topic_messages(self, topic: str) -> list[bytes]:
        with self._lock:
            return [s.payload for s in self._topics.get(topic, [])]

    def topic_metadata(self, topic: str) -> list[dict[int, list]]:
        with self._lock:
            return [pb_decode(s.meta) for s in self._topics.get(topic, [])]

    def seed(self, topic: str, payloads: list[bytes], partition_key: str = "") -> None:
        """Store messages directly (producer-less test setup)."""
        now = int(time.time() * 1000)
        meta: dict[int, object] = {1: "seed", 3: now}
        if partition_key:
            meta[6] = partition_key
        with self._lock:
            log = self._topics.setdefault(topic, [])
            for p in payloads:
                m = dict(meta)
                m[2] = len(log)
                log.append(_Stored(len(log), pb_encode(m), p, now))
        self._dispatch(topic)

    # -- internals --------------------------------------------------------

    def _timeout_loop(self) -> None:
        while self._running:
            time.sleep(min(self.ack_timeout_s / 4, 0.2))
            now = time.time()
            with self._lock:
                expired = []
                for key, sub in self._subs.items():
                    for entry, (conn, cid, at, rdc) in list(sub.inflight.items()):
                        if now - at > self.ack_timeout_s:
                            sub.inflight.pop(entry)
                            sub.redeliveries[entry] = rdc + 1
                            expired.append(key[0])
            for topic in expired:
                self._dispatch(topic)

    def _send(self, conn: socket.socket, frame: bytes) -> None:
        try:
            conn.sendall(frame)
        except OSError:
            pass

    def _serve(self, conn: socket.socket) -> None:
        conn_id = id(conn)
        my_consumers: set[int] = set()
        authed = self._basic_users is None
        try:
            while True:
                cmd_type, sub, meta, payload, ok = read_frame(conn)
                if not authed and cmd_type not in (CONNECT, PING, PONG):
                    return  # pre-auth data command: drop the link
                self.frames_seen.append(
                    {CONNECT: "CONNECT", SUBSCRIBE: "SUBSCRIBE", PRODUCER: "PRODUCER",
                     SEND: "SEND", ACK: "ACK", FLOW: "FLOW", PING: "PING", PONG: "PONG",
                     CLOSE_PRODUCER: "CLOSE_PRODUCER", CLOSE_CONSUMER: "CLOSE_CONSUMER",
                     REDELIVER_UNACKNOWLEDGED_MESSAGES: "REDELIVER",
                     LOOKUP: "LOOKUP", PARTITIONED_METADATA: "PARTITIONED_METADATA",
                     UNSUBSCRIBE: "UNSUBSCRIBE"}.get(cmd_type, str(cmd_type))
                )
                if cmd_type == CONNECT:
                    if not authed:
                        method = _one(sub, 5, b"")
                        data = _one(sub, 3, b"") or b""
                        user, sep, pw = data.decode(errors="replace").partition(":")
                        if not (
                            method == b"basic"
                            and sep == ":"
                            and self._basic_users.get(user) == pw
                        ):
                            # CommandError: request_id=1, error=2
                            # (ServerError.AuthenticationError = 3), message=3
                            self._send(conn, encode_frame(
                                ERROR,
                                {1: 0, 2: 3, 3: "authentication failed"},
                            ))
                            return
                        authed = True
                    # CommandConnected: server_version=1 protocol_version=2
                    self._send(conn, encode_frame(
                        CONNECTED, {1: "mini-pulsar", 2: PROTOCOL_VERSION}))
                elif cmd_type == PING:
                    self._send(conn, encode_frame(PONG, {}))
                elif cmd_type == PONG:
                    pass
                elif cmd_type == LOOKUP:
                    # single-broker: always LookupType.Connect (1) to self.
                    # CommandLookupTopicResponse: brokerServiceUrl=1
                    # response=3 request_id=4
                    rid = _one(sub, 2)
                    self._send(conn, encode_frame(
                        LOOKUP_RESPONSE, {1: self.url, 3: 1, 4: rid}))
                elif cmd_type == PARTITIONED_METADATA:
                    # CommandPartitionedTopicMetadataResponse: partitions=1
                    # request_id=2 response=3 (Success=0)
                    topic = _one(sub, 1, b"").decode()
                    rid = _one(sub, 2)
                    self._send(conn, encode_frame(
                        PARTITIONED_METADATA_RESPONSE,
                        {1: self._partitioned.get(topic, 0), 2: rid, 3: 0},
                    ))
                elif cmd_type == PRODUCER:
                    rid = _one(sub, 3)
                    name = _one(sub, 4, b"").decode() or f"mini-prod-{_one(sub, 2)}"
                    with self._lock:
                        self._topics.setdefault(_one(sub, 1, b"").decode(), [])
                        self._producer_topics[(conn_id, _one(sub, 2))] = _one(sub, 1, b"").decode()
                    # CommandProducerSuccess: request_id=1 producer_name=2
                    self._send(conn, encode_frame(PRODUCER_SUCCESS, {1: rid, 2: name}))
                elif cmd_type == SEND:
                    pid, seq = _one(sub, 1), _one(sub, 2)
                    topic = self._producer_topics.get((conn_id, pid))
                    if not ok:
                        self.crc_failures += 1
                        # CommandSendError: producer_id=1 sequence_id=2
                        # error=3 (ServerError.ChecksumError = 9) message=4
                        self._send(conn, encode_frame(
                            SEND_ERROR, {1: pid, 2: seq, 3: 9, 4: "ChecksumError"}))
                        continue
                    with self._lock:
                        log = self._topics.setdefault(topic or "", [])
                        entry = len(log)
                        log.append(_Stored(entry, pb_encode(
                            {k: v if len(v) > 1 else v[0] for k, v in meta.items()}
                        ) if meta else b"", payload, int(time.time() * 1000)))
                    # CommandSendReceipt: producer_id=1 sequence_id=2 message_id=3
                    self._send(conn, encode_frame(
                        SEND_RECEIPT, {1: pid, 2: seq, 3: {1: 0, 2: entry}}))
                    if topic:
                        self._dispatch(topic)
                elif cmd_type == SUBSCRIBE:
                    topic = _one(sub, 1, b"").decode()
                    subscription = _one(sub, 2, b"").decode()
                    cid, rid = _one(sub, 4), _one(sub, 5)
                    with self._lock:
                        self._topics.setdefault(topic, [])
                        s = self._subs.setdefault((topic, subscription), _Subscription())
                        s.consumers.append((conn, cid))
                        self._consumer_topic[(conn_id, cid)] = (topic, subscription)
                        self._permits[(conn_id, cid)] = 0
                    my_consumers.add(cid)
                    self._send(conn, encode_frame(SUCCESS, {1: rid}))
                elif cmd_type == FLOW:
                    cid, permits = _one(sub, 1), _one(sub, 2, 0)
                    with self._lock:
                        self._permits[(conn_id, cid)] = (
                            self._permits.get((conn_id, cid), 0) + permits
                        )
                        key = self._consumer_topic.get((conn_id, cid))
                    if key:
                        self._dispatch(key[0])
                elif cmd_type == ACK:
                    cid, ack_type = _one(sub, 1), _one(sub, 2, 0)
                    key = self._consumer_topic.get((conn_id, cid))
                    if key:
                        s = self._subs[key]
                        with self._lock:
                            for mid_raw in sub.get(3, []):
                                mid = pb_decode(mid_raw)
                                entry = _one(mid, 2, 0)
                                if ack_type == 1:  # cumulative
                                    for e in list(s.inflight):
                                        if e <= entry:
                                            s.inflight.pop(e)
                                    s.acked.update(range(entry + 1))
                                else:
                                    s.inflight.pop(entry, None)
                                    s.acked.add(entry)
                elif cmd_type == REDELIVER_UNACKNOWLEDGED_MESSAGES:
                    cid = _one(sub, 1)
                    key = self._consumer_topic.get((conn_id, cid))
                    if key:
                        with self._lock:
                            s = self._subs[key]
                            for entry, (c, ccid, _at, rdc) in list(s.inflight.items()):
                                if id(c) == conn_id and ccid == cid:
                                    s.inflight.pop(entry)
                                    s.redeliveries[entry] = rdc + 1
                        self._dispatch(key[0])
                elif cmd_type == CLOSE_CONSUMER:
                    cid, rid = _one(sub, 1), _one(sub, 2)
                    self._detach_consumer(conn, conn_id, cid)
                    my_consumers.discard(cid)
                    self._send(conn, encode_frame(SUCCESS, {1: rid}))
                elif cmd_type == CLOSE_PRODUCER:
                    rid = _one(sub, 2)
                    self._send(conn, encode_frame(SUCCESS, {1: rid}))
        except (ConnectionError, OSError, ValueError):
            pass
        finally:
            for cid in list(my_consumers):
                self._detach_consumer(conn, conn_id, cid)
            try:
                conn.close()
            except OSError:
                pass

    def _detach_consumer(self, conn, conn_id: int, cid: int) -> None:
        """Consumer gone: return its inflight messages to the subscription
        backlog (redelivery_count + 1) and re-dispatch to survivors."""
        with self._lock:
            key = self._consumer_topic.pop((conn_id, cid), None)
            self._permits.pop((conn_id, cid), None)
            if key is None:
                return
            s = self._subs[key]
            s.consumers = [(c, i) for (c, i) in s.consumers if not (id(c) == conn_id and i == cid)]
            for entry, (c, ccid, _at, rdc) in list(s.inflight.items()):
                if id(c) == conn_id and ccid == cid:
                    s.inflight.pop(entry)
                    s.redeliveries[entry] = rdc + 1
        self._dispatch(key[0])

    def _dispatch(self, topic: str) -> None:
        """Deliver every unacked, un-inflight entry of `topic` to
        subscription consumers with available permits (round-robin for the
        Shared case)."""
        frames: list[tuple[socket.socket, bytes]] = []
        with self._lock:
            log = self._topics.get(topic, [])
            for (t, _name), s in self._subs.items():
                if t != topic or not s.consumers:
                    continue
                for stored in log:
                    if stored.entry in s.acked or stored.entry in s.inflight:
                        continue
                    # pick the next consumer with permits
                    target = None
                    for off in range(len(s.consumers)):
                        conn, cid = s.consumers[(s.rr + off) % len(s.consumers)]
                        if self._permits.get((id(conn), cid), 0) > 0:
                            target = (conn, cid)
                            s.rr = (s.rr + off + 1) % len(s.consumers)
                            break
                    if target is None:
                        break  # no permits anywhere; stop scanning this sub
                    conn, cid = target
                    self._permits[(id(conn), cid)] -= 1
                    rdc = s.redeliveries.get(stored.entry, 0)
                    s.inflight[stored.entry] = (conn, cid, time.time(), rdc)
                    # CommandMessage: consumer_id=1 message_id=2 redelivery_count=3
                    body = {1: cid, 2: {1: 0, 2: stored.entry}}
                    if rdc:
                        body[3] = rdc
                    frame = encode_payload_frame(
                        MESSAGE, body, pb_decode_to_encode(stored.meta), stored.payload)
                    if topic in self._corrupt_next:
                        # Test hook: mangle the payload AFTER the checksum was
                        # computed so the consumer's CRC32C verify fails. The
                        # entry stays inflight, exactly like a real broker
                        # whose frame was damaged in transit.
                        self._corrupt_next.discard(topic)
                        frame = frame[:-1] + bytes([frame[-1] ^ 0xFF])
                    frames.append((conn, frame))
        for conn, frame in frames:
            self._send(conn, frame)

    def corrupt_next_dispatch(self, topic: str) -> None:
        """Arrange for the next MESSAGE frame dispatched for `topic` to fail
        the consumer's CRC32C verification (wire-fault injection)."""
        with self._lock:
            self._corrupt_next.add(topic)


def pb_decode_to_encode(meta: bytes) -> dict[int, object]:
    """Re-shape stored metadata bytes into pb_encode's input form (values
    already encoded as bytes round-trip unchanged)."""
    return {k: v if len(v) > 1 else v[0] for k, v in pb_decode(meta).items()} if meta else {1: "mini"}
