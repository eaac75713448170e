"""Minimal Kafka wire protocol (v0 API subset): a real blocking-socket
client and an in-process TCP broker, both speaking the published binary
protocol (kafka.apache.org/protocol: size-prefixed frames, big-endian
primitives, int16-length strings / int32-length bytes, MessageSet v0
entries with CRC32 over magic..value).

Why this exists: the sandboxed build environment has neither a Kafka
broker nor the Spark Kafka connector jar (spark-sql-kafka-0-10 ships
separately from pyspark), so S3/K3 could only ever be verified at the
envelope-mapping level (tests/test_kafka_metadata.py). This module closes
the gap at the wire level, the same treatment the NATS/JetStream sources
got in nats_wire.py:

  * :class:`KafkaWireClient` — a from-scratch client implementing
    Metadata/Produce/Fetch/OffsetCommit/OffsetFetch/ApiVersions v0, CRC-
    validating every fetched message.
  * :class:`MiniKafkaBroker` — a protocol-faithful in-process broker
    (threaded TCP, in-memory partitioned logs, consumer-group offset
    store) used by the wire-level e2e test (tests/test_kafka_wire.py):
    handle → our client → TCP → our broker is a genuine network round
    trip with real Kafka frames on the socket.
  * :class:`KafkaLiteSourceHandle` — the S3 read surface as a
    user-defined SourceHandle (sources/user_defined.py): per-partition
    offsets in the Spark-checkpointed offset dict, ack → consumer-group
    OffsetCommit (the reference's commit loop,
    rust/extns/numaflow-kafka/src/source.rs), rows in the connector's
    record schema so :func:`kafka.kafka_envelope` applies unchanged.
  * :func:`kafka_wire_sink` — the K3 produce surface (key-hash partition
    assignment, acks=1), usable as a foreachBatch writer.

The PRODUCTION path remains ``spark.readStream.format("kafka")``
(sources/kafka.py) — this module exists so the mapping and the
offset/ack/resume contract are verified against actual protocol bytes,
matching the reference's test/kafka-e2e/kafka_test.go shape as far as a
broker-less sandbox allows.

Implemented transports: plaintext, one-way TLS
(``KafkaWireClient(tls=True, tls_ca_file=...)`` — security.protocol=SSL
with server-certificate verification, the reference's kafka_source.go
`tls` block), and SASL/PLAIN
(``KafkaWireClient(sasl_plain_username=..., sasl_plain_password=...)`` —
SaslHandshake (17) + SaslAuthenticate (36) per kafka.apache.org/protocol
with the RFC 4616 PLAIN token, the reference's kafka_source.go `sasl`
block mechanism PLAIN; composes with TLS for SASL_SSL parity). The
broker enforces it when built with ``sasl_users={user: password}``:
pre-auth connections can reach only ApiVersions/SaslHandshake/
SaslAuthenticate, anything else closes the link (real-broker behavior).

Also implemented (r8 depth): RecordBatch v2 (magic 2, the published
#recordbatch format — zigzag-varint records, CRC32C over attributes..end,
per-record timestamps and headers) carried by Produce v3 / Fetch v4;
``produce_records``/``fetch_records`` expose it, the broker stores
timestamps+headers losslessly alongside v0 traffic (v0-produced entries
surface the v2 null-timestamp sentinel as None), and the S3 source handle
reads via Fetch v4 so real publish timestamps reach the envelope's
event-time column.

Also implemented (r8 depth): dynamic consumer-group membership —
JoinGroup (11) / SyncGroup (14) / Heartbeat (12) / LeaveGroup (13) v0
with the published range ConsumerProtocol, a broker-side group
coordinator (delayed-join barrier, generation bumps, session-timeout
eviction, REBALANCE_IN_PROGRESS heartbeats) and
:class:`KafkaGroupConsumer`, whose fleet splits a topic's partitions
disjointly and rebalances on join/leave/death with committed offsets
intact (the reference's scaled-out consumer-group read).

Also implemented (r8 depth): SASL/SCRAM-SHA-256 and SCRAM-SHA-512
(``KafkaWireClient(sasl_mechanism="SCRAM-SHA-256", ...)``) — the full
RFC 5802/7677 four-message exchange carried over SaslAuthenticate
rounds the way real brokers do it: client-first with a fresh nonce,
server-first with per-user salt + iteration count, client-final proof
(PBKDF2 -> ClientKey -> StoredKey -> XOR proof), and a server-final
signature the CLIENT verifies (mutual auth — a broker that doesn't
hold ServerKey cannot forge it, so credentials are never sent and the
server is authenticated too). The broker stores only (salt, iterations,
StoredKey, ServerKey) per user — the RFC's server-storage model; the
cleartext password never persists past ``__init__``.

Also implemented (r8 depth): mutual TLS — the client presents
``tls_cert_file``/``tls_key_file`` (the reference's certSecret/
keySecret) and a broker built with ``tls_client_ca_file`` requires a
cert chained to that CA at the handshake (ssl.client.auth=required),
rejecting cert-less peers before any Kafka frame.

Transactions ARE implemented (InitProducerId with epoch fencing,
AddPartitionsToTxn, EndTxn writing commit/abort control-marker
batches, last-stable-offset semantics, Fetch v4 aborted_transactions
index, and the published read_committed client filter — abort ranges
closed by their markers so later commits from the same producer
deliver). ALL FOUR batch codecs are implemented on Arrow: gzip, lz4 and
zstd decode through its streaming reader (``pa.CompressedInputStream``,
which needs no content size — Kafka producers omit it); snappy keeps its
xerial framing around ``pa.Codec("snappy")`` blocks; gzip encodes with
the stdlib, zstd with ``pa.Codec("zstd")``, and lz4 writes the
block-independent frame Kafka's producer writes, each 64 KB block through
``pa.Codec("lz4_raw")``. Not implemented (documented divergence): SASL
GSSAPI/Kerberos (OAUTHBEARER per RFC 7628 IS implemented,
with KIP-255 unsecured-JWS validation, principal allow-listing, and
the published challenge-then-dummy-response failure dance; swap the
token for a signed JWT against a real issuer — the framing is
identical), SCRAM channel binding (gs2
header ``n,,`` only — the -PLUS variants need TLS exporter data),
the eager StickyAssignor (its cooperative successor per KIP-429 IS
implemented — ``cooperative-sticky`` with Subscription v1
ownedPartitions, withheld-moving-partition assignment, and the
revoke-then-rejoin client dance), FindCoordinator (the single
broker is always the coordinator), multi-broker metadata.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import hmac as _hmac
import secrets
import socket
import struct
import threading
import time
import zlib

from pyspark.sql import types as T

from numaflow_spark import wire

API_PRODUCE = 0
API_FETCH = 1
API_METADATA = 3
API_OFFSET_COMMIT = 8
API_OFFSET_FETCH = 9
API_JOIN_GROUP = 11
API_HEARTBEAT = 12
API_LEAVE_GROUP = 13
API_SYNC_GROUP = 14
API_SASL_HANDSHAKE = 17
API_VERSIONS = 18
API_INIT_PRODUCER_ID = 22
API_ADD_PARTITIONS_TO_TXN = 24
API_END_TXN = 26
API_SASL_AUTHENTICATE = 36

ERR_NONE = 0
ERR_UNKNOWN_TOPIC = 3
ERR_CORRUPT = 2
ERR_ILLEGAL_GENERATION = 22
ERR_UNKNOWN_MEMBER_ID = 25
ERR_REBALANCE_IN_PROGRESS = 27
ERR_INCONSISTENT_GROUP_PROTOCOL = 23
ERR_UNSUPPORTED_SASL_MECHANISM = 33
ERR_ILLEGAL_SASL_STATE = 34
ERR_SASL_AUTH_FAILED = 58
ERR_INVALID_PRODUCER_ID_MAPPING = 49  # txn APIs: wrong/unknown pid for txn_id
ERR_INVALID_TXN_STATE = 48

# --------------------------------------------------------------------------
# SCRAM (RFC 5802, SHA-256/512 parameters per RFC 7677) — shared by client
# and broker. Pure stdlib: PBKDF2 + HMAC + the two fixed key-derivation
# literals from the RFC.
# --------------------------------------------------------------------------

_SCRAM_HASHES = {"SCRAM-SHA-256": "sha256", "SCRAM-SHA-512": "sha512"}
_SCRAM_ITERATIONS = 4096  # RFC 7677 minimum announced by real brokers


def _scram_derive(mech: str, password: str, salt: bytes,
                  iterations: int) -> tuple[bytes, bytes, bytes]:
    """(SaltedPassword, StoredKey, ServerKey) per RFC 5802 §3."""
    algo = _SCRAM_HASHES[mech]
    salted = hashlib.pbkdf2_hmac(algo, password.encode("utf-8"), salt, iterations)
    client_key = _hmac.new(salted, b"Client Key", algo).digest()
    stored_key = hashlib.new(algo, client_key).digest()
    server_key = _hmac.new(salted, b"Server Key", algo).digest()
    return salted, stored_key, server_key


def _scram_attrs(msg: str) -> dict[str, str]:
    """Parse ``k=v,k=v`` SCRAM attribute lists (values may contain '=',
    e.g. base64 padding — split each item once)."""
    out: dict[str, str] = {}
    for item in msg.split(","):
        if "=" in item:
            k, v = item.split("=", 1)
            out[k] = v
    return out


def _saslname_escape(name: str) -> str:
    return name.replace("=", "=3D").replace(",", "=2C")


def _saslname_unescape(name: str) -> str:
    return name.replace("=2C", ",").replace("=3D", "=")


def _xor(a: bytes, b: bytes) -> bytes:
    return bytes(x ^ y for x, y in zip(a, b))


# --------------------------------------------------------------------------
# OAUTHBEARER (RFC 7628 SASL mechanism; KIP-255's default unsecured JWS
# token — header {"alg":"none"}, unpadded base64url, empty signature).
# --------------------------------------------------------------------------

def _b64url(raw: bytes) -> str:
    return base64.urlsafe_b64encode(raw).rstrip(b"=").decode("ascii")


def _b64url_decode(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def make_unsecured_jwt(
    principal: str, lifetime_s: int = 300, *, now: float | None = None
) -> str:
    """KIP-255 unsecured bearer token: alg=none JWS with sub/iat/exp
    claims and an empty signature part. This is the token shape real
    brokers accept when configured with the default unsecured validator;
    production deployments swap in a signed JWT from their OAuth issuer —
    the SASL framing below is identical either way."""
    import json as _json

    t = time.time() if now is None else now
    header = _b64url(_json.dumps({"alg": "none"}).encode())
    payload = _b64url(_json.dumps(
        {"sub": principal, "iat": int(t), "exp": int(t) + int(lifetime_s)}
    ).encode())
    return f"{header}.{payload}."


def _parse_unsecured_jwt(token: str) -> dict:
    """Validate shape + alg=none + exp and return the claims. Raises
    ValueError with an RFC 6750-style reason on any defect."""
    import json as _json

    parts = token.split(".")
    if len(parts) != 3 or parts[2] != "":
        raise ValueError("invalid_token: not an unsecured JWS")
    try:
        header = _json.loads(_b64url_decode(parts[0]))
        claims = _json.loads(_b64url_decode(parts[1]))
    except Exception as ex:  # noqa: BLE001 — any decode defect is the same error
        raise ValueError(f"invalid_token: undecodable ({type(ex).__name__})")
    if header.get("alg") != "none":
        raise ValueError("invalid_token: unsupported alg")
    if "sub" not in claims:
        raise ValueError("invalid_token: missing sub claim")
    if float(claims.get("exp", 0)) <= time.time():
        raise ValueError("invalid_token: expired")
    return claims


# --------------------------------------------------------------------------
# primitive codecs
# --------------------------------------------------------------------------

def _i8(v: int) -> bytes:
    return struct.pack(">b", v)


def _i16(v: int) -> bytes:
    return struct.pack(">h", v)


def _i32(v: int) -> bytes:
    return struct.pack(">i", v)


def _i64(v: int) -> bytes:
    return struct.pack(">q", v)


def _string(s: str | None) -> bytes:
    if s is None:
        return _i16(-1)
    b = s.encode()
    return _i16(len(b)) + b


def _bytes(b: bytes | None) -> bytes:
    if b is None:
        return _i32(-1)
    return _i32(len(b)) + b


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def i8(self) -> int:
        return struct.unpack(">b", self.take(1))[0]

    def i16(self) -> int:
        return struct.unpack(">h", self.take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def string(self) -> str | None:
        n = self.i16()
        return None if n < 0 else self.take(n).decode()

    def bytes(self) -> bytes | None:
        n = self.i32()
        return None if n < 0 else self.take(n)


# --------------------------------------------------------------------------
# MessageSet v0
# --------------------------------------------------------------------------

def _message_v0(key: bytes | None, value: bytes | None) -> bytes:
    body = _i8(0) + _i8(0) + _bytes(key) + _bytes(value)  # magic, attrs
    crc = zlib.crc32(body) & 0xFFFFFFFF
    return struct.pack(">I", crc) + body


def encode_message_set(
    entries: list[tuple[int, bytes | None, bytes | None]],
) -> bytes:
    """entries: (offset, key, value) -> wire MessageSet v0 bytes."""
    out = b""
    for offset, key, value in entries:
        msg = _message_v0(key, value)
        out += _i64(offset) + _i32(len(msg)) + msg
    return out


def decode_message_set(
    buf: bytes,
) -> list[tuple[int, bytes | None, bytes | None]]:
    """Wire MessageSet v0 -> (offset, key, value) entries, CRC-checked.
    A trailing partial message (legal per protocol when max_bytes cuts a
    fetch) is dropped."""
    out = []
    r = _Reader(buf)
    while len(buf) - r.pos >= 12:
        offset = r.i64()
        size = r.i32()
        if size < 14:  # crc4 + magic1 + attrs1 + keylen4 + vallen4
            raise ValueError(f"corrupt message size {size} at offset {offset}")
        if len(buf) - r.pos < size:
            break  # partial trailing message
        msg = r.take(size)
        (crc,) = struct.unpack(">I", msg[:4])
        if zlib.crc32(msg[4:]) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch at offset {offset}")
        mr = _Reader(msg[4:])
        magic, _attrs = mr.i8(), mr.i8()
        if magic != 0:
            raise ValueError(f"unsupported message magic {magic}")
        key = mr.bytes()
        value = mr.bytes()
        out.append((offset, key, value))
    return out


# --------------------------------------------------------------------------
# RecordBatch v2 (kafka.apache.org/documentation#recordbatch) — the magic-2
# on-disk/wire format that carries per-record timestamps and headers.
# Integers inside records are ZIGZAG VARINTS; the batch header is fixed-
# width big-endian; crc is CRC32C (Castagnoli) over attributes..end.
# --------------------------------------------------------------------------

# CRC32C with the same published polynomial the Pulsar framing uses — one
# table, shared.
from numaflow_spark.sources.pulsar_wire import crc32c as _crc32c


def _zigzag(n: int) -> int:
    return (n << 1) if n >= 0 else ((-n) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _vint(n: int) -> bytes:
    """Zigzag LEB128 varint (Kafka record framing)."""
    u = _zigzag(n)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_vint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(u), pos
        shift += 7


def _vbytes(b: bytes | None) -> bytes:
    if b is None:
        return _vint(-1)
    return _vint(len(b)) + b


# ---------------------------------------------------------------------------
# Batch codecs (RecordBatch attributes bits 0-2). Only the records section
# compresses. gzip, lz4 and zstd decode through Arrow's streaming reader
# (pa.CompressedInputStream): unlike the one-shot Codec.decompress it needs
# no content size, which Kafka producers leave out of lz4 and zstd frames,
# and it reads block-dependent and checksummed LZ4 frames too. snappy keeps
# the xerial framing around pa.Codec("snappy") blocks.
# ---------------------------------------------------------------------------

GZIP = 1
SNAPPY = 2  # xerial block framing around raw snappy blocks (the published
#             snappy-java stream format Kafka producers emit)
LZ4 = 3  # standard LZ4 frames (github.com/lz4/lz4 Frame format spec)
ZSTD = 4  # standard zstd frames (RFC 8878)

_XERIAL_HEADER = bytes([0x82]) + b"SNAPPY" + bytes([0]) + _i32(1) + _i32(1)


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """Protocol-buffers-style unsigned varint (the snappy block format's
    uncompressed-length preamble)."""
    result = shift = 0
    while True:
        if pos >= len(buf):
            # Truncated/malformed input must surface as a protocol error
            # (the produce path answers ERR_CORRUPT on ValueError), not an
            # IndexError that kills the broker connection thread.
            raise ValueError("truncated uvarint in snappy block framing")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _snappy_xerial_compress(raw: bytes) -> bytes:
    import pyarrow as pa

    block = pa.Codec("snappy").compress(raw, asbytes=True)
    return _XERIAL_HEADER + _i32(len(block)) + block


def _snappy_xerial_decompress(buf: bytes) -> bytes:
    import pyarrow as pa

    out = b""
    if buf[:8] == _XERIAL_HEADER[:8]:
        pos = 16  # header + version + compat
        while pos + 4 <= len(buf):
            (clen,) = struct.unpack(">i", buf[pos : pos + 4])
            block = buf[pos + 4 : pos + 4 + clen]
            pos += 4 + clen
            size, _ = _read_uvarint(block, 0)
            out += pa.Codec("snappy").decompress(
                block, decompressed_size=size, asbytes=True
            )
        return out
    # bare snappy block (some producers skip the xerial stream header)
    size, _ = _read_uvarint(buf, 0)
    return pa.Codec("snappy").decompress(
        buf, decompressed_size=size, asbytes=True
    )


# magic 0x184D2204, FLG (version 01, B.Indep, no checksums or content
# size), BD (64 KB blocks), HC = second byte of xxHash32(FLG BD)
_LZ4_HEADER = b"\x04\x22\x4d\x18\x60\x40\x82"
_LZ4_BLOCK = 64 * 1024


def _lz4_compress(raw: bytes) -> bytes:
    """Block-independent LZ4 frame, the shape Kafka's producer writes.
    Arrow's own frame writers link blocks once the input passes one
    block, so each <= 64 KB chunk goes through pa.Codec("lz4_raw") here,
    stored raw (size word high bit) when it does not shrink."""
    import pyarrow as pa

    codec = pa.Codec("lz4_raw")
    out = bytearray(_LZ4_HEADER)
    for i in range(0, len(raw), _LZ4_BLOCK):
        chunk = raw[i:i + _LZ4_BLOCK]
        block = codec.compress(chunk, asbytes=True)
        if len(block) < len(chunk):
            out += struct.pack("<I", len(block)) + block
        else:
            out += struct.pack("<I", len(chunk) | 0x80000000) + chunk
    return bytes(out + _i32(0))  # EndMark


def _zstd_compress(raw: bytes) -> bytes:
    import pyarrow as pa

    return pa.Codec("zstd").compress(raw, asbytes=True)


def _arrow_reader(codec: str):
    def read(buf: bytes) -> bytes:
        import pyarrow as pa

        with pa.CompressedInputStream(pa.BufferReader(buf), codec) as s:
            return s.read()

    return read


# attributes codec -> (compress, decompress)
_CODECS = {
    GZIP: (gzip.compress, _arrow_reader("gzip")),
    SNAPPY: (_snappy_xerial_compress, _snappy_xerial_decompress),
    LZ4: (_lz4_compress, _arrow_reader("lz4")),
    ZSTD: (_zstd_compress, _arrow_reader("zstd")),
}


def _codec(codec: int):
    if codec not in _CODECS:
        raise ValueError(f"unsupported compression codec {codec}")
    return _CODECS[codec]


def _decompress(codec: int, buf: bytes) -> bytes:
    """A batch's records section, decoded. Every codec failure surfaces as
    ValueError, so the produce path answers ERR_CORRUPT and keeps the
    connection."""
    decompress = _codec(codec)[1]
    try:
        return decompress(buf)
    except (OSError, MemoryError) as e:
        raise ValueError(f"corrupt compressed records (codec {codec}): {e}") from e


def encode_record_batch_v2(
    base_offset: int,
    records: list[tuple[bytes | None, bytes | None, int, list[tuple[str, bytes | None]]]],
    compression: int = 0,
    *,
    producer_id: int = -1,
    producer_epoch: int = -1,
    base_sequence: int = -1,
    transactional: bool = False,
    control: bool = False,
) -> bytes:
    """records: (key, value, timestamp_ms, headers). One batch, optional
    gzip codec (``compression=GZIP`` — attributes bits 0-2 per the spec;
    only the records section compresses, the batch header never does).
    Transactional batches carry producerId/epoch/baseSequence plus the
    published attributes bits: bit 4 = isTransactional, bit 5 =
    isControlBatch (commit/abort markers)."""
    if not records:
        raise ValueError("empty record batch")
    base_ts = records[0][2]
    max_ts = max(r[2] for r in records)
    recs = b""
    for i, (key, value, ts, headers) in enumerate(records):
        inner = (
            _i8(0)  # record attributes (unused)
            + _vint(ts - base_ts)  # timestampDelta
            + _vint(i)  # offsetDelta
            + _vbytes(key)
            + _vbytes(value)
            + _vint(len(headers))
        )
        for hk, hv in headers:
            inner += _vbytes(hk.encode()) + _vbytes(hv)
        recs += _vint(len(inner)) + inner
    if compression:
        recs = _codec(compression)[0](recs)
    attrs = compression
    if transactional:
        attrs |= 0x10
    if control:
        attrs |= 0x20
    after_crc = (
        _i16(attrs)  # attributes: codec bits, CreateTime, txn/control bits
        + _i32(len(records) - 1)  # lastOffsetDelta
        + _i64(base_ts)
        + _i64(max_ts)
        + _i64(producer_id)
        + _i16(producer_epoch)
        + _i32(base_sequence)
        + _i32(len(records))
        + recs
    )
    crc = _crc32c(after_crc)
    body = _i32(-1) + _i8(2) + struct.pack(">I", crc) + after_crc  # epoch, magic
    return _i64(base_offset) + _i32(len(body)) + body


# Control-record codec (the published ControlRecordType layout): key =
# version(i16) + type(i16, 0=abort 1=commit); value = version(i16) +
# coordinator_epoch(i32). Control records ride control batches, occupy
# offsets, and are never delivered to applications.
CTRL_ABORT, CTRL_COMMIT = 0, 1


def encode_control_record(commit: bool) -> tuple[bytes, bytes]:
    return (
        _i16(0) + _i16(CTRL_COMMIT if commit else CTRL_ABORT),
        _i16(0) + _i32(0),
    )


def decode_control_type(key: bytes | None) -> int | None:
    if key is None or len(key) < 4:
        return None
    r = _Reader(key)
    r.i16()  # version
    return r.i16()


def decode_record_batches_v2(
    buf: bytes,
) -> list[tuple[int, bytes | None, bytes | None, int, list[tuple[str, bytes | None]]]]:
    """Concatenated RecordBatch v2 bytes -> flat (offset, key, value,
    timestamp_ms, headers) entries, CRC32C-checked per batch; a partial
    trailing batch (max_bytes cut) is dropped. Control batches are NOT
    filtered here — callers that can see transactional logs use
    :func:`decode_record_batches_v2_ex` and filter by batch metadata."""
    return [e for _pid, _txn, _ctrl, entries in
            decode_record_batches_v2_ex(buf) for e in entries]


def decode_record_batches_v2_ex(
    buf: bytes,
) -> list[tuple[int, bool, bool, list]]:
    """Per-batch decode: (producer_id, is_transactional, is_control,
    entries) with entries = (offset, key, value, timestamp_ms, headers) —
    the metadata a read_committed consumer needs to honor aborted
    transactions and skip control markers."""
    out: list[tuple[int, bool, bool, list]] = []
    pos = 0
    while len(buf) - pos >= 12:
        (base_offset,) = struct.unpack(">q", buf[pos : pos + 8])
        (blen,) = struct.unpack(">i", buf[pos + 8 : pos + 12])
        if len(buf) - pos - 12 < blen:
            break  # partial trailing batch
        body = buf[pos + 12 : pos + 12 + blen]
        pos += 12 + blen
        magic = body[4]
        if magic != 2:
            raise ValueError(f"unsupported record batch magic {magic}")
        (crc,) = struct.unpack(">I", body[5:9])
        after = body[9:]
        if _crc32c(after) != crc:
            raise ValueError(f"record batch CRC mismatch at offset {base_offset}")
        r = _Reader(after)
        attrs = r.i16()
        r.i32()  # lastOffsetDelta
        base_ts = r.i64()
        r.i64()  # maxTimestamp
        producer_id = r.i64()
        r.i16()  # producerEpoch
        r.i32()  # baseSequence
        count = r.i32()
        entries: list = []
        rec_buf = after[r.pos :]
        codec = attrs & 0x07
        if codec:
            rec_buf = _decompress(codec, rec_buf)
        p = 0
        for _ in range(count):
            rlen, p = _read_vint(rec_buf, p)
            end = p + rlen
            p += 1  # record attributes
            ts_delta, p = _read_vint(rec_buf, p)
            off_delta, p = _read_vint(rec_buf, p)
            klen, p = _read_vint(rec_buf, p)
            key = None if klen < 0 else rec_buf[p : p + klen]
            p += max(klen, 0)
            vlen, p = _read_vint(rec_buf, p)
            value = None if vlen < 0 else rec_buf[p : p + vlen]
            p += max(vlen, 0)
            nh, p = _read_vint(rec_buf, p)
            headers: list[tuple[str, bytes | None]] = []
            for _ in range(nh):
                hklen, p = _read_vint(rec_buf, p)
                hk = rec_buf[p : p + hklen].decode()
                p += hklen
                hvlen, p = _read_vint(rec_buf, p)
                hv = None if hvlen < 0 else rec_buf[p : p + hvlen]
                p += max(hvlen, 0)
                headers.append((hk, hv))
            if p != end:
                raise ValueError("record length mismatch in batch")
            entries.append(
                (base_offset + off_delta, key, value, base_ts + ts_delta, headers)
            )
        out.append(
            (producer_id, bool(attrs & 0x10), bool(attrs & 0x20), entries)
        )
    return out


# --------------------------------------------------------------------------
# ConsumerProtocol (the published consumer-embedded protocol carried as
# opaque bytes through JoinGroup/SyncGroup): Subscription = version(i16) +
# topics([string]) + user_data(bytes); Assignment = version(i16) +
# [topic, partitions([i32])] + user_data(bytes).
# --------------------------------------------------------------------------

def encode_subscription(
    topics: list[str], owned: dict[str, list[int]] | None = None
) -> bytes:
    """Subscription v0, or — when ``owned`` is given — the published v1
    layout (ConsumerProtocolSubscription.json) whose ownedPartitions field
    carries the member's currently-owned (topic, partitions) into the
    JoinGroup metadata; the cooperative assignor's stickiness input."""
    if owned is None:
        out = _i16(0) + _i32(len(topics))
        for t in topics:
            out += _string(t)
        return out + _bytes(b"")
    out = _i16(1) + _i32(len(topics))
    for t in topics:
        out += _string(t)
    out += _bytes(b"")
    out += _i32(len(owned))
    for t, parts in sorted(owned.items()):
        out += _string(t) + _i32(len(parts))
        for p in sorted(parts):
            out += _i32(p)
    return out


def decode_subscription_owned(
    buf: bytes,
) -> tuple[list[str], dict[str, list[int]]]:
    """(topics, owned_partitions) — owned is empty for v0 metadata."""
    r = _Reader(buf)
    version = r.i16()
    topics = [r.string() or "" for _ in range(r.i32())]
    owned: dict[str, list[int]] = {}
    if version >= 1:
        r.bytes()  # user_data
        for _ in range(r.i32()):
            t = r.string() or ""
            owned[t] = [r.i32() for _ in range(r.i32())]
    return topics, owned


def encode_assignment(assignment: dict[str, list[int]]) -> bytes:
    out = _i16(0) + _i32(len(assignment))
    for t, parts in sorted(assignment.items()):
        out += _string(t) + _i32(len(parts))
        for p in parts:
            out += _i32(p)
    return out + _bytes(b"")


def decode_assignment(buf: bytes) -> dict[str, list[int]]:
    if not buf:
        return {}
    r = _Reader(buf)
    r.i16()  # version
    out: dict[str, list[int]] = {}
    for _ in range(r.i32()):
        t = r.string() or ""
        out[t] = [r.i32() for _ in range(r.i32())]
    return out


def range_assign(
    members: dict[str, list[str]], parts_by_topic: dict[str, list[int]]
) -> dict[str, dict[str, list[int]]]:
    """The published range assignor: per topic, sorted partitions are cut
    into contiguous chunks across the sorted subscribing members, the
    first ``n_parts % n_members`` members taking one extra."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m in members}
    for topic, parts in parts_by_topic.items():
        subs = sorted(m for m, topics in members.items() if topic in topics)
        if not subs:
            continue
        parts = sorted(parts)
        base, extra = divmod(len(parts), len(subs))
        pos = 0
        for i, m in enumerate(subs):
            take = base + (1 if i < extra else 0)
            if take:
                out[m][topic] = parts[pos : pos + take]
            pos += take
    return out


def roundrobin_assign(
    members: dict[str, list[str]], parts_by_topic: dict[str, list[int]]
) -> dict[str, dict[str, list[int]]]:
    """The published RoundRobinAssignor: all (topic, partition) pairs in
    sorted order are dealt one at a time around the sorted member circle,
    skipping members not subscribed to the partition's topic (the circle
    pointer keeps advancing, so load stays balanced under uneven
    subscriptions — kafka.apache.org javadoc's C0=[t0], C1=[t0, t1]
    example is pinned in tests)."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m in members}
    ms = sorted(members)
    if not ms:
        return out
    n = len(ms)
    i = 0
    for topic in sorted(parts_by_topic):
        for p in sorted(parts_by_topic[topic]):
            for _ in range(n):
                m = ms[i % n]
                i += 1
                if topic in members[m]:
                    out[m].setdefault(topic, []).append(p)
                    break
    return out


def cooperative_sticky_assign(
    members: dict[str, list[str]],
    parts_by_topic: dict[str, list[int]],
    owned: dict[str, dict[str, list[int]]],
) -> dict[str, dict[str, list[int]]]:
    """The published CooperativeStickyAssignor (KIP-429, incremental
    cooperative rebalancing): compute a balanced STICKY target — each
    member keeps as many of its currently-owned partitions as its balanced
    quota allows — then apply the cooperative rule: any partition whose
    target owner differs from its CURRENT owner (a live group member) is
    withheld from this generation entirely. The current owner observes the
    revocation (the partition is absent from its new assignment) and
    rejoins; the follow-up rebalance finds the partition unowned and
    grants it to the target. Members therefore never release partitions
    they retain — no stop-the-world revocation, the property KIP-429
    exists for.

    Determinism: members, topics, and partitions are processed sorted, so
    the leader computes the same assignment on any engine/run."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m in members}
    for topic in sorted(parts_by_topic):
        parts = sorted(parts_by_topic[topic])
        subs = sorted(m for m, ts in members.items() if topic in ts)
        if not subs:
            continue
        # current ownership among live subscribers (duplicate claims keep
        # the sorted-first member, mirroring the released assignor's
        # highest-generation tiebreak collapsed to one generation)
        owner: dict[int, str] = {}
        for m in subs:
            for p in owned.get(m, {}).get(topic, ()):
                owner.setdefault(p, m)
        base, extra = divmod(len(parts), len(subs))
        quota = {m: base + (1 if i < extra else 0) for i, m in enumerate(subs)}
        target: dict[int, str] = {}
        # sticky retention: owners keep their partitions up to quota
        for m in subs:
            kept = [p for p in parts if owner.get(p) == m][: quota[m]]
            for p in kept:
                target[p] = m
        # remaining partitions fill members still below quota
        assigned = {m: sum(1 for p, o in target.items() if o == m) for m in subs}
        for p in parts:
            if p in target:
                continue
            for m in subs:
                if assigned[m] < quota[m]:
                    target[p] = m
                    assigned[m] += 1
                    break
        # cooperative rule: moving partitions are withheld this round
        for p in parts:
            m = target[p]
            cur = owner.get(p)
            if cur is not None and cur != m:
                continue  # revoked from cur, granted to m NEXT round
            out[m].setdefault(topic, []).append(p)
    return out


# --------------------------------------------------------------------------
# broker
# --------------------------------------------------------------------------

class _CloseConn(Exception):
    """Raised by the broker's dispatcher to drop a connection that sends a
    data request before SASL authentication completes (real-broker
    behavior: no error frame, just a closed socket)."""


class _Group:
    """Group-coordinator state for one consumer group (the single broker
    is always the coordinator). States follow the published lifecycle:
    Empty -> Rebalancing (a join window is open) -> AwaitingSync (the
    leader computes assignments) -> Stable."""

    def __init__(self):
        self.generation = 0
        self.state = "Empty"
        self.members: dict[str, dict] = {}  # id -> {meta, hb, session_s, rejoined, protos}
        self.leader: str | None = None
        self.protocol: str | None = "range"
        self.assignments: dict[str, bytes] = {}
        # generation the current assignments belong to: a sync waiter whose
        # generation's assignment landed gets it even if a cooperative
        # member's immediate rejoin has already flipped the state back to
        # Rebalancing (real brokers answer from the in-flight response)
        self.assign_gen = -1
        self.next_member = 0
        self.join_deadline: float | None = None
        self.cv: threading.Condition | None = None  # bound to the glock


class MiniKafkaBroker:
    """In-process single-node broker: threaded TCP accept loop, in-memory
    per-(topic, partition) logs, consumer-group offset store. Topics
    auto-create with ``num_partitions`` on first Metadata/Produce touch
    (auto.create.topics.enable parity)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, num_partitions: int = 2,
                 tls_cert_file: str | None = None, tls_key_file: str | None = None,
                 sasl_users: dict[str, str] | None = None,
                 sasl_mechanisms: tuple[str, ...] = (
                     "PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512"),
                 tls_client_ca_file: str | None = None,
                 oauth_allowed_subs: set[str] | None = None):
        self.host = host
        self.num_partitions = num_partitions
        # SASL credential store; when set, every connection must complete
        # SaslHandshake + SaslAuthenticate before any data API (real brokers
        # close unauthenticated connections; so does this one). PLAIN keeps
        # the cleartext map; SCRAM derives and stores ONLY (salt, iterations,
        # StoredKey, ServerKey) per (mechanism, user) — the RFC 5802 server
        # storage model, so the exchange below never touches a password.
        self._sasl_users = sasl_users
        # OAUTHBEARER with the KIP-255 unsecured validator accepts any
        # self-minted alg=none JWT, so enabling it by default would give
        # every credential-enforcing PLAIN/SCRAM broker a bypass (ADVICE r9
        # #2). It is an opt-in: listed explicitly, or implied by supplying
        # an oauth_allowed_subs principal allowlist.
        mechs = tuple(sasl_mechanisms)
        if oauth_allowed_subs is not None and "OAUTHBEARER" not in mechs:
            mechs += ("OAUTHBEARER",)
        self._sasl_mechanisms = mechs
        self._scram_creds: dict[tuple[str, str], tuple[bytes, int, bytes, bytes]] = {}
        # Unknown-user requests get deterministic fake credentials (keyed
        # HMAC of the username) so the first SCRAM round is indistinguishable
        # from a real user and enumeration via timing/shape is not possible;
        # the proof then fails exactly like a wrong password.
        self._scram_decoy_key = secrets.token_bytes(32)
        # OAUTHBEARER principal allowlist; None accepts any valid token
        # (the KIP-255 unsecured-validator default)
        self._oauth_allowed_subs = oauth_allowed_subs
        for mech in self._sasl_mechanisms:
            if mech not in _SCRAM_HASHES:
                continue
            for user, password in (sasl_users or {}).items():
                salt = secrets.token_bytes(16)
                _, stored, server = _scram_derive(
                    mech, password, salt, _SCRAM_ITERATIONS)
                self._scram_creds[(mech, user)] = (
                    salt, _SCRAM_ITERATIONS, stored, server)
        # tls_client_ca_file: mutual TLS (ssl.client.auth=required parity)
        ssl_ctx = (wire.server_context(tls_cert_file, tls_key_file,
                                       tls_client_ca_file)
                   if tls_cert_file else None)
        # log entry: (key, value, ts, headers, txn_pid | None, ctrl | None)
        # — txn_pid marks records produced inside a transaction, ctrl marks
        # commit/abort control markers (they occupy offsets, never deliver)
        self._logs: dict[tuple[str, int], list[tuple]] = {}
        self._topics: dict[str, int] = {}
        self._group_offsets: dict[tuple[str, str, int], int] = {}
        self._lock = threading.Lock()
        # transaction coordinator state (InitProducerId/AddPartitionsToTxn/
        # EndTxn): txn_id -> pid/epoch + the open txn's partitions and
        # per-partition first offsets; aborted txns index per partition
        self._txn_ids: dict[str, tuple[int, int]] = {}
        self._open_txns: dict[int, dict] = {}  # pid -> {parts, first}
        self._aborted: dict[tuple[str, int], list[tuple[int, int, int]]] = {}
        self._next_pid = 1000
        # group coordinator: its own lock so a blocking join barrier never
        # stalls produce/fetch traffic on other connections
        self._glock = threading.Lock()
        self._groups: dict[str, _Group] = {}
        self.join_window_s = 0.2  # delayed-join window (group.initial.rebalance.delay)
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self.port = self._srv.getsockname()[1]
        self._srv.listen(16)
        wire.accept_loop(self._srv, self._serve_conn, ssl_ctx)

    @property
    def bootstrap(self) -> str:
        return f"{self.host}:{self.port}"

    def close(self) -> None:
        try:
            self._srv.close()
        except OSError:
            pass

    # -- test/inspection helpers -------------------------------------------
    def log(self, topic: str, partition: int):
        """(key, value) pairs — the v0 view of the stored log."""
        with self._lock:
            return [
                (e[0], e[1]) for e in self._logs.get((topic, partition), [])
            ]

    def log_records(self, topic: str, partition: int):
        """Full stored tuples: (key, value, timestamp_ms|None, headers)."""
        with self._lock:
            return list(self._logs.get((topic, partition), []))

    def committed(self, group: str, topic: str, partition: int) -> int:
        with self._lock:
            return self._group_offsets.get((group, topic, partition), -1)

    def _ensure_topic(self, topic: str) -> None:
        if topic not in self._topics:
            self._topics[topic] = self.num_partitions
            for p in range(self.num_partitions):
                self._logs[(topic, p)] = []

    # -- wire loop ----------------------------------------------------------
    def _serve_conn(self, conn: socket.socket) -> None:
        # Per-connection SASL session state: authenticated-from-birth when
        # the broker carries no credential store.
        state = {"authenticated": self._sasl_users is None, "handshake": False}
        try:
            while True:
                (size,) = struct.unpack(">i", wire.recv_exact(conn, 4))
                frame = wire.recv_exact(conn, size)
                try:
                    resp = self._handle(frame, state)
                except _CloseConn:
                    return  # unauthenticated data request: drop the link
                if resp is not None:  # acks=0 Produce: no response frame
                    conn.sendall(_i32(len(resp)) + resp)
        except OSError:
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def _handle(self, frame: bytes, state: dict | None = None) -> bytes | None:
        state = state if state is not None else {"authenticated": True}
        r = _Reader(frame)
        api_key, _api_version, corr_id = r.i16(), r.i16(), r.i32()
        r.string()  # client_id
        # Pre-auth, only ApiVersions and the SASL pair are reachable — a
        # real broker closes the connection on anything else.
        if not state["authenticated"] and api_key not in (
            API_VERSIONS, API_SASL_HANDSHAKE, API_SASL_AUTHENTICATE,
        ):
            raise _CloseConn()
        if api_key == API_SASL_HANDSHAKE:
            body = self._sasl_handshake(r, state)
        elif api_key == API_SASL_AUTHENTICATE:
            body = self._sasl_authenticate(r, state)
        elif api_key == API_PRODUCE:
            body = self._produce(r, _api_version)
        elif api_key == API_FETCH:
            body = self._fetch(r, _api_version)
        elif api_key == API_JOIN_GROUP:
            body = self._join_group(r)
        elif api_key == API_SYNC_GROUP:
            body = self._sync_group(r)
        elif api_key == API_HEARTBEAT:
            body = self._heartbeat(r)
        elif api_key == API_LEAVE_GROUP:
            body = self._leave_group(r)
        elif api_key == API_INIT_PRODUCER_ID:
            body = self._init_producer_id(r)
        elif api_key == API_ADD_PARTITIONS_TO_TXN:
            body = self._add_partitions_to_txn(r)
        elif api_key == API_END_TXN:
            body = self._end_txn(r)
        else:
            body = {
                API_METADATA: self._metadata,
                API_OFFSET_COMMIT: self._offset_commit,
                API_OFFSET_FETCH: self._offset_fetch,
                API_VERSIONS: self._api_versions,
            }[api_key](r)
        return None if body is None else _i32(corr_id) + body

    # -- group coordinator (JoinGroup/SyncGroup/Heartbeat/LeaveGroup v0) ---

    def _group(self, group_id: str) -> _Group:
        g = self._groups.get(group_id)
        if g is None:
            g = self._groups[group_id] = _Group()
            g.cv = threading.Condition(self._glock)
        return g

    @staticmethod
    def _evict_expired(g: _Group, now: float) -> bool:
        dead = [
            m for m, info in g.members.items()
            if now - info["hb"] > info["session_s"]
        ]
        for m in dead:
            del g.members[m]
            g.assignments.pop(m, None)
        return bool(dead)

    def _join_group(self, r: _Reader) -> bytes:
        group_id = r.string() or ""
        session_ms = r.i32()
        member_id = r.string() or ""
        r.string()  # protocol_type ("consumer")
        n_protocols = r.i32()
        protos: list[tuple[str, bytes]] = []
        for _ in range(n_protocols):
            name = r.string() or ""
            meta = r.bytes() or b""
            protos.append((name, meta))
        if not protos:
            protos = [("range", b"")]
        proto_meta = protos[0][1]
        with self._glock:
            g = self._group(group_id)
            now = time.monotonic()
            self._evict_expired(g, now)
            if member_id and member_id not in g.members:
                # stale id from a previous generation: caller must rejoin
                # with an empty id (the published UNKNOWN_MEMBER_ID dance)
                return (
                    _i16(ERR_UNKNOWN_MEMBER_ID) + _i32(-1) + _string("")
                    + _string("") + _string(member_id) + _i32(0)
                )
            if not member_id:
                member_id = f"{group_id}-member-{g.next_member}"
                g.next_member += 1
            g.members[member_id] = {
                "meta": proto_meta, "hb": now,
                "session_s": max(session_ms, 1000) / 1000.0, "rejoined": True,
                "protos": [p for p, _ in protos],
            }
            # any join (re)opens the barrier: known members get a window to
            # rejoin (delayed-join), then the roster is frozen
            if g.state != "Rebalancing":
                g.state = "Rebalancing"
                g.join_deadline = now + self.join_window_s
            else:
                # a straggler rejoining extends the window (the published
                # delayed-join behavior, bounded by the rebalance timeout)
                g.join_deadline = max(
                    g.join_deadline or 0, now + self.join_window_s
                )
            g.cv.notify_all()
            while (
                g.state == "Rebalancing"
                and time.monotonic() < (g.join_deadline or 0)
            ):
                g.cv.wait(timeout=0.05)
            if g.state == "Rebalancing":
                # first thread past the deadline finalizes the roster:
                # members that did not rejoin this round are dropped (their
                # next heartbeat/sync answers UNKNOWN_MEMBER_ID)
                for m in [m for m, i_ in g.members.items() if not i_["rejoined"]]:
                    del g.members[m]
                for info in g.members.values():
                    info["rejoined"] = False
                g.generation += 1
                g.leader = min(g.members) if g.members else None
                g.assignments = {}
                # Protocol selection (the published coordinator rule):
                # the leader's most-preferred protocol that EVERY member
                # supports; no common protocol is the
                # INCONSISTENT_GROUP_PROTOCOL error every joiner sees.
                g.protocol = None
                if g.leader is not None:
                    for p in g.members[g.leader].get("protos", ["range"]):
                        if all(
                            p in i_.get("protos", ["range"])
                            for i_ in g.members.values()
                        ):
                            g.protocol = p
                            break
                g.state = "AwaitingSync"
                g.cv.notify_all()
            gen, leader = g.generation, g.leader or ""
            selected = g.protocol
            members_out = (
                list(g.members.items()) if member_id == leader else []
            )
        if selected is None:
            return (
                _i16(ERR_INCONSISTENT_GROUP_PROTOCOL) + _i32(-1)
                + _string("") + _string("") + _string(member_id) + _i32(0)
            )
        body = (
            _i16(ERR_NONE) + _i32(gen) + _string(selected)
            + _string(leader) + _string(member_id) + _i32(len(members_out))
        )
        for m, info in members_out:
            body += _string(m) + _bytes(info["meta"])
        return body

    def _sync_group(self, r: _Reader) -> bytes:
        group_id = r.string() or ""
        gen = r.i32()
        member_id = r.string() or ""
        n = r.i32()
        proposed = {}
        for _ in range(n):
            # read order matters: assignment-target subscripts evaluate
            # AFTER the right-hand side in Python
            m = r.string() or ""
            proposed[m] = r.bytes() or b""
        with self._glock:
            g = self._group(group_id)
            if member_id not in g.members:
                return _i16(ERR_UNKNOWN_MEMBER_ID) + _bytes(b"")
            if gen != g.generation:
                return _i16(ERR_ILLEGAL_GENERATION) + _bytes(b"")
            if member_id == g.leader and proposed:
                g.assignments = proposed
                g.assign_gen = gen
                g.state = "Stable"
                g.cv.notify_all()
            deadline = time.monotonic() + 5.0
            while g.assign_gen != gen and g.generation == gen:
                if not g.cv.wait(timeout=max(deadline - time.monotonic(), 0.01)):
                    if time.monotonic() >= deadline:
                        return _i16(ERR_REBALANCE_IN_PROGRESS) + _bytes(b"")
            if g.assign_gen != gen:
                return _i16(ERR_ILLEGAL_GENERATION) + _bytes(b"")
            return _i16(ERR_NONE) + _bytes(g.assignments.get(member_id, b""))

    def _heartbeat(self, r: _Reader) -> bytes:
        group_id = r.string() or ""
        gen = r.i32()
        member_id = r.string() or ""
        with self._glock:
            g = self._group(group_id)
            if self._evict_expired(g, time.monotonic()) and g.members:
                g.state = "Rebalancing"
                g.join_deadline = time.monotonic() + self.join_window_s
                g.cv.notify_all()
            if member_id not in g.members:
                return _i16(ERR_UNKNOWN_MEMBER_ID)
            g.members[member_id]["hb"] = time.monotonic()
            if gen != g.generation:
                return _i16(ERR_ILLEGAL_GENERATION)
            if g.state != "Stable":
                return _i16(ERR_REBALANCE_IN_PROGRESS)
            return _i16(ERR_NONE)

    # -- transaction coordinator (InitProducerId 22 / AddPartitionsToTxn
    # 24 / EndTxn 26, all v0; the single broker is always the txn
    # coordinator, like the group side) -------------------------------------

    def _init_producer_id(self, r: _Reader) -> bytes:
        """InitProducerId v0: (transactional_id?, txn_timeout_ms) ->
        throttle + error + producer_id + producer_epoch. Re-initializing a
        known transactional_id bumps the epoch and ABORTS any transaction
        the previous incarnation left open (the published zombie-fencing
        semantics)."""
        txn_id = r.string()
        r.i32()  # transaction_timeout_ms
        with self._lock:
            if txn_id is None:
                pid = self._next_pid
                self._next_pid += 1
                return _i32(0) + _i16(ERR_NONE) + _i64(pid) + _i16(0)
            prev = self._txn_ids.get(txn_id)
            if prev is None:
                pid, epoch = self._next_pid, 0
                self._next_pid += 1
            else:
                pid, epoch = prev[0], prev[1] + 1
                self._abort_open_txn_locked(pid)
            self._txn_ids[txn_id] = (pid, epoch)
            return _i32(0) + _i16(ERR_NONE) + _i64(pid) + _i16(epoch)

    def _check_txn_locked(self, txn_id: str | None, pid: int, epoch: int) -> int:
        known = self._txn_ids.get(txn_id or "")
        if known is None or known[0] != pid:
            return ERR_INVALID_PRODUCER_ID_MAPPING
        if known[1] != epoch:
            return ERR_INVALID_TXN_STATE  # fenced by a newer incarnation
        return ERR_NONE

    def _add_partitions_to_txn(self, r: _Reader) -> bytes:
        txn_id = r.string()
        pid, epoch = r.i64(), r.i16()
        n_topics = r.i32()
        wanted: list[tuple[str, int]] = []
        for _ in range(n_topics):
            t = r.string() or ""
            for _ in range(r.i32()):
                wanted.append((t, r.i32()))
        with self._lock:
            err = self._check_txn_locked(txn_id, pid, epoch)
            if err == ERR_NONE:
                txn = self._open_txns.setdefault(
                    pid, {"parts": set(), "first": {}}
                )
                for t, p in wanted:
                    self._ensure_topic(t)
                    txn["parts"].add((t, p))
        by_topic: dict[str, list[int]] = {}
        for t, p in wanted:
            by_topic.setdefault(t, []).append(p)
        body = _i32(0) + _i32(len(by_topic))
        for t, ps in by_topic.items():
            body += _string(t) + _i32(len(ps))
            for p in ps:
                body += _i32(p) + _i16(err)
        return body

    def _abort_open_txn_locked(self, pid: int) -> None:
        txn = self._open_txns.pop(pid, None)
        if txn is None:
            return
        for (t, p) in sorted(txn["parts"]):
            log = self._logs.get((t, p))
            if log is None:
                continue
            first = txn["first"].get((t, p))
            if first is not None:
                # (pid, first, marker_off): marker_off is the offset the
                # abort control marker lands on (len(log) pre-append) — the
                # fetch handler overlap-filters the index with it so a
                # consumer resuming PAST the marker never sees a stale open
                # range (real brokers return only entries overlapping the
                # fetched range; see ADVICE r9 #1).
                self._aborted.setdefault((t, p), []).append(
                    (pid, first, len(log)))
            k, v = encode_control_record(False)
            log.append((k, v, -1, [], pid, CTRL_ABORT))

    def _end_txn(self, r: _Reader) -> bytes:
        """EndTxn v0: writes a commit/abort CONTROL marker batch to every
        partition the transaction touched (occupying one offset each),
        records aborted ranges for the Fetch v4 aborted_transactions
        index, and closes the transaction (advancing the LSO)."""
        txn_id = r.string()
        pid, epoch = r.i64(), r.i16()
        committed = r.i8() != 0
        with self._lock:
            err = self._check_txn_locked(txn_id, pid, epoch)
            if err != ERR_NONE:
                return _i32(0) + _i16(err)
            txn = self._open_txns.pop(pid, None)
            if txn is not None:
                for (t, p) in sorted(txn["parts"]):
                    log = self._logs.get((t, p))
                    if log is None:
                        continue
                    first = txn["first"].get((t, p))
                    if not committed and first is not None:
                        self._aborted.setdefault((t, p), []).append(
                            (pid, first, len(log))
                        )
                    k, v = encode_control_record(committed)
                    log.append(
                        (k, v, -1, [], pid,
                         CTRL_COMMIT if committed else CTRL_ABORT)
                    )
            return _i32(0) + _i16(ERR_NONE)

    def _lso_locked(self, topic: str, pid: int) -> int:
        """Last stable offset: the first offset of any OPEN transaction on
        the partition, else the high watermark — read_committed consumers
        never see past it."""
        hw = len(self._logs.get((topic, pid), ()))
        firsts = [
            txn["first"][(topic, pid)]
            for txn in self._open_txns.values()
            if (topic, pid) in txn["first"]
        ]
        return min(firsts) if firsts else hw

    def _leave_group(self, r: _Reader) -> bytes:
        group_id = r.string() or ""
        member_id = r.string() or ""
        with self._glock:
            g = self._group(group_id)
            g.members.pop(member_id, None)
            g.assignments.pop(member_id, None)
            if g.members:
                # survivors rediscover via REBALANCE_IN_PROGRESS heartbeats
                g.state = "Rebalancing"
                g.join_deadline = time.monotonic() + self.join_window_s
            else:
                g.state = "Empty"
            g.cv.notify_all()
        return _i16(ERR_NONE)

    def _sasl_handshake(self, r: _Reader, state: dict) -> bytes:
        """SaslHandshake v0/v1 (api_key 17): mechanism -> error_code +
        enabled_mechanisms (the broker's configured list)."""
        mech = r.string()
        ok = mech in self._sasl_mechanisms and (
            mech == "PLAIN" or mech in _SCRAM_HASHES or mech == "OAUTHBEARER"
        )
        state["handshake"] = ok
        state["mech"] = mech if ok else None
        state["scram"] = None
        state["oauth_failed"] = False
        err = ERR_NONE if ok else ERR_UNSUPPORTED_SASL_MECHANISM
        out = _i16(err) + _i32(len(self._sasl_mechanisms))
        for m in self._sasl_mechanisms:
            out += _string(m)
        return out

    def _sasl_authenticate(self, r: _Reader, state: dict) -> bytes:
        """SaslAuthenticate v0 (api_key 36): auth_bytes -> error_code +
        error_message + auth_bytes. PLAIN is one round (RFC 4616 token:
        [authzid] NUL authcid NUL passwd); SCRAM is two rounds
        (client-first/server-first, client-final/server-final) carried in
        auth_bytes — the same framing real brokers use."""
        if not state["handshake"]:
            return (
                _i16(ERR_ILLEGAL_SASL_STATE)
                + _string("SaslHandshake must precede SaslAuthenticate")
                + _bytes(b"")
            )
        token = r.bytes() or b""
        if state["mech"] in _SCRAM_HASHES:
            return self._sasl_scram_round(token, state)
        if state["mech"] == "OAUTHBEARER":
            return self._sasl_oauth_round(token, state)
        parts = token.split(b"\x00")
        ok = False
        if len(parts) == 3:
            user, pw = parts[1].decode("utf-8"), parts[2].decode("utf-8")
            ok = (self._sasl_users or {}).get(user) == pw
        if ok:
            state["authenticated"] = True
            return _i16(ERR_NONE) + _string(None) + _bytes(b"")
        return (
            _i16(ERR_SASL_AUTH_FAILED)
            + _string("authentication failed: invalid credentials")
            + _bytes(b"")
        )

    def _sasl_oauth_round(self, token: bytes, state: dict) -> bytes:
        """OAUTHBEARER (RFC 7628 §3): client-first is
        ``gs2-header \\x01 auth=Bearer <token> \\x01 \\x01``. On a bad
        token the server answers with the RFC's JSON error document AS A
        CHALLENGE (error_code 0), the client must reply with the \\x01
        dummy response, and only THEN does the server fail the
        authentication — the published two-step failure dance, pinned in
        tests. Token validation is the KIP-255 unsecured-JWS rule set
        (alg none, unexpired, sub present, optionally allow-listed)."""
        if state.get("oauth_failed"):
            # the dummy \x01 client response after the error challenge
            state["oauth_failed"] = False
            return (
                _i16(ERR_SASL_AUTH_FAILED)
                + _string("authentication failed: invalid OAuth token")
                + _bytes(b"")
            )

        def fail_challenge(reason: str) -> bytes:
            import json as _json

            state["oauth_failed"] = True
            doc = _json.dumps({"status": reason})
            return _i16(ERR_NONE) + _string(None) + _bytes(doc.encode())

        try:
            msg = token.decode("utf-8")
        except UnicodeDecodeError:
            return fail_challenge("invalid_request")
        # gs2-header "n,," (optionally with authzid) then \x01-separated
        # key=value pairs ending with \x01\x01
        if "\x01" not in msg or not msg.startswith(("n,", "y,")):
            return fail_challenge("invalid_request")
        kvs = msg.split("\x01")
        bearer = None
        for kv in kvs[1:]:
            if kv.startswith("auth="):
                bearer = kv[len("auth="):]
        if not bearer or not bearer.startswith("Bearer "):
            return fail_challenge("invalid_request")
        try:
            claims = _parse_unsecured_jwt(bearer[len("Bearer "):])
        except ValueError as ex:
            return fail_challenge(str(ex).split(":")[0])
        allowed = self._oauth_allowed_subs
        if allowed is not None and claims["sub"] not in allowed:
            return fail_challenge("invalid_token")
        state["authenticated"] = True
        return _i16(ERR_NONE) + _string(None) + _bytes(b"")

    def _sasl_scram_round(self, token: bytes, state: dict) -> bytes:
        """One SCRAM message (RFC 5802 §5). Round 1 parses client-first and
        answers server-first; round 2 verifies the proof against StoredKey
        (recovered ClientKey must hash back to it — the password itself is
        neither stored nor sent) and answers server-final with the
        ServerKey signature the client verifies for mutual auth."""

        def fail(msg: str) -> bytes:
            state["scram"] = None
            return _i16(ERR_SASL_AUTH_FAILED) + _string(msg) + _bytes(b"")

        mech = state["mech"]
        algo = _SCRAM_HASHES[mech]
        try:
            msg = token.decode("utf-8")
        except UnicodeDecodeError:
            return fail("SCRAM message is not UTF-8")
        sc = state.get("scram")
        if sc is None:
            # client-first-message = gs2-header client-first-message-bare
            if not msg.startswith(("n,,", "y,,")):
                return fail("unsupported gs2 header (channel binding)")
            gs2, bare = msg[:3], msg[3:]
            attrs = _scram_attrs(bare)
            if "m" in attrs or "n" not in attrs or "r" not in attrs:
                return fail("malformed client-first-message")
            user = _saslname_unescape(attrs["n"])
            creds = self._scram_creds.get((mech, user))
            if creds is None:
                # deterministic decoy (see __init__) — same shape, proof
                # cannot succeed because StoredKey is unguessable.
                seed = _hmac.new(
                    self._scram_decoy_key, f"{mech}:{user}".encode(), algo
                ).digest()
                creds = (seed[:16], _SCRAM_ITERATIONS,
                         seed, seed[::-1] or seed)
            salt, iterations, stored_key, server_key = creds
            nonce = attrs["r"] + base64.b64encode(
                secrets.token_bytes(18)).decode("ascii")
            server_first = (
                f"r={nonce},s={base64.b64encode(salt).decode('ascii')}"
                f",i={iterations}"
            )
            state["scram"] = {
                "gs2": gs2, "bare": bare, "nonce": nonce,
                "server_first": server_first, "stored_key": stored_key,
                "server_key": server_key,
            }
            return _i16(ERR_NONE) + _string(None) + _bytes(
                server_first.encode("utf-8"))
        # client-final-message
        attrs = _scram_attrs(msg)
        idx = msg.rfind(",p=")
        if idx < 0 or "r" not in attrs or "c" not in attrs:
            return fail("malformed client-final-message")
        expect_c = base64.b64encode(sc["gs2"].encode("ascii")).decode("ascii")
        if attrs["c"] != expect_c:
            return fail("channel-binding mismatch")
        if attrs["r"] != sc["nonce"]:
            return fail("nonce mismatch")
        try:
            proof = base64.b64decode(attrs["p"], validate=True)
        except Exception:
            return fail("proof is not base64")
        auth_message = (
            sc["bare"] + "," + sc["server_first"] + "," + msg[:idx]
        ).encode("utf-8")
        client_sig = _hmac.new(sc["stored_key"], auth_message, algo).digest()
        if len(proof) != len(client_sig):
            return fail("authentication failed: invalid credentials")
        client_key = _xor(proof, client_sig)
        if not _hmac.compare_digest(
            hashlib.new(algo, client_key).digest(), sc["stored_key"]
        ):
            return fail("authentication failed: invalid credentials")
        server_sig = _hmac.new(sc["server_key"], auth_message, algo).digest()
        state["authenticated"] = True
        state["scram"] = None
        final = b"v=" + base64.b64encode(server_sig)
        return _i16(ERR_NONE) + _string(None) + _bytes(final)

    def _api_versions(self, r: _Reader) -> bytes:
        # (api_key, max_version): Produce v3 / Fetch v4 are the first
        # versions that carry RecordBatch v2 on the wire.
        keys = [(API_PRODUCE, 3), (API_FETCH, 4), (API_METADATA, 0),
                (API_INIT_PRODUCER_ID, 0), (API_ADD_PARTITIONS_TO_TXN, 0),
                (API_END_TXN, 0),
                (API_OFFSET_COMMIT, 0), (API_OFFSET_FETCH, 0),
                (API_JOIN_GROUP, 0), (API_HEARTBEAT, 0),
                (API_LEAVE_GROUP, 0), (API_SYNC_GROUP, 0),
                (API_SASL_HANDSHAKE, 1), (API_VERSIONS, 0),
                (API_SASL_AUTHENTICATE, 0)]
        out = _i16(ERR_NONE) + _i32(len(keys))
        for k, vmax in keys:
            out += _i16(k) + _i16(0) + _i16(vmax)
        return out

    def _metadata(self, r: _Reader) -> bytes:
        n = r.i32()
        requested = [r.string() for _ in range(n)]
        with self._lock:
            for t in requested:
                if t:
                    self._ensure_topic(t)
            topics = requested if requested else list(self._topics)
            out = _i32(1) + _i32(0) + _string(self.host) + _i32(self.port)
            out += _i32(len(topics))
            for t in topics:
                nparts = self._topics.get(t, 0)
                out += _i16(ERR_NONE) + _string(t) + _i32(nparts)
                for p in range(nparts):
                    out += (
                        _i16(ERR_NONE) + _i32(p) + _i32(0)
                        + _i32(1) + _i32(0)   # replicas [0]
                        + _i32(1) + _i32(0)   # isr [0]
                    )
        return out

    def _produce(self, r: _Reader, version: int = 0) -> bytes | None:
        txn_id = None
        if version >= 3:
            txn_id = r.string()  # transactional_id (v3+)
        acks = r.i16()  # 0 = fire-and-forget: append but send NO response
        r.i32()  # timeout
        n_topics = r.i32()
        out_topics = b""
        with self._lock:
            for _ in range(n_topics):
                topic = r.string() or ""
                self._ensure_topic(topic)
                n_parts = r.i32()
                parts_out = b""
                for _ in range(n_parts):
                    pid = r.i32()
                    ms = r.take(r.i32())
                    log = self._logs.get((topic, pid))
                    if log is None:
                        parts_out += _i32(pid) + _i16(ERR_UNKNOWN_TOPIC) + _i64(-1)
                        continue
                    base = len(log)
                    try:
                        if version >= 3:  # record batches v2 (magic 2)
                            batches = decode_record_batches_v2_ex(ms)
                            err = ERR_NONE
                            for b_pid, b_txn, _ctrl, entries in batches:
                                if b_txn:
                                    txn = self._open_txns.get(b_pid)
                                    if txn is None or (topic, pid) not in txn[
                                        "parts"
                                    ]:
                                        # partition never added to the txn
                                        err = ERR_INVALID_TXN_STATE
                                        break
                            if err != ERR_NONE:
                                parts_out += _i32(pid) + _i16(err) + _i64(-1)
                                continue
                            for b_pid, b_txn, _ctrl, entries in batches:
                                if b_txn:
                                    txn = self._open_txns[b_pid]
                                    txn["first"].setdefault(
                                        (topic, pid), len(log)
                                    )
                                for _off, key, value, ts, hdrs in entries:
                                    log.append((
                                        key, value, ts, hdrs,
                                        b_pid if b_txn else None, None,
                                    ))
                        else:  # MessageSet v0: no timestamps/headers
                            for _off, key, value in decode_message_set(ms):
                                log.append((key, value, None, [], None, None))
                        parts_out += _i32(pid) + _i16(ERR_NONE) + _i64(base)
                    except (ValueError, struct.error):
                        # struct.error: a truncated batch can underflow any
                        # fixed-width unpack in the decode path — same
                        # protocol answer as a framing ValueError.
                        parts_out += _i32(pid) + _i16(ERR_CORRUPT) + _i64(-1)
                out_topics += _string(topic) + _i32(n_parts) + parts_out
        if acks == 0:
            return None  # protocol: acks=0 producers get no Produce response
        body = _i32(n_topics) + out_topics
        if version >= 1:
            body += _i32(0)  # throttle_time_ms (tail position through v3)
        return body

    def _fetch(self, r: _Reader, version: int = 0) -> bytes:
        r.i32()  # replica_id
        r.i32()  # max_wait
        r.i32()  # min_bytes
        if version >= 3:
            r.i32()  # top-level max_bytes
        isolation = 0
        if version >= 4:
            isolation = r.i8()  # 0=read_uncommitted, 1=read_committed
        n_topics = r.i32()
        out_topics = b""
        with self._lock:
            for _ in range(n_topics):
                topic = r.string() or ""
                n_parts = r.i32()
                parts_out = b""
                for _ in range(n_parts):
                    pid, off, max_bytes = r.i32(), r.i64(), r.i32()
                    log = self._logs.get((topic, pid))
                    if log is None:
                        parts_out += _i32(pid) + _i16(ERR_UNKNOWN_TOPIC) + _i64(-1)
                        if version >= 4:
                            parts_out += _i64(-1) + _i32(0)  # lso, no txns
                        parts_out += _i32(0)
                        continue
                    hw = len(log)
                    lso = self._lso_locked(topic, pid)
                    # read_committed: the broker serves nothing past the
                    # LSO; aborted data BELOW it still ships — the client
                    # filters with the aborted_transactions index, exactly
                    # like a real consumer
                    upper = lso if isolation == 1 else hw
                    entries, size = [], 0
                    for o in range(max(off, 0), upper):
                        key, value, ts, hdrs, tpid, ctrl = log[o]
                        sz = 26 + (len(key) if key else 0) + (len(value) if value else 0)
                        if entries and size + sz > max_bytes:
                            break
                        entries.append((o, key, value, ts, hdrs, tpid, ctrl))
                        size += sz
                    if version >= 4:
                        # one RecordBatch v2 per contiguous (producer, ctrl)
                        # run so txn/control metadata survives re-encoding;
                        # v0-produced entries carry the -1 null-ts sentinel
                        ms = b""
                        run: list = []

                        def _flush_run():
                            nonlocal ms, run
                            if not run:
                                return
                            _o0, *_rest = run[0]
                            tpid0, ctrl0 = run[0][5], run[0][6]
                            ms += encode_record_batch_v2(
                                run[0][0],
                                [
                                    (k, v, ts if ts is not None else -1, h)
                                    for _o, k, v, ts, h, _tp, _ct in run
                                ],
                                producer_id=tpid0 if tpid0 is not None else -1,
                                transactional=tpid0 is not None,
                                control=ctrl0 is not None,
                            )
                            run = []

                        for e in entries:
                            if run and (e[5], e[6] is not None) != (
                                run[-1][5], run[-1][6] is not None
                            ):
                                _flush_run()
                            run.append(e)
                        _flush_run()
                        # Overlap-filter like a real broker: only aborted
                        # ranges that intersect [fetch_off, upper) ship —
                        # the marker must be at/after the fetch start (else
                        # the client already consumed the close) and the
                        # range must begin below the served upper bound.
                        fetch_off = max(off, 0)
                        aborted = [
                            (apid, first)
                            for apid, first, marker_off in self._aborted.get(
                                (topic, pid), ()
                            )
                            if marker_off >= fetch_off and first < upper
                        ] if isolation == 1 else []
                        ab = _i32(len(aborted))
                        for apid, first in aborted:
                            ab += _i64(apid) + _i64(first)
                        parts_out += (
                            _i32(pid) + _i16(ERR_NONE) + _i64(hw)
                            + _i64(lso) + ab
                            + _i32(len(ms)) + ms
                        )
                    else:
                        ms = encode_message_set(
                            [(o, k, v) for o, k, v, _ts, _h, _tp, ct in entries
                             if ct is None]  # v0 never ships control markers
                        )
                        parts_out += (
                            _i32(pid) + _i16(ERR_NONE) + _i64(hw)
                            + _i32(len(ms)) + ms
                        )
                out_topics += _string(topic) + _i32(n_parts) + parts_out
        body = _i32(n_topics) + out_topics
        if version >= 1:
            body = _i32(0) + body  # throttle_time_ms leads the v1+ response
        return body

    def _offset_commit(self, r: _Reader) -> bytes:
        group = r.string() or ""
        n_topics = r.i32()
        out_topics = b""
        with self._lock:
            for _ in range(n_topics):
                topic = r.string() or ""
                n_parts = r.i32()
                parts_out = b""
                for _ in range(n_parts):
                    pid, off = r.i32(), r.i64()
                    r.string()  # metadata
                    self._group_offsets[(group, topic, pid)] = off
                    parts_out += _i32(pid) + _i16(ERR_NONE)
                out_topics += _string(topic) + _i32(n_parts) + parts_out
        return _i32(n_topics) + out_topics

    def _offset_fetch(self, r: _Reader) -> bytes:
        group = r.string() or ""
        n_topics = r.i32()
        out_topics = b""
        with self._lock:
            for _ in range(n_topics):
                topic = r.string() or ""
                n_parts = r.i32()
                parts_out = b""
                for _ in range(n_parts):
                    pid = r.i32()
                    off = self._group_offsets.get((group, topic, pid), -1)
                    parts_out += _i32(pid) + _i64(off) + _string("") + _i16(ERR_NONE)
                out_topics += _string(topic) + _i32(n_parts) + parts_out
        return _i32(n_topics) + out_topics


# --------------------------------------------------------------------------
# client
# --------------------------------------------------------------------------

class KafkaWireClient:
    """Blocking single-connection client for the v0 subset. One in-flight
    request at a time (correlation ids still checked)."""

    def __init__(self, bootstrap: str, client_id: str = "numaflow-spark",
                 tls: bool = False, tls_ca_file: str | None = None,
                 sasl_plain_username: str | None = None,
                 sasl_plain_password: str | None = None,
                 sasl_mechanism: str = "PLAIN",
                 tls_cert_file: str | None = None,
                 tls_key_file: str | None = None,
                 sasl_oauth_token: "str | None" = None):
        self._bootstrap = bootstrap
        self._client_id = client_id
        # security.protocol=SSL parity (reference kafka_source.go `tls`
        # block): full certificate verification; `tls_ca_file` points at a
        # private CA bundle (caCertSecret), else the system trust store.
        # tls_cert_file/tls_key_file present a CLIENT certificate (the
        # reference's certSecret/keySecret — mutual TLS).
        self._tls = tls
        self._tls_ca_file = tls_ca_file
        self._tls_cert_file = tls_cert_file
        self._tls_key_file = tls_key_file
        # SASL parity (reference kafka_source.go `sasl` block, mechanisms
        # plain / scram-sha-256 / scram-sha-512): the handshake runs on
        # every (re)connect, which makes it transparent to Spark's
        # pickle/reconnect cycle. The *_plain_* parameter names are kept
        # for back-compat; they carry the credentials for SCRAM too.
        if (sasl_mechanism != "PLAIN" and sasl_mechanism not in _SCRAM_HASHES
                and sasl_mechanism != "OAUTHBEARER"):
            raise ValueError(f"unsupported SASL mechanism {sasl_mechanism!r}")
        self._sasl_user = sasl_plain_username
        self._sasl_pass = sasl_plain_password
        self._sasl_mechanism = sasl_mechanism
        # OAUTHBEARER: a ready bearer token (KIP-255 unsecured JWS via
        # make_unsecured_jwt, or any signed JWT a real issuer minted).
        self._sasl_oauth_token = sasl_oauth_token
        self._sock: socket.socket | None = None
        self._corr = 0
        self._lock = threading.Lock()

    # Spark pickles the stream reader (and with it the source handle) into
    # python workers; a live socket cannot cross that boundary. Drop the
    # connection on serialize, reconnect lazily on first use afterward —
    # the protocol is stateless per request, so this is transparent.
    def __getstate__(self):
        return {"_bootstrap": self._bootstrap, "_client_id": self._client_id,
                "_tls": self._tls, "_tls_ca_file": self._tls_ca_file,
                "_sasl_user": self._sasl_user, "_sasl_pass": self._sasl_pass,
                "_sasl_mechanism": self._sasl_mechanism,
                "_tls_cert_file": self._tls_cert_file,
                "_tls_key_file": self._tls_key_file,
                "_sasl_oauth_token": self._sasl_oauth_token}

    def __setstate__(self, state):
        self.__init__(state["_bootstrap"], state["_client_id"],
                      state.get("_tls", False), state.get("_tls_ca_file"),
                      state.get("_sasl_user"), state.get("_sasl_pass"),
                      state.get("_sasl_mechanism", "PLAIN"),
                      state.get("_tls_cert_file"), state.get("_tls_key_file"),
                      state.get("_sasl_oauth_token"))

    def _ensure_sock(self) -> socket.socket:
        if self._sock is None:
            host, port = self._bootstrap.rsplit(":", 1)
            ctx = (wire.client_context(self._tls_ca_file, self._tls_cert_file,
                                       self._tls_key_file)
                   if self._tls else None)
            sock = wire.connect(host, int(port), 30, ctx)
            if self._sasl_user is not None or self._sasl_oauth_token is not None:
                self._sasl_exchange(sock)
            self._sock = sock
        return self._sock

    def _sasl_exchange(self, sock: socket.socket) -> None:
        """SaslHandshake v1 + SaslAuthenticate v0 on a fresh connection,
        before it is published as self._sock (kafka.apache.org/protocol;
        PLAIN token per RFC 4616). Raises ConnectionError on rejection so
        a bad credential fails loudly at first use, not as a hang."""

        def raw(api_key: int, version: int, body: bytes) -> _Reader:
            self._corr += 1
            frame = (
                _i16(api_key) + _i16(version) + _i32(self._corr)
                + _string(self._client_id) + body
            )
            sock.sendall(_i32(len(frame)) + frame)
            (size,) = struct.unpack(">i", wire.recv_exact(sock, 4))
            r = _Reader(wire.recv_exact(sock, size))
            if r.i32() != self._corr:
                raise ValueError("correlation id mismatch during SASL")
            return r

        mech = self._sasl_mechanism
        r = raw(API_SASL_HANDSHAKE, 1, _string(mech))
        err = r.i16()
        if err != ERR_NONE:
            mechs = [r.string() for _ in range(r.i32())]
            raise ConnectionError(
                f"SASL handshake rejected (error {err}); broker offers {mechs}"
            )

        def auth_round(payload: bytes) -> bytes:
            rr = raw(API_SASL_AUTHENTICATE, 0, _bytes(payload))
            e = rr.i16()
            m = rr.string()
            if e != ERR_NONE:
                raise ConnectionError(
                    f"SASL authentication failed (error {e}): {m}")
            return rr.bytes() or b""

        if mech == "PLAIN":
            token = b"\x00" + self._sasl_user.encode("utf-8") + b"\x00" + (
                self._sasl_pass or ""
            ).encode("utf-8")
            auth_round(token)
            return

        if mech == "OAUTHBEARER":
            # RFC 7628 client-first; on a bad token the server answers with
            # a JSON error document as a CHALLENGE, the client must send the
            # \x01 dummy response, and the failure lands on the next round.
            first = (
                "n,,\x01auth=Bearer " + (self._sasl_oauth_token or "")
                + "\x01\x01"
            ).encode("utf-8")
            challenge = auth_round(first)
            if challenge:
                try:
                    auth_round(b"\x01")
                except ConnectionError as ex:
                    raise ConnectionError(
                        f"OAUTHBEARER rejected: "
                        f"{challenge.decode('utf-8', 'replace')} ({ex})"
                    ) from None
                raise ConnectionError(
                    f"OAUTHBEARER rejected: "
                    f"{challenge.decode('utf-8', 'replace')}"
                )
            return

        # SCRAM (RFC 5802; SHA-256/512 per RFC 7677) over SaslAuthenticate
        # rounds. The client proves knowledge of the password without
        # sending it, and VERIFIES the server-final signature — a broker
        # that doesn't hold ServerKey (i.e. anything but the real broker)
        # cannot produce it, so auth is mutual.
        algo = _SCRAM_HASHES[mech]
        cnonce = base64.b64encode(secrets.token_bytes(18)).decode("ascii")
        bare = f"n={_saslname_escape(self._sasl_user)},r={cnonce}"
        server_first = auth_round(("n,," + bare).encode("utf-8")).decode("utf-8")
        attrs = _scram_attrs(server_first)
        nonce, salt_b64, iters = attrs.get("r", ""), attrs.get("s", ""), attrs.get("i", "")
        if not nonce.startswith(cnonce) or nonce == cnonce:
            raise ConnectionError("SCRAM server-first nonce mismatch")
        salt = base64.b64decode(salt_b64)
        iterations = int(iters)
        salted = hashlib.pbkdf2_hmac(
            algo, (self._sasl_pass or "").encode("utf-8"), salt, iterations)
        client_key = _hmac.new(salted, b"Client Key", algo).digest()
        stored_key = hashlib.new(algo, client_key).digest()
        without_proof = f"c=biws,r={nonce}"  # biws = b64("n,,")
        auth_message = (
            bare + "," + server_first + "," + without_proof
        ).encode("utf-8")
        client_sig = _hmac.new(stored_key, auth_message, algo).digest()
        proof = base64.b64encode(_xor(client_key, client_sig)).decode("ascii")
        server_final = auth_round(
            (without_proof + ",p=" + proof).encode("utf-8")).decode("utf-8")
        server_key = _hmac.new(salted, b"Server Key", algo).digest()
        expect_v = base64.b64encode(
            _hmac.new(server_key, auth_message, algo).digest()).decode("ascii")
        got_v = _scram_attrs(server_final).get("v", "")
        if not _hmac.compare_digest(got_v, expect_v):
            raise ConnectionError(
                "SCRAM server signature mismatch — the peer does not hold "
                "this user's ServerKey (not the real broker?)")

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            except OSError:
                pass
            self._sock = None

    def _send_only(self, api_key: int, body: bytes, version: int = 0) -> None:
        with self._lock:
            self._sock = self._ensure_sock()
            self._corr += 1
            frame = (
                _i16(api_key) + _i16(version) + _i32(self._corr)
                + _string(self._client_id) + body
            )
            self._sock.sendall(_i32(len(frame)) + frame)

    def _request(self, api_key: int, body: bytes, version: int = 0) -> _Reader:
        with self._lock:
            self._sock = self._ensure_sock()
            self._corr += 1
            corr = self._corr
            frame = (
                _i16(api_key) + _i16(version) + _i32(corr)
                + _string(self._client_id) + body
            )
            self._sock.sendall(_i32(len(frame)) + frame)
            (size,) = struct.unpack(">i", wire.recv_exact(self._sock, 4))
            resp = wire.recv_exact(self._sock, size)
        r = _Reader(resp)
        got = r.i32()
        if got != corr:
            raise ValueError(f"correlation id mismatch: sent {corr} got {got}")
        return r

    def metadata(self, topics: list[str] | None = None) -> dict[str, list[int]]:
        body = _i32(len(topics or []))
        for t in topics or []:
            body += _string(t)
        r = self._request(API_METADATA, body)
        n_brokers = r.i32()
        for _ in range(n_brokers):
            r.i32(), r.string(), r.i32()
        out: dict[str, list[int]] = {}
        for _ in range(r.i32()):
            err, name = r.i16(), r.string() or ""
            parts = []
            for _ in range(r.i32()):
                r.i16()
                pid = r.i32()
                r.i32()
                for _ in range(r.i32()):
                    r.i32()
                for _ in range(r.i32()):
                    r.i32()
                parts.append(pid)
            if err == ERR_NONE:
                out[name] = sorted(parts)
        return out

    def produce(
        self,
        topic: str,
        partition: int,
        records: list[tuple[bytes | None, bytes | None]],
        acks: int = 1,
    ) -> int:
        ms = encode_message_set([(0, k, v) for k, v in records])
        body = (
            _i16(acks) + _i32(5000) + _i32(1)
            + _string(topic) + _i32(1) + _i32(partition) + _i32(len(ms)) + ms
        )
        if acks == 0:
            # fire-and-forget: the protocol sends NO Produce response for
            # acks=0 — awaiting one would desynchronize the connection
            self._send_only(API_PRODUCE, body)
            return -1
        r = self._request(API_PRODUCE, body)
        r.i32()  # topic count
        r.string()
        r.i32()  # partition count
        r.i32()  # partition id
        err = r.i16()
        base = r.i64()
        if err != ERR_NONE:
            raise IOError(f"produce error {err} on {topic}/{partition}")
        return base

    def fetch(
        self, topic: str, partition: int, offset: int, max_bytes: int = 1 << 20
    ) -> tuple[list[tuple[int, bytes | None, bytes | None]], int]:
        """Returns (entries, high_watermark); entries CRC-validated."""
        body = (
            _i32(-1) + _i32(100) + _i32(1) + _i32(1)
            + _string(topic) + _i32(1)
            + _i32(partition) + _i64(offset) + _i32(max_bytes)
        )
        r = self._request(API_FETCH, body)
        r.i32()
        r.string()
        r.i32()
        r.i32()
        err = r.i16()
        hw = r.i64()
        ms = r.take(r.i32())
        if err != ERR_NONE:
            raise IOError(f"fetch error {err} on {topic}/{partition}")
        return decode_message_set(ms), hw

    def produce_records(
        self,
        topic: str,
        partition: int,
        records: list[
            tuple[bytes | None, bytes | None, int, list[tuple[str, bytes | None]]]
        ],
        acks: int = 1,
        compression: int = 0,
        *,
        transactional_id: str | None = None,
        producer_id: int = -1,
        producer_epoch: int = -1,
        base_sequence: int = -1,
    ) -> int:
        """Produce v3 carrying a RecordBatch v2: per-record timestamps
        (ms) and headers reach the wire; ``compression=GZIP`` compresses
        the records section per the published attributes bits. records:
        (key, value, timestamp_ms, headers). An empty list is a no-op
        (nothing to produce), not an opaque encoder IndexError."""
        if not records:
            return -1
        rb = encode_record_batch_v2(
            0, records, compression,
            producer_id=producer_id, producer_epoch=producer_epoch,
            base_sequence=base_sequence,
            transactional=transactional_id is not None,
        )
        body = (
            _string(transactional_id)  # transactional_id (v3+)
            + _i16(acks) + _i32(5000) + _i32(1)
            + _string(topic) + _i32(1) + _i32(partition) + _i32(len(rb)) + rb
        )
        if acks == 0:
            self._send_only(API_PRODUCE, body, version=3)
            return -1
        r = self._request(API_PRODUCE, body, version=3)
        r.i32()  # topic count
        r.string()
        r.i32()  # partition count
        r.i32()  # partition id
        err = r.i16()
        base = r.i64()
        if err != ERR_NONE:
            raise IOError(f"produce error {err} on {topic}/{partition}")
        return base

    def fetch_records(
        self, topic: str, partition: int, offset: int, max_bytes: int = 1 << 20,
        isolation: str = "read_uncommitted",
    ) -> tuple[
        list[tuple[int, bytes | None, bytes | None, int | None,
                   list[tuple[str, bytes | None]]]],
        int,
    ]:
        """Fetch v4 returning RecordBatch v2 entries: (offset, key, value,
        timestamp_ms | None, headers); CRC32C-validated. Entries produced
        through the v0 path carry the v2 null-timestamp sentinel (-1),
        surfaced as None."""
        iso = 1 if isolation == "read_committed" else 0
        body = (
            _i32(-1) + _i32(100) + _i32(1) + _i32(max_bytes) + _i8(iso)
            + _i32(1) + _string(topic) + _i32(1)
            + _i32(partition) + _i64(offset) + _i32(max_bytes)
        )
        r = self._request(API_FETCH, body, version=4)
        r.i32()  # throttle_time_ms (leads the v1+ Fetch response)
        r.i32()  # topic count
        r.string()
        r.i32()  # partition count
        r.i32()  # partition id
        err = r.i16()
        hw = r.i64()
        lso = r.i64()  # last_stable_offset
        aborted: list[tuple[int, int]] = []
        for _ in range(r.i32()):  # aborted_transactions index
            aborted.append((r.i64(), r.i64()))
        ms = r.take(r.i32())
        if err != ERR_NONE:
            raise IOError(f"fetch error {err} on {topic}/{partition}")
        # Client-side filtering — the published consumer algorithm:
        # control batches never reach the application; under
        # read_committed, a transactional batch is dropped when its
        # producer has an OPEN aborted range (first_offset from the
        # broker's aborted_transactions index, closed by that producer's
        # abort marker in the stream) covering it — so a LATER committed
        # transaction from the same producer still delivers.
        active: dict[int, list[int]] = {}
        for apid, afirst in aborted:
            active.setdefault(apid, []).append(afirst)
        out = []
        for b_pid, b_txn, b_ctrl, entries in decode_record_batches_v2_ex(ms):
            o = entries[0][0] if entries else -1
            if b_ctrl:
                if (
                    iso and b_pid in active and entries
                    and decode_control_type(entries[0][1]) == CTRL_ABORT
                ):
                    # the abort marker closes ranges that began before it
                    active[b_pid] = [f for f in active[b_pid] if f > o]
                continue
            if iso and b_txn and any(f <= o for f in active.get(b_pid, ())):
                continue
            out.extend(
                (eo, k, v, (None if ts == -1 else ts), h)
                for eo, k, v, ts, h in entries
            )
        return out, (lso if iso else hw)

    # -- transactions (InitProducerId 22 / AddPartitionsToTxn 24 /
    # EndTxn 26, all v0) ----------------------------------------------------

    def init_producer_id(
        self, transactional_id: str | None, timeout_ms: int = 60000
    ) -> tuple[int, int]:
        """(producer_id, producer_epoch); re-init of a known
        transactional_id bumps the epoch (zombie fencing) and aborts the
        previous incarnation's open transaction."""
        body = _string(transactional_id) + _i32(timeout_ms)
        r = self._request(API_INIT_PRODUCER_ID, body)
        r.i32()  # throttle
        err = r.i16()
        if err != ERR_NONE:
            raise IOError(f"InitProducerId error {err}")
        return r.i64(), r.i16()

    def add_partitions_to_txn(
        self, transactional_id: str, producer_id: int, producer_epoch: int,
        topic: str, partitions: list[int],
    ) -> None:
        body = (
            _string(transactional_id) + _i64(producer_id)
            + _i16(producer_epoch) + _i32(1) + _string(topic)
            + _i32(len(partitions))
        )
        for p in partitions:
            body += _i32(p)
        r = self._request(API_ADD_PARTITIONS_TO_TXN, body)
        r.i32()  # throttle
        for _ in range(r.i32()):
            r.string()
            for _ in range(r.i32()):
                r.i32()
                err = r.i16()
                if err != ERR_NONE:
                    raise IOError(f"AddPartitionsToTxn error {err}")

    def end_txn(
        self, transactional_id: str, producer_id: int, producer_epoch: int,
        committed: bool,
    ) -> None:
        body = (
            _string(transactional_id) + _i64(producer_id)
            + _i16(producer_epoch) + _i8(1 if committed else 0)
        )
        r = self._request(API_END_TXN, body)
        r.i32()  # throttle
        err = r.i16()
        if err != ERR_NONE:
            raise IOError(f"EndTxn error {err}")

    # -- group membership (JoinGroup 11 / SyncGroup 14 / Heartbeat 12 /
    # LeaveGroup 13, all v0) -----------------------------------------------

    def join_group(
        self, group: str, member_id: str, topics: list[str],
        session_timeout_ms: int = 10000,
        assignors: list[str] | None = None,
        owned: dict[str, list[int]] | None = None,
    ) -> tuple[int, int, str, str, str, dict]:
        """Returns (error, generation, protocol, leader_id, member_id,
        members) — members maps member_id -> (subscribed topics, owned
        partitions) and is non-empty only for the leader. ``assignors`` is
        the preference-ordered protocol list (default ["range"]); the
        coordinator picks the leader's first choice every member supports.
        ``owned`` rides the Subscription v1 ownedPartitions field — the
        cooperative-sticky stickiness input."""
        protos = assignors or ["range"]
        body = (
            _string(group) + _i32(session_timeout_ms) + _string(member_id)
            + _string("consumer") + _i32(len(protos))
        )
        for p in protos:
            body += _string(p) + _bytes(encode_subscription(topics, owned))
        r = self._request(API_JOIN_GROUP, body)
        err = r.i16()
        gen = r.i32()
        proto = r.string() or ""
        leader = r.string() or ""
        me = r.string() or ""
        members = {}
        for _ in range(r.i32()):
            m = r.string() or ""
            members[m] = decode_subscription_owned(r.bytes() or b"")
        return err, gen, proto, leader, me, members

    def sync_group(
        self, group: str, generation: int, member_id: str,
        assignments: dict[str, dict[str, list[int]]] | None = None,
    ) -> tuple[int, dict[str, list[int]]]:
        """Leader passes the computed group assignment; followers pass
        None. Returns (error, own assignment topic -> partitions)."""
        body = _string(group) + _i32(generation) + _string(member_id)
        items = list((assignments or {}).items())
        body += _i32(len(items))
        for m, a in items:
            body += _string(m) + _bytes(encode_assignment(a))
        r = self._request(API_SYNC_GROUP, body)
        err = r.i16()
        return err, decode_assignment(r.bytes() or b"")

    def heartbeat(self, group: str, generation: int, member_id: str) -> int:
        body = _string(group) + _i32(generation) + _string(member_id)
        return self._request(API_HEARTBEAT, body).i16()

    def leave_group(self, group: str, member_id: str) -> int:
        body = _string(group) + _string(member_id)
        return self._request(API_LEAVE_GROUP, body).i16()

    def offset_commit(self, group: str, topic: str, offsets: dict[int, int]) -> None:
        body = _string(group) + _i32(1) + _string(topic) + _i32(len(offsets))
        for pid, off in offsets.items():
            body += _i32(pid) + _i64(off) + _string("")
        r = self._request(API_OFFSET_COMMIT, body)
        r.i32(); r.string()
        for _ in range(r.i32()):
            r.i32()
            err = r.i16()
            if err != ERR_NONE:
                raise IOError(f"offset commit error {err}")

    def offset_fetch(self, group: str, topic: str, partitions: list[int]) -> dict[int, int]:
        body = _string(group) + _i32(1) + _string(topic) + _i32(len(partitions))
        for pid in partitions:
            body += _i32(pid)
        r = self._request(API_OFFSET_FETCH, body)
        r.i32(); r.string()
        out = {}
        for _ in range(r.i32()):
            pid = r.i32()
            off = r.i64()
            r.string()
            r.i16()
            out[pid] = off
        return out


# --------------------------------------------------------------------------
# S3 source handle + K3 sink over the wire client
# --------------------------------------------------------------------------

KAFKA_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),  # v0 wire has none
    ]
)


class KafkaLiteSourceHandle:
    """S3 as a user-defined SourceHandle over the wire client.

    Offsets dict maps str(partition) -> next offset to read (the Spark-
    checkpointed truth, mirroring the built-in connector); ``ack`` also
    commits to the broker's consumer-group store (the reference's commit
    loop), and ``initial_offset`` resumes from that store when the
    checkpoint is fresh — so either recovery path lands on the same spot.
    """

    def __init__(self, opts: dict):
        self.topic = opts["topic"]
        self.group = opts.get("group", "numaflow-spark")
        self.max_records = int(opts.get("max_records", 1000))
        self._client = KafkaWireClient(opts["bootstrap"])
        self._parts = self._client.metadata([self.topic]).get(self.topic, [])

    def partitions(self) -> list[int]:
        return list(self._parts)

    def pending(self) -> int:
        total = 0
        committed = self._client.offset_fetch(self.group, self.topic, self._parts)
        for p in self._parts:
            _, hw = self._client.fetch(self.topic, p, max(committed.get(p, 0), 0), 1)
            total += hw - max(committed.get(p, 0), 0)
        return total

    def initial_offset(self) -> dict:
        committed = self._client.offset_fetch(self.group, self.topic, self._parts)
        return {str(p): max(committed.get(p, -1), 0) for p in self._parts}

    @staticmethod
    def _ts(ts_ms: int | None):
        if ts_ms is None:
            return None
        from datetime import datetime, timezone

        return datetime.fromtimestamp(ts_ms / 1000.0, tz=timezone.utc)

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        rows: list[tuple] = []
        end = dict(start)
        budget = self.max_records
        for p in self._parts:
            if budget <= 0:
                break
            off = int(start.get(str(p), 0))
            # Fetch v4 (RecordBatch v2): real per-record publish timestamps
            # reach the envelope's event-time column, the reference's
            # kafka source behavior (v0-produced entries stay NULL).
            entries, _hw = self._client.fetch_records(self.topic, p, off)
            taken = entries[:budget]
            for o, key, value, ts, _hdrs in taken:
                rows.append((key, value, self.topic, p, o, self._ts(ts)))
            if taken:
                end[str(p)] = taken[-1][0] + 1
                budget -= len(taken)
        return rows, end

    def read_between(self, start: dict, end: dict) -> list[tuple]:
        rows: list[tuple] = []
        for p in self._parts:
            lo, hi = int(start.get(str(p), 0)), int(end.get(str(p), 0))
            if hi <= lo:
                continue
            off = lo
            while off < hi:
                entries, _hw = self._client.fetch_records(self.topic, p, off)
                if not entries:
                    break
                for o, key, value, ts, _hdrs in entries:
                    if o >= hi:
                        break
                    rows.append((key, value, self.topic, p, o, self._ts(ts)))
                off = entries[-1][0] + 1
        return rows

    def ack(self, end: dict) -> None:
        self._client.offset_commit(
            self.group, self.topic, {int(p): off for p, off in end.items()}
        )

    def schema(self) -> T.StructType:
        return KAFKA_RECORD_SCHEMA


# Every registry entry takes (member -> topics, partitions-by-topic,
# member -> owned partitions); the eager assignors ignore ownership.
_ASSIGNORS = {
    "range": lambda members, parts, owned: range_assign(members, parts),
    "roundrobin": lambda members, parts, owned: roundrobin_assign(
        members, parts
    ),
    "cooperative-sticky": cooperative_sticky_assign,
}


class KafkaTransactionalProducer:
    """Transactional produce over the wire client (the reference's
    rdkafka-backed exactly-once sink mode): InitProducerId fences zombie
    incarnations by epoch, every touched partition registers through
    AddPartitionsToTxn before its first write, batches carry producerId/
    epoch/sequence with the transactional attributes bit, and EndTxn
    writes the commit/abort control markers that advance the partition's
    last stable offset. Pair with ``fetch_records(...,
    isolation="read_committed")`` for end-to-end exactly-once."""

    def __init__(self, bootstrap: str, transactional_id: str, **client_kw):
        self._client = KafkaWireClient(bootstrap, **client_kw)
        self.transactional_id = transactional_id
        self.producer_id, self.producer_epoch = self._client.init_producer_id(
            transactional_id
        )
        self._in_txn = False
        self._parts: set[tuple[str, int]] = set()
        self._seq: dict[tuple[str, int], int] = {}

    def begin(self) -> None:
        if self._in_txn:
            raise RuntimeError("transaction already open")
        self._in_txn = True
        self._parts = set()

    def send(
        self,
        topic: str,
        partition: int,
        records: list[
            tuple[bytes | None, bytes | None, int, list[tuple[str, bytes | None]]]
        ],
    ) -> int:
        if not self._in_txn:
            raise RuntimeError("send outside a transaction; call begin()")
        if (topic, partition) not in self._parts:
            self._client.add_partitions_to_txn(
                self.transactional_id, self.producer_id, self.producer_epoch,
                topic, [partition],
            )
            self._parts.add((topic, partition))
        seq = self._seq.get((topic, partition), 0)
        base = self._client.produce_records(
            topic, partition, records,
            transactional_id=self.transactional_id,
            producer_id=self.producer_id,
            producer_epoch=self.producer_epoch,
            base_sequence=seq,
        )
        self._seq[(topic, partition)] = seq + len(records)
        return base

    def commit(self) -> None:
        self._end(True)

    def abort(self) -> None:
        self._end(False)

    def _end(self, committed: bool) -> None:
        if not self._in_txn:
            raise RuntimeError("no open transaction")
        self._client.end_txn(
            self.transactional_id, self.producer_id, self.producer_epoch,
            committed,
        )
        self._in_txn = False
        self._parts = set()

    def close(self) -> None:
        if self._in_txn:
            try:
                self.abort()
            except Exception:  # noqa: BLE001 — best-effort on teardown
                pass
        self._client.close()


class KafkaGroupConsumer:
    """Dynamic group membership over the wire client (the reference's
    consumer-group read; rust/extns/numaflow-kafka subscribes through
    librdkafka's group protocol): JoinGroup with the ConsumerProtocol
    subscription (``assignor="range"`` or ``"roundrobin"`` — the
    coordinator selects the leader's first choice every member supports,
    mixed groups fail with INCONSISTENT_GROUP_PROTOCOL), leader-side
    :func:`range_assign`/:func:`roundrobin_assign`, SyncGroup for the
    assignment, Heartbeat-driven rebalance (REBALANCE_IN_PROGRESS /
    ILLEGAL_GENERATION / UNKNOWN_MEMBER_ID each trigger the published
    rejoin dance), LeaveGroup on close. ``poll`` fetches from the member's
    ASSIGNED partitions only, resuming from the group's committed offsets;
    ``commit`` writes them back — so a fleet of these consumers splits the
    topic exactly like the reference's scaled-out source vertices."""

    def __init__(self, bootstrap: str, group: str, topics: list[str],
                 session_timeout_ms: int = 10000,
                 assignor: str = "range", **client_kw):
        if assignor not in _ASSIGNORS:
            raise ValueError(
                f"unknown assignor {assignor!r}; supported: {sorted(_ASSIGNORS)}"
            )
        self._client = KafkaWireClient(bootstrap, **client_kw)
        self.group = group
        self.topics = list(topics)
        self._session_ms = session_timeout_ms
        self._assignor = assignor
        self.member_id = ""
        self.generation = -1
        self.assignment: dict[str, list[int]] = {}
        self._positions: dict[tuple[str, int], int] = {}
        self._join()

    # -- membership --------------------------------------------------------

    def _join(self) -> None:
        cooperative = self._assignor == "cooperative-sticky"
        for _ in range(10):  # bounded rejoin dance
            err, gen, proto, leader, me, members = self._client.join_group(
                self.group, self.member_id, self.topics, self._session_ms,
                assignors=[self._assignor],
                owned=self.assignment if cooperative else None,
            )
            if err == ERR_UNKNOWN_MEMBER_ID:
                self.member_id = ""
                continue
            if err == ERR_INCONSISTENT_GROUP_PROTOCOL:
                raise IOError(
                    f"JoinGroup: no assignor common to the group "
                    f"(this member offers {self._assignor!r})"
                )
            if err != ERR_NONE:
                raise IOError(f"JoinGroup error {err}")
            self.member_id = me
            proposed = None
            if me == leader:
                # the coordinator-selected protocol decides the algorithm
                assign_fn = _ASSIGNORS[proto]
                topics_by_m = {m: ts for m, (ts, _own) in members.items()}
                owned_by_m = {m: own for m, (_ts, own) in members.items()}
                subscribed = sorted(
                    {t for ts in topics_by_m.values() for t in ts}
                )
                parts = self._client.metadata(subscribed)
                proposed = assign_fn(topics_by_m, parts, owned_by_m)
            serr, assignment = self._client.sync_group(
                self.group, gen, me, proposed
            )
            if serr in (ERR_REBALANCE_IN_PROGRESS, ERR_ILLEGAL_GENERATION):
                continue
            if serr == ERR_UNKNOWN_MEMBER_ID:
                self.member_id = ""
                continue
            if serr != ERR_NONE:
                raise IOError(f"SyncGroup error {serr}")
            self.generation = gen
            prev = {
                (t, p) for t, ps in self.assignment.items() for p in ps
            }
            self.assignment = assignment
            self._reload_positions(keep=prev if cooperative else None)
            if cooperative:
                now = {(t, p) for t, ps in assignment.items() for p in ps}
                if prev - now:
                    # KIP-429: a member that had partitions revoked rejoins
                    # immediately so the next generation can grant them to
                    # their target; partitions it RETAINS were never given
                    # up (positions above survive untouched).
                    continue
            return
        raise IOError("group join did not converge")

    def _reload_positions(
        self, keep: set[tuple[str, int]] | None = None
    ) -> None:
        """Rebuild fetch positions from committed offsets. ``keep`` (the
        cooperative path) preserves in-memory positions for partitions the
        member retained across the rebalance — it never stopped owning
        them, so consumption continues mid-stream without a commit."""
        old = self._positions
        self._positions = {}
        for topic, parts in self.assignment.items():
            fetch = [
                p for p in parts
                if keep is None or (topic, p) not in keep
                or (topic, p) not in old
            ]
            committed = (
                self._client.offset_fetch(self.group, topic, fetch)
                if fetch else {}
            )
            for p in parts:
                if keep is not None and (topic, p) in keep and (topic, p) in old:
                    self._positions[(topic, p)] = old[(topic, p)]
                else:
                    self._positions[(topic, p)] = max(committed.get(p, 0), 0)

    def poll_heartbeat(self) -> bool:
        """One heartbeat; rejoins (returns False) when the coordinator
        signals a rebalance or dropped membership."""
        err = self._client.heartbeat(self.group, self.generation, self.member_id)
        if err == ERR_NONE:
            return True
        if err == ERR_UNKNOWN_MEMBER_ID:
            self.member_id = ""
        self._join()
        return False

    # -- data path ---------------------------------------------------------

    def poll(self, max_records: int = 500) -> list[tuple]:
        """(topic, partition, offset, key, value) from assigned partitions,
        advancing in-memory positions (commit() persists them)."""
        rows: list[tuple] = []
        for (topic, p), off in sorted(self._positions.items()):
            budget = max_records - len(rows)
            if budget <= 0:
                break
            entries, _hw = self._client.fetch(topic, p, off)
            taken = entries[:budget]
            for o, k, v in taken:
                rows.append((topic, p, o, k, v))
            if taken:
                self._positions[(topic, p)] = taken[-1][0] + 1
        return rows

    def commit(self) -> None:
        by_topic: dict[str, dict[int, int]] = {}
        for (topic, p), off in self._positions.items():
            by_topic.setdefault(topic, {})[p] = off
        for topic, offs in by_topic.items():
            self._client.offset_commit(self.group, topic, offs)

    def close(self) -> None:
        try:
            self._client.leave_group(self.group, self.member_id)
        finally:
            self._client.close()


def kafka_wire_sink(
    rows: list[tuple[bytes | None, bytes | None]],
    bootstrap: str,
    topic: str,
) -> dict[int, int]:
    """K3 produce surface: (key, value) rows partitioned by key hash (null
    keys -> partition 0), one Produce per partition, acks=1. Returns
    {partition: base_offset}. Usable inside foreachBatch after a
    ``collect``-free ``mapInPandas``/``foreachPartition`` fan-out at scale;
    kept driver-side here because the wire tests drive small batches."""
    client = KafkaWireClient(bootstrap)
    try:
        parts = client.metadata([topic])[topic]
        buckets: dict[int, list[tuple[bytes | None, bytes | None]]] = {}
        for key, value in rows:
            pid = (zlib.crc32(key) % len(parts)) if key is not None else 0
            buckets.setdefault(pid, []).append((key, value))
        return {
            pid: client.produce(topic, pid, batch)
            for pid, batch in sorted(buckets.items())
        }
    finally:
        client.close()
