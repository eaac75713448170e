"""Wire-level Kafka e2e (sources/kafka_wire.py): real protocol frames over
TCP between our client and the in-process broker — produce/fetch round
trips with CRC validation, consumer-group offset commit/resume, the S3
source handle driven through a REAL streaming query with the standard
kafka_envelope mapping, and the K3 produce sink. The broker-ful analogue
is the reference's test/kafka-e2e/kafka_test.go."""

from __future__ import annotations

import time

import pytest

from numaflow_spark.sources.kafka import kafka_envelope
from numaflow_spark.sources.kafka_wire import (
    KafkaLiteSourceHandle,
    KafkaWireClient,
    MiniKafkaBroker,
    decode_message_set,
    encode_message_set,
    kafka_wire_sink,
)
from numaflow_spark.sources.user_defined import make_udsource


@pytest.fixture()
def broker():
    b = MiniKafkaBroker()
    yield b
    b.close()


def test_message_set_codec_crc_roundtrip():
    entries = [(0, b"k0", b"v0"), (1, None, b"v1"), (2, b"k2", None)]
    wire = encode_message_set(entries)
    assert decode_message_set(wire) == entries
    # flip one payload byte -> CRC must catch it
    corrupt = wire[:-1] + bytes([wire[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="CRC"):
        decode_message_set(corrupt)


def test_produce_fetch_roundtrip(broker):
    c = KafkaWireClient(broker.bootstrap)
    assert c.metadata(["t1"]) == {"t1": [0, 1]}
    base = c.produce("t1", 0, [(b"a", b"v1"), (None, b"v2")])
    assert base == 0
    assert c.produce("t1", 0, [(b"b", b"v3")]) == 2
    entries, hw = c.fetch("t1", 0, 0)
    assert hw == 3
    assert entries == [(0, b"a", b"v1"), (1, None, b"v2"), (2, b"b", b"v3")]
    # offset-addressed re-read (replayability)
    entries2, _ = c.fetch("t1", 0, 2)
    assert entries2 == [(2, b"b", b"v3")]
    c.close()


def test_fetch_respects_max_bytes(broker):
    c = KafkaWireClient(broker.bootstrap)
    c.produce("t2", 0, [(None, bytes([i]) * 100) for i in range(10)])
    entries, hw = c.fetch("t2", 0, 0, max_bytes=300)
    assert hw == 10 and 1 <= len(entries) < 10
    # paging through by offset reaches the high watermark
    seen, off = 0, 0
    while off < hw:
        page, _ = c.fetch("t2", 0, off, max_bytes=300)
        assert page
        seen += len(page)
        off = page[-1][0] + 1
    assert seen == 10
    c.close()


def test_consumer_group_offsets(broker):
    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["t3"])
    assert c.offset_fetch("g1", "t3", [0, 1]) == {0: -1, 1: -1}
    c.offset_commit("g1", "t3", {0: 5, 1: 2})
    assert c.offset_fetch("g1", "t3", [0, 1]) == {0: 5, 1: 2}
    assert broker.committed("g1", "t3", 0) == 5
    # groups are isolated
    assert c.offset_fetch("g2", "t3", [0]) == {0: -1}
    c.close()


def test_source_handle_read_ack_resume(broker):
    c = KafkaWireClient(broker.bootstrap)
    c.produce("t4", 0, [(b"k", b"a"), (b"k", b"b")])
    c.produce("t4", 1, [(None, b"c")])

    h = KafkaLiteSourceHandle({"bootstrap": broker.bootstrap, "topic": "t4"})
    assert h.partitions() == [0, 1]
    start = h.initial_offset()
    assert start == {"0": 0, "1": 0}
    rows, end = h.read(start)
    assert {(r[3], r[4], r[1]) for r in rows} == {
        (0, 0, b"a"), (0, 1, b"b"), (1, 0, b"c"),
    }
    assert end == {"0": 2, "1": 1}
    # replay of the committed range is deterministic
    assert h.read_between(start, end) == rows
    h.ack(end)
    # a NEW handle (fresh checkpoint) resumes from the group commit
    h2 = KafkaLiteSourceHandle({"bootstrap": broker.bootstrap, "topic": "t4"})
    assert h2.initial_offset() == {"0": 2, "1": 1}
    assert h2.pending() == 0
    c.produce("t4", 1, [(None, b"d")])
    assert h2.pending() == 1
    c.close()


def test_streaming_e2e_with_envelope(spark, broker, tmp_path):
    """handle -> our client -> TCP -> our broker through a REAL streaming
    query, mapped by the same kafka_envelope the production connector path
    uses: ids are vertex/topic-partition-offset, keys utf8-decoded, and a
    second produce round arrives without re-reading the first."""
    c = KafkaWireClient(broker.bootstrap)
    c.produce("t5", 0, [(b"u1", b"p1"), (b"u2", b"p2")])
    c.produce("t5", 1, [(b"u3", b"p3")])

    spark.dataSource.register(
        make_udsource(KafkaLiteSourceHandle, name="kafka_lite")
    )
    records = (
        spark.readStream.format("kafka_lite")
        .options(bootstrap=broker.bootstrap, topic="t5", group="g-e2e")
        .load()
    )
    out = kafka_envelope(records, vertex_name="kafka-source")
    q = (
        out.writeStream.format("memory")
        .queryName("kafka_wire_sink_tbl")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.id.vertex_name, r.id.offset, tuple(r.keys), bytes(r.value))
            for r in spark.sql("select * from kafka_wire_sink_tbl").collect()
        }
        assert got == {
            ("kafka-source", "t5-0-0", ("u1",), b"p1"),
            ("kafka-source", "t5-0-1", ("u2",), b"p2"),
            ("kafka-source", "t5-1-0", ("u3",), b"p3"),
        }
        c.produce("t5", 0, [(b"u4", b"p4")])
        q.processAllAvailable()
        rows = spark.sql("select * from kafka_wire_sink_tbl").collect()
        assert len(rows) == 4  # exactly one new row, no re-delivery
        # ack-after-commit reached the broker's group store
        assert broker.committed("g-e2e", "t5", 0) >= 2
    finally:
        q.stop()


def test_wire_sink_partitions_by_key(broker):
    offsets = kafka_wire_sink(
        [(b"alpha", b"v1"), (b"alpha", b"v2"), (None, b"v3")],
        broker.bootstrap,
        "t6",
    )
    assert set(offsets) <= {0, 1}
    logs = broker.log("t6", 0) + broker.log("t6", 1)
    assert sorted(v for _k, v in logs) == [b"v1", b"v2", b"v3"]
    # same key always lands in the same partition
    by_part = [broker.log("t6", p) for p in (0, 1)]
    alpha_parts = {p for p in (0, 1) if any(k == b"alpha" for k, _ in by_part[p])}
    assert len(alpha_parts) == 1


def test_acks_zero_is_fire_and_forget(broker):
    """Protocol contract: acks=0 producers get NO Produce response — the
    broker must not send one (it would desynchronize the connection) and
    the client must not await one. The connection stays usable for the
    next correlated request."""
    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["t7"])
    assert c.produce("t7", 0, [(b"k", b"v0")], acks=0) == -1
    # the very next correlated request must still line up
    entries, hw = c.fetch("t7", 0, 0)
    assert hw == 1 and entries == [(0, b"k", b"v0")]
    c.close()


def test_corrupt_size_field_gets_error_response(broker):
    """A produce whose MessageSet carries a nonsense size field must come
    back as an ERR_CORRUPT partition response, not a dead connection."""
    import struct as _s

    from numaflow_spark.sources.kafka_wire import (
        API_PRODUCE,
        ERR_CORRUPT,
        _i16,
        _i32,
        _i64,
        _string,
    )

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["t8"])
    bad_ms = _i64(0) + _i32(-1) + b"garbage-bytes-here"
    body = (
        _i16(1) + _i32(5000) + _i32(1)
        + _string("t8") + _i32(1) + _i32(0) + _i32(len(bad_ms)) + bad_ms
    )
    r = c._request(API_PRODUCE, body)
    r.i32(); r.string(); r.i32(); r.i32()
    assert r.i16() == ERR_CORRUPT
    # connection still alive for the next request
    assert c.metadata(["t8"]) == {"t8": [0, 1]}
    c.close()


def test_tls_produce_fetch_roundtrip(tmp_path):
    """One-way TLS e2e over a loopback self-signed CA: the client verifies
    the broker's certificate (hostname + chain) and the full produce/fetch
    path runs over the encrypted socket — security.protocol=SSL parity with
    the reference's kafka `tls` block (r7 verdict #8)."""
    pytest.importorskip("cryptography")
    from tests.tls_helper import make_self_signed_cert

    cert, key = make_self_signed_cert(str(tmp_path))
    b = MiniKafkaBroker(tls_cert_file=cert, tls_key_file=key)
    try:
        c = KafkaWireClient(b.bootstrap, tls=True, tls_ca_file=cert)
        assert c.metadata(["ts"]) == {"ts": [0, 1]}
        assert c.produce("ts", 0, [(b"k", b"secret")]) == 0
        entries, hw = c.fetch("ts", 0, 0)
        assert hw == 1 and entries == [(0, b"k", b"secret")]
        import ssl

        assert isinstance(c._sock, ssl.SSLSocket)  # actually encrypted
        c.close()
        # A client that does NOT trust the CA must be rejected during the
        # handshake — verification is on, not decorative.
        c2 = KafkaWireClient(b.bootstrap, tls=True)  # system trust store
        with pytest.raises((ssl.SSLError, ConnectionError, OSError)):
            c2.metadata(["ts"])
        c2.close()
        # Plaintext client against the TLS listener fails cleanly too.
        c3 = KafkaWireClient(b.bootstrap)
        with pytest.raises((ConnectionError, OSError)):
            c3.metadata(["ts"])
        c3.close()
    finally:
        b.close()


def test_mutual_tls_requires_client_cert(tmp_path):
    """Mutual TLS (ssl.client.auth=required): a client presenting a cert
    signed by the broker's trusted CA completes the data path; a client
    with NO cert — even one that trusts the broker — is rejected during
    the TLS handshake, before any Kafka frame."""
    pytest.importorskip("cryptography")
    import ssl

    from tests.tls_helper import make_client_cert, make_self_signed_cert

    ca_cert, ca_key = make_self_signed_cert(str(tmp_path))
    cli_cert, cli_key = make_client_cert(str(tmp_path), ca_cert, ca_key)
    b = MiniKafkaBroker(
        tls_cert_file=ca_cert, tls_key_file=ca_key,
        tls_client_ca_file=ca_cert,
    )
    try:
        c = KafkaWireClient(
            b.bootstrap, tls=True, tls_ca_file=ca_cert,
            tls_cert_file=cli_cert, tls_key_file=cli_key,
        )
        assert c.produce("tm", 0, [(b"k", b"v")]) == 0
        assert c.fetch("tm", 0, 0)[0] == [(0, b"k", b"v")]
        c.close()

        anon = KafkaWireClient(b.bootstrap, tls=True, tls_ca_file=ca_cert)
        with pytest.raises((ssl.SSLError, ConnectionError, OSError)):
            anon.metadata(["tm"])
        anon.close()
    finally:
        b.close()


def test_sasl_plain_produce_fetch_roundtrip():
    """SASL/PLAIN e2e (SaslHandshake 17 + SaslAuthenticate 36, RFC 4616
    token): an authenticated client runs the full produce/fetch/commit
    path; a wrong password fails loudly with the broker's
    SASL_AUTHENTICATION_FAILED message; an unauthenticated data request
    gets the connection dropped, not an answer."""
    b = MiniKafkaBroker(sasl_users={"svc": "hunter2"})
    try:
        c = KafkaWireClient(
            b.bootstrap, sasl_plain_username="svc", sasl_plain_password="hunter2"
        )
        assert c.metadata(["tq"]) == {"tq": [0, 1]}
        assert c.produce("tq", 1, [(b"k", b"v")]) == 0
        entries, hw = c.fetch("tq", 1, 0)
        assert hw == 1 and entries == [(0, b"k", b"v")]
        c.offset_commit("g1", "tq", {1: 1})
        assert c.offset_fetch("g1", "tq", [1]) == {1: 1}
        c.close()

        bad = KafkaWireClient(
            b.bootstrap, sasl_plain_username="svc", sasl_plain_password="wrong"
        )
        with pytest.raises(ConnectionError, match="invalid credentials"):
            bad.metadata(["tq"])
        bad.close()

        anon = KafkaWireClient(b.bootstrap)  # skips the SASL exchange
        with pytest.raises((ConnectionError, OSError)):
            anon.metadata(["tq"])
        anon.close()
    finally:
        b.close()


def test_sasl_reauth_survives_reconnect_and_pickle():
    """The exchange reruns on every (re)connect, so Spark's pickle cycle
    (which drops the socket) transparently re-authenticates."""
    import pickle

    b = MiniKafkaBroker(sasl_users={"svc": "pw"})
    try:
        c = KafkaWireClient(
            b.bootstrap, sasl_plain_username="svc", sasl_plain_password="pw"
        )
        assert c.produce("tr", 0, [(None, b"one")]) == 0
        c2 = pickle.loads(pickle.dumps(c))
        assert c2.fetch("tr", 0, 0)[0] == [(0, None, b"one")]
        c2.close()
        c.close()
    finally:
        b.close()


def test_sasl_over_tls(tmp_path):
    """SASL_SSL parity: the PLAIN exchange rides the verified TLS channel
    (the only configuration where PLAIN credentials are safe on a real
    network)."""
    pytest.importorskip("cryptography")
    from tests.tls_helper import make_self_signed_cert

    cert, key = make_self_signed_cert(str(tmp_path))
    b = MiniKafkaBroker(
        tls_cert_file=cert, tls_key_file=key, sasl_users={"svc": "pw"}
    )
    try:
        c = KafkaWireClient(
            b.bootstrap, tls=True, tls_ca_file=cert,
            sasl_plain_username="svc", sasl_plain_password="pw",
        )
        assert c.produce("tt", 0, [(b"k", b"v")]) == 0
        assert c.fetch("tt", 0, 0)[0] == [(0, b"k", b"v")]
        c.close()
    finally:
        b.close()


def test_sasl_scram_sha256_roundtrip_and_rejects():
    """SCRAM-SHA-256 (RFC 5802/7677 over SaslAuthenticate rounds): a
    correct password authenticates and runs the data path without the
    password ever crossing the wire; a wrong password and an unknown user
    both fail with the same invalid-credentials error (no user
    enumeration); PLAIN still works on the same broker (mechanism
    negotiation)."""
    b = MiniKafkaBroker(sasl_users={"svc": "s3cret"})
    try:
        c = KafkaWireClient(
            b.bootstrap, sasl_plain_username="svc",
            sasl_plain_password="s3cret", sasl_mechanism="SCRAM-SHA-256",
        )
        assert c.produce("ts256", 0, [(b"k", b"v")]) == 0
        assert c.fetch("ts256", 0, 0)[0] == [(0, b"k", b"v")]
        c.close()

        for user, pw in (("svc", "wrong"), ("ghost", "s3cret")):
            bad = KafkaWireClient(
                b.bootstrap, sasl_plain_username=user,
                sasl_plain_password=pw, sasl_mechanism="SCRAM-SHA-256",
            )
            with pytest.raises(ConnectionError, match="invalid credentials"):
                bad.metadata(["ts256"])
            bad.close()

        plain = KafkaWireClient(
            b.bootstrap, sasl_plain_username="svc", sasl_plain_password="s3cret"
        )
        assert plain.metadata(["ts256"]) == {"ts256": [0, 1]}
        plain.close()
    finally:
        b.close()


def test_sasl_scram_sha512_and_mechanism_policy():
    """SCRAM-SHA-512 works end-to-end; a broker configured for SCRAM only
    rejects a PLAIN handshake (UNSUPPORTED_SASL_MECHANISM) while
    advertising what it does serve; the client refuses unknown mechanism
    names at construction."""
    b = MiniKafkaBroker(
        sasl_users={"svc": "pw512"}, sasl_mechanisms=("SCRAM-SHA-512",)
    )
    try:
        c = KafkaWireClient(
            b.bootstrap, sasl_plain_username="svc",
            sasl_plain_password="pw512", sasl_mechanism="SCRAM-SHA-512",
        )
        assert c.produce("ts512", 0, [(None, b"x")]) == 0
        assert c.fetch("ts512", 0, 0)[0] == [(0, None, b"x")]
        c.close()

        plain = KafkaWireClient(
            b.bootstrap, sasl_plain_username="svc", sasl_plain_password="pw512"
        )
        with pytest.raises(ConnectionError, match="SCRAM-SHA-512"):
            plain.metadata(["ts512"])
        plain.close()

        with pytest.raises(ValueError, match="unsupported SASL mechanism"):
            KafkaWireClient(b.bootstrap, sasl_mechanism="SCRAM-SHA-1")
    finally:
        b.close()


def test_sasl_scram_mutual_auth_catches_forged_server():
    """The client verifies the server-final signature: a man-in-the-middle
    that answers the SCRAM conversation without holding ServerKey (here: a
    broker whose stored credentials were derived from a DIFFERENT
    password, accepting any proof) is detected and the connection refused.
    Simulated by patching the broker's stored ServerKey after derivation."""
    b = MiniKafkaBroker(sasl_users={"svc": "pw"})
    try:
        # Corrupt ServerKey only: the proof check still passes (StoredKey
        # intact), so a client that skipped the v= check would proceed.
        for k, (salt, it, stored, server) in list(b._scram_creds.items()):
            b._scram_creds[k] = (salt, it, stored, b"\x00" * len(server))
        c = KafkaWireClient(
            b.bootstrap, sasl_plain_username="svc",
            sasl_plain_password="pw", sasl_mechanism="SCRAM-SHA-256",
        )
        with pytest.raises(ConnectionError, match="server signature mismatch"):
            c.metadata(["tm"])
        c.close()
    finally:
        b.close()


def test_sasl_scram_username_escaping_and_pickle():
    """saslname escaping (RFC 5802 §5.1: '=' -> =3D, ',' -> =2C) survives
    the round trip, and the SCRAM exchange reruns across pickle like
    PLAIN does."""
    import pickle

    user = "weird=user,inc"
    b = MiniKafkaBroker(sasl_users={user: "pw"})
    try:
        c = KafkaWireClient(
            b.bootstrap, sasl_plain_username=user,
            sasl_plain_password="pw", sasl_mechanism="SCRAM-SHA-256",
        )
        assert c.produce("te", 0, [(b"k", b"v")]) == 0
        c2 = pickle.loads(pickle.dumps(c))
        assert c2.fetch("te", 0, 0)[0] == [(0, b"k", b"v")]
        c2.close()
        c.close()
    finally:
        b.close()


def test_record_batch_v2_codec_roundtrip():
    """RecordBatch v2 codec (published #recordbatch layout): zigzag-varint
    records, CRC32C over attributes..end, per-record timestamps and
    headers; corruption is caught by the batch CRC."""
    from numaflow_spark.sources.kafka_wire import (
        decode_record_batches_v2,
        encode_record_batch_v2,
    )

    records = [
        (b"k0", b"v0", 1_700_000_000_000, [("h", b"x"), ("n", None)]),
        (None, b"v1", 1_700_000_000_123, []),
        (b"k2", None, 1_700_000_001_000, [("a", b"")]),
    ]
    wire = encode_record_batch_v2(7, records)
    got = decode_record_batches_v2(wire)
    assert got == [
        (7, b"k0", b"v0", 1_700_000_000_000, [("h", b"x"), ("n", None)]),
        (8, None, b"v1", 1_700_000_000_123, []),
        (9, b"k2", None, 1_700_000_001_000, [("a", b"")]),
    ]
    corrupt = wire[:-1] + bytes([wire[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="CRC"):
        decode_record_batches_v2(corrupt)


def test_produce_v3_fetch_v4_timestamps_headers(broker):
    """Produce v3 / Fetch v4 e2e over TCP: timestamps and headers survive
    the broker; v0 and v2 traffic interleave in one partition log, with
    v0 entries surfacing the null-timestamp sentinel as None."""
    c = KafkaWireClient(broker.bootstrap)
    assert c.produce("tv2", 0, [(b"old", b"v0-style")]) == 0
    base = c.produce_records(
        "tv2", 0,
        [
            (b"k", b"new", 1_700_000_000_500, [("trace", b"abc")]),
            (None, b"tail", 1_700_000_000_700, []),
        ],
    )
    assert base == 1
    entries, hw = c.fetch_records("tv2", 0, 0)
    assert hw == 3
    assert entries[0] == (0, b"old", b"v0-style", None, [])
    assert entries[1] == (1, b"k", b"new", 1_700_000_000_500, [("trace", b"abc")])
    assert entries[2] == (2, None, b"tail", 1_700_000_000_700, [])
    # the v0 fetch view of the same log still works (drops ts/headers)
    v0_entries, _ = c.fetch("tv2", 0, 0)
    assert v0_entries == [(0, b"old", b"v0-style"), (1, b"k", b"new"), (2, None, b"tail")]
    # ApiVersions advertises the v2-carrying versions
    c.close()


def test_source_handle_surfaces_publish_timestamps(broker):
    """The S3 handle reads via Fetch v4: real publish timestamps land in
    the row's event-time slot as tz-aware datetimes."""
    from datetime import datetime, timezone

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tts"])
    c.produce_records(
        "tts", 0, [(b"k", b"v", 1_700_000_000_000, [])]
    )
    c.close()
    h = KafkaLiteSourceHandle(
        {"topic": "tts", "bootstrap": broker.bootstrap, "group": "g-ts"}
    )
    rows, end = h.read({"0": 0, "1": 0})
    (row,) = [r for r in rows if r[3] == 0]
    assert row[0] == b"k" and row[1] == b"v"
    assert row[5] == datetime.fromtimestamp(1_700_000_000.0, tz=timezone.utc)


def test_record_batch_v2_gzip_roundtrip(broker):
    """Gzip-compressed batches (attributes codec bits = 1): the records
    section compresses on the wire, the broker and consumer read it back
    transparently, and the CRC covers the compressed form."""
    from numaflow_spark.sources.kafka_wire import (
        GZIP,
        decode_record_batches_v2,
        encode_record_batch_v2,
    )

    records = [(b"k", b"payload" * 100, 1_700_000_000_000, [("h", b"v")])]
    plain = encode_record_batch_v2(0, records)
    packed = encode_record_batch_v2(0, records, compression=GZIP)
    assert len(packed) < len(plain)  # actually compressed
    assert decode_record_batches_v2(packed) == decode_record_batches_v2(plain)
    # e2e through the broker
    c = KafkaWireClient(broker.bootstrap)
    c.produce_records("tgz", 0, records, compression=GZIP)
    entries, _ = c.fetch_records("tgz", 0, 0)
    assert entries == [(0, b"k", b"payload" * 100, 1_700_000_000_000, [("h", b"v")])]
    c.close()


def test_group_membership_range_assignment_and_rebalance(broker):
    """Dynamic consumer groups over real frames (JoinGroup/SyncGroup/
    Heartbeat/LeaveGroup v0 + the published range assignor): two members
    split the topic's partitions disjointly and completely; when one
    leaves, the survivor's heartbeat surfaces the rebalance and a rejoin
    hands it ALL partitions with committed offsets intact."""
    from numaflow_spark.sources.kafka_wire import KafkaGroupConsumer

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tg"])  # auto-create with 2 partitions
    for p in (0, 1):
        c.produce("tg", p, [(b"k", f"m{p}-{i}".encode()) for i in range(4)])
    c.close()

    import threading

    g1_holder = {}

    def join_first():
        g1_holder["c"] = KafkaGroupConsumer(broker.bootstrap, "grp", ["tg"])

    # join concurrently so both land in one join window (the broker's
    # delayed-join barrier otherwise serializes them into two generations)
    t1 = threading.Thread(target=join_first)
    t1.start()
    time.sleep(0.05)
    g2 = KafkaGroupConsumer(broker.bootstrap, "grp", ["tg"])
    t1.join()
    g1 = g1_holder["c"]
    assert g1.generation == g2.generation
    p1 = {(t, p) for t, ps in g1.assignment.items() for p in ps}
    p2 = {(t, p) for t, ps in g2.assignment.items() for p in ps}
    assert p1 | p2 == {("tg", 0), ("tg", 1)} and not (p1 & p2)
    assert g1.poll_heartbeat() and g2.poll_heartbeat()

    # each member reads only its own partition; commits are per-group
    rows1, rows2 = g1.poll(), g2.poll()
    assert {r[:2] for r in rows1} == p1 and {r[:2] for r in rows2} == p2
    assert len(rows1) + len(rows2) == 8
    g1.commit(); g2.commit()

    # member 2 leaves -> survivor heartbeat sees the rebalance and rejoins
    # with the full partition set, resuming from the committed offsets
    g2.close()
    assert g1.poll_heartbeat() is False  # rejoined
    full = {(t, p) for t, ps in g1.assignment.items() for p in ps}
    assert full == {("tg", 0), ("tg", 1)}
    assert g1.poll() == []  # everything already consumed+committed
    c2 = KafkaWireClient(broker.bootstrap)
    c2.produce("tg", 0, [(b"k", b"late")])
    c2.close()
    late = g1.poll()
    assert [(r[0], r[1], r[4]) for r in late] == [("tg", 0, b"late")]
    g1.close()


def test_group_stale_member_evicted_by_session_timeout(broker):
    """A member that stops heartbeating past its session timeout is
    evicted: the survivor rebalances to the full partition set, and the
    dead member's next heartbeat gets UNKNOWN_MEMBER_ID."""
    import threading

    from numaflow_spark.sources.kafka_wire import (
        ERR_UNKNOWN_MEMBER_ID,
        KafkaGroupConsumer,
    )

    holder = {}
    t = threading.Thread(target=lambda: holder.update(
        a=KafkaGroupConsumer(broker.bootstrap, "g2", ["th"], session_timeout_ms=1000)
    ))
    t.start()
    time.sleep(0.05)
    b = KafkaGroupConsumer(broker.bootstrap, "g2", ["th"], session_timeout_ms=30000)
    t.join()
    a = holder["a"]
    assert len({p for ps in a.assignment.values() for p in ps}
               | {p for ps in b.assignment.values() for p in ps}) == 2
    # a goes silent; b keeps heartbeating until the eviction surfaces
    deadline = time.time() + 10
    rebalanced = False
    while time.time() < deadline:
        if b.poll_heartbeat() is False:
            rebalanced = True
            break
        time.sleep(0.2)
    assert rebalanced, "survivor never saw the stale member evicted"
    assert {p for ps in b.assignment.values() for p in ps} == {0, 1}
    # the ghost's own heartbeat is refused with the published error
    err = a._client.heartbeat("g2", a.generation, a.member_id)
    assert err == ERR_UNKNOWN_MEMBER_ID
    a._client.close()
    b.close()


def test_roundrobin_assignor_javadoc_example():
    """The published RoundRobinAssignor example: C0 subscribes [t0], C1
    subscribes [t0, t1]; t0 has 3 partitions, t1 has 2. Dealing sorted
    (topic, partition) pairs around the circle while skipping
    non-subscribers gives C0: t0[0, 2]; C1: t0[1], t1[0, 1]."""
    from numaflow_spark.sources.kafka_wire import roundrobin_assign

    out = roundrobin_assign(
        {"C0": ["t0"], "C1": ["t0", "t1"]},
        {"t0": [0, 1, 2], "t1": [0, 1]},
    )
    assert out == {"C0": {"t0": [0, 2]}, "C1": {"t0": [1], "t1": [0, 1]}}


def test_group_membership_roundrobin_and_mixed_protocol(broker):
    """Protocol negotiation over real frames: a roundrobin group splits a
    4-partition topic interleaved ({0, 2} / {1, 3}); a member offering a
    DIFFERENT assignor than the rest of its group gets the published
    INCONSISTENT_GROUP_PROTOCOL failure."""
    import threading

    from numaflow_spark.sources.kafka_wire import KafkaGroupConsumer

    c = KafkaWireClient(broker.bootstrap)
    b4 = MiniKafkaBroker(num_partitions=4)
    c.close()
    try:
        c4 = KafkaWireClient(b4.bootstrap)
        c4.metadata(["tr"])
        for p in range(4):
            c4.produce("tr", p, [(None, f"m{p}".encode())])
        c4.close()

        holder = {}

        def join_first():
            holder["c"] = KafkaGroupConsumer(
                b4.bootstrap, "rr", ["tr"], assignor="roundrobin"
            )

        t = threading.Thread(target=join_first)
        t.start()
        time.sleep(0.05)
        g2 = KafkaGroupConsumer(b4.bootstrap, "rr", ["tr"], assignor="roundrobin")
        t.join()
        g1 = holder["c"]
        parts = sorted(
            sorted(ps) for ps in
            (g1.assignment.get("tr", []), g2.assignment.get("tr", []))
        )
        assert parts == [[0, 2], [1, 3]]  # interleaved, not contiguous
        assert len(g1.poll()) + len(g2.poll()) == 4
        g1.close()
        g2.close()

        # mixed assignors in one join window: no common protocol
        holder2, errs = {}, []

        def join_range():
            try:
                holder2["c"] = KafkaGroupConsumer(
                    b4.bootstrap, "mix", ["tr"], assignor="range"
                )
            except IOError as e:
                errs.append(e)

        t2 = threading.Thread(target=join_range)
        t2.start()
        time.sleep(0.05)
        try:
            KafkaGroupConsumer(b4.bootstrap, "mix", ["tr"], assignor="roundrobin")
        except IOError as e:
            errs.append(e)
        t2.join()
        assert errs and any("assignor" in str(e) for e in errs)
        holder2.get("c") and holder2["c"].close()

        with pytest.raises(ValueError, match="unknown assignor"):
            KafkaGroupConsumer(b4.bootstrap, "x", ["tr"], assignor="sticky")
    finally:
        b4.close()


def test_cooperative_sticky_assignor_unit():
    """KIP-429 assignor semantics, pure function: (a) balanced fresh
    assignment when nothing is owned; (b) a joining member takes only the
    owner's over-quota partitions, and those MOVING partitions are
    withheld for one generation (assigned to nobody); (c) the follow-up
    round — owner rejoined without the revoked partitions — grants them
    to the new member; retained partitions never changed hands."""
    from numaflow_spark.sources.kafka_wire import cooperative_sticky_assign

    parts = {"t": [0, 1, 2, 3]}
    # (a) empty ownership: plain balanced fill
    fresh = cooperative_sticky_assign({"A": ["t"]}, parts, {"A": {}})
    assert fresh == {"A": {"t": [0, 1, 2, 3]}}
    # (b) B joins while A owns everything: A retains its quota (2), the
    # two moving partitions are withheld this generation
    round1 = cooperative_sticky_assign(
        {"A": ["t"], "B": ["t"]}, parts,
        {"A": {"t": [0, 1, 2, 3]}, "B": {}},
    )
    assert round1["A"] == {"t": [0, 1]}
    assert round1["B"] == {}  # moving partitions withheld, not transferred
    # (c) A rejoined owning only the retained pair: the freed partitions
    # now land on B; A's retained pair is untouched
    round2 = cooperative_sticky_assign(
        {"A": ["t"], "B": ["t"]}, parts,
        {"A": {"t": [0, 1]}, "B": {}},
    )
    assert round2 == {"A": {"t": [0, 1]}, "B": {"t": [2, 3]}}


def test_cooperative_sticky_no_stop_the_world(broker):
    """KIP-429 over real frames: a second member joining must NOT force
    the incumbent to give up the partitions it keeps. Observable: the
    incumbent consumes its retained partition MID-STREAM across the whole
    two-generation dance WITHOUT committing — under an eager protocol the
    rebalance would reset its position to the committed offset (0 here)
    and re-deliver everything; under the cooperative protocol the in-memory
    position survives because ownership of the retained partition never
    lapsed."""
    import threading

    from numaflow_spark.sources.kafka_wire import KafkaGroupConsumer

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tcs"])  # auto-create with 2 partitions
    for p in (0, 1):
        c.produce("tcs", p, [(b"k", f"p{p}-{i}".encode()) for i in range(4)])

    a = KafkaGroupConsumer(
        broker.bootstrap, "gc", ["tcs"], assignor="cooperative-sticky"
    )
    assert {p for ps in a.assignment.values() for p in ps} == {0, 1}
    first = a.poll()
    assert len(first) == 8  # consumed everything, NO commit
    retained_before = {(t, p) for t, ps in a.assignment.items() for p in ps}

    # B joins concurrently; A discovers via heartbeat and runs the
    # cooperative dance (retain -> revoke-only round -> grant round)
    holder: dict = {}
    tb = threading.Thread(target=lambda: holder.update(
        b=KafkaGroupConsumer(
            broker.bootstrap, "gc", ["tcs"], assignor="cooperative-sticky"
        )
    ))
    tb.start()
    time.sleep(0.05)
    ta = threading.Thread(target=a.poll_heartbeat)
    ta.start()
    tb.join()
    b = holder["b"]
    # drive B through the follow-up generation until the group settles
    deadline = time.time() + 10
    while time.time() < deadline and not (
        {p for ps in b.assignment.values() for p in ps}
    ):
        b.poll_heartbeat()
        time.sleep(0.05)
    ta.join()
    while time.time() < deadline and a.generation != b.generation:
        a.poll_heartbeat(); b.poll_heartbeat()
        time.sleep(0.05)

    pa = {(t, p) for t, ps in a.assignment.items() for p in ps}
    pb = {(t, p) for t, ps in b.assignment.items() for p in ps}
    assert pa | pb == {("tcs", 0), ("tcs", 1)} and not (pa & pb)
    # stickiness: A kept a subset of what it owned — nothing bounced back
    assert pa and pa < retained_before
    # THE cooperative property: A's retained partition resumes mid-stream
    # (position 4 survived in memory despite zero commits); eager semantics
    # would re-deliver the 4 old records from the committed offset 0
    assert a.poll() == []
    (rt, rp) = next(iter(pa))
    c.produce(rt, rp, [(b"k", b"fresh")])
    after = a.poll()
    assert [(r[0], r[1], r[4]) for r in after] == [(rt, rp, b"fresh")]
    # B starts its newly granted partition from the committed offset (0)
    # and re-reads the 4 records A never committed — per the protocol
    brows = b.poll()
    (bt, bp) = next(iter(pb))
    assert {r[:2] for r in brows} == {(bt, bp)} and len(brows) == 4
    a.close(); b.close(); c.close()


def test_oauthbearer_produce_fetch_and_failure_dance():
    """OAUTHBEARER over real frames (RFC 7628 framing, KIP-255 unsecured
    JWS): a valid token authenticates and the data path works end-to-end;
    an expired token triggers the published two-step failure — the broker
    answers with the JSON error document as a CHALLENGE, the client sends
    the \\x01 dummy response, and only then does authentication fail. An
    allow-listed broker rejects a valid token whose sub is not listed."""
    from numaflow_spark.sources.kafka_wire import (
        MiniKafkaBroker,
        make_unsecured_jwt,
    )

    # OAUTHBEARER is opt-in (the unsecured validator accepts self-minted
    # tokens, so a default-enabled mechanism would bypass PLAIN/SCRAM
    # credential enforcement): a default broker must REFUSE the handshake.
    locked = MiniKafkaBroker(sasl_users={"u": "pw"})
    try:
        sneaky = KafkaWireClient(
            locked.bootstrap, sasl_mechanism="OAUTHBEARER",
            sasl_oauth_token=make_unsecured_jwt("anyone"),
        )
        with pytest.raises(ConnectionError):
            sneaky.metadata(["to"])
        sneaky.close()
    finally:
        locked.close()

    b = MiniKafkaBroker(
        sasl_users={},
        sasl_mechanisms=("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512",
                         "OAUTHBEARER"),
    )  # auth required; OAUTHBEARER explicitly enabled
    try:
        tok = make_unsecured_jwt("pipeline-svc")
        c = KafkaWireClient(
            b.bootstrap, sasl_mechanism="OAUTHBEARER", sasl_oauth_token=tok
        )
        c.metadata(["to"])
        base = c.produce("to", 0, [(b"k", b"v")])
        rows, _hw = c.fetch("to", 0, base)
        assert rows == [(base, b"k", b"v")]
        c.close()

        expired = make_unsecured_jwt("pipeline-svc", lifetime_s=-10)
        bad = KafkaWireClient(
            b.bootstrap, sasl_mechanism="OAUTHBEARER", sasl_oauth_token=expired
        )
        with pytest.raises(ConnectionError, match="invalid_token"):
            bad.metadata(["to"])
        bad.close()

        garbled = KafkaWireClient(
            b.bootstrap, sasl_mechanism="OAUTHBEARER",
            sasl_oauth_token="not-a-jwt",
        )
        with pytest.raises(ConnectionError, match="invalid_token"):
            garbled.metadata(["to"])
        garbled.close()
    finally:
        b.close()

    allow = MiniKafkaBroker(sasl_users={}, oauth_allowed_subs={"alice"})
    try:
        ok = KafkaWireClient(
            allow.bootstrap, sasl_mechanism="OAUTHBEARER",
            sasl_oauth_token=make_unsecured_jwt("alice"),
        )
        ok.metadata(["ta"])
        ok.close()
        stranger = KafkaWireClient(
            allow.bootstrap, sasl_mechanism="OAUTHBEARER",
            sasl_oauth_token=make_unsecured_jwt("mallory"),
        )
        with pytest.raises(ConnectionError, match="invalid_token"):
            stranger.metadata(["ta"])
        stranger.close()
    finally:
        allow.close()


def test_transactions_read_committed_isolation(broker):
    """Transactional produce + read_committed over real frames: records
    inside an OPEN transaction are invisible to a read_committed consumer
    (the LSO holds at the txn's first offset — even blocking LATER
    non-transactional data) while read_uncommitted sees them immediately;
    commit writes the control marker, advances the LSO, and the records
    (never the marker) deliver."""
    from numaflow_spark.sources.kafka_wire import KafkaTransactionalProducer

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tt"])
    p = KafkaTransactionalProducer(broker.bootstrap, "txp")
    p.begin()
    p.send("tt", 0, [(b"k1", b"open", 100, [])])
    # later non-transactional record: also held back by the LSO
    c.produce_records("tt", 0, [(b"k2", b"plain", 101, [])])

    rc, lso = c.fetch_records("tt", 0, 0, isolation="read_committed")
    assert rc == [] and lso == 0
    ru, hw = c.fetch_records("tt", 0, 0)  # read_uncommitted default
    assert [(r[1], r[2]) for r in ru] == [(b"k1", b"open"), (b"k2", b"plain")]
    assert hw == 2

    p.commit()
    rc, lso = c.fetch_records("tt", 0, 0, isolation="read_committed")
    # marker occupies offset 2 but never delivers; lso passes it
    assert [(r[0], r[1], r[2]) for r in rc] == [
        (0, b"k1", b"open"), (1, b"k2", b"plain")
    ]
    assert lso == 3
    p.close()
    c.close()


def test_transactions_abort_hides_records_and_later_commit_delivers(broker):
    """Aborted transactions NEVER deliver under read_committed — and a
    LATER committed transaction from the SAME producer does (the aborted
    range is closed by its abort marker, the published consumer
    algorithm). read_uncommitted still surfaces the aborted data, as the
    protocol specifies."""
    from numaflow_spark.sources.kafka_wire import KafkaTransactionalProducer

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["ta2"])
    p = KafkaTransactionalProducer(broker.bootstrap, "txa")
    p.begin()
    p.send("ta2", 0, [(b"a", b"doomed1", 1, []), (b"a", b"doomed2", 2, [])])
    p.abort()
    p.begin()
    p.send("ta2", 0, [(b"b", b"kept", 3, [])])
    p.commit()

    rc, _lso = c.fetch_records("ta2", 0, 0, isolation="read_committed")
    assert [(r[1], r[2]) for r in rc] == [(b"b", b"kept")]
    ru, _hw = c.fetch_records("ta2", 0, 0)
    assert [(r[2]) for r in ru] == [b"doomed1", b"doomed2", b"kept"]
    p.close()
    c.close()


def test_transactions_resume_after_abort_marker_delivers_later_commits(broker):
    """ADVICE r9 #1 regression: a read_committed consumer whose fetch
    STARTS AFTER an abort control marker (resume from a committed offset)
    must still see later COMMITTED records from the same producer. The
    broker's aborted_transactions index is overlap-filtered to the fetched
    range — a stale entry whose marker precedes the fetch start must not
    ship, or the client re-opens a closed aborted range and drops
    committed data."""
    from numaflow_spark.sources.kafka_wire import KafkaTransactionalProducer

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tr"])
    p = KafkaTransactionalProducer(broker.bootstrap, "txr")
    p.begin()
    p.send("tr", 0, [(b"a", b"doomed", 1, [])])
    p.abort()  # offsets: 0 = doomed, 1 = abort marker
    p.begin()
    p.send("tr", 0, [(b"b", b"kept1", 2, []), (b"b", b"kept2", 3, [])])
    p.commit()  # offsets: 2-3 = committed data, 4 = commit marker

    # Full-log fetch sanity: aborted range filtered as before.
    rc, _lso = c.fetch_records("tr", 0, 0, isolation="read_committed")
    assert [r[2] for r in rc] == [b"kept1", b"kept2"]

    # Resume PAST the abort marker (offset 2, as a consumer restarting
    # from its committed position does): before the overlap filter the
    # broker returned the stale (pid, first=0) range with no closing
    # marker in view, and the client dropped kept1/kept2.
    rc, _lso = c.fetch_records("tr", 0, 2, isolation="read_committed")
    assert [r[2] for r in rc] == [b"kept1", b"kept2"]
    p.close()
    c.close()


def test_transactions_zombie_fencing_and_reinit_abort(broker):
    """InitProducerId with a known transactional_id bumps the epoch and
    aborts the previous incarnation's open transaction: the zombie's
    further writes and its EndTxn are rejected (fencing), and its
    half-written records never deliver under read_committed."""
    from numaflow_spark.sources.kafka_wire import KafkaTransactionalProducer

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tz"])
    zombie = KafkaTransactionalProducer(broker.bootstrap, "tid")
    zombie.begin()
    zombie.send("tz", 0, [(b"z", b"halfdone", 1, [])])
    # a new incarnation takes over the transactional id
    fresh = KafkaTransactionalProducer(broker.bootstrap, "tid")
    assert fresh.producer_epoch == zombie.producer_epoch + 1
    # zombie's commit is fenced
    with pytest.raises(IOError):
        zombie.commit()
    # the zombie's open txn was aborted at re-init: invisible committed-read
    fresh.begin()
    fresh.send("tz", 0, [(b"f", b"fresh", 2, [])])
    fresh.commit()
    rc, _ = c.fetch_records("tz", 0, 0, isolation="read_committed")
    assert [(r[1], r[2]) for r in rc] == [(b"f", b"fresh")]
    zombie._client.close()
    fresh.close()
    c.close()


def test_snappy_and_zstd_codecs_over_the_wire(broker):
    """Compression codecs 2 (snappy, xerial stream framing) and 4 (zstd,
    RFC 8878 frames) round-trip through real produce/fetch frames —
    attributes bits on the wire, broker decodes on append, fetch
    re-encodes uncompressed. Sized via the formats' own metadata (snappy's
    uncompressed-length varint preamble; zstd's Frame_Content_Size)."""
    from numaflow_spark.sources.kafka_wire import SNAPPY, ZSTD

    pytest.importorskip("pyarrow")
    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tc2"])
    recs = [(b"k%d" % i, b"payload-%d" % i * 30, 1000 + i, [("h", b"x")])
            for i in range(25)]
    base_s = c.produce_records("tc2", 0, recs, compression=SNAPPY)
    base_z = c.produce_records("tc2", 0, recs, compression=ZSTD)
    got, _hw = c.fetch_records("tc2", 0, 0)
    assert len(got) == 50
    assert [(k, v) for _o, k, v, _t, _h in got[:25]] == [
        (k, v) for k, v, _t, _h in recs
    ]
    assert got[25][0] == base_z and got[0][0] == base_s
    # headers and timestamps survive the codec round trip
    assert got[7][3] == 1007 and got[7][4] == [("h", b"x")]
    c.close()


def test_lz4_codec_over_the_wire_and_reference_interop(broker):
    """Codec 3 (lz4): standard LZ4 frames round-trip through real
    produce/fetch frames, and the codec interops with the REFERENCE
    implementation (pyarrow's one-shot lz4 frame codec) in BOTH
    directions: the broker reads reference frames with no content-size
    hint (the one-shot decoder itself needs one), and the reference
    decoder reads the frames this module writes."""
    from numaflow_spark.sources.kafka_wire import LZ4, _decompress, _lz4_compress

    pa = pytest.importorskip("pyarrow")
    raw = b"the quick brown fox " * 500
    real = pa.Codec("lz4").compress(raw, asbytes=True)
    assert _decompress(LZ4, real) == raw  # reference -> ours, sizeless
    ours = _lz4_compress(raw)
    assert len(ours) < len(raw) // 5  # actually compresses, not store-mode
    assert pa.Codec("lz4").decompress(
        ours, decompressed_size=len(raw), asbytes=True
    ) == raw  # ours -> reference

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tl4"])
    recs = [(b"k%d" % i, b"payload-%d" % i * 30, 1000 + i, [("h", b"x")])
            for i in range(25)]
    base = c.produce_records("tl4", 0, recs, compression=LZ4)
    got, _hw = c.fetch_records("tl4", 0, 0)
    assert len(got) == 25 and got[0][0] == base
    assert [(k, v) for _o, k, v, _t, _h in got] == [
        (k, v) for k, v, _t, _h in recs
    ]
    assert got[7][3] == 1007 and got[7][4] == [("h", b"x")]
    c.close()


def test_lz4_block_dependent_frame_decodes():
    """Frames with the B.Indep FLG bit CLEAR are legal LZ4F: a match in
    block N may reach into the previous blocks' last 64 KB of decoded
    output (ADVICE r10: a decoder with a fresh history per block
    mis-reported such frames as corrupt offsets). Hand-built frame: a
    stored first block, then a compressed block whose first sequence is a
    match reaching 20 bytes back — entirely into block 1."""
    import struct

    from numaflow_spark.sources.kafka_wire import LZ4, _decompress

    # magic, FLG (version 01, B.Indep CLEAR, no checksums/size), BD (4 MB
    # blocks), HC = second byte of xxHash32(FLG BD)
    header = b"\x04\x22\x4d\x18" + bytes([0x40, 0x70, 0xDF])

    b1 = b"0123456789abcdefghij"  # 20 bytes, stored
    # block 2: [token lit=0 match=8][offset=20 LE] then a literals-only
    # closing sequence of 5 bytes — decodes to b1[:8] + b"WXYZ!"
    b2 = bytes([0x04]) + struct.pack("<H", 20) + bytes([0x50]) + b"WXYZ!"

    frame = bytearray(header)
    frame += struct.pack("<I", len(b1) | 0x80000000) + b1
    frame += struct.pack("<I", len(b2)) + b2
    frame += struct.pack("<I", 0)  # EndMark

    assert _decompress(LZ4, bytes(frame)) == b1 + b1[:8] + b"WXYZ!"


def _batch(records, codec, compress):
    """One RecordBatch v2 of ``records`` whose records section is
    ``compress(section)`` under attributes codec ``codec``, with a valid
    CRC32C: payloads the engine's own encoder never writes."""
    import struct

    from numaflow_spark.sources.kafka_wire import (
        _crc32c,
        _i8,
        _i16,
        _i32,
        _i64,
        encode_record_batch_v2,
    )

    plain = encode_record_batch_v2(0, records)
    # base offset, length, epoch, magic and CRC take 21 bytes; the
    # attributes..record-count header after them takes 40
    after = _i16(codec) + plain[23:61] + compress(plain[61:])
    body = _i32(-1) + _i8(2) + struct.pack(">I", _crc32c(after)) + after
    return _i64(0) + _i32(len(body)) + body


def _produce_batch(client, topic, batch) -> int:
    """Produce v3 of one prebuilt batch to partition 0 -> its error code."""
    from numaflow_spark.sources.kafka_wire import (
        API_PRODUCE,
        _i16,
        _i32,
        _string,
    )

    body = (
        _string(None) + _i16(1) + _i32(5000) + _i32(1)
        + _string(topic) + _i32(1) + _i32(0) + _i32(len(batch)) + batch
    )
    r = client._request(API_PRODUCE, body, version=3)
    r.i32(); r.string(); r.i32(); r.i32()
    return r.i16()


_RECS = [(b"k%d" % i, b"payload-%d" % i * 30, 1000 + i, []) for i in range(25)]


@pytest.mark.parametrize("codec, payload", [
    (1, b"\x1f\x8b\x08\x00" + bytes(6) + b"not deflate data"),
    (2, b"\x82SNAPPY\x00" + bytes(3) + b"\x01" + bytes(3) + b"\x01"
        + bytes(3) + b"\x09" + b"\x20not snappy"),
    # a snappy block claiming a 2**62-byte output: the allocation fails
    (2, b"\x82SNAPPY\x00" + bytes(3) + b"\x01" + bytes(3) + b"\x01"
        + bytes(3) + b"\x0d" + b"\xff" * 8 + b"\x3fjunk"),
], ids=["gzip", "snappy", "snappy-size"])
def test_undecodable_payload_is_err_corrupt(broker, codec, payload):
    """A gzip or snappy batch whose CRC32C holds but whose payload does
    not decompress gets ERR_CORRUPT, and the same connection answers the
    next request (a codec error must not drop the link)."""
    from numaflow_spark.sources.kafka_wire import ERR_CORRUPT

    pytest.importorskip("pyarrow")
    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tbad"])
    assert _produce_batch(c, "tbad", _batch(_RECS, codec, lambda _s: payload)) \
        == ERR_CORRUPT
    assert c.metadata(["tbad"]) == {"tbad": [0, 1]}
    c.close()


def test_zstd_frame_without_content_size_round_trips(broker):
    """Kafka producers may write zstd frames with no Frame_Content_Size
    (a streaming compressor does): such a batch survives produce→fetch."""
    from numaflow_spark.sources.kafka_wire import ERR_NONE, ZSTD

    pa = pytest.importorskip("pyarrow")

    def stream_zstd(section: bytes) -> bytes:
        sink = pa.BufferOutputStream()
        with pa.CompressedOutputStream(sink, "zstd") as out:
            out.write(section)
        frame = sink.getvalue().to_pybytes()
        assert frame[4] >> 6 == 0 and not frame[4] & 0x20  # no FCS field
        return frame

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tzs"])
    assert _produce_batch(c, "tzs", _batch(_RECS, ZSTD, stream_zstd)) == ERR_NONE
    got, _hw = c.fetch_records("tzs", 0, 0)
    assert [(k, v, t) for _o, k, v, t, _h in got] == [
        (k, v, t) for k, v, t, _h in _RECS
    ]
    c.close()


def test_lz4_frames_are_block_independent_and_checked(broker):
    """The engine's LZ4 batches keep the shape Kafka's producer writes
    past one 64 KB block — FLG 0x60 (B.Indep set; Arrow's own frame
    writers clear it there) and BD 0x40 — and a frame whose header
    checksum is wrong gets ERR_CORRUPT."""
    import random

    from numaflow_spark.sources.kafka_wire import (
        ERR_CORRUPT,
        LZ4,
        _lz4_compress,
        encode_record_batch_v2,
    )

    pytest.importorskip("pyarrow")
    rng = random.Random(0)
    big = [(b"k%d" % i, rng.randbytes(1000) + b"x" * 1000, 1000 + i, [])
           for i in range(100)]
    frame = encode_record_batch_v2(0, big, LZ4)[61:]
    assert len(frame) > 64 * 1024
    assert frame[4:6] == bytes([0x60, 0x40])

    c = KafkaWireClient(broker.bootstrap)
    c.metadata(["tl4h"])
    c.produce_records("tl4h", 0, big, compression=LZ4)
    got, _hw = c.fetch_records("tl4h", 0, 0)
    assert [v for _o, _k, v, _t, _h in got] == [v for _k, v, _t, _h in big]

    def bad_checksum(section: bytes) -> bytes:
        frame = bytearray(_lz4_compress(section))
        frame[6] ^= 0xFF  # HC byte
        return bytes(frame)

    assert _produce_batch(c, "tl4h", _batch(_RECS, LZ4, bad_checksum)) \
        == ERR_CORRUPT
    c.close()

