"""gRPC BatchWrite transport tests (SURVEY.md §2.11; proto/log.proto:19-21).

Codec round-trips + live e2e on one gRPC port, over gRPC-Web and over
h2c: socket client -> framed protobuf -> handler -> parquet logs table
-> visible to query_logs.
"""

from __future__ import annotations

import datetime as dt
import threading

import pytest

from clickhouse_observability_spark.api import grpc_transport as G


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def test_codec_round_trip_canonical_row():
    entries, wire = G.canonical_example()
    assert G.decode_batch_write_request(wire) == entries


def test_codec_round_trip_edge_cases():
    entries = [
        {"ts": "", "service": "", "level": "", "msg": "",
         "attrs": {}, "trace_id": "", "span_id": ""},
        {"ts": "not-a-time", "service": "s" * 300, "level": "INFO",
         "msg": "π unicode ✓", "attrs": {"a": "1", "b": "2", "": "empty-key"},
         "trace_id": "t", "span_id": ""},
    ]
    got = G.decode_batch_write_request(G.encode_batch_write_request(entries))
    assert got == entries


@pytest.mark.parametrize("n", [0, 1, 127, 128, 300, 2**32, 2**63 - 1])
def test_response_varint_round_trip(n):
    assert G.decode_batch_write_response(G.encode_batch_write_response(n)) == n


def test_proto3_default_elision():
    # empty strings / empty response serialize to zero bytes
    assert G.encode_log_entry({"ts": "", "attrs": {}}) == b""
    assert G.encode_batch_write_response(0) == b""


def test_wire_bytes_match_proto3_spec():
    # hand-check one entry against the proto3 encoding rules:
    # field 1 (ts) tag = 0x0A, length-prefixed utf-8
    wire = G.encode_log_entry({"ts": "Z", "attrs": {}})
    assert wire == b"\x0a\x01Z"
    # map field 5 entry: tag 0x2A, submessage {1: "k", 2: "v"}
    wire = G.encode_log_entry({"attrs": {"k": "v"}})
    assert wire == b"\x2a\x06\x0a\x01k\x12\x01v"
    # response field 1 varint: tag 0x08
    assert G.encode_batch_write_response(5) == b"\x08\x05"


# ---------------------------------------------------------------------------
# live gRPC-Web e2e (the same server also answers h2c, see below)
# ---------------------------------------------------------------------------

@pytest.fixture()
def grpc_server(spark, tmp_path):
    from clickhouse_observability_spark.sources.writer import LogsTable

    table = LogsTable(spark, str(tmp_path / "logs"))
    handler = G.LogServiceHandler(table.ingest_batch)
    server = G.serve_grpc_web(handler, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield table, port
    finally:
        server.shutdown()


def test_grpc_web_end_to_end(spark, grpc_server):
    from clickhouse_observability_spark.operators.query_logs import query_logs

    table, port = grpc_server
    entries, _ = G.canonical_example()
    entries = entries + [
        {"ts": "bad-timestamp", "service": "orders", "level": "ERROR",
         "msg": "boom", "attrs": {}, "trace_id": "t2", "span_id": "s2"},
    ]
    written = G.grpc_web_call("127.0.0.1", port, entries)
    assert written == 2  # accepted count (service.go:45-46)

    df = table.read()
    assert df.count() == 2
    # canonical row lands queryable through the read-path template
    got = query_logs(
        df, "orders",
        dt.datetime(2025, 9, 1), dt.datetime(2025, 9, 2),
        level="WARN", user="jane.smith",
    ).collect()
    assert len(got) == 1 and got[0]["msg"] == "order pending"
    # malformed ts fell back to ingest time (ST6/service.go:27-34):
    # present in the table with a recent timestamp, not dropped
    bad = df.filter(df.msg == "boom").collect()
    assert len(bad) == 1
    assert bad[0]["ts"].year >= 2026


def test_grpc_web_empty_batch(grpc_server):
    _, port = grpc_server
    assert G.grpc_web_call("127.0.0.1", port, []) == 0


def test_grpc_web_unknown_method_unimplemented(grpc_server):
    import http.client

    _, port = grpc_server
    conn = http.client.HTTPConnection("127.0.0.1", port)
    conn.request("POST", "/logs.v1.LogService/Nope", body=b"",
                 headers={"Content-Type": "application/grpc-web+proto"})
    frames = G.unframe(conn.getresponse().read())
    conn.close()
    trailers = b"".join(p for f, p in frames if f & 0x80).decode()
    assert "grpc-status: 12" in trailers  # UNIMPLEMENTED


# ---------------------------------------------------------------------------
# property-based codec round-trip (hypothesis)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _text = st.text(max_size=40)
    _entry = st.fixed_dictionaries(
        {
            "ts": _text,
            "service": _text,
            "level": _text,
            "msg": _text,
            "attrs": st.dictionaries(
                st.text(min_size=1, max_size=10), _text, max_size=4
            ),
            "trace_id": _text,
            "span_id": _text,
        }
    )

    @given(st.lists(_entry, max_size=8))
    @settings(max_examples=200, deadline=None)
    def test_codec_round_trip_property(entries):
        got = G.decode_batch_write_request(G.encode_batch_write_request(entries))
        assert got == entries
except ImportError:  # pragma: no cover - hypothesis always in container
    pass


# ---------------------------------------------------------------------------
# server reflection (reference main.go:79-81)
# ---------------------------------------------------------------------------

def _reflection_call(port: int, request_bytes: bytes) -> bytes:
    import http.client

    from clickhouse_observability_spark.api import grpc_reflection as R

    conn = http.client.HTTPConnection("127.0.0.1", port)
    try:
        conn.request(
            "POST", R.REFLECTION_METHOD_PATH,
            body=G._frame(0, request_bytes),
            headers={"Content-Type": "application/grpc-web+proto"},
        )
        frames = G.unframe(conn.getresponse().read())
    finally:
        conn.close()
    trailers = b"".join(p for f, p in frames if f & 0x80).decode()
    assert "grpc-status: 0" in trailers
    return b"".join(p for f, p in frames if not f & 0x80)


def test_reflection_list_services(grpc_server):
    from clickhouse_observability_spark.api import grpc_reflection as R

    _, port = grpc_server
    # ServerReflectionRequest{list_services: ""} = field 7, empty str
    resp = _reflection_call(port, G._len_field(7, b""))
    # list_services_response arm (field 6) with both service names
    key, pos = G._decode_varint(resp, 0)
    assert key >> 3 == 6
    assert R.SERVICE_FULL.encode() in resp
    assert R.REFLECTION_SERVICE_FULL.encode() in resp


def test_reflection_file_containing_symbol(grpc_server):
    from clickhouse_observability_spark.api import grpc_reflection as R

    _, port = grpc_server
    req = G._str_field(4, R.SERVICE_FULL)  # file_containing_symbol
    resp = _reflection_call(port, req)
    key, pos = G._decode_varint(resp, 0)
    assert key >> 3 == 4  # file_descriptor_response arm
    ln, pos = G._decode_varint(resp, pos)
    fdr = resp[pos:pos + ln]
    # FileDescriptorResponse{1: repeated bytes} -> our descriptor
    k2, p2 = G._decode_varint(fdr, 0)
    assert k2 >> 3 == 1
    l2, p2 = G._decode_varint(fdr, p2)
    assert fdr[p2:p2 + l2] == R.FILE_DESCRIPTOR


def test_reflection_unknown_symbol_not_found(grpc_server):
    _, port = grpc_server
    resp = _reflection_call(port, G._str_field(4, "nope.Nope"))
    key, _ = G._decode_varint(resp, 0)
    assert key >> 3 == 7  # error_response arm


def test_file_descriptor_decodes():
    # the hand-encoded FileDescriptorProto is self-consistent: walk it
    # with the wire decoder and check name/package/service/method and
    # all seven LogEntry fields are present where descriptor.proto
    # says they live
    from clickhouse_observability_spark.api import grpc_reflection as R

    buf = R.FILE_DESCRIPTOR
    fields = {}
    pos = 0
    while pos < len(buf):
        key, pos = G._decode_varint(buf, pos)
        fno, wt = key >> 3, key & 7
        assert wt == 2
        ln, pos = G._decode_varint(buf, pos)
        fields.setdefault(fno, []).append(buf[pos:pos + ln])
        pos += ln
    assert fields[1] == [b"logs/v1/log.proto"]
    assert fields[2] == [b"logs.v1"]
    assert fields[12] == [b"proto3"]
    assert len(fields[4]) == 3  # LogEntry, BatchWriteRequest, BatchWriteResponse
    names = b"".join(fields[4])
    for n in (b"LogEntry", b"AttrsEntry", b"BatchWriteRequest",
              b"BatchWriteResponse", b"ts", b"attrs", b"span_id"):
        assert n in names
    assert b"LogService" in fields[6][0] and b"BatchWrite" in fields[6][0]


def test_file_descriptor_parses_with_protobuf_if_available():
    # strongest check: a stock protobuf runtime accepts the bytes
    pytest.importorskip("google.protobuf")
    from google.protobuf import descriptor_pb2

    from clickhouse_observability_spark.api import grpc_reflection as R

    fdp = descriptor_pb2.FileDescriptorProto()
    fdp.ParseFromString(R.FILE_DESCRIPTOR)
    assert fdp.name == R.FILE_NAME and fdp.package == "logs.v1"
    assert [m.name for m in fdp.message_type] == [
        "LogEntry", "BatchWriteRequest", "BatchWriteResponse"]
    log_entry = fdp.message_type[0]
    assert [f.name for f in log_entry.field] == [
        "ts", "service", "level", "msg", "attrs", "trace_id", "span_id"]
    assert log_entry.nested_type[0].options.map_entry
    assert fdp.service[0].method[0].name == "BatchWrite"


# ---------------------------------------------------------------------------
# native HTTP/2 (h2c) gRPC — hand-rolled RFC 7540/7541 transport
# ---------------------------------------------------------------------------

def test_hpack_huffman_matches_rfc7541_vectors():
    """The Appendix B code table, pinned by the RFC's own Appendix C
    request/response examples — encoder and decoder both bit-exact."""
    from clickhouse_observability_spark.api import http2_transport as H

    vectors = {
        b"www.example.com": "f1e3c2e5f23a6ba0ab90f4ff",            # C.4.1
        b"no-cache": "a8eb10649cbf",                                # C.4.2
        b"custom-key": "25a849e95ba97d7f",                          # C.4.3
        b"custom-value": "25a849e95bb8e8b4bf",                      # C.4.3
        b"302": "6402",                                             # C.6.1
        b"private": "aec3771a4b",                                   # C.6.1
        b"Mon, 21 Oct 2013 20:13:21 GMT":
            "d07abe941054d444a8200595040b8166e082a62d1bff",         # C.6.1
        b"https://www.example.com": "9d29ad171863c78f0b97c8e9ae82ae43d3",
        b"307": "640eff",                                           # C.6.2
        b"gzip": "9bd9ab",                                          # C.6.3
        b"foo=ASDJKHQKBZXOQWEOPIUAXQWEOIU; max-age=3600; version=1":
            "94e7821dd7f2e6c7b335dfdfcd5b3960d5af27087f3672c1ab27"
            "0fb5291f9587316065c003ed4ee5b1063d5007",               # C.6.3
    }
    for raw, hexexp in vectors.items():
        assert H.huffman_encode(raw).hex() == hexexp, raw
        assert H.huffman_decode(bytes.fromhex(hexexp)) == raw


def test_hpack_decoder_rfc7541_c3_request_sequence():
    """RFC 7541 C.3: three requests on one connection WITH incremental
    indexing — exercises the dynamic table across header blocks."""
    from clickhouse_observability_spark.api import http2_transport as H

    dec = H.HpackDecoder()
    first = bytes.fromhex("828684410f7777772e6578616d706c652e636f6d")
    assert dec.decode(first) == [
        (":method", "GET"), (":scheme", "http"), (":path", "/"),
        (":authority", "www.example.com"),
    ]
    second = bytes.fromhex("828684be58086e6f2d6361636865")
    assert dec.decode(second) == [
        (":method", "GET"), (":scheme", "http"), (":path", "/"),
        (":authority", "www.example.com"), ("cache-control", "no-cache"),
    ]
    third = bytes.fromhex(
        "828785bf400a637573746f6d2d6b65790c637573746f6d2d76616c7565"
    )
    assert dec.decode(third) == [
        (":method", "GET"), (":scheme", "https"), (":path", "/index.html"),
        (":authority", "www.example.com"), ("custom-key", "custom-value"),
    ]


def test_hpack_decoder_rfc7541_c4_huffman_request_sequence():
    """RFC 7541 C.4: the same three requests with Huffman-coded
    literals — the encoding a stock gRPC client actually sends."""
    from clickhouse_observability_spark.api import http2_transport as H

    dec = H.HpackDecoder()
    first = bytes.fromhex("828684418cf1e3c2e5f23a6ba0ab90f4ff")
    assert dec.decode(first)[-1] == (":authority", "www.example.com")
    second = bytes.fromhex("828684be5886a8eb10649cbf")
    assert dec.decode(second)[-1] == ("cache-control", "no-cache")
    third = bytes.fromhex(
        "828785bf408825a849e95ba97d7f8925a849e95bb8e8b4bf"
    )
    assert dec.decode(third)[-1] == ("custom-key", "custom-value")


def test_hpack_encoder_decoder_round_trip():
    from clickhouse_observability_spark.api import http2_transport as H

    headers = [
        (":method", "POST"), (":path", "/logs.v1.LogService/BatchWrite"),
        ("content-type", "application/grpc"), ("x-custom", "π ✓ value"),
    ]
    for huffman in (False, True):
        enc = H.HpackEncoder(huffman=huffman).encode(headers)
        assert H.HpackDecoder().decode(enc) == headers


def test_grpc_http2_end_to_end(spark, grpc_server):
    """A genuine HTTP/2 exchange: preface, SETTINGS, HPACK headers,
    DATA, trailers — canonical row lands queryable in parquet."""
    from clickhouse_observability_spark.api import http2_transport as H
    from clickhouse_observability_spark.operators.query_logs import query_logs

    table, port = grpc_server
    entries, _ = G.canonical_example()
    written = H.batch_write_http2("127.0.0.1", port, entries)
    assert written == 1
    got = query_logs(
        table.read(), "orders",
        dt.datetime(2025, 9, 1), dt.datetime(2025, 9, 2),
        level="WARN", user="jane.smith",
    ).collect()
    assert len(got) == 1 and got[0]["msg"] == "order pending"


def test_grpc_http2_huffman_request_headers(grpc_server):
    """The server's HPACK decoder handles Huffman-coded request
    headers (what stock clients emit when shorter)."""
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_server
    entries, _ = G.canonical_example()
    assert H.batch_write_http2("127.0.0.1", port, entries, huffman=True) == 1


def test_grpc_http2_sequential_streams_one_connection(grpc_server):
    """Two unary calls over separate connections + empty batch."""
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_server
    entries, _ = G.canonical_example()
    assert H.batch_write_http2("127.0.0.1", port, entries) == 1
    assert H.batch_write_http2("127.0.0.1", port, []) == 0


def test_grpc_http2_unknown_method_unimplemented(grpc_server):
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_server
    resp, status, msg = H.grpc_http2_call(
        "127.0.0.1", port, "/logs.v1.LogService/Nope", b""
    )
    assert status == 12 and resp == b""


def test_grpc_http2_reflection_list_services(grpc_server):
    """Server reflection answers on its stock :path over h2c too."""
    from clickhouse_observability_spark.api import grpc_reflection as R
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_server
    # ListServices request: field 7 (list_services) = ""
    req = b"\x3a\x00"
    resp, status, _ = H.grpc_http2_call(
        "127.0.0.1", port, R.REFLECTION_METHOD_PATH, req
    )
    assert status == 0
    assert b"logs.v1.LogService" in resp
    assert R.REFLECTION_SERVICE_FULL.encode() in resp


def test_handler_error_same_status_on_both_wire_flavors():
    """One exception -> grpc-status mapping: a raising submit is
    UNKNOWN (2) with the same message over gRPC-Web and over h2c."""
    from clickhouse_observability_spark.api import http2_transport as H

    def submit(rows):
        raise ValueError("disk full")

    server = G.serve_grpc_web(G.LogServiceHandler(submit), port=0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    entries, _ = G.canonical_example()
    try:
        with pytest.raises(RuntimeError) as web:
            G.grpc_web_call("127.0.0.1", port, entries)
        with pytest.raises(RuntimeError) as h2c:
            H.batch_write_http2("127.0.0.1", port, entries)
    finally:
        server.shutdown()
    assert str(web.value) == str(h2c.value) == "grpc-status 2: ValueError"


# Raw bytes of a stock-client-shaped h2c BatchWrite session, checked
# in verbatim. The layout is what a stock gRPC client (the grpc-go
# family) actually puts on the wire per the public gRPC
# PROTOCOL-HTTP2 doc and RFC 7540/7541, byte-for-byte exercising
# features the in-repo client (batch_write_http2) does NOT emit: a
# non-empty SETTINGS frame (ENABLE_PUSH=0, INITIAL_WINDOW_SIZE,
# MAX_FRAME_SIZE), a connection-level WINDOW_UPDATE, a PING that
# expects an ACK, an unsolicited SETTINGS ACK, and HPACK request
# headers mixing static-table references with Huffman-coded literals
# under INCREMENTAL indexing (dynamic-table inserts) — including
# te:trailers, a grpc-go user-agent, and grpc-accept-encoding. The
# DATA payload is the canonical BatchWrite row whose proto3 bytes
# are pinned against the spec in test_wire_bytes_match_proto3_spec.
# (No stock client binary exists in this container; the bytes were
# assembled once from the public specs and are replayed VERBATIM —
# the server never sees in-repo client code in this test.)
GOLDEN_H2C_SESSION = bytes.fromhex(
    "505249202a20485454502f322e300d0a0d0a534d0d0a0d0a0000120400000000"
    "0000020000000000040000ffff000500004000000004080000000000000f0001"
    "0000080600000000000102030405060708000000040100000000000068010400"
    "000001838644966283cc85fb857ce79b716cee62158ba34927e561925f4186a0"
    "e41d139d095f8b1d75d0620d263d4c4d65647a8a9acac8b4c7602bb6fae04082"
    "497f864d833505b11f408e9acac8b0c842d6958b510f21aa9b913485a9264faf"
    "a5242cb40d25fa526f66af000063000100000001000000005e0a5c0a14323032"
    "352d30392d30315432303a30353a30305a12066f72646572731a045741524e22"
    "0d6f726465722070656e64696e672a120a0475736572120a6a616e652e736d69"
    "7468320974726163652d3132343a087370616e2d343538"
)


def _replay(port: int, *chunks: bytes) -> tuple[bytes | None, dict, bytes]:
    """Send raw bytes in `chunks` (a pause between each) and read the
    server's side of the conversation until the trailers: (PING ACK
    payload, response headers + trailers, DATA body)."""
    import socket
    import time

    from clickhouse_observability_spark.api import http2_transport as H

    s = socket.create_connection(("127.0.0.1", port), timeout=10)
    try:
        for i, chunk in enumerate(chunks):
            if i:
                time.sleep(0.2)
            s.sendall(chunk)
        dec = H.HpackDecoder()
        headers, body, ping_ack = [], b"", None
        while True:
            ftype, flags, sid, payload = H.read_frame(s)
            if ftype == H.FT_PING and flags & H.FLAG_ACK:
                ping_ack = payload
            elif ftype == H.FT_HEADERS:
                headers.extend(dec.decode(payload))
                if flags & H.FLAG_END_STREAM:
                    break
            elif ftype == H.FT_DATA:
                body += payload
    finally:
        s.close()
    return ping_ack, dict(headers), body


def test_grpc_http2_golden_stock_client_transcript(spark, grpc_server):
    """Replay the golden session raw over a plain socket — no in-repo
    HTTP/2 client involved on the send side — and assert the full
    server conversation: PING ACK with the same opaque data, 200
    response headers, a BatchWriteResponse{written=1} DATA body,
    grpc-status 0 trailers, and the row landed queryable."""
    from clickhouse_observability_spark.operators.query_logs import query_logs

    table, port = grpc_server
    ping_ack, hd, body = _replay(port, GOLDEN_H2C_SESSION)
    assert ping_ack == bytes(range(1, 9))
    assert hd[":status"] == "200"
    assert hd["content-type"] == "application/grpc"
    assert hd["grpc-status"] == "0"
    # length-prefixed BatchWriteResponse: field 1 varint written=1
    assert body == b"\x00\x00\x00\x00\x02\x08\x01"
    got = query_logs(
        table.read(), "orders",
        dt.datetime(2025, 9, 1), dt.datetime(2025, 9, 2),
        level="WARN", user="jane.smith",
    ).collect()
    assert len(got) == 1 and got[0]["msg"] == "order pending"


def test_grpc_http2_preface_split_across_segments(grpc_server):
    """The listener tells h2c from gRPC-Web by the preface; a client
    whose preface arrives in two TCP segments is still served h2c."""
    _, port = grpc_server
    _, hd, body = _replay(
        port, GOLDEN_H2C_SESSION[:10], GOLDEN_H2C_SESSION[10:])
    assert hd["grpc-status"] == "0"
    assert body == b"\x00\x00\x00\x00\x02\x08\x01"
