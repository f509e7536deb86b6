"""gRPC `logs.v1.LogService/BatchWrite` transport (SURVEY.md §2.11).

Reference wire surface: proto/log.proto:6-21 (LogEntry with string ts,
map<string,string> attrs; BatchWriteRequest{entries}; BatchWriteResponse
{written}) served by internal/service/service.go:21-47, which parses ts
with the RFC3339Nano -> RFC3339 -> now() fallback, enqueues, and replies
with the ACCEPTED count before anything is persisted.

This module reproduces that surface without generated code or external
dependencies:

- a hand-written protobuf WIRE CODEC for exactly these three messages
  (proto3 encoding is varint tags + length-delimited fields; the map
  field is the standard repeated {1:key, 2:value} entry message);
- `LogServiceHandler`: transport-agnostic bytes->bytes BatchWrite that
  delegates to any submit callable (`LogsTable.ingest_batch` for the
  synchronous path, `IngestStream.submit_many` for the micro-batched
  path — both return the accepted count, matching service.go:45-46).
  The ts fallback itself lives in the normalize step
  (functions/timeparse.py), exactly where the reference parses it at
  the service boundary;
- one gRPC server (`serve_grpc_web`) on one port for both wire
  flavors: it peeks at each new connection, hands one that opens with
  the HTTP/2 preface to the h2c connection loop in
  `api/http2_transport.py` (stock `application/grpc`), and serves any
  other as gRPC-Web over HTTP/1.1 (`application/grpc-web+proto`
  5-byte-prefixed frames and a trailers frame). Both flavors share one
  method table, one exception -> grpc-status mapping (`dispatch`) and
  one pair of framing helpers (`_frame` / `unframe`).
"""

from __future__ import annotations

import json
import struct
from collections.abc import Callable, Mapping

# ---------------------------------------------------------------------------
# protobuf wire codec (proto3) for log.proto's three messages
# ---------------------------------------------------------------------------

_WT_VARINT = 0
_WT_LEN = 2


def _encode_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _tag(field_no: int, wire_type: int) -> bytes:
    return _encode_varint((field_no << 3) | wire_type)


def _len_field(field_no: int, payload: bytes) -> bytes:
    return _tag(field_no, _WT_LEN) + _encode_varint(len(payload)) + payload


def _str_field(field_no: int, s: str | None) -> bytes:
    # proto3 default-value elision: empty strings are not serialized
    if not s:
        return b""
    return _len_field(field_no, s.encode("utf-8"))


def encode_log_entry(entry: Mapping) -> bytes:
    """LogEntry (proto/log.proto:6-14). attrs is the canonical proto3
    map encoding: repeated entry messages {1: key, 2: value}."""
    out = bytearray()
    out += _str_field(1, entry.get("ts"))
    out += _str_field(2, entry.get("service"))
    out += _str_field(3, entry.get("level"))
    out += _str_field(4, entry.get("msg"))
    for k, v in (entry.get("attrs") or {}).items():
        out += _len_field(5, _str_field(1, k) + _str_field(2, v))
    out += _str_field(6, entry.get("trace_id"))
    out += _str_field(7, entry.get("span_id"))
    return bytes(out)


def _skip_field(buf: bytes, pos: int, wire_type: int) -> int:
    if wire_type == _WT_VARINT:
        _, pos = _decode_varint(buf, pos)
    elif wire_type == 1:  # fixed64
        pos += 8
    elif wire_type == _WT_LEN:
        ln, pos = _decode_varint(buf, pos)
        pos += ln
    elif wire_type == 5:  # fixed32
        pos += 4
    else:
        raise ValueError(f"unsupported wire type {wire_type}")
    return pos


def decode_log_entry(buf: bytes) -> dict:
    entry = {
        "ts": "", "service": "", "level": "", "msg": "",
        "attrs": {}, "trace_id": "", "span_id": "",
    }
    names = {1: "ts", 2: "service", 3: "level", 4: "msg", 6: "trace_id", 7: "span_id"}
    pos = 0
    while pos < len(buf):
        key, pos = _decode_varint(buf, pos)
        field_no, wt = key >> 3, key & 7
        if field_no in names and wt == _WT_LEN:
            ln, pos = _decode_varint(buf, pos)
            entry[names[field_no]] = buf[pos:pos + ln].decode("utf-8")
            pos += ln
        elif field_no == 5 and wt == _WT_LEN:
            ln, pos = _decode_varint(buf, pos)
            k, v, mp = "", "", pos
            end = pos + ln
            while mp < end:
                mkey, mp = _decode_varint(buf, mp)
                mln, mp = _decode_varint(buf, mp)
                s = buf[mp:mp + mln].decode("utf-8")
                mp += mln
                if mkey >> 3 == 1:
                    k = s
                else:
                    v = s
            entry["attrs"][k] = v
            pos = end
        else:
            pos = _skip_field(buf, pos, wt)
    return entry


def encode_batch_write_request(entries: list[Mapping]) -> bytes:
    return b"".join(_len_field(1, encode_log_entry(e)) for e in entries)


def decode_batch_write_request(buf: bytes) -> list[dict]:
    entries = []
    pos = 0
    while pos < len(buf):
        key, pos = _decode_varint(buf, pos)
        if key >> 3 == 1 and key & 7 == _WT_LEN:
            ln, pos = _decode_varint(buf, pos)
            entries.append(decode_log_entry(buf[pos:pos + ln]))
            pos += ln
        else:
            pos = _skip_field(buf, pos, key & 7)
    return entries


def encode_batch_write_response(written: int) -> bytes:
    if written == 0:
        return b""  # proto3 default elision
    return _tag(1, _WT_VARINT) + _encode_varint(written)


def decode_batch_write_response(buf: bytes) -> int:
    pos = 0
    while pos < len(buf):
        key, pos = _decode_varint(buf, pos)
        if key >> 3 == 1 and key & 7 == _WT_VARINT:
            val, pos = _decode_varint(buf, pos)
            return val
        pos = _skip_field(buf, pos, key & 7)
    return 0


# ---------------------------------------------------------------------------
# service handler (transport-agnostic)
# ---------------------------------------------------------------------------

METHOD_PATH = "/logs.v1.LogService/BatchWrite"  # log.proto:19-21


class LogServiceHandler:
    """BatchWrite semantics over any submit callable.

    submit: (rows) -> accepted count. Use LogsTable.ingest_batch for
    the write-through path or IngestStream.submit_many for the
    micro-batched path; both reply with the ACCEPTED count before
    persistence (service.go:45-46 contract). The RFC3339[Nano]->now()
    ts fallback (service.go:27-34) is applied by normalize_ingest in
    the write path, so malformed timestamps pass through here intact.
    """

    def __init__(self, submit: Callable[[list[dict]], int]):
        self._submit = submit

    def batch_write(self, request_bytes: bytes) -> bytes:
        entries = decode_batch_write_request(request_bytes)
        written = self._submit(entries) if entries else 0
        return encode_batch_write_response(written)


# ---------------------------------------------------------------------------
# gRPC transport: one listener, gRPC-Web over HTTP/1.1 and h2c over HTTP/2
# ---------------------------------------------------------------------------

_GRPC_WEB_CT = "application/grpc-web+proto"


def _frame(flags: int, payload: bytes) -> bytes:
    return struct.pack(">BI", flags, len(payload)) + payload


def unframe(body: bytes) -> list[tuple[int, bytes]]:
    """Split a gRPC[-Web] body into (flags, payload) frames."""
    frames = []
    pos = 0
    while pos + 5 <= len(body):
        flags, ln = struct.unpack(">BI", body[pos:pos + 5])
        frames.append((flags, body[pos + 5:pos + 5 + ln]))
        pos += 5 + ln
    return frames


def dispatch(
    methods: Mapping[str, Callable[[bytes], bytes]], path: str, body: bytes
) -> tuple[bytes, int, str]:
    """Run one call for either wire flavor: framed request body in,
    (framed response body, grpc-status, grpc-message) out.

    One response message per request message: that is unary
    BatchWrite, and the bidi reflection stream once its requests are
    fully buffered. An unknown `:path` is UNIMPLEMENTED (12); a handler
    error is UNKNOWN (2), what grpc-go returns for a non-status error.
    """
    method = methods.get(path)
    if method is None:
        return b"", 12, "unknown method"
    messages = [p for f, p in unframe(body) if f == 0] or [b""]
    try:
        return b"".join(_frame(0, method(m)) for m in messages), 0, ""
    except Exception as e:
        return b"", 2, type(e).__name__


def serve_grpc_web(handler: LogServiceHandler, host: str = "127.0.0.1", port: int = 8081):
    """gRPC server for LogService (reference serves gRPC on :8081,
    cmd/server/main.go:74-88). Returns the server; run
    `server.serve_forever()` in a thread, `.shutdown()` to stop.

    One port speaks both wire flavors. A connection that opens with
    the HTTP/2 preface is native `application/grpc` (h2c, what stock
    gRPC clients send); any other is gRPC-Web over HTTP/1.1: request =
    one 0x00 frame, response = 0x00 frames + one 0x80 trailers frame
    carrying `grpc-status`.

    Server reflection is registered alongside LogService (reference
    cmd/server/main.go:79-81): grpc.reflection.v1alpha list/describe
    requests are answered from the hand-encoded log.proto descriptor
    (api/grpc_reflection.py).
    """
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from clickhouse_observability_spark.api.grpc_reflection import (
        REFLECTION_METHOD_PATH,
        handle_reflection,
    )
    from clickhouse_observability_spark.api.http2_transport import (
        _Conn,
        opens_with_preface,
    )

    methods: dict[str, Callable[[bytes], bytes]] = {
        METHOD_PATH: handler.batch_write,
        REFLECTION_METHOD_PATH: handle_reflection,
    }

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):  # silence
            pass

        def handle(self):
            if opens_with_preface(self.request):
                _Conn(self.request, methods).run()
            else:
                super().handle()

        def do_POST(self):
            ln = int(self.headers.get("Content-Length", "0"))
            body, status, msg = dispatch(methods, self.path, self.rfile.read(ln))
            trailer = f"grpc-status: {status}\r\n"
            if msg:
                trailer += f"grpc-message: {msg}\r\n"
            body += _frame(0x80, trailer.encode())
            self.send_response(200)
            self.send_header("Content-Type", _GRPC_WEB_CT)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    return ThreadingHTTPServer((host, port), Handler)


def grpc_web_call(host: str, port: int, entries: list[Mapping]) -> int:
    """Minimal gRPC-Web client for tests/tools: returns `written`."""
    import http.client

    body = _frame(0, encode_batch_write_request(entries))
    conn = http.client.HTTPConnection(host, port)
    try:
        conn.request(
            "POST", METHOD_PATH, body=body, headers={"Content-Type": _GRPC_WEB_CT}
        )
        r = conn.getresponse()
        frames = unframe(r.read())
    finally:
        conn.close()
    trailers = {}
    written = 0
    for flags, payload in frames:
        if flags & 0x80:
            for line in payload.decode().splitlines():
                name, _, value = line.partition(":")
                trailers[name] = value.strip()
        else:
            written = decode_batch_write_response(payload)
    status = int(trailers.get("grpc-status", 0))
    if status != 0:
        raise RuntimeError(
            f"grpc-status {status}: {trailers.get('grpc-message', '')}"
        )
    return written


# ---------------------------------------------------------------------------
# round-trip sanity hook (used by tests; keeps the codec honest against
# a reference vector captured from protobuf's canonical encoder)
# ---------------------------------------------------------------------------

def canonical_example() -> tuple[list[dict], bytes]:
    """The README.md:83-85 canonical row as a wire-level test vector.
    The byte string was hand-assembled per the proto3 spec (field
    tags in ascending order, map entry as {1,2} submessage)."""
    entries = [
        {
            "ts": "2025-09-01T20:05:00Z",
            "service": "orders",
            "level": "WARN",
            "msg": "order pending",
            "attrs": {"user": "jane.smith"},
            "trace_id": "trace-124",
            "span_id": "span-458",
        }
    ]
    return entries, encode_batch_write_request(entries)


def attrs_json(entry: Mapping) -> str:
    """Go's json.Marshal sorts map keys (db.go:160-165); mirror it."""
    return json.dumps(dict(sorted((entry.get("attrs") or {}).items())))
