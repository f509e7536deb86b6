"""Native gRPC over hand-rolled HTTP/2 — the reference's second wire
surface (cmd/server/main.go:74-88 serves `application/grpc` over
HTTP/2h2c on :8081).

The container ships no grpcio and no HTTP/2 library, so — like the
image/audio codecs — the PUBLIC wire formats are implemented from
their RFCs with stdlib only:

- RFC 7541 HPACK: integer/string primitives, the full static table,
  a dynamic table with size eviction, and the complete Appendix B
  Huffman code (encoder + decoder, EOS-padding validated). The
  decoder handles every representation a stock gRPC client emits
  (indexed, literal with/without/never indexing, table-size update,
  Huffman-coded strings); correctness is pinned by the RFC's own
  Appendix C vectors in tests/test_grpc.py.
- RFC 7540 framing: connection preface, SETTINGS/PING/WINDOW_UPDATE/
  GOAWAY handling, HEADERS(+CONTINUATION)/DATA with padding and
  priority fields, per-stream assembly, trailers.
- gRPC-over-HTTP/2 semantics: per-stream `:path` + body handed to
  `grpc_transport.dispatch` (the method table, 5-byte framing and
  grpc-status mapping shared with gRPC-Web), `grpc-status` trailers.

There is no second listener: `grpc_transport.serve_grpc_web` peeks at
each connection (`opens_with_preface`) and runs `_Conn` on the ones
that open with the HTTP/2 preface. `grpc_http2_call` is the in-repo
client that e2e-tests it over a genuine HTTP/2 exchange.
"""

from __future__ import annotations

import socket
import struct
import threading
from collections.abc import Callable, Mapping

from clickhouse_observability_spark.api.grpc_transport import (
    METHOD_PATH,
    _frame,
    decode_batch_write_response,
    dispatch,
    encode_batch_write_request,
    unframe,
)

# ---------------------------------------------------------------------------
# RFC 7541 Appendix B — Huffman code for HPACK string literals
# (symbol -> (code, nbits); symbol 256 is EOS)
# ---------------------------------------------------------------------------

HUFFMAN_TABLE: list[tuple[int, int]] = [
    (0x1FF8, 13), (0x7FFFD8, 23), (0xFFFFFE2, 28), (0xFFFFFE3, 28),
    (0xFFFFFE4, 28), (0xFFFFFE5, 28), (0xFFFFFE6, 28), (0xFFFFFE7, 28),
    (0xFFFFFE8, 28), (0xFFFFEA, 24), (0x3FFFFFFC, 30), (0xFFFFFE9, 28),
    (0xFFFFFEA, 28), (0x3FFFFFFD, 30), (0xFFFFFEB, 28), (0xFFFFFEC, 28),
    (0xFFFFFED, 28), (0xFFFFFEE, 28), (0xFFFFFEF, 28), (0xFFFFFF0, 28),
    (0xFFFFFF1, 28), (0xFFFFFF2, 28), (0x3FFFFFFE, 30), (0xFFFFFF3, 28),
    (0xFFFFFF4, 28), (0xFFFFFF5, 28), (0xFFFFFF6, 28), (0xFFFFFF7, 28),
    (0xFFFFFF8, 28), (0xFFFFFF9, 28), (0xFFFFFFA, 28), (0xFFFFFFB, 28),
    (0x14, 6), (0x3F8, 10), (0x3F9, 10), (0xFFA, 12),
    (0x1FF9, 13), (0x15, 6), (0xF8, 8), (0x7FA, 11),
    (0x3FA, 10), (0x3FB, 10), (0xF9, 8), (0x7FB, 11),
    (0xFA, 8), (0x16, 6), (0x17, 6), (0x18, 6),
    (0x0, 5), (0x1, 5), (0x2, 5), (0x19, 6),
    (0x1A, 6), (0x1B, 6), (0x1C, 6), (0x1D, 6),
    (0x1E, 6), (0x1F, 6), (0x5C, 7), (0xFB, 8),
    (0x7FFC, 15), (0x20, 6), (0xFFB, 12), (0x3FC, 10),
    (0x1FFA, 13), (0x21, 6), (0x5D, 7), (0x5E, 7),
    (0x5F, 7), (0x60, 7), (0x61, 7), (0x62, 7),
    (0x63, 7), (0x64, 7), (0x65, 7), (0x66, 7),
    (0x67, 7), (0x68, 7), (0x69, 7), (0x6A, 7),
    (0x6B, 7), (0x6C, 7), (0x6D, 7), (0x6E, 7),
    (0x6F, 7), (0x70, 7), (0x71, 7), (0x72, 7),
    (0xFC, 8), (0x73, 7), (0xFD, 8), (0x1FFB, 13),
    (0x7FFF0, 19), (0x1FFC, 13), (0x3FFC, 14), (0x22, 6),
    (0x7FFD, 15), (0x3, 5), (0x23, 6), (0x4, 5),
    (0x24, 6), (0x5, 5), (0x25, 6), (0x26, 6),
    (0x27, 6), (0x6, 5), (0x74, 7), (0x75, 7),
    (0x28, 6), (0x29, 6), (0x2A, 6), (0x7, 5),
    (0x2B, 6), (0x76, 7), (0x2C, 6), (0x8, 5),
    (0x9, 5), (0x2D, 6), (0x77, 7), (0x78, 7),
    (0x79, 7), (0x7A, 7), (0x7B, 7), (0x7FFE, 15),
    (0x7FC, 11), (0x3FFD, 14), (0x1FFD, 13), (0xFFFFFFC, 28),
    (0xFFFE6, 20), (0x3FFFD2, 22), (0xFFFE7, 20), (0xFFFE8, 20),
    (0x3FFFD3, 22), (0x3FFFD4, 22), (0x3FFFD5, 22), (0x7FFFD9, 23),
    (0x3FFFD6, 22), (0x7FFFDA, 23), (0x7FFFDB, 23), (0x7FFFDC, 23),
    (0x7FFFDD, 23), (0x7FFFDE, 23), (0xFFFFEB, 24), (0x7FFFDF, 23),
    (0xFFFFEC, 24), (0xFFFFED, 24), (0x3FFFD7, 22), (0x7FFFE0, 23),
    (0xFFFFEE, 24), (0x7FFFE1, 23), (0x7FFFE2, 23), (0x7FFFE3, 23),
    (0x7FFFE4, 23), (0x1FFFDC, 21), (0x3FFFD8, 22), (0x7FFFE5, 23),
    (0x3FFFD9, 22), (0x7FFFE6, 23), (0x7FFFE7, 23), (0xFFFFEF, 24),
    (0x3FFFDA, 22), (0x1FFFDD, 21), (0xFFFE9, 20), (0x3FFFDB, 22),
    (0x3FFFDC, 22), (0x7FFFE8, 23), (0x7FFFE9, 23), (0x1FFFDE, 21),
    (0x7FFFEA, 23), (0x3FFFDD, 22), (0x3FFFDE, 22), (0xFFFFF0, 24),
    (0x1FFFDF, 21), (0x3FFFDF, 22), (0x7FFFEB, 23), (0x7FFFEC, 23),
    (0x1FFFE0, 21), (0x1FFFE1, 21), (0x3FFFE0, 22), (0x1FFFE2, 21),
    (0x7FFFED, 23), (0x3FFFE1, 22), (0x7FFFEE, 23), (0x7FFFEF, 23),
    (0xFFFEA, 20), (0x3FFFE2, 22), (0x3FFFE3, 22), (0x3FFFE4, 22),
    (0x7FFFF0, 23), (0x3FFFE5, 22), (0x3FFFE6, 22), (0x7FFFF1, 23),
    (0x3FFFFE0, 26), (0x3FFFFE1, 26), (0xFFFEB, 20), (0x7FFF1, 19),
    (0x3FFFE7, 22), (0x7FFFF2, 23), (0x3FFFE8, 22), (0x1FFFFEC, 25),
    (0x3FFFFE2, 26), (0x3FFFFE3, 26), (0x3FFFFE4, 26), (0x7FFFFDE, 27),
    (0x7FFFFDF, 27), (0x3FFFFE5, 26), (0xFFFFF1, 24), (0x1FFFFED, 25),
    (0x7FFF2, 19), (0x1FFFE3, 21), (0x3FFFFE6, 26), (0x7FFFFE0, 27),
    (0x7FFFFE1, 27), (0x3FFFFE7, 26), (0x7FFFFE2, 27), (0xFFFFF2, 24),
    (0x1FFFE4, 21), (0x1FFFE5, 21), (0x3FFFFE8, 26), (0x3FFFFE9, 26),
    (0xFFFFFFD, 28), (0x7FFFFE3, 27), (0x7FFFFE4, 27), (0x7FFFFE5, 27),
    (0xFFFEC, 20), (0xFFFFF3, 24), (0xFFFED, 20), (0x1FFFE6, 21),
    (0x3FFFE9, 22), (0x1FFFE7, 21), (0x1FFFE8, 21), (0x7FFFF3, 23),
    (0x3FFFEA, 22), (0x3FFFEB, 22), (0x1FFFFEE, 25), (0x1FFFFEF, 25),
    (0xFFFFF4, 24), (0xFFFFF5, 24), (0x3FFFFEA, 26), (0x7FFFF4, 23),
    (0x3FFFFEB, 26), (0x7FFFFE6, 27), (0x3FFFFEC, 26), (0x3FFFFED, 26),
    (0x7FFFFE7, 27), (0x7FFFFE8, 27), (0x7FFFFE9, 27), (0x7FFFFEA, 27),
    (0x7FFFFEB, 27), (0xFFFFFFE, 28), (0x7FFFFEC, 27), (0x7FFFFED, 27),
    (0x7FFFFEE, 27), (0x7FFFFEF, 27), (0x7FFFFF0, 27), (0x3FFFFEE, 26),
    (0x3FFFFFFF, 30),
]

_DECODE_MAP: dict[tuple[int, int], int] = {
    (bits, code): sym for sym, (code, bits) in enumerate(HUFFMAN_TABLE)
}


def huffman_encode(data: bytes) -> bytes:
    acc = 0
    nbits = 0
    out = bytearray()
    for byte in data:
        code, n = HUFFMAN_TABLE[byte]
        acc = (acc << n) | code
        nbits += n
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        # pad with the EOS prefix (all ones)
        pad = 8 - nbits
        out.append(((acc << pad) | ((1 << pad) - 1)) & 0xFF)
    return bytes(out)


def huffman_decode(data: bytes) -> bytes:
    out = bytearray()
    code = 0
    nbits = 0
    for byte in data:
        for i in range(7, -1, -1):
            code = (code << 1) | ((byte >> i) & 1)
            nbits += 1
            sym = _DECODE_MAP.get((nbits, code))
            if sym is not None:
                if sym == 256:
                    raise ValueError("HPACK: EOS symbol in huffman data")
                out.append(sym)
                code = 0
                nbits = 0
            elif nbits > 30:
                raise ValueError("HPACK: invalid huffman code")
    # trailing bits must be a prefix of EOS (all ones), < 8 bits
    if nbits >= 8 or code != (1 << nbits) - 1:
        raise ValueError("HPACK: invalid huffman padding")
    return bytes(out)


# ---------------------------------------------------------------------------
# RFC 7541 HPACK — static table, integer/string primitives, codec
# ---------------------------------------------------------------------------

STATIC_TABLE: list[tuple[str, str]] = [
    (":authority", ""), (":method", "GET"), (":method", "POST"),
    (":path", "/"), (":path", "/index.html"), (":scheme", "http"),
    (":scheme", "https"), (":status", "200"), (":status", "204"),
    (":status", "206"), (":status", "304"), (":status", "400"),
    (":status", "404"), (":status", "500"), ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"), ("accept-language", ""),
    ("accept-ranges", ""), ("accept", ""), ("access-control-allow-origin", ""),
    ("age", ""), ("allow", ""), ("authorization", ""), ("cache-control", ""),
    ("content-disposition", ""), ("content-encoding", ""),
    ("content-language", ""), ("content-length", ""), ("content-location", ""),
    ("content-range", ""), ("content-type", ""), ("cookie", ""), ("date", ""),
    ("etag", ""), ("expect", ""), ("expires", ""), ("from", ""), ("host", ""),
    ("if-match", ""), ("if-modified-since", ""), ("if-none-match", ""),
    ("if-range", ""), ("if-unmodified-since", ""), ("last-modified", ""),
    ("link", ""), ("location", ""), ("max-forwards", ""),
    ("proxy-authenticate", ""), ("proxy-authorization", ""), ("range", ""),
    ("referer", ""), ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""), ("via", ""),
    ("www-authenticate", ""),
]


def _encode_int(value: int, prefix_bits: int, first_byte: int = 0) -> bytes:
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytes([first_byte | value])
    out = bytearray([first_byte | limit])
    value -= limit
    while value >= 128:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def _decode_int(buf: bytes, pos: int, prefix_bits: int) -> tuple[int, int]:
    limit = (1 << prefix_bits) - 1
    value = buf[pos] & limit
    pos += 1
    if value < limit:
        return value, pos
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        value += (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return value, pos


def _encode_str(s: str, huffman: bool = False) -> bytes:
    raw = s.encode("utf-8", "surrogateescape")
    if huffman:
        enc = huffman_encode(raw)
        return _encode_int(len(enc), 7, 0x80) + enc
    return _encode_int(len(raw), 7, 0x00) + raw


def _decode_str(buf: bytes, pos: int) -> tuple[str, int]:
    huff = bool(buf[pos] & 0x80)
    length, pos = _decode_int(buf, pos, 7)
    raw = bytes(buf[pos:pos + length])
    if len(raw) != length:
        raise ValueError("HPACK: truncated string literal")
    pos += length
    if huff:
        raw = huffman_decode(raw)
    return raw.decode("utf-8", "surrogateescape"), pos


class HpackDecoder:
    """Stateful HPACK header-block decoder (one per connection
    direction, per RFC 7541 §2.2)."""

    def __init__(self, max_table_size: int = 4096):
        self.dynamic: list[tuple[str, str]] = []
        self.max_size = max_table_size
        self.size = 0

    def _entry(self, index: int) -> tuple[str, str]:
        if index <= 0:
            raise ValueError("HPACK: index 0")
        if index <= len(STATIC_TABLE):
            return STATIC_TABLE[index - 1]
        d = index - len(STATIC_TABLE) - 1
        if d >= len(self.dynamic):
            raise ValueError(f"HPACK: index {index} out of range")
        return self.dynamic[d]

    def _add(self, name: str, value: str) -> None:
        entry_size = len(name.encode()) + len(value.encode()) + 32
        self.dynamic.insert(0, (name, value))
        self.size += entry_size
        while self.size > self.max_size and self.dynamic:
            n, v = self.dynamic.pop()
            self.size -= len(n.encode()) + len(v.encode()) + 32

    def decode(self, block: bytes) -> list[tuple[str, str]]:
        out: list[tuple[str, str]] = []
        pos = 0
        while pos < len(block):
            b = block[pos]
            if b & 0x80:  # indexed header field
                index, pos = _decode_int(block, pos, 7)
                out.append(self._entry(index))
            elif b & 0x40:  # literal with incremental indexing
                index, pos = _decode_int(block, pos, 6)
                name = self._entry(index)[0] if index else None
                if name is None:
                    name, pos = _decode_str(block, pos)
                value, pos = _decode_str(block, pos)
                self._add(name, value)
                out.append((name, value))
            elif b & 0x20:  # dynamic table size update
                new_size, pos = _decode_int(block, pos, 5)
                self.max_size = new_size
                while self.size > self.max_size and self.dynamic:
                    n, v = self.dynamic.pop()
                    self.size -= len(n.encode()) + len(v.encode()) + 32
            else:  # literal without indexing (0x00) / never indexed (0x10)
                index, pos = _decode_int(block, pos, 4)
                name = self._entry(index)[0] if index else None
                if name is None:
                    name, pos = _decode_str(block, pos)
                value, pos = _decode_str(block, pos)
                out.append((name, value))
        return out


class HpackEncoder:
    """Header-block encoder: literal-without-indexing only (always
    valid, stateless — the conservative peer per RFC 7541 §6.2.2),
    with optional Huffman string coding."""

    def __init__(self, huffman: bool = False):
        self.huffman = huffman

    def encode(self, headers: list[tuple[str, str]]) -> bytes:
        out = bytearray()
        for name, value in headers:
            # try a static-table name index for compactness
            idx = next(
                (
                    i + 1
                    for i, (n, _) in enumerate(STATIC_TABLE)
                    if n == name
                ),
                0,
            )
            out += _encode_int(idx, 4, 0x00)
            if not idx:
                out += _encode_str(name, self.huffman)
            out += _encode_str(value, self.huffman)
        return bytes(out)


# ---------------------------------------------------------------------------
# RFC 7540 frames
# ---------------------------------------------------------------------------

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"

FT_DATA = 0x0
FT_HEADERS = 0x1
FT_PRIORITY = 0x2
FT_RST_STREAM = 0x3
FT_SETTINGS = 0x4
FT_PING = 0x6
FT_GOAWAY = 0x7
FT_WINDOW_UPDATE = 0x8
FT_CONTINUATION = 0x9

FLAG_END_STREAM = 0x1
FLAG_END_HEADERS = 0x4
FLAG_PADDED = 0x8
FLAG_PRIORITY = 0x20
FLAG_ACK = 0x1


def pack_frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))[1:]
        + bytes([ftype, flags])
        + struct.pack(">I", stream_id & 0x7FFFFFFF)
        + payload
    )


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return bytes(buf)


def read_frame(sock: socket.socket) -> tuple[int, int, int, bytes]:
    head = _read_exact(sock, 9)
    length = int.from_bytes(head[:3], "big")
    ftype, flags = head[3], head[4]
    stream_id = int.from_bytes(head[5:9], "big") & 0x7FFFFFFF
    payload = _read_exact(sock, length) if length else b""
    return ftype, flags, stream_id, payload


def _strip_padding(flags: int, payload: bytes, priority: bool) -> bytes:
    pos = 0
    pad = 0
    if flags & FLAG_PADDED:
        pad = payload[0]
        pos = 1
    if priority and flags & FLAG_PRIORITY:
        pos += 5
    end = len(payload) - pad
    if end < pos:
        raise ValueError("HTTP/2: padding exceeds frame")
    return payload[pos:end]


# ---------------------------------------------------------------------------
# server side: one h2c connection on the shared gRPC listener
# ---------------------------------------------------------------------------

def opens_with_preface(sock: socket.socket) -> bool:
    """Whether a new connection starts with the HTTP/2 preface. Only
    peeks, so the bytes stay for whichever protocol then reads them."""
    head = sock.recv(len(PREFACE), socket.MSG_PEEK)
    if head and len(head) < len(PREFACE) and PREFACE.startswith(head):
        # a preface split across segments: wait for all of it
        head = sock.recv(len(PREFACE), socket.MSG_PEEK | socket.MSG_WAITALL)
    return head == PREFACE


class _Conn:
    """Serve one h2c connection until the peer leaves; the caller
    closes the socket."""

    def __init__(
        self, sock: socket.socket, methods: Mapping[str, Callable[[bytes], bytes]]
    ):
        self.sock = sock
        self.methods = methods
        self.decoder = HpackDecoder()
        self.encoder = HpackEncoder()
        self.streams: dict[int, dict] = {}
        self.lock = threading.Lock()

    def _send(self, data: bytes) -> None:
        with self.lock:
            self.sock.sendall(data)

    def run(self) -> None:
        try:
            _read_exact(self.sock, len(PREFACE))  # the listener peeked it
            self._send(pack_frame(FT_SETTINGS, 0, 0, b""))
            while True:
                ftype, flags, sid, payload = read_frame(self.sock)
                if ftype == FT_SETTINGS:
                    if not flags & FLAG_ACK:
                        self._send(pack_frame(FT_SETTINGS, FLAG_ACK, 0, b""))
                elif ftype == FT_PING:
                    if not flags & FLAG_ACK:
                        self._send(pack_frame(FT_PING, FLAG_ACK, 0, payload))
                elif ftype == FT_GOAWAY:
                    return
                elif ftype in (FT_WINDOW_UPDATE, FT_PRIORITY, FT_RST_STREAM):
                    continue
                elif ftype == FT_HEADERS:
                    st = self.streams.setdefault(
                        sid, {"hblock": b"", "data": b"", "hdone": False,
                              "ended": False, "headers": []}
                    )
                    st["hblock"] += _strip_padding(flags, payload, True)
                    if flags & FLAG_END_STREAM:
                        st["ended"] = True
                    if flags & FLAG_END_HEADERS:
                        # trailers after data are not expected for unary
                        st["headers"] += self.decoder.decode(st["hblock"])
                        st["hblock"] = b""
                        st["hdone"] = True
                elif ftype == FT_CONTINUATION:
                    st = self.streams.get(sid)
                    if st is None:
                        continue
                    st["hblock"] += payload
                    if flags & FLAG_END_HEADERS:
                        st["headers"] += self.decoder.decode(st["hblock"])
                        st["hblock"] = b""
                        st["hdone"] = True
                elif ftype == FT_DATA:
                    st = self.streams.get(sid)
                    if st is None:
                        continue
                    body = _strip_padding(flags, payload, False)
                    st["data"] += body
                    if body:
                        # open the flow-control window back up (conn + stream)
                        inc = struct.pack(">I", len(body))
                        self._send(pack_frame(FT_WINDOW_UPDATE, 0, 0, inc))
                        self._send(pack_frame(FT_WINDOW_UPDATE, 0, sid, inc))
                    if flags & FLAG_END_STREAM:
                        st["ended"] = True
                st = self.streams.get(sid)
                if st and st["hdone"] and st["ended"]:
                    del self.streams[sid]
                    self._respond(sid, st)
        except (ConnectionError, OSError, ValueError):
            pass

    def _respond(self, sid: int, st: dict) -> None:
        path = dict(st["headers"]).get(":path", "")
        body, status, msg = dispatch(self.methods, path, st["data"])
        resp_headers = self.encoder.encode(
            [(":status", "200"), ("content-type", "application/grpc")]
        )
        trailer_fields = [("grpc-status", str(status))]
        if msg:
            trailer_fields.append(("grpc-message", msg))
        trailers = self.encoder.encode(trailer_fields)
        out = pack_frame(FT_HEADERS, FLAG_END_HEADERS, sid, resp_headers)
        if body:
            out += pack_frame(FT_DATA, 0, sid, body)
        out += pack_frame(
            FT_HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM, sid, trailers
        )
        self._send(out)


# ---------------------------------------------------------------------------
# client (for e2e tests: a genuine HTTP/2 exchange, optionally with
# Huffman-coded request headers to exercise the server's decoder)
# ---------------------------------------------------------------------------

def grpc_http2_call(
    host: str,
    port: int,
    path: str,
    request_bytes: bytes,
    huffman: bool = False,
    timeout: float = 10.0,
) -> tuple[bytes, int, str]:
    """Unary gRPC call over h2c. Returns (response_bytes, grpc_status,
    grpc_message)."""
    sock = socket.create_connection((host, port), timeout=timeout)
    try:
        sock.sendall(PREFACE + pack_frame(FT_SETTINGS, 0, 0, b""))
        enc = HpackEncoder(huffman=huffman)
        req_headers = enc.encode(
            [
                (":method", "POST"),
                (":scheme", "http"),
                (":path", path),
                (":authority", f"{host}:{port}"),
                ("content-type", "application/grpc"),
                ("te", "trailers"),
            ]
        )
        sid = 1
        sock.sendall(
            pack_frame(FT_HEADERS, FLAG_END_HEADERS, sid, req_headers)
            + pack_frame(
                FT_DATA, FLAG_END_STREAM, sid, _frame(0, request_bytes)
            )
        )
        dec = HpackDecoder()
        body = b""
        grpc_status, grpc_msg = -1, ""
        while True:
            ftype, flags, fsid, payload = read_frame(sock)
            if ftype == FT_SETTINGS:
                if not flags & FLAG_ACK:
                    sock.sendall(pack_frame(FT_SETTINGS, FLAG_ACK, 0, b""))
            elif ftype == FT_PING and not flags & FLAG_ACK:
                sock.sendall(pack_frame(FT_PING, FLAG_ACK, 0, payload))
            elif ftype == FT_DATA and fsid == sid:
                body += _strip_padding(flags, payload, False)
            elif ftype == FT_HEADERS and fsid == sid:
                fields = dec.decode(_strip_padding(flags, payload, True))
                for name, value in fields:
                    if name == "grpc-status":
                        grpc_status = int(value)
                    elif name == "grpc-message":
                        grpc_msg = value
                if flags & FLAG_END_STREAM:
                    break
            elif ftype == FT_GOAWAY:
                break
        msgs = unframe(body)
        return (msgs[0][1] if msgs else b""), grpc_status, grpc_msg
    finally:
        try:
            sock.close()
        except OSError:
            pass


def batch_write_http2(
    host: str, port: int, entries: list[dict], huffman: bool = False
) -> int:
    """BatchWrite over native HTTP/2; returns the accepted count."""
    resp, status, msg = grpc_http2_call(
        host, port, METHOD_PATH, encode_batch_write_request(entries),
        huffman=huffman,
    )
    if status != 0:
        raise RuntimeError(f"grpc-status {status}: {msg}")
    return decode_batch_write_response(resp)
