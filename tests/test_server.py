"""EngineServer lifecycle e2e (cmd/server/main.go:23-97 parity):
boot -> health -> gRPC BatchWrite -> streamed to parquet -> HTTP query
-> graceful stop drains the final flush."""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from clickhouse_observability_spark.api.grpc_transport import grpc_web_call
from clickhouse_observability_spark.server import EngineServer


@pytest.fixture()
def engine(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("INGEST_MAX_DELAY_MS", "100")
    monkeypatch.delenv("RETENTION_DAYS", raising=False)
    srv = EngineServer(
        spark, data_dir=str(tmp_path), http_addr=":0", grpc_addr=":0"
    ).start()
    yield srv
    srv.stop()


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return r.status, r.read()


def test_full_lifecycle(engine):
    http_port, grpc_port = engine.ports
    # health endpoints (main.go:58-59) + ping (api.go:23-26)
    assert _get(http_port, "/live")[0] == 200
    assert _get(http_port, "/ready")[0] == 200
    assert _get(http_port, "/api/ping")[1] == b"pong"

    # gRPC write path feeds the streaming batcher
    entries = [
        {"ts": "2025-09-01T20:05:00Z", "service": "orders", "level": "WARN",
         "msg": f"m{i}", "attrs": {"user": "jane.smith"},
         "trace_id": f"t{i}", "span_id": f"s{i}"}
        for i in range(10)
    ]
    assert grpc_web_call("127.0.0.1", grpc_port, entries) == 10

    # micro-batches land within a few trigger intervals
    deadline = time.time() + 30
    qs = "service=orders&from=2025-09-01T00:00:00Z&to=2025-09-02T00:00:00Z&level=WARN"
    body = None
    while time.time() < deadline:
        status, raw = _get(http_port, f"/v1/logs?{qs}")
        assert status == 200
        body = json.loads(raw)
        if body["count"] == 10:
            break
        time.sleep(0.3)
    assert body is not None and body["count"] == 10
    assert body["logs"][0]["Attrs"] == {"user": "jane.smith"}


def test_graceful_stop_drains(spark, tmp_path):
    srv = EngineServer(
        spark, data_dir=str(tmp_path / "d2"), http_addr=":0", grpc_addr=":0"
    ).start()
    _, grpc_port = srv.ports
    entries = [
        {"ts": "2025-09-01T10:00:00Z", "service": "s", "level": "INFO",
         "msg": f"m{i}", "attrs": {}, "trace_id": "", "span_id": ""}
        for i in range(7)
    ]
    assert grpc_web_call("127.0.0.1", grpc_port, entries) == 7
    srv.stop()  # ST5: final flush before exit (batcher.go:63-65)
    assert srv.table.read().count() == 7


def test_server_one_grpc_port_serves_both_wire_flavors(spark, tmp_path):
    """The default server's one gRPC port takes a gRPC-Web BatchWrite,
    an h2c BatchWrite and an h2c reflection call on the stock path;
    both rows are readable after the graceful stop's drain."""
    from clickhouse_observability_spark.api import grpc_reflection as R
    from clickhouse_observability_spark.api.http2_transport import (
        batch_write_http2,
        grpc_http2_call,
    )

    srv = EngineServer(
        spark,
        data_dir=str(tmp_path / "data"),
        http_addr="127.0.0.1:0",
        grpc_addr="127.0.0.1:0",
    ).start()
    row = {"ts": "2025-09-01T20:05:00Z", "service": "orders",
           "level": "WARN", "attrs": {}, "trace_id": "", "span_id": ""}
    try:
        _, grpc_port = srv.ports
        assert grpc_web_call(
            "127.0.0.1", grpc_port, [dict(row, msg="via grpc-web")]) == 1
        assert batch_write_http2(
            "127.0.0.1", grpc_port, [dict(row, msg="via h2c")]) == 1
        resp, status, _ = grpc_http2_call(
            "127.0.0.1", grpc_port, R.REFLECTION_METHOD_PATH, b"\x3a\x00")
        assert status == 0 and R.SERVICE_FULL.encode() in resp
    finally:
        srv.stop()
    msgs = sorted(r["msg"] for r in srv.table.read().collect())
    assert msgs == ["via grpc-web", "via h2c"]


def test_stop_flushes_query_log_to_data_dir(spark, tmp_path):
    import json
    import os
    import urllib.request

    from clickhouse_observability_spark.server import EngineServer

    srv = EngineServer(
        spark, data_dir=str(tmp_path / "data"), http_addr=":0",
        grpc_addr=":0",
    ).start()
    try:
        http_port, _ = srv.ports
        url = (f"http://127.0.0.1:{http_port}/v1/logs?service=orders"
               "&from=2025-09-01T00:00:00Z&to=2025-09-02T00:00:00Z")
        with urllib.request.urlopen(url) as r:
            assert r.status == 200
    finally:
        srv.stop()
    at_rest = spark.read.parquet(str(tmp_path / "data" / "query_log"))
    rows = at_rest.collect()
    assert any(r.route == "/v1/logs" and r.status == 200 for r in rows)
