"""API parity-layer tests: validation rules + envelope (api.go:31-128)."""

from __future__ import annotations

import datetime as dt
import json
import threading
import urllib.parse
import urllib.request

import pytest

from clickhouse_observability_spark.api.http import LogsApi
from clickhouse_observability_spark.schema import LOGS_SCHEMA


@pytest.fixture(scope="module")
def api(spark):
    rows = [
        (dt.datetime(2025, 9, 1, 20, 5), "orders", "WARN", "pending",
         '{"user":"jane.smith"}', "t1", "s1"),
        (dt.datetime(2025, 9, 1, 20, 6), "orders", "INFO", "ok", "", "t2", "s2"),
    ]
    df = spark.createDataFrame(rows, LOGS_SCHEMA)
    return LogsApi(lambda: df)


BASE = {"service": "orders", "from": "2025-09-01T00:00:00Z", "to": "2025-09-02T00:00:00Z"}


def test_happy_path_envelope(api):
    status, body = api.query_logs_handler(dict(BASE))
    assert status == 200
    assert body["count"] == 2 and len(body["logs"]) == 2
    first = body["logs"][0]  # ORDER BY ts DESC
    assert first["Msg"] == "ok" and first["Attrs"] == {}
    assert body["logs"][1]["Attrs"] == {"user": "jane.smith"}
    assert body["query"]["limit"] == 100  # default (api.go:73)
    assert body["query"]["from"] == "2025-09-01T00:00:00Z"


def test_missing_service_400(api):
    p = dict(BASE); del p["service"]
    status, body = api.query_logs_handler(p)
    assert status == 400 and "service" in body["error"]


def test_bad_rfc3339_400(api):
    status, body = api.query_logs_handler({**BASE, "from": "yesterday"})
    assert status == 400 and "RFC3339" in body["error"]


def test_from_after_to_400(api):
    status, _ = api.query_logs_handler(
        {**BASE, "from": "2025-09-03T00:00:00Z", "to": "2025-09-01T00:00:00Z"}
    )
    assert status == 400


@pytest.mark.parametrize("limit", ["0", "-5", "abc"])
def test_invalid_limit_400(api, limit):
    status, body = api.query_logs_handler({**BASE, "limit": limit})
    assert status == 400 and "limit" in body["error"]


def test_absurd_limit_bounded_400(api):
    # Spark top-k allocates O(limit) per task: an unbounded limit is a
    # one-request driver OOM (found live; api.go has no such bound —
    # documented safety divergence).
    status, body = api.query_logs_handler({**BASE, "limit": "1000000000"})
    assert status == 400 and "too large" in body["error"]


def test_non_get_405(api):
    status, _ = api.query_logs_handler(dict(BASE), method="POST")
    assert status == 405


def test_level_and_user_filters(api):
    status, body = api.query_logs_handler({**BASE, "level": "WARN"})
    assert status == 200 and body["count"] == 1
    status, body = api.query_logs_handler({**BASE, "user": "jane.smith"})
    assert status == 200 and body["logs"][0]["Msg"] == "pending"


def test_tz_normalization(api):
    # +02:00 offset input -> same instant as UTC (api.go:66-67)
    status, body = api.query_logs_handler(
        {**BASE, "from": "2025-09-01T02:00:00+02:00"}
    )
    assert status == 200 and body["count"] == 2


def test_query_timeout_504_envelope(api, monkeypatch):
    # A timeout must come back as the documented 504 JSON envelope,
    # not crash the request (api.go:95-96).
    from clickhouse_observability_spark.api.http import ApiError, LogsApi

    def boom(df, timeout_s=30):
        raise ApiError(504, "query timeout")

    monkeypatch.setattr(LogsApi, "_collect_with_timeout", staticmethod(boom))
    status, body = api.query_logs_handler(dict(BASE))
    assert status == 504 and body["error"] == "query timeout"


def test_query_timeout_cancels_only_its_own_jobs(spark):
    """Request B runs out of its budget while request A, with budget to
    spare, runs over the same slow frame: B gets its 504 and A still
    returns its rows (B's cancel must not reach A's jobs)."""
    import time

    from pyspark.sql import functions as F

    from clickhouse_observability_spark.api.http import ApiError

    @F.udf("long")
    def slow(x):
        import time

        time.sleep(3)
        return x

    df = spark.range(2, numPartitions=2).select(slow("id").alias("id"))
    got = {}

    def request_a():
        try:
            got["rows"] = LogsApi._collect_with_timeout(df, 30)
        except Exception as e:
            got["error"] = e

    a = threading.Thread(target=request_a)
    a.start()
    while not spark.sparkContext.statusTracker().getActiveJobsIds():
        time.sleep(0.05)  # A's job is running before B starts
    with pytest.raises(ApiError) as b:
        LogsApi._collect_with_timeout(df, 0.5)
    a.join(60)
    assert b.value.status == 504
    assert "error" not in got, got.get("error")
    assert sorted(r.id for r in got["rows"]) == [0, 1]


def test_execution_failure_500_envelope(api, monkeypatch):
    from clickhouse_observability_spark.api.http import LogsApi

    def boom(df, timeout_s=30):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(LogsApi, "_collect_with_timeout", staticmethod(boom))
    status, body = api.query_logs_handler(dict(BASE))
    assert status == 500 and "error" in body


def test_ping_live_ready(api):
    assert api.ping_handler() == (200, "pong")
    assert api.live_handler()[0] == 200
    assert api.ready_handler()[0] == 200


def test_http_server_end_to_end(api):
    server = api.serve(port=0)  # ephemeral port
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/ping") as r:
            assert r.read() == b"pong"
        qs = "service=orders&from=2025-09-01T00:00:00Z&to=2025-09-02T00:00:00Z"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/v1/logs?{qs}") as r:
            body = json.loads(r.read())
            assert body["count"] == 2
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/v1/logs", data=b"{}", method="POST"
        )
        try:
            urllib.request.urlopen(req)
            assert False, "expected 405"
        except urllib.error.HTTPError as e:
            assert e.code == 405
    finally:
        server.shutdown()


# ---------------------------------------------------------------------------
# /v1/query_log — the system.query_log analogue (engine self-observability)
# ---------------------------------------------------------------------------

def test_query_log_records_requests_and_errors(spark):
    rows = [
        (dt.datetime(2025, 9, 1, 20, 5), "orders", "WARN", "pending",
         '{"user":"jane.smith"}', "t1", "s1"),
    ]
    df = spark.createDataFrame(rows, LOGS_SCHEMA)
    api2 = LogsApi(lambda: df)
    assert len(api2.query_log) == 0
    s, _ = api2.query_logs_handler(dict(BASE))
    assert s == 200
    s, _ = api2.query_logs_handler({"service": "orders"})  # missing from/to
    assert s == 400
    s, body = api2.query_log_handler({})
    assert s == 200 and body["count"] == 2
    ok, bad = body["queries"]
    assert ok["Route"] == "/v1/logs" and ok["Status"] == 200
    assert ok["Detail"] == "orders" and ok["ResultRows"] == 1
    assert ok["DurationMs"] > 0 and ok["Error"] is None
    assert bad["Status"] == 400 and bad["Error"]
    # the meta-route itself is not self-recorded
    api2.query_log_handler({})
    assert len(api2.query_log) == 2
    # limit validation + windowing
    assert api2.query_log_handler({"limit": "x"})[0] == 400
    assert api2.query_log_handler({"limit": "0"})[0] == 400
    assert api2.query_log_handler({"limit": "1"})[1]["count"] == 1


def test_query_log_flush_to_parquet_and_alerting_shape(spark, tmp_path):
    # flush turns the buffer into an at-rest table the engine's own
    # operators can query — closing the self-observability loop
    rows = [
        (dt.datetime(2025, 9, 1, 20, 5), "orders", "WARN", "pending",
         "", "t1", "s1"),
    ]
    df = spark.createDataFrame(rows, LOGS_SCHEMA)
    api2 = LogsApi(lambda: df)
    for _ in range(3):
        api2.query_logs_handler(dict(BASE))
    api2.query_handler("SELECT 1 AS x")
    path = str(tmp_path / "query_log")
    n = api2.query_log.flush(spark, path)
    assert n == 4 and len(api2.query_log) == 0
    at_rest = spark.read.parquet(path)
    assert at_rest.count() == 4
    assert set(at_rest.columns) == {
        "ts", "route", "detail", "status", "duration_ms",
        "result_rows", "error",
    }
    # per-route latency rollup — the meta-monitoring read
    from pyspark.sql import functions as F

    agg = {r["route"]: r for r in at_rest.groupBy("route").agg(
        F.count("*").alias("n"),
        F.max("duration_ms").alias("mx"),
    ).collect()}
    assert agg["/v1/logs"]["n"] == 3 and agg["/v1/logs"]["mx"] > 0
    assert agg["/v1/query"]["n"] == 1
    # second flush of an empty buffer is a no-op
    assert api2.query_log.flush(spark, path) == 0


def test_query_log_served_over_http(api):
    server = api.serve(port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        q = urllib.parse.urlencode(BASE)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/v1/logs?{q}"
        ) as r:
            assert r.status == 200
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/v1/query_log?limit=5"
        ) as r:
            body = json.loads(r.read())
        assert body["count"] >= 1
        assert body["queries"][-1]["Route"] == "/v1/logs"
        assert body["queries"][-1]["Status"] == 200
    finally:
        server.shutdown()


def test_query_log_flush_failure_keeps_rows(spark, tmp_path):
    # a failed parquet append must not lose the buffered telemetry
    rows = [
        (dt.datetime(2025, 9, 1, 20, 5), "orders", "WARN", "pending",
         "", "t1", "s1"),
    ]
    df = spark.createDataFrame(rows, LOGS_SCHEMA)
    api2 = LogsApi(lambda: df)
    api2.query_logs_handler(dict(BASE))
    assert len(api2.query_log) == 1
    # a FILE at the target path makes the parquet write raise
    bad = tmp_path / "not-a-dir"
    bad.write_text("x")
    with pytest.raises(Exception):
        api2.query_log.flush(spark, str(bad))
    assert len(api2.query_log) == 1  # nothing lost
    ok = tmp_path / "ql"
    assert api2.query_log.flush(spark, str(ok)) == 1
    assert len(api2.query_log) == 0
    assert spark.read.parquet(str(ok)).count() == 1
