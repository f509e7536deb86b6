"""/v1/query (CH HTTP interface analogue) + /v1/stats (MV-backed):
handler-level contracts and a live-server e2e through EngineServer.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.error
import urllib.request

import pytest

from clickhouse_observability_spark.api.http import LogsApi
from clickhouse_observability_spark.functions.ch_dialect import ch_sql
from clickhouse_observability_spark.server import EngineServer
from clickhouse_observability_spark.sources.writer import LogsTable


@pytest.fixture()
def logs(spark, tmp_path):
    t = LogsTable(spark, str(tmp_path / "logs"))
    t.init_schema()
    ch_sql(
        spark,
        "INSERT INTO logs (ts, service, level, msg, attrs) VALUES "
        "('2025-09-01 10:00:00', 'orders', 'WARN', 'w1', '{\"user\": \"u1\"}'), "
        "('2025-09-01 11:00:00', 'orders', 'INFO', 'i1', '{\"user\": \"u2\"}'), "
        "('2025-09-01 12:00:00', 'billing', 'ERROR', 'e1', '{}')",
        logs=t,
    )
    return t


def test_query_handler_select(spark, logs):
    api = LogsApi(logs.read, logs_table=logs)
    status, body = api.query_handler(
        "SELECT service, countIf(level = 'WARN') AS warns "
        "FROM logs GROUP BY service ORDER BY service")
    assert status == 200
    assert body["rows"] == 2
    assert body["meta"][0] == {"name": "service", "type": "String"}
    assert body["meta"][1]["type"] == "Int64"
    assert body["data"][0] == {"service": "billing", "warns": 0}
    assert body["data"][1] == {"service": "orders", "warns": 1}


def test_query_reads_attached_table_once(spark, logs, monkeypatch):
    """With a table attached, /v1/query leaves reading it to ch_sql:
    one listing of the table per statement, not a provider read that
    ch_sql would shadow anyway."""
    real, reads = logs.read, []
    monkeypatch.setattr(logs, "read",
                        lambda: reads.append(1) or real())
    api = LogsApi(logs.read, logs_table=logs)
    status, body = api.query_handler("SELECT count() AS n FROM logs")
    assert status == 200 and body["data"] == [{"n": 3}]
    assert len(reads) == 1


def test_query_handler_insert_and_errors(spark, logs):
    api = LogsApi(logs.read, logs_table=logs)
    status, body = api.query_handler(
        "INSERT INTO logs (ts, service, level) VALUES (now(), 'x', 'INFO')")
    assert (status, body) == (200, {"inserted": 1})
    assert logs.read().count() == 4

    assert api.query_handler(None)[0] == 400
    assert api.query_handler("SELECT arrayJoin(a) FROM logs")[0] == 400
    assert api.query_handler("SELECT nope FROM logs")[0] == 400
    # INSERT without a write path configured is a client error
    ro = LogsApi(logs.read)
    assert ro.query_handler(
        "INSERT INTO logs (ts) VALUES (now())")[0] == 400


def test_query_handler_timestamps_serialize(spark, logs):
    api = LogsApi(logs.read, logs_table=logs)
    status, body = api.query_handler(
        "SELECT toStartOfDay(ts) AS d, count(*) AS n FROM logs GROUP BY d")
    assert status == 200
    assert body["meta"][0]["type"] == "DateTime64(6)"
    assert body["data"][0]["d"].endswith("Z")


def test_query_handler_json_safe_values(spark, logs):
    """DATE results, datetimes nested in arrays, and today() must
    serialize — and the whole envelope must be json.dumps-able (the
    transport encodes after the handler returns)."""
    import json as _json

    api = LogsApi(logs.read, logs_table=logs)
    status, body = api.query_handler(
        "SELECT today() AS d, toDate(now()) AS d2, "
        "groupArray(ts) AS times FROM logs")
    assert status == 200
    _json.dumps(body)
    assert body["data"][0]["d"].startswith("20")
    assert all(t.endswith("Z") for t in body["data"][0]["times"])


def test_query_handler_formats(spark, logs):
    api = LogsApi(logs.read, logs_table=logs)
    q = ("SELECT service, count(*) AS n FROM logs "
         "GROUP BY service ORDER BY service")
    status, tsv = api.query_handler(q + " FORMAT TSV")
    assert status == 200 and isinstance(tsv, str)
    assert tsv.splitlines()[0] == "billing\t1"
    status, csv = api.query_handler(q + " FORMAT CSV")
    assert csv.splitlines()[1] == "orders,2"
    status, jer = api.query_handler(q + " FORMAT JSONEachRow")
    assert json.loads(jer.splitlines()[0]) == {"service": "billing",
                                               "n": 1}
    assert api.query_handler(q + " FORMAT Parquet")[0] == 400


def test_system_parts_over_sql(spark, logs):
    api = LogsApi(logs.read, logs_table=logs)
    status, body = api.query_handler(
        "SELECT partition, sum(rows) AS r, count(*) AS files, "
        "min(min_service) AS lo FROM system_parts GROUP BY partition")
    assert status == 200 and body["rows"] >= 1
    total = sum(d["r"] for d in body["data"])
    assert total == logs.read().count()
    assert all(d["files"] >= 1 for d in body["data"])


def test_cache_guards(spark, logs, monkeypatch):
    import clickhouse_observability_spark.api.http as H
    import clickhouse_observability_spark.functions.ch_dialect as D

    calls = {"n": 0}
    real = D.ch_sql

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(D, "ch_sql", counting)
    # no logs_table => no fingerprint => never cached
    ro = H.LogsApi(logs.read)
    q = "SELECT count(*) AS n FROM logs"
    ro.query_handler(q)
    ro.query_handler(q)
    assert calls["n"] == 2
    # nondeterministic statements are never cached
    calls["n"] = 0
    api = H.LogsApi(logs.read, logs_table=logs)
    nq = "SELECT countIf(ts > now() - INTERVAL 5 MINUTE) AS n FROM logs"
    api.query_handler(nq)
    api.query_handler(nq)
    assert calls["n"] == 2


def test_query_cache_hits_and_invalidates(spark, logs, monkeypatch):
    import clickhouse_observability_spark.api.http as H

    calls = {"n": 0}
    import clickhouse_observability_spark.functions.ch_dialect as D
    real = D.ch_sql

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(D, "ch_sql", counting)
    api = H.LogsApi(logs.read, logs_table=logs)
    q = "SELECT count(*) AS n FROM logs"
    first = api.query_handler(q)
    second = api.query_handler(q)  # repeat: served from cache
    assert first == second and calls["n"] == 1
    assert api._cache.hits == 1

    # ingest invalidates via the table fingerprint — the repeat
    # re-executes and sees the new row
    api.query_handler(
        "INSERT INTO logs (ts, service, level) VALUES (now(), 'z', 'INFO')")
    third = api.query_handler(q)
    assert third[1]["data"][0]["n"] == first[1]["data"][0]["n"] + 1

    # TTL 0 disables caching entirely
    monkeypatch.setenv("QUERY_CACHE_TTL_S", "0")
    off = H.LogsApi(logs.read, logs_table=logs)
    assert off._cache is None


def test_live_server_query_and_stats(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("INGEST_MAX_DELAY_MS", "100")
    monkeypatch.delenv("RETENTION_DAYS", raising=False)
    srv = EngineServer(
        spark, data_dir=str(tmp_path), http_addr=":0", grpc_addr=":0"
    ).start()
    try:
        http_port, _ = srv.ports
        # ingest through the stream so the MATERIALIZED VIEW fills
        srv.stream.submit_many([
            {"ts": f"2025-09-01T10:{i:02d}:00Z", "service": "orders",
             "level": "WARN" if i % 2 else "INFO", "msg": "x" * (i + 1),
             "attrs": {}, "trace_id": f"t{i % 3}", "span_id": f"s{i}"}
            for i in range(20)
        ])
        deadline = time.time() + 30
        while time.time() < deadline:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{http_port}/v1/stats?granularity=hour"
            ) as r:
                stats = json.loads(r.read())
            if stats.get("count") and sum(
                    s["Count"] for s in stats["stats"]) == 20:
                break
            time.sleep(0.3)
        assert sum(s["Count"] for s in stats["stats"]) == 20
        warn = [s for s in stats["stats"] if s["Level"] == "WARN"]
        assert warn and warn[0]["Count"] == 10
        assert warn[0]["UniqTraces"] == 3

        # GET /v1/query
        q = urllib.parse.quote(
            "SELECT level, count(*) AS n FROM logs GROUP BY level")
        with urllib.request.urlopen(
            f"http://127.0.0.1:{http_port}/v1/query?q={q}"
        ) as r:
            body = json.loads(r.read())
        assert body["rows"] == 2
        assert {d["level"]: d["n"] for d in body["data"]} == \
            {"WARN": 10, "INFO": 10}

        # POST /v1/query (CH also accepts the body form)
        req = urllib.request.Request(
            f"http://127.0.0.1:{http_port}/v1/query",
            data=b"SELECT uniqExact(trace_id) AS u FROM logs",
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            body = json.loads(r.read())
        assert body["data"][0]["u"] == 3

        # stats filter arm
        with urllib.request.urlopen(
            f"http://127.0.0.1:{http_port}/v1/stats?level=INFO"
        ) as r:
            only = json.loads(r.read())
        assert all(s["Level"] == "INFO" for s in only["stats"])
    finally:
        srv.stop()


def test_live_server_alerts_burn_rate(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("INGEST_MAX_DELAY_MS", "100")
    monkeypatch.delenv("RETENTION_DAYS", raising=False)
    srv = EngineServer(
        spark, data_dir=str(tmp_path), http_addr=":0", grpc_addr=":0"
    ).start()
    try:
        http_port, _ = srv.ports
        rows = []
        # svc-ok: 10% errors for 8 hours (within a 20% budget);
        # svc-bad: total outage through the back 6 hours
        for h in range(8):
            for i in range(10):
                rows.append({
                    "ts": f"2025-09-01T{10 + h:02d}:{i:02d}:00Z",
                    "service": "svc-ok",
                    "level": "ERROR" if i == 0 else "INFO",
                    "msg": "m", "attrs": {}, "trace_id": "t",
                    "span_id": f"a{h}-{i}"})
                rows.append({
                    "ts": f"2025-09-01T{10 + h:02d}:{i:02d}:30Z",
                    "service": "svc-bad",
                    "level": "ERROR" if h >= 2 else "INFO",
                    "msg": "m", "attrs": {}, "trace_id": "t",
                    "span_id": f"b{h}-{i}"})
        srv.stream.submit_many(rows)
        n_rows = len(rows)
        deadline = time.time() + 30
        while time.time() < deadline:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{http_port}/v1/stats?granularity=hour"
            ) as r:
                stats = json.loads(r.read())
            if sum(s["Count"] for s in stats.get("stats", [])) == n_rows:
                break
            time.sleep(0.3)

        with urllib.request.urlopen(
            f"http://127.0.0.1:{http_port}/v1/alerts?target=0.2"
        ) as r:
            feed = json.loads(r.read())
        # only the outage service pages, and only once the long
        # window has heated (burn 5x needs >= threshold 6? no:
        # target 0.2 -> 100% errors = burn 5; set threshold via param)
        assert feed["count"] == 0  # burn 5.0 < default threshold 6
        with urllib.request.urlopen(
            f"http://127.0.0.1:{http_port}/v1/alerts?target=0.2&threshold=4"
        ) as r:
            feed = json.loads(r.read())
        assert feed["count"] > 0
        assert {a["Service"] for a in feed["alerts"]} == {"svc-bad"}
        assert all(a["Page"] for a in feed["alerts"])
        # the full panel exposes the quiet service too
        with urllib.request.urlopen(
            f"http://127.0.0.1:{http_port}/v1/alerts?target=0.2&all=1"
        ) as r:
            panel = json.loads(r.read())
        ok = [a for a in panel["alerts"] if a["Service"] == "svc-ok"]
        assert ok and all(not a["Page"] for a in ok)
        assert all(abs(a["BurnShort"] - 0.5) < 0.01 for a in ok)
        # validation arm
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{http_port}/v1/alerts?target=2")
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_into_outfile_refused_over_http(spark, tmp_path):
    """CH server parity: INTO OUTFILE is a client-side statement; the
    HTTP interface refuses it (a remote caller must never write files
    into the server's filesystem through SQL)."""
    from clickhouse_observability_spark.api.http import LogsApi
    from clickhouse_observability_spark.sources.writer import LogsTable

    t = LogsTable(spark, str(tmp_path / "logs"))
    t.init_schema()
    api = LogsApi(t.read, logs_table=t)
    st, body = api.query_handler(
        f"SELECT 1 AS x INTO OUTFILE '{tmp_path}/pwn.csv'")
    assert st == 400 and "not allowed" in body["error"]
    import os

    assert not os.path.exists(f"{tmp_path}/pwn.csv")
