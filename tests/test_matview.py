"""Materialized views: CH insert-trigger incremental aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_observability_spark.functions.ch_dialect import (
    ChDialectError,
    ch_sql,
)
from clickhouse_observability_spark.sources.writer import LogsTable

MV_DDL = (
    "CREATE MATERIALIZED VIEW svc_hourly "
    "ENGINE = AggregatingMergeTree() AS "
    "SELECT toStartOfHour(ts) AS h, service, "
    "count() AS n, avg(length(msg)) AS avg_len, "
    "uniq(trace_id) AS traces, max(level) AS max_level "
    "FROM logs WHERE level != 'DEBUG' GROUP BY h, service"
)


def _ins(spark, logs, ts, service, level, msg, trace):
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg, attrs, trace_id, "
        f"span_id) VALUES (toDateTime('{ts}'), '{service}', '{level}', "
        f"'{msg}', '{{}}', '{trace}', 's1')"), logs=logs)


@pytest.fixture()
def logs(spark, tmp_path):
    t = LogsTable(spark, str(tmp_path / "logs"))
    t.init_schema()
    return t


def _expected(spark, logs):
    return {
        (r.h, r.service): (r.n, r.avg_len, r.traces, r.max_level)
        for r in spark.sql(
            "SELECT date_trunc('hour', ts) AS h, service, "
            "count(*) AS n, avg(length(msg)) AS avg_len, "
            "count(DISTINCT trace_id) AS traces, max(level) AS max_level "
            "FROM {logs} WHERE level != 'DEBUG' GROUP BY 1, 2",
            logs=logs.read(),
        ).collect()
    }


def _got(spark, logs):
    return {
        (r.h, r.service): (r.n, r.avg_len, r.traces, r.max_level)
        for r in ch_sql(
            spark,
            "SELECT h, service, n, avg_len, traces, max_level "
            "FROM svc_hourly", logs=logs,
        ).collect()
    }


def test_mv_trigger_incremental_and_select(spark, logs):
    assert ch_sql(spark, MV_DDL, logs=logs) == 0
    _ins(spark, logs, "2024-03-01 10:05:00", "api", "INFO", "hello", "t1")
    _ins(spark, logs, "2024-03-01 10:40:00", "api", "WARN", "warned!", "t2")
    _ins(spark, logs, "2024-03-01 11:05:00", "web", "ERROR", "boom", "t3")
    # filtered rows never reach the view
    _ins(spark, logs, "2024-03-01 10:10:00", "api", "DEBUG", "noise", "t4")
    assert _got(spark, logs) == _expected(spark, logs)
    # the store grew by increments, not rewrites: ≥2 state rows for
    # the api@10h key before compaction
    mv = logs.materialized_views[0]
    states = mv.read_states()
    assert states.filter(F.col("service") == "api").count() >= 2
    # duplicate CREATE: plain raises, IF NOT EXISTS no-ops
    with pytest.raises(ChDialectError, match="already exists"):
        ch_sql(spark, MV_DDL, logs=logs)
    assert ch_sql(spark, MV_DDL.replace(
        "MATERIALIZED VIEW svc_hourly",
        "MATERIALIZED VIEW IF NOT EXISTS svc_hourly"), logs=logs) == 0


def test_mv_compact_preserves_reads(spark, logs):
    ch_sql(spark, MV_DDL, logs=logs)
    for k in range(4):
        _ins(spark, logs, f"2024-03-01 10:0{k}:00", "api", "INFO",
             f"m{k}", f"t{k}")
    before = _got(spark, logs)
    mv = logs.materialized_views[0]
    mv.compact()
    assert mv.read_states().count() == 1  # one state row per key
    assert _got(spark, logs) == before


def test_mv_populate_backfills(spark, logs):
    _ins(spark, logs, "2024-03-01 09:00:00", "api", "INFO", "pre", "t0")
    ch_sql(spark, MV_DDL.replace(" AS ", " POPULATE AS ", 1), logs=logs)
    assert _got(spark, logs) == _expected(spark, logs)


def test_mv_persistence_reattaches(spark, logs):
    ch_sql(spark, MV_DDL, logs=logs)
    _ins(spark, logs, "2024-03-01 10:00:00", "api", "INFO", "x", "t1")
    # a brand-new LogsTable over the same path sees the view AND the
    # trigger keeps firing
    t2 = LogsTable(spark, logs.path)
    assert [v.name for v in t2.materialized_views] == ["svc_hourly"]
    _ins(spark, t2, "2024-03-01 12:00:00", "web", "INFO", "y", "t2")
    assert _got(spark, t2) == _expected(spark, t2)
    # DROP VIEW detaches, deletes, and clears the lazy temp view so a
    # later read can't hit a stale frame
    ch_sql(spark, "DROP VIEW svc_hourly", logs=t2)
    assert t2.materialized_views == []
    assert not spark.catalog.tableExists("svc_hourly")
    # a second IF EXISTS drop falls through to Spark's no-op
    ch_sql(spark, "DROP VIEW IF EXISTS svc_hourly", logs=t2)


def test_mv_refresh_repairs(spark, logs):
    ch_sql(spark, MV_DDL, logs=logs)
    _ins(spark, logs, "2024-03-01 10:00:00", "api", "INFO", "x", "t1")
    mv = logs.materialized_views[0]
    # simulate the crash-between-appends: a block lands in logs while
    # the trigger is detached
    logs.materialized_views = []
    _ins(spark, logs, "2024-03-01 11:00:00", "web", "INFO", "y", "t2")
    logs.materialized_views = [mv]
    assert _got(spark, logs) != _expected(spark, logs)
    mv.refresh(logs.read())
    assert _got(spark, logs) == _expected(spark, logs)


def test_mv_spec_errors(spark, logs):
    bad = {
        "no GROUP BY": (
            "CREATE MATERIALIZED VIEW v AS SELECT count() AS n FROM logs",
            "GROUP BY"),
        "unaliased agg": (
            "CREATE MATERIALIZED VIEW v AS SELECT service, count() "
            "FROM logs GROUP BY service", "alias every"),
        "non-mergeable": (
            "CREATE MATERIALIZED VIEW v AS SELECT service, "
            "quantile(0.9)(length(msg)) AS p90 FROM logs "
            "GROUP BY service", "mergeable"),
        "HAVING": (
            "CREATE MATERIALIZED VIEW v AS SELECT service, count() AS n "
            "FROM logs GROUP BY service HAVING n > 1", "HAVING"),
        "group mismatch": (
            "CREATE MATERIALIZED VIEW v AS SELECT service, level, "
            "count() AS n FROM logs GROUP BY service", "must match"),
        "other table": (
            "CREATE MATERIALIZED VIEW v AS SELECT x, count() AS n "
            "FROM other GROUP BY x", "logs"),
    }
    for label, (ddl, msg) in bad.items():
        with pytest.raises(ChDialectError, match=msg):
            ch_sql(spark, ddl, logs=logs)
        assert logs.materialized_views == [], label


def test_mv_ddl_storage_clauses_and_guards(spark, logs):
    # canonical CH DDL: ENGINE + ORDER BY storage clauses stripped
    ch_sql(spark, (
        "CREATE MATERIALIZED VIEW mv_full "
        "ENGINE = AggregatingMergeTree() PARTITION BY toYYYYMM(h) "
        "ORDER BY (h, service) AS "
        "SELECT toStartOfHour(ts) AS h, service, count() AS n "
        "FROM logs GROUP BY h, service"), logs=logs)
    assert [v.name for v in logs.materialized_views] == ["mv_full"]
    ch_sql(spark, "DROP VIEW mv_full", logs=logs)
    # TO <table> changes semantics -> honest refusal
    with pytest.raises(ChDialectError, match="TO"):
        ch_sql(spark, (
            "CREATE MATERIALIZED VIEW mv_to TO target AS "
            "SELECT service, count() AS n FROM logs GROUP BY service"),
            logs=logs)
    # reserved names would shadow the base table / system views
    for bad in ("logs", "system_parts"):
        with pytest.raises(ChDialectError, match="shadow"):
            ch_sql(spark, (
                f"CREATE MATERIALIZED VIEW {bad} AS SELECT service, "
                f"count() AS n FROM logs GROUP BY service"), logs=logs)
    # GROUP BY must match the projected dims as expressions, not
    # just by count
    with pytest.raises(ChDialectError, match="does not match"):
        ch_sql(spark, (
            "CREATE MATERIALIZED VIEW mv_bad AS "
            "SELECT toStartOfDay(ts) AS d, service, count() AS n "
            "FROM logs GROUP BY toStartOfHour(ts), service"), logs=logs)
    # ... matching by identical expression or ordinal is accepted
    ch_sql(spark, (
        "CREATE MATERIALIZED VIEW mv_expr AS "
        "SELECT toStartOfDay(ts) AS d, service, count() AS n "
        "FROM logs GROUP BY toStartOfDay(ts), 2"), logs=logs)
    ch_sql(spark, "DROP VIEW mv_expr", logs=logs)
    assert logs.materialized_views == []


def test_drop_view_falls_through_to_spark(spark, logs):
    spark.range(3).createOrReplaceTempView("plain_tmp")
    ch_sql(spark, "DROP VIEW IF EXISTS plain_tmp", logs=logs)
    assert not spark.catalog.tableExists("plain_tmp")
    # IF EXISTS on a truly unknown name stays a no-op (Spark's own
    # semantics)
    ch_sql(spark, "DROP VIEW IF EXISTS never_was", logs=logs)


def _mk_table_with_view(spark, path):
    t = LogsTable(spark, path)
    t.init_schema()
    ch_sql(spark, MV_DDL, logs=t)
    _ins(spark, t, "2025-05-10 10:00:00", "api", "INFO", "old-row", "t1")
    _ins(spark, t, "2025-05-10 10:30:00", "api", "INFO", "old-row2", "t2")
    _ins(spark, t, "2025-07-10 10:00:00", "api", "INFO", "new-row", "t3")
    return t


def test_retention_surfaces_stale_views(spark, tmp_path):
    """Attached views accumulate INSERT increments and never see
    deletes — after retention their totals diverge from the base
    table (ClickHouse TTL has the same property). Default behavior
    keeps the divergence but SURFACES it via stale_views."""
    import datetime as dt

    from clickhouse_observability_spark.sources.retention import (
        apply_retention,
    )

    t = _mk_table_with_view(spark, str(tmp_path / "logs1"))
    res = apply_retention(
        spark, t.path, retention_days=30,
        now=dt.datetime(2025, 7, 20, tzinfo=dt.timezone.utc), exact=False,
    )
    assert res["dropped_months"] == [202505]
    assert res["stale_views"] == ["svc_hourly"]
    # divergence: the view still counts the dropped May rows
    mv_total = sum(r.n for r in t.materialized_views[0].read().collect())
    base_total = t.read().count()
    assert base_total == 1 and mv_total == 3


def test_retention_refresh_views_reconverges(spark, tmp_path):
    import datetime as dt

    from clickhouse_observability_spark.sources.retention import (
        apply_retention,
    )

    t = _mk_table_with_view(spark, str(tmp_path / "logs2"))
    res = apply_retention(
        spark, t.path, retention_days=30,
        now=dt.datetime(2025, 7, 20, tzinfo=dt.timezone.utc), exact=False,
        refresh_views=True,
    )
    assert res["dropped_months"] == [202505]
    assert res["stale_views"] == []  # repaired, nothing stale
    mv_total = sum(r.n for r in t.materialized_views[0].read().collect())
    assert mv_total == t.read().count() == 1
    # no-op retention (nothing dropped) touches no view state
    res2 = apply_retention(
        spark, t.path, retention_days=30,
        now=dt.datetime(2025, 7, 20, tzinfo=dt.timezone.utc), exact=False,
    )
    assert res2["dropped_months"] == [] and res2["stale_views"] == []


PROJ_DDL = (
    "ALTER TABLE logs ADD PROJECTION svc_proj ("
    "SELECT toStartOfHour(ts) AS h, service, count() AS n, "
    "avg(length(msg)) AS avg_len, uniq(trace_id) AS traces "
    "FROM logs GROUP BY h, service)"
)


def _proj_fixture(spark, tmp_path, name):
    t = LogsTable(spark, str(tmp_path / name))
    t.init_schema()
    ch_sql(spark, PROJ_DDL, logs=t)
    for i, (ts, svc, msg, tr) in enumerate([
        ("2025-05-01 10:00:00", "api", "alpha", "t1"),
        ("2025-05-01 10:30:00", "api", "beta-long", "t2"),
        ("2025-05-01 11:00:00", "web", "c", "t1"),
        ("2025-05-02 10:00:00", "web", "dd", "t3"),
    ]):
        _ins(spark, t, ts, svc, "INFO", msg, tr)
    return t


def test_projection_routes_matching_aggregates(spark, tmp_path):
    """CH ADD PROJECTION + transparent routing: a GROUP BY answerable
    from the projection's mergeable states is served FROM the states
    (every input file under _mv/), and the values equal the base-scan
    answer exactly."""
    t = _proj_fixture(spark, tmp_path, "plogs1")

    routed = ch_sql(spark, (
        "SELECT toStartOfHour(ts) AS h, service, count() AS n, "
        "avg(length(msg)) AS avg_len FROM logs GROUP BY h, service"),
        logs=t)
    files = routed.inputFiles()
    assert files and all("_mv" in f for f in files)
    got = {(str(r.h), r.service): (r.n, r.avg_len)
           for r in routed.collect()}
    base = {(str(r.h), r.service): (r.n, r.avg_len)
            for r in spark.sql(
                "SELECT date_trunc('hour', ts) AS h, service, "
                "count(*) AS n, avg(length(msg)) AS avg_len "
                "FROM {logs} GROUP BY 1, 2", logs=t.read()).collect()}
    assert got == base

    # COARSER grain re-merges states (dims subset), avg from sum+count
    routed = ch_sql(spark,
                    "SELECT service, count() AS n, uniq(trace_id) AS u "
                    "FROM logs GROUP BY service", logs=t)
    assert all("_mv" in f for f in routed.inputFiles())
    got = {r.service: (r.n, r.u) for r in routed.collect()}
    assert got == {"api": (2, 2), "web": (2, 2)}

    # WHERE over a dim column routes (state-row filter == base filter)
    routed = ch_sql(spark, (
        "SELECT service, count() AS n FROM logs "
        "WHERE service = 'api' GROUP BY service"), logs=t)
    assert all("_mv" in f for f in routed.inputFiles())
    assert routed.collect()[0].n == 2

    # ORDER BY / LIMIT tail re-applies after routing
    rows = ch_sql(spark, (
        "SELECT service, count() AS n FROM logs GROUP BY service "
        "ORDER BY n DESC, service LIMIT 1"), logs=t).collect()
    assert rows[0].service == "api"


def test_projection_falls_back_when_not_answerable(spark, tmp_path):
    t = _proj_fixture(spark, tmp_path, "plogs2")
    # WHERE over a NON-dim column cannot be served by states — the
    # resolution gate declines and the base scan answers (correctly)
    out = ch_sql(spark, (
        "SELECT service, count() AS n FROM logs "
        "WHERE msg = 'alpha' GROUP BY service"), logs=t)
    assert any("month=" in f for f in out.inputFiles())
    assert {(r.service, r.n) for r in out.collect()} == {("api", 1)}
    # an aggregate the projection lacks -> base scan
    out = ch_sql(spark, (
        "SELECT service, max(length(msg)) AS m FROM logs "
        "GROUP BY service"), logs=t)
    assert any("month=" in f for f in out.inputFiles())
    # a dim the projection lacks -> base scan
    out = ch_sql(spark, (
        "SELECT level, count() AS n FROM logs GROUP BY level"), logs=t)
    assert any("month=" in f for f in out.inputFiles())


def test_projection_materialize_and_drop(spark, tmp_path):
    t = LogsTable(spark, str(tmp_path / "plogs3"))
    t.init_schema()
    # rows inserted BEFORE the projection exists: its states don't
    # cover them, so the router must NOT serve from it (CH stays
    # correct there by answering old parts from raw data; we stay
    # correct by falling back to the base scan entirely) until
    # MATERIALIZE PROJECTION backfills
    _ins(spark, t, "2025-05-01 10:00:00", "api", "INFO", "early", "t0")
    ch_sql(spark, PROJ_DDL, logs=t)
    _ins(spark, t, "2025-05-01 11:00:00", "api", "INFO", "late", "t1")
    out = ch_sql(spark, "SELECT service, count() AS n FROM logs "
                        "GROUP BY service", logs=t)
    assert any("month=" in f for f in out.inputFiles())  # base scan
    assert out.collect()[0].n == 2  # CORRECT despite the stale states
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE PROJECTION svc_proj",
           logs=t)
    routed = ch_sql(spark, "SELECT service, count() AS n FROM logs "
                           "GROUP BY service", logs=t)
    assert all("_mv" in f for f in routed.inputFiles())  # now routed
    assert routed.collect()[0].n == 2  # backfilled
    # a re-attached table (fresh LogsTable) keeps the coverage flag
    t2 = LogsTable(spark, t.path)
    routed = ch_sql(spark, "SELECT service, count() AS n FROM logs "
                           "GROUP BY service", logs=t2)
    assert all("_mv" in f for f in routed.inputFiles())
    # projections are not name-addressable (CH hides them)
    import pyspark.errors

    with pytest.raises(pyspark.errors.AnalysisException):
        ch_sql(spark, "SELECT * FROM svc_proj", logs=t).collect()
    # drop: queries fall back to the base scan
    ch_sql(spark, "ALTER TABLE logs DROP PROJECTION svc_proj", logs=t)
    out = ch_sql(spark, "SELECT service, count() AS n FROM logs "
                        "GROUP BY service", logs=t)
    assert any("month=" in f for f in out.inputFiles())
    assert out.collect()[0].n == 2
    # IF EXISTS / IF NOT EXISTS idempotence
    assert ch_sql(spark, "ALTER TABLE logs DROP PROJECTION IF EXISTS "
                         "svc_proj", logs=t) == 0
    with pytest.raises(ChDialectError, match="no projection"):
        ch_sql(spark, "ALTER TABLE logs DROP PROJECTION svc_proj",
               logs=t)


def test_projection_routes_scalar_aggregates(spark, tmp_path):
    """Grand totals (no GROUP BY) route too — the commonest dashboard
    query; a WHERE over a dim still routes, one over a non-dim falls
    back."""
    t = _proj_fixture(spark, tmp_path, "plogs4")
    out = ch_sql(spark, "SELECT count() AS n, avg(length(msg)) AS a "
                        "FROM logs", logs=t)
    assert all("_mv" in f for f in out.inputFiles())
    r = out.collect()[0]
    assert r.n == 4 and abs(r.a - (5 + 9 + 1 + 2) / 4) < 1e-9
    out = ch_sql(spark, "SELECT count() AS n FROM logs "
                        "WHERE service = 'web'", logs=t)
    assert all("_mv" in f for f in out.inputFiles())
    assert out.collect()[0].n == 2
    out = ch_sql(spark, "SELECT count() AS n FROM logs "
                        "WHERE msg = 'alpha'", logs=t)
    assert any("month=" in f for f in out.inputFiles())
    assert out.collect()[0].n == 1
    # unaliased scalar aggregates fall back (column naming parity)
    out = ch_sql(spark, "SELECT count() FROM logs", logs=t)
    assert any("month=" in f for f in out.inputFiles())


def test_projection_tail_analysis_failure_falls_back(spark, tmp_path):
    """Advice r7: a tail that only resolves against the BASE scan
    (ORDER BY count() DESC, ORDER BY toStartOfHour(ts)) used to be
    re-applied OUTSIDE the routing try — materializing a covering
    projection made previously-working queries error. The tail now
    analyzes inside the try and any failure falls back to the base
    scan: results must be identical with and without the projection."""
    t = _proj_fixture(spark, tmp_path, "plogs_tail")

    q1 = ("SELECT service, count() AS n FROM logs "
          "GROUP BY service ORDER BY count() DESC")
    q2 = ("SELECT toStartOfHour(ts) AS h, service, count() AS n "
          "FROM logs GROUP BY h, service ORDER BY toStartOfHour(ts), "
          "service")
    # baseline WITHOUT routing: evaluate over the raw table frame
    t.read().createOrReplaceTempView("logs")
    base1 = [(r.service, r.n) for r in spark.sql(
        "SELECT service, count(*) AS n FROM logs GROUP BY service "
        "ORDER BY n DESC, service").collect()]
    base2 = [(str(r.h), r.service, r.n) for r in spark.sql(
        "SELECT date_trunc('hour', ts) AS h, service, count(*) AS n "
        "FROM logs GROUP BY 1, 2 ORDER BY 1, 2").collect()]
    # with the projection attached + materialized, the same CH queries
    # must still ANSWER (route or fall back — never error)
    got1 = [(r.service, r.n) for r in ch_sql(spark, q1, logs=t).collect()]
    assert sorted(got1) == sorted(base1)
    got2 = [(str(r.h), r.service, r.n)
            for r in ch_sql(spark, q2, logs=t).collect()]
    assert got2 == base2


def test_mutation_uncovers_projection_serving(spark, tmp_path):
    """r6 verdict item 6: projections serve reads TRANSPARENTLY, so a
    mutation that changes history must not leave one silently serving
    pre-mutation states. Un-refreshed mutation -> the projection is
    un-covered (router falls back to the base scan, answers stay
    CORRECT); MATERIALIZE PROJECTION re-covers; refresh_views=True
    repairs and keeps it covered."""
    from clickhouse_observability_spark.sources.mutations import (
        apply_mutation,
    )

    t = _proj_fixture(spark, tmp_path, "plogs_mut")
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE PROJECTION svc_proj",
           logs=t)
    q = "SELECT service, count() AS n FROM logs GROUP BY service"
    routed = ch_sql(spark, q, logs=t)
    assert all("_mv" in f for f in routed.inputFiles())  # serving

    apply_mutation(spark, t.path, "service = 'web'")  # no refresh
    t2 = LogsTable(spark, t.path)  # reload persisted specs
    after = ch_sql(spark, q, logs=t2)
    # no longer served from states...
    assert not any("_mv" in f for f in after.inputFiles())
    # ...and the answer reflects the mutation
    assert {(r.service, r.n) for r in after.collect()} == {("api", 2)}

    # MATERIALIZE re-backfills and re-covers
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE PROJECTION svc_proj",
           logs=t2)
    again = ch_sql(spark, q, logs=t2)
    assert all("_mv" in f for f in again.inputFiles())
    assert {(r.service, r.n) for r in again.collect()} == {("api", 2)}

    # refresh_views=True keeps it covered AND correct in one step
    apply_mutation(spark, t2.path, "msg = 'alpha'", refresh_views=True)
    t3 = LogsTable(spark, t2.path)
    final = ch_sql(spark, q, logs=t3)
    assert all("_mv" in f for f in final.inputFiles())
    assert {(r.service, r.n) for r in final.collect()} == {("api", 1)}


def test_retention_uncovers_projection_serving(spark, tmp_path):
    """Same contract for TTL retention: dropping months un-covers any
    serving projection instead of leaving it answering from dropped
    history."""
    import datetime as dt

    from clickhouse_observability_spark.sources.retention import (
        apply_retention,
    )

    t = _proj_fixture(spark, tmp_path, "plogs_ret")
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE PROJECTION svc_proj",
           logs=t)
    q = "SELECT service, count() AS n FROM logs GROUP BY service"
    assert all("_mv" in f
               for f in ch_sql(spark, q, logs=t).inputFiles())
    res = apply_retention(
        spark, t.path, retention_days=30,
        now=dt.datetime(2025, 7, 20, tzinfo=dt.timezone.utc), exact=False)
    assert res["dropped_months"] == [202505]
    t2 = LogsTable(spark, t.path)
    after = ch_sql(spark, q, logs=t2)
    assert not any("_mv" in f for f in after.inputFiles())
    assert after.count() == 0  # everything was May
