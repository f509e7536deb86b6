"""ClickHouse SQL dialect shim (functions/ch_dialect.py).

The reference's documented client statements (README.md:82-107,
db.go:81-99 template) must run VERBATIM; the wider CH vocabulary is
pinned translation-by-translation and against DuckDB on testdata.
"""

from __future__ import annotations

import os

import pytest

from clickhouse_observability_spark.functions.ch_dialect import (
    ChDialectError,
    ch_sql,
    translate,
)
from clickhouse_observability_spark.sources.parquet import load_table
from clickhouse_observability_spark.sources.writer import LogsTable


def test_translate_vocabulary():
    cases = {
        "SELECT toStartOfHour(ts) FROM logs":
            "date_trunc('hour', ts)",
        "SELECT toYYYYMM(ts) FROM logs":
            "CAST(date_format(ts, 'yyyyMM') AS INT)",
        "SELECT JSONExtractString(attrs, 'user') FROM logs":
            "get_json_object(attrs, '$.user')",
        "SELECT JSONExtractInt(attrs, 'n') FROM logs":
            "CAST(get_json_object(attrs, '$.n') AS BIGINT)",
        "SELECT countIf(level = 'ERROR') FROM logs":
            "count_if(level = 'ERROR')",
        "SELECT sumIf(v, v > 2) FROM t":
            "sum(IF(v > 2, v, NULL))",
        "SELECT uniq(user) FROM t": "approx_count_distinct(user)",
        "SELECT uniqExact(user) FROM t": "count(DISTINCT user)",
        "SELECT quantile(0.9)(v) FROM t": "percentile_approx(v, 0.9)",
        "SELECT quantileExact(0.5)(v) FROM t": "percentile(v, 0.5)",
        "SELECT quantiles(0.5, 0.9)(v) FROM t":
            "percentile_approx(v, array(0.5, 0.9))",
        "SELECT uniqUpTo(5)(user) FROM t":
            "least(count(DISTINCT user), 5 + 1)",
        "SELECT boundingRatio(x, y) FROM t":
            "CAST(try_divide(max_by(y, x) - min_by(y, x), "
            "max(x) - min(x)) AS DOUBLE)",
        "SELECT argMax(u, v) FROM t": "max_by(u, v)",
        "SELECT multiIf(a, 1, b, 2, 3) FROM t":
            "CASE WHEN a THEN 1 WHEN b THEN 2 ELSE 3 END",
        "SELECT now() - INTERVAL 2 MINUTE":
            "current_timestamp() - INTERVAL 2 MINUTE",
        "SELECT formatDateTime(ts, '%Y-%m-%d %H:%M:%S') FROM t":
            "date_format(ts, '2024-%m-dd HH:mm:ss')".replace(
                "2024-%m", "yyyy-MM"),  # yyyy-MM-dd HH:mm:ss
    }
    for src, want in cases.items():
        assert want in translate(src), (src, translate(src))


def test_translate_extended_vocabulary():
    cases = {
        "SELECT toHour(ts), toDayOfWeek(ts) FROM t":
            ["hour(ts)", "weekday(ts) + 1"],
        "SELECT dateDiff('day', a, b) FROM t": ["timestampdiff(DAY, a, b)"],
        "SELECT match(msg, '^err') FROM t": ["msg RLIKE '^err'"],
        "SELECT replaceRegexpAll(msg, '[0-9]+', '#') FROM t":
            ["regexp_replace(msg, '[0-9]+', '#')"],
        "SELECT toUnixTimestamp(ts) FROM t": ["unix_timestamp(ts)"],
        "SELECT arrayDistinct(arraySort(xs)) FROM t":
            ["array_distinct(array_sort(xs))"],
        "SELECT isNotNull(u) FROM t": ["u IS NOT NULL"],
    }
    for src, wants in cases.items():
        out = translate(src)
        for w in wants:
            assert w in out, (src, out)
    with pytest.raises(ChDialectError):
        translate("SELECT dateDiff(unit_col, a, b) FROM t")


def test_translate_review_fixes(spark):
    # splitByChar: literal separator is regex-escaped
    out = translate("SELECT splitByChar('.', msg) FROM t")
    assert "split(msg, '\\\\.')" in out or "split(msg, '\\.')" in out
    assert spark.sql(
        translate("SELECT splitByChar('.', 'a.b.c') AS p")
    ).collect()[0]["p"] == ["a", "b", "c"]
    with pytest.raises(ChDialectError):
        translate("SELECT splitByChar(sep, msg) FROM t")

    # standard SQL EXTRACT passes through untouched
    assert spark.sql(
        translate("SELECT EXTRACT(YEAR FROM TIMESTAMP '2024-03-01 00:00:00')"
                  " AS y")).collect()[0]["y"] == 2024

    # countIf two-arg form keeps the condition
    out = translate("SELECT countIf(u, level = 'E') FROM t")
    assert "count(IF(level = 'E', u, NULL))" in out

    # toStartOfWeek: CH mode 0 = Sunday start (2024-03-03 is a Sunday)
    r = spark.sql(translate(
        "SELECT toStartOfWeek(TIMESTAMP '2024-03-06 12:00:00') AS w0, "
        "toStartOfWeek(TIMESTAMP '2024-03-06 12:00:00', 1) AS w1"
    )).collect()[0]
    assert str(r["w0"]) == "2024-03-03"
    assert str(r["w1"]).startswith("2024-03-04")


def test_prewhere_and_format_clause(spark, logs):
    from clickhouse_observability_spark.functions.ch_dialect import (
        split_format_clause,
    )

    assert split_format_clause("SELECT 1 FORMAT JSON") == ("SELECT 1",
                                                           "JSON")
    assert split_format_clause("SELECT 'FORMAT JSON'")[1] is None

    # PREWHERE alone -> WHERE
    out = translate("SELECT count(*) FROM logs PREWHERE level = 'E'")
    assert "PREWHERE" not in out and "WHERE" in out
    # PREWHERE + WHERE merge into a conjunction, clause tail intact
    out = translate(
        "SELECT service, count(*) FROM logs PREWHERE level = 'E' "
        "WHERE service != 'x' GROUP BY service")
    assert "PREWHERE" not in out
    assert "AND" in out and "GROUP BY" in out.upper()

    ch_sql(
        spark,
        "INSERT INTO logs (ts, service, level) VALUES "
        "('2025-01-01 00:00:00', 'a', 'E'), "
        "('2025-01-02 00:00:00', 'a', 'I'), "
        "('2025-01-03 00:00:00', 'b', 'E')",
        logs=logs,
    )
    rows = ch_sql(
        spark,
        "SELECT service, count(*) AS n FROM logs PREWHERE level = 'E' "
        "WHERE service = 'a' GROUP BY service FORMAT TSV",
        logs=logs,
    ).collect()
    assert len(rows) == 1 and rows[0]["n"] == 1


def test_translate_string_literal_safety():
    out = translate("SELECT 'toStartOfHour(x)' AS s, now() FROM t")
    assert "'toStartOfHour(x)'" in out
    assert "current_timestamp()" in out


def test_translate_nested_calls():
    out = translate(
        "SELECT countIf(JSONExtractString(attrs, 'user') = 'u1') FROM t")
    assert out.count("count_if") == 1
    assert "get_json_object(attrs, '$.user') = 'u1'" in out


def test_unsupported_raises():
    with pytest.raises(ChDialectError):
        translate("SELECT topKWeighted(3)(u, w) FROM t")
    # arrayJoin maps since r5, but CH's multi-arrayJoin cartesian has
    # no single-generator Spark translation — reject, don't garble
    with pytest.raises(ChDialectError, match="one arrayJoin"):
        translate("SELECT arrayJoin(xs), arrayJoin(ys) FROM t")


def test_sketch_family_executes(spark):
    # uniqTheta and topK map to Spark's native DataSketches
    # functions and EXECUTE correctly (small-cardinality = exact)
    out = translate("SELECT uniqTheta(u) FROM t")
    assert "theta_sketch_estimate(theta_sketch_agg(u))" in out
    r = spark.sql(
        translate(
            "SELECT uniqTheta(u) AS nu, topK(2)(u) AS hot, topK(u) AS hot10 "
            "FROM (SELECT explode(array('a','a','a','b','b','c')) AS u)"
        )
    ).collect()[0]
    assert r.nu == 3
    assert list(r.hot) == ["a", "b"]
    assert list(r.hot10) == ["a", "b", "c"]


@pytest.fixture()
def logs(spark, tmp_path):
    t = LogsTable(spark, str(tmp_path / "logs"))
    t.init_schema()
    return t


README_INSERT = (
    "INSERT INTO logs (ts, service, level, msg, attrs, trace_id, span_id) "
    "VALUES (now() - INTERVAL 2 MINUTE, 'orders', 'WARN', "
    "'Order 12346 has pending items', "
    "'{\"user\": \"jane.smith\", \"order_id\": \"12346\", \"pending_items\": 2}', "
    "'trace-124', 'span-458')"
)


def test_readme_statements_verbatim(spark, logs):
    """README.md:86-107 client commands, pasted unchanged."""
    n = ch_sql(spark, README_INSERT, logs=logs)
    assert n == 1

    rows = ch_sql(
        spark,
        "SELECT ts, service, level, msg, attrs, trace_id, span_id "
        "FROM logs ORDER BY ts DESC",
        logs=logs,
    ).collect()
    assert len(rows) == 1 and rows[0]["service"] == "orders"

    assert ch_sql(spark, "SELECT COUNT(*) FROM logs",
                  logs=logs).collect()[0][0] == 1

    # db.go:81-99 template shape with the JSON predicate
    got = ch_sql(
        spark,
        "SELECT ts, service, level, msg, attrs, trace_id, span_id "
        "FROM logs WHERE service = 'orders' "
        "AND JSONExtractString(attrs, 'user') = 'jane.smith' "
        "ORDER BY ts DESC LIMIT 10",
        logs=logs,
    ).collect()
    assert len(got) == 1 and got[0]["trace_id"] == "trace-124"

    desc = ch_sql(spark, "DESCRIBE logs", logs=logs).collect()
    assert {r[0] for r in desc} >= {"ts", "service", "level", "msg"}


def test_numbers_table_function_and_explain(spark, logs):
    rows = ch_sql(
        spark, "SELECT sum(number) AS s FROM numbers(10)").collect()
    assert rows[0]["s"] == 45
    # EXPLAIN passes through to Spark's planner
    plan = ch_sql(spark, "EXPLAIN SELECT countIf(level = 'ERROR') "
                  "FROM logs", logs=logs).collect()[0][0]
    assert "count_if" in plan or "Aggregate" in plan


def test_bound_table_name_keeps_alias_meaning(spark, logs):
    """A statement may name an output column after a table it reads:
    only the relation references (FROM, `logs.` qualifiers) bind to
    the table, the alias and its ORDER BY use stay a column."""
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level) VALUES "
        "(now(), 'a', 'INFO'), (now(), 'a', 'WARN'), (now(), 'b', 'INFO')"
    ), logs=logs)
    rows = ch_sql(spark, (
        "SELECT service, count() AS logs FROM logs GROUP BY service "
        "ORDER BY logs DESC"), logs=logs).collect()
    assert [(r.service, r.logs) for r in rows] == [("a", 2), ("b", 1)]
    row = ch_sql(spark, (
        "SELECT logs.service AS logs FROM logs WHERE logs.level = 'WARN'"
    ), logs=logs).collect()[0]
    assert row.logs == "a"


def test_insert_fills_missing_columns(spark, logs):
    n = ch_sql(
        spark,
        "INSERT INTO logs (ts, service, level) VALUES "
        "(now(), 'a', 'INFO'), (now(), 'b', 'ERROR')",
        logs=logs,
    )
    assert n == 2
    rows = {r["service"]: r for r in logs.read().collect()}
    assert rows["a"]["attrs"] == "{}" and rows["b"]["msg"] == ""


def test_dialect_aggregates_match_duckdb(spark, sf_med):
    """A CH-dialect analytics query over events vs DuckDB ground
    truth — the translated SQL is semantically right, not just
    parseable."""
    import duckdb

    ev = load_table(spark, sf_med, "events")
    got = {r["et"]: r for r in ch_sql(
        spark,
        "SELECT event_type AS et, countIf(value > 400) AS high, "
        "uniqExact(user_id) AS users, "
        "round(quantileExact(0.5)(value), 4) AS med, "
        "toYYYYMM(min(ts)) AS first_month "
        "FROM events GROUP BY event_type",
        views={"events": ev},
    ).collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_med}/events.parquet'")
    want = {r[0]: r for r in con.execute(
        "SELECT event_type, count(*) FILTER (value > 400), "
        "count(DISTINCT user_id), round(quantile_cont(value, 0.5), 4), "
        "(year(min(ts)) * 100 + month(min(ts)))::INT "
        "FROM events GROUP BY 1").fetchall()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g["high"], g["users"], g["med"], g["first_month"]) == \
            (w[1], w[2], w[3], w[4]), k


def test_sample_clause_semantics(spark):
    rows = [(i, f"m{i}") for i in range(400)]
    spark.createDataFrame(rows, "id long, msg string").createOrReplaceTempView(
        "tsample")
    run = lambda q: {r.id for r in spark.sql(translate(q)).collect()}
    s10 = run("SELECT id FROM tsample SAMPLE 0.1")
    s20 = run("SELECT id FROM tsample SAMPLE 0.2")
    # roughly proportional, deterministic, NESTED (prefix windows)
    assert 15 <= len(s10) <= 70 and 50 <= len(s20) <= 120
    assert s10 == run("SELECT id FROM tsample SAMPLE 0.1")
    assert s10 <= s20
    # OFFSET shifts to a disjoint window
    s10b = run("SELECT id FROM tsample SAMPLE 0.1 OFFSET 0.5")
    assert s10b and not (s10 & s10b)
    # composes with WHERE / aggregates
    n = spark.sql(translate(
        "SELECT count(*) AS n FROM tsample SAMPLE 0.2 WHERE id < 200"
    )).collect()[0].n
    assert 0 < n < 120
    # integer (row-count) form is honestly rejected
    with pytest.raises(ChDialectError):
        translate("SELECT * FROM tsample SAMPLE 1000")


def test_sample_qualified_and_aliased_tables(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS dbx")
    spark.createDataFrame(
        [(i,) for i in range(300)], "id long"
    ).write.mode("overwrite").saveAsTable("dbx.tq")
    try:
        n_all = 300
        run = lambda q: spark.sql(translate(q)).collect()
        n1 = run("SELECT count(*) AS n FROM dbx.tq SAMPLE 0.2")[0].n
        assert 20 < n1 < 120
        # alias survives (referenced in projection), AS and bare forms
        r = run("SELECT x.id FROM dbx.tq AS x SAMPLE 0.2 WHERE x.id >= 0")
        assert 20 < len(r) < 120
        r2 = run("SELECT y.id FROM dbx.tq y SAMPLE 0.2")
        assert {row.id for row in r} == {row.id for row in r2}
        assert n1 < n_all
    finally:
        spark.sql("DROP TABLE IF EXISTS dbx.tq")
        spark.sql("DROP DATABASE IF EXISTS dbx")


def test_uniqtheta_multiarg_counts_tuples(spark):
    spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 1)], "a int, b int"
    ).createOrReplaceTempView("tpairs")
    r = spark.sql(translate(
        "SELECT uniqTheta(a, b) AS nt, uniqTheta(a) AS na FROM tpairs"
    )).collect()[0]
    assert r.nt == 3  # distinct tuples, not distinct a
    assert r.na == 2


def test_sample_after_subquery_raises_dialect_error():
    # SAMPLE following a parenthesized subquery used to pass through
    # untranslated and surface as a Spark parse error downstream; it
    # must fail at translate() with a dialect error instead.
    with pytest.raises(ChDialectError, match="SAMPLE"):
        translate(
            "SELECT count() FROM (SELECT * FROM logs) SAMPLE 0.1"
        )


def test_sample_as_column_name_passes_through(spark):
    # `sample` used as an ordinary identifier is not a SAMPLE clause
    # and must survive translation untouched.
    out = translate("SELECT sample FROM t WHERE sample > 3")
    assert "pmod" not in out and "sample" in out.lower()


def test_sample_requires_from_or_join_anchor():
    # an `ident SAMPLE <num>` shape NOT anchored to FROM/JOIN must not
    # be rewritten as a table sample; it raises rather than emitting
    # broken SQL.
    with pytest.raises(ChDialectError, match="SAMPLE"):
        translate("SELECT a b SAMPLE 0.5 FROM t")


def test_array_function_family_executes(spark):
    # CH's lambda syntax is identical to Spark's; arrayMap/Filter/...
    # translate by swapping the lambda to the last argument
    r = spark.sql(translate(
        "SELECT arrayMap(x -> x * 2, [1, 2, 3]) AS m, "
        "arrayFilter(x -> x > 1, [1, 2, 3]) AS f, "
        "arrayExists(x -> x = 2, [1, 2, 3]) AS e, "
        "arrayAll(x -> x > 0, [1, 2, 3]) AS a, "
        "arrayCount(x -> x > 1, [1, 2, 3]) AS c, "
        "arraySum([1, 2, 3]) AS s, "
        "arraySum(x -> x * x, [1, 2, 3]) AS s2, "
        "arrayMap((x, y) -> x + y, [1, 2], [10, 20]) AS z, "
        "arrayStringConcat(['a', 'b'], '-') AS j, "
        "indexOf([7, 8, 9], 8) AS i, "
        "arrayReverse([1, 2]) AS rv"
    )).collect()[0]
    assert r["m"] == [2, 4, 6] and r["f"] == [2, 3]
    assert r["e"] is True and r["a"] is True and r["c"] == 2
    assert r["s"] == 6.0 and r["s2"] == 14.0
    assert r["z"] == [11, 22]
    assert r["j"] == "a-b" and r["i"] == 2 and r["rv"] == [2, 1]


def test_array_join_explodes_rows(spark):
    # single arrayJoin = Spark's explode generator: row multiplication
    rows = spark.sql(translate(
        "SELECT arrayJoin([1, 2, 3]) AS v"
    )).collect()
    assert [r["v"] for r in rows] == [1, 2, 3]


def test_anylast_quantiletiming_translate(spark):
    out = translate("SELECT anyLast(x), anyHeavy(y) FROM t GROUP BY g")
    # anyHeavy contracts a FREQUENT value -> exact mode(), never the
    # arbitrary any_value (r5 ADVICE)
    assert "last(x)" in out and "mode(y)" in out
    out = translate("SELECT quantileTiming(0.95)(ms) FROM t")
    assert "percentile_approx(ms, 0.95)" in out


def test_array_join_clause(spark):
    # the idiomatic CH row-multiplier: FROM t ARRAY JOIN arr AS x
    rows = spark.sql(translate(
        "SELECT id, x FROM (SELECT 1 AS id, [10, 20] AS arr) "
        "ARRAY JOIN arr AS x ORDER BY x"
    )).collect()
    assert [(r["id"], r["x"]) for r in rows] == [(1, 10), (1, 20)]
    # bare-identifier form keeps the column name
    rows = spark.sql(translate(
        "SELECT arr FROM (SELECT [1, 2] AS arr) ARRAY JOIN arr"
    )).collect()
    assert sorted(r["arr"] for r in rows) == [1, 2]
    # LEFT ARRAY JOIN keeps empty-array rows (NULL-filled)
    rows = spark.sql(translate(
        "SELECT id, x FROM (SELECT 1 AS id, [1] AS a UNION ALL "
        "SELECT 2, []) LEFT ARRAY JOIN a AS x"
    )).collect()
    got = sorted(
        [(r["id"], r["x"]) for r in rows],
        key=lambda p: (p[0], p[1] is None, p[1] or 0),
    )
    assert got == [(1, 1), (2, None)]
    # array LITERAL after ARRAY JOIN (the CH docs' own example form)
    rows = spark.sql(translate(
        "SELECT x FROM (SELECT 1 AS id) ARRAY JOIN [7, 8] AS x"
    )).collect()
    assert sorted(r["x"] for r in rows) == [7, 8]
    # zipped multi-array form: honest error, not a cartesian
    with pytest.raises(ChDialectError, match="ZIPPED"):
        translate("SELECT x, y FROM t ARRAY JOIN a AS x, b AS y")
    with pytest.raises(ChDialectError, match="alias"):
        translate("SELECT x FROM t ARRAY JOIN arrayConcat(a, b)")


def test_final_and_global_modifiers_strip(spark):
    out = translate("SELECT count(*) FROM logs FINAL WHERE level = 'E'")
    assert "FINAL" not in out.upper().replace("FROM logs", "")
    out = translate(
        "SELECT a FROM t GLOBAL JOIN u ON t.k = u.k "
        "WHERE x GLOBAL IN (SELECT k FROM v)")
    assert "GLOBAL" not in out.upper()
    # columns NAMED final/global survive
    out = translate("SELECT final, global FROM t WHERE final > 1")
    assert "final" in out and "global" in out


def test_optimize_table_compacts_partitions(spark, logs):
    import glob
    import os

    # two inserts into the same month -> two part files; a second
    # month gets one
    for stmt in (
        "INSERT INTO logs (ts, service, level) VALUES "
        "('2025-03-01 00:00:00', 'a', 'I')",
        "INSERT INTO logs (ts, service, level) VALUES "
        "('2025-03-02 00:00:00', 'b', 'E')",
        "INSERT INTO logs (ts, service, level) VALUES "
        "('2025-04-01 00:00:00', 'c', 'I')",
    ):
        ch_sql(spark, stmt, logs=logs)

    def files(month):
        return glob.glob(
            os.path.join(logs.path, f"month={month}", "*.parquet"))

    assert len(files(202503)) == 2
    # PARTITION form compacts just that month; returns files merged
    assert ch_sql(spark, "OPTIMIZE TABLE logs PARTITION 202503",
                  logs=logs) == 2
    assert len(files(202503)) == 1
    # bare form sweeps every partition; FINAL tolerated
    merged = ch_sql(spark, "OPTIMIZE TABLE logs FINAL", logs=logs)
    assert merged == 2  # 1 file in each of the two months re-merged
    assert len(files(202503)) == 1 and len(files(202504)) == 1
    # data intact after both compactions
    rows = ch_sql(spark, "SELECT service FROM logs ORDER BY service",
                  logs=logs).collect()
    assert [r.service for r in rows] == ["a", "b", "c"]
    with pytest.raises(ChDialectError):
        ch_sql(spark, "OPTIMIZE TABLE other", logs=logs)


def test_limit_by_semantics(spark):
    spark.createDataFrame(
        [("api", "m1", 3), ("api", "m2", 2), ("api", "m3", 1),
         ("web", "m4", 9), ("web", "m5", 8)],
        "service string, msg string, pri int",
    ).createOrReplaceTempView("tlb")
    # first-n-per-group under the statement's ORDER BY
    rows = spark.sql(translate(
        "SELECT service, msg FROM tlb ORDER BY pri DESC LIMIT 1 BY service"
    )).collect()
    assert {(r.service, r.msg) for r in rows} == {("api", "m1"), ("web", "m4")}
    # helper column is projected away
    assert rows[0].asDict().keys() == {"service", "msg"}
    # final order preserved (pri DESC -> web first)
    rows2 = spark.sql(translate(
        "SELECT service, msg, pri FROM tlb ORDER BY pri DESC "
        "LIMIT 2 BY service"
    )).collect()
    assert [r.msg for r in rows2] == ["m4", "m5", "m1", "m2"]
    # trailing global LIMIT survives
    rows3 = spark.sql(translate(
        "SELECT service, msg, pri FROM tlb ORDER BY pri DESC "
        "LIMIT 2 BY service LIMIT 3"
    )).collect()
    assert [r.msg for r in rows3] == ["m4", "m5", "m1"]
    # without ORDER BY: deterministic (BY-expr window order), one per group
    rows4 = spark.sql(translate(
        "SELECT service FROM tlb LIMIT 1 BY service")).collect()
    assert sorted(r.service for r in rows4) == ["api", "web"]
    # BY an aggregate alias works (LIMIT BY applies after projection)
    rows5 = spark.sql(translate(
        "SELECT service, count() AS n FROM tlb GROUP BY service "
        "LIMIT 1 BY n")).collect()
    assert {(r.service, r.n) for r in rows5} == {("api", 3), ("web", 2)}


def test_limit_by_unsupported_forms():
    with pytest.raises(ChDialectError, match="offset"):
        translate("SELECT * FROM t LIMIT 2, 3 BY service")
    with pytest.raises(ChDialectError, match="subquery"):
        translate("SELECT * FROM (SELECT * FROM t LIMIT 2 BY s) q")
    with pytest.raises(ChDialectError, match="expression"):
        translate("SELECT * FROM t LIMIT 2 BY")


def test_with_totals_grouping_sets(spark):
    spark.createDataFrame(
        [("api", "error"), ("api", "info"), ("api", "error"),
         ("web", "info")],
        "service string, level string",
    ).createOrReplaceTempView("twt")
    rows = spark.sql(translate(
        "SELECT service, level, count() AS n FROM twt "
        "GROUP BY service, level WITH TOTALS")).collect()
    got = {(r.service, r.level, r.n) for r in rows}
    # per-group rows plus exactly ONE overall-totals row (NULL keys) —
    # GROUPING SETS ((service, level), ()), NOT rollup (no per-service
    # subtotals)
    assert got == {("api", "error", 2), ("api", "info", 1),
                   ("web", "info", 1), (None, None, 4)}
    with pytest.raises(ChDialectError, match="TOTALS"):
        translate("SELECT count() FROM twt WITH TOTALS")


def test_with_fill_rejected_cte_named_fill_ok():
    with pytest.raises(ChDialectError, match="FILL"):
        translate("SELECT d FROM t ORDER BY d WITH FILL")
    # a CTE that happens to be named `fill` is not a WITH FILL clause
    out = translate("WITH fill AS (SELECT 1 AS x) SELECT x FROM fill")
    assert "fill" in out


def test_parameterless_count_translates():
    assert "count(*)" in translate("SELECT count() FROM t")
    out = translate("SELECT count(msg) FROM t")
    assert "count ( msg" in out or "count(msg" in out.replace(" ", "")


def test_system_tables_over_sql(spark, logs):
    ch_sql(spark, README_INSERT, logs=logs)
    ch_sql(spark, (
        "CREATE MATERIALIZED VIEW mv1 AS SELECT service, count() AS n "
        "FROM logs GROUP BY service"), logs=logs)
    # system.parts: one row per at-rest file, CH-spelled
    parts = ch_sql(
        spark, "SELECT file, rows FROM system.parts WHERE rows > 0",
        logs=logs).collect()
    assert len(parts) >= 1 and all(r.rows >= 1 for r in parts)
    # system.columns reflects the DDL schema in order
    cols = ch_sql(
        spark,
        "SELECT name FROM system.columns WHERE table = 'logs' "
        "ORDER BY position", logs=logs).collect()
    assert [r.name for r in cols][:3] == ["ts", "service", "level"]
    # system.tables lists the base table and attached views
    tabs = {r.name: r.engine for r in ch_sql(
        spark, "SELECT name, engine FROM system.tables", logs=logs
    ).collect()}
    assert tabs["logs"] == "MergeTree"
    assert tabs["mv1"] == "MaterializedView"
    ch_sql(spark, "DROP VIEW mv1", logs=logs)
    # system.query_log rides the API's ring when passed through
    from clickhouse_observability_spark.api.query_log import QueryLog

    ql = QueryLog()
    ql.record("query", "SELECT 1", status=200, duration_ms=1.5,
              result_rows=1)
    got = ch_sql(
        spark,
        "SELECT route, status FROM system.query_log", logs=logs,
        query_log=ql).collect()
    assert [(r.route, r.status) for r in got] == [("query", 200)]
    with pytest.raises(ChDialectError, match="query_log"):
        ch_sql(spark, "SELECT 1 FROM system.query_log", logs=logs)
    # a string literal mentioning system.parts is NOT rewritten
    lit = ch_sql(spark, "SELECT 'system.parts' AS s", logs=logs)
    assert lit.collect()[0].s == "system.parts"


def test_dict_functions(spark):
    spark.createDataFrame(
        [("api", "team-a", 1), ("web", "team-b", 2)],
        "key string, owner string, tier int",
    ).createOrReplaceTempView("svc_meta")
    spark.createDataFrame(
        [("api", 5), ("db", 7)], "service string, n int"
    ).createOrReplaceTempView("tdl")
    rows = ch_sql(spark, (
        "SELECT service, dictGet('svc_meta', 'owner', service) AS owner, "
        "dictGetOrDefault('svc_meta', 'owner', service, 'unowned') AS o2, "
        "dictGetInt64('svc_meta', 'tier', service) AS tier, "
        "dictHas('svc_meta', service) AS has "
        "FROM tdl ORDER BY service")).collect()
    assert [(r.service, r.owner, r.o2, r.tier, r.has) for r in rows] == [
        ("api", "team-a", "team-a", 1, True),
        # typed variants return the CH type default on a miss (0, ''),
        # matching CH dictGet's declared-default semantics; untyped
        # dictGet stays NULL-on-miss (documented divergence)
        ("db", None, "unowned", 0, False),
    ]
    with pytest.raises(ChDialectError, match="quoted dictionary"):
        translate("SELECT dictGet(svc_meta, 'owner', s) FROM t")
    with pytest.raises(ChDialectError, match="attribute"):
        translate("SELECT dictGet('svc_meta', owner, s) FROM t")
    with pytest.raises(ChDialectError, match="dictGet\\(dict"):
        translate("SELECT dictGet('svc_meta', 'owner') FROM t")


def test_dict_functions_over_views_mapping(spark):
    """A dictionary passed as a `views=` entry is bound for the
    statement like any other name it reads — dictGet's string-literal
    reference included."""
    meta = spark.createDataFrame([("api", "team-a")],
                                 "key string, owner string")
    src = spark.createDataFrame([("api",), ("db",)], "service string")
    rows = ch_sql(spark, (
        "SELECT service, dictGet('svc_map', 'owner', service) AS owner, "
        "dictHas('svc_map', service) AS has FROM src ORDER BY service"),
        views={"svc_map": meta, "src": src}).collect()
    assert [(r.service, r.owner, r.has) for r in rows] == [
        ("api", "team-a", True), ("db", None, False)]


def test_any_aggregate_vs_quantifier(spark):
    # the CH `any(x)` aggregate maps to any_value; the SQL quantifier
    # `> ANY (subquery)` — which only ever follows a comparison
    # operator — must NOT be rewritten into any_value(). Spark has no
    # quantified comparison subqueries, so it raises with the rewrite
    # hint instead of leaking a parse error.
    out = translate("SELECT service, any(msg) AS m FROM t GROUP BY service")
    assert "any_value(msg)" in out.replace(" ", "")
    with pytest.raises(ChDialectError, match="min\\(\\)/max\\(\\)"):
        translate("SELECT * FROM t WHERE x > ANY (SELECT y FROM u)")
    with pytest.raises(ChDialectError, match="quantified"):
        translate("SELECT * FROM t WHERE x <= ALL (SELECT y FROM u)")
    # GROUP BY ... WITH ROLLUP / CUBE: identical syntax both dialects,
    # passes through
    spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)],
        "g string, h string, v int").createOrReplaceTempView("tru")
    rows = spark.sql(translate(
        "SELECT g, h, sum(v) AS s FROM tru GROUP BY g, h WITH ROLLUP"
    )).collect()
    got = {(r.g, r.h): r.s for r in rows}
    assert got[(None, None)] == 6 and got[("a", None)] == 3


def test_explain_statements(spark, logs):
    # EXPLAIN SYNTAX returns the dialect translation (CH's
    # rewritten-query output, here the Spark SQL text)
    row = ch_sql(spark, (
        "EXPLAIN SYNTAX SELECT toStartOfHour(ts) AS h, count() AS n "
        "FROM logs GROUP BY h"), logs=logs).collect()[0]
    assert "date_trunc" in row.statement and "count(*)" in row.statement
    # EXPLAIN / EXPLAIN PLAN returns Spark's plan frame
    plan = ch_sql(spark, "EXPLAIN SELECT count() AS n FROM logs",
                  logs=logs).collect()[0][0]
    assert "Aggregate" in plan or "Physical Plan" in plan
    plan2 = ch_sql(spark, "EXPLAIN PLAN SELECT service FROM logs "
                          "WHERE service = 'api'", logs=logs).collect()
    assert len(plan2) >= 1


def test_stats_and_bucket_vocabulary(spark):
    # live execution pins the mappings AND cross-checks avgWeighted /
    # stddev against hand computation
    r = spark.sql(translate(
        "SELECT stddevPop(v) AS sp, stddevSamp(v) AS ss, "
        "varPop(v) AS vp, covarPop(v, w) AS cp, corr(v, w) AS c, "
        "avgWeighted(v, w) AS aw, uniqCombined64(v) AS u, "
        "quantileTDigest(0.5)(v) AS q "
        "FROM (SELECT v, v AS w FROM "
        "(SELECT explode(array(1.0, 2.0, 3.0, 4.0)) AS v))"
    )).collect()[0]
    assert abs(r.sp - 1.1180339887) < 1e-6
    # weights = values -> sum(v^2)/sum(v) = 30/10
    assert abs(r.aw - 3.0) < 1e-9
    assert r.u == 4 and abs(r.c - 1.0) < 1e-9
    b = spark.sql(translate(
        "SELECT toStartOfFiveMinute(TIMESTAMP '2024-03-01 10:07:31') AS b5, "
        "toStartOfFifteenMinutes(TIMESTAMP '2024-03-01 10:07:31') AS b15, "
        "toQuarter(TIMESTAMP '2024-03-01 10:07:31') AS q"
    )).collect()[0]
    assert str(b.b5) == "2024-03-01 10:05:00"
    assert str(b.b15) == "2024-03-01 10:00:00"
    assert b.q == 1


def test_subscripts_are_one_based(spark):
    """CH subscripts are 1-based (negative = from the end); Spark
    bracket indexing is 0-based, so passthrough would be a silent
    off-by-one (r5 ADVICE). Every detected subscript rewrites to
    element_at, which matches CH's indexing exactly."""
    r = spark.sql(translate(
        "SELECT [10, 20, 30][1] AS a, [10, 20, 30][3] AS b, "
        "[10, 20, 30][-1] AS c"
    )).collect()[0]
    assert (r.a, r.b, r.c) == (10, 30, 30)
    # subscript of a column and of a call result
    r = spark.sql(translate(
        "SELECT arr[2] AS x, arraySort(arr)[1] AS lo "
        "FROM (SELECT [3, 1, 2] AS arr)"
    )).collect()[0]
    assert (r.x, r.lo) == (1, 1)
    # qualified column subscript + subscript inside a lambda
    r = spark.sql(translate(
        "SELECT t.arr[1] AS q, arrayMap(x -> x[1], [[7],[9]]) AS m "
        "FROM (SELECT [5, 6] AS arr) t"
    )).collect()[0]
    assert r.q == 5 and r.m == [7, 9]
    # map subscript: element_at covers maps too (keys not positional)
    r = spark.sql(translate(
        "SELECT m['k'] AS v FROM (SELECT map('k', 42) AS m)"
    )).collect()[0]
    assert r.v == 42


def test_dict_typed_defaults_on_miss(spark):
    spark.createDataFrame(
        [("api", "team-a", 1, 0.5)],
        "key string, owner string, tier int, score double",
    ).createOrReplaceTempView("svc_meta2")
    spark.createDataFrame(
        [("db",)], "service string"
    ).createOrReplaceTempView("tdl2")
    r = ch_sql(spark, (
        "SELECT dictGetString('svc_meta2', 'owner', service) AS o, "
        "dictGetInt64('svc_meta2', 'tier', service) AS t, "
        "dictGetFloat64('svc_meta2', 'score', service) AS s "
        "FROM tdl2")).collect()[0]
    assert (r.o, r.t, r.s) == ("", 0, 0.0)


def test_anyheavy_returns_frequent_value(spark):
    r = ch_sql(spark, (
        "SELECT anyHeavy(v) AS h FROM "
        "(SELECT explode(array(1, 2, 2, 2, 3)) AS v)")).collect()[0]
    assert r.h == 2


def test_mutations_delete_update(spark, logs):
    """CH mutations as partition-scoped rewrites: ALTER TABLE DELETE
    drops matching rows from affected month partitions only, UPDATE
    applies assignment expressions to matching rows, DELETE FROM is
    the lightweight-delete alias — all through the dialect, all
    returning the matched-row count (INSERT's contract; CH itself
    returns nothing and mutates asynchronously)."""
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg) VALUES "
        "('2025-05-01 10:00:00', 'api', 'DEBUG', 'm1'), "
        "('2025-05-02 10:00:00', 'api', 'INFO', 'm2'), "
        "('2025-07-01 10:00:00', 'web', 'DEBUG', 'm3'), "
        "('2025-07-02 10:00:00', 'web', 'ERROR', 'secret token')"),
        logs=logs)

    # UPDATE with CH vocabulary in predicate and expression
    n = ch_sql(spark, (
        "ALTER TABLE logs UPDATE msg = replaceRegexpAll(msg, 'secret.*', "
        "'<REDACTED>') WHERE match(msg, 'secret')"), logs=logs)
    assert n == 1
    msgs = {r.msg for r in logs.read().collect()}
    assert "<REDACTED>" in msgs and "secret token" not in msgs

    # DELETE prunes to the matching partitions and keeps the rest
    n = ch_sql(spark, "ALTER TABLE logs DELETE WHERE level = 'DEBUG'",
               logs=logs)
    assert n == 2
    assert logs.read().count() == 2
    assert {r.level for r in logs.read().collect()} == {"INFO", "ERROR"}

    # lightweight-delete form
    n = ch_sql(spark, "DELETE FROM logs WHERE service = 'web'", logs=logs)
    assert n == 1
    assert [r.service for r in logs.read().collect()] == ["api"]

    # zero-match mutation rewrites nothing and reports zero
    assert ch_sql(spark, "ALTER TABLE logs DELETE WHERE level = 'X'",
                  logs=logs) == 0


def test_mutation_guards(spark, logs):
    import pytest as _pytest

    ch_sql(spark, ("INSERT INTO logs (ts, service, level, msg) VALUES "
                   "('2025-05-01 10:00:00', 'api', 'INFO', 'm')"),
           logs=logs)
    # key-column updates refused (CH refuses key columns too)
    with _pytest.raises(ValueError, match="key columns"):
        ch_sql(spark, "ALTER TABLE logs UPDATE ts = now() WHERE 1 = 1",
               logs=logs)
    with _pytest.raises(ValueError, match="key columns"):
        ch_sql(spark, "ALTER TABLE logs UPDATE service = 'x' WHERE 1 = 1",
               logs=logs)
    # unguarded whole-table mutations refused
    with _pytest.raises(ChDialectError, match="WHERE"):
        ch_sql(spark, "ALTER TABLE logs DELETE", logs=logs)
    with _pytest.raises(ChDialectError, match="WHERE"):
        ch_sql(spark, "ALTER TABLE logs UPDATE msg = 'x'", logs=logs)
    # only the logs table mutates
    with _pytest.raises(ChDialectError, match="logs"):
        ch_sql(spark, "ALTER TABLE other DELETE WHERE 1 = 1", logs=logs)
    # NULL predicate rows are NOT matched (SQL three-valued logic)
    n = ch_sql(spark, ("ALTER TABLE logs DELETE WHERE "
                       "JSONExtractString(attrs, 'k') = 'v'"), logs=logs)
    assert n == 0 and logs.read().count() == 1


def test_mutation_surfaces_stale_views(spark, tmp_path):
    from clickhouse_observability_spark.sources.mutations import (
        apply_mutation,
    )
    from clickhouse_observability_spark.sources.writer import LogsTable

    t = LogsTable(spark, str(tmp_path / "mlogs"))
    t.init_schema()
    ch_sql(spark, (
        "CREATE MATERIALIZED VIEW mv_cnt ENGINE = AggregatingMergeTree() "
        "AS SELECT service, count() AS n FROM logs GROUP BY service"),
        logs=t)
    ch_sql(spark, ("INSERT INTO logs (ts, service, level, msg) VALUES "
                   "('2025-05-01 10:00:00', 'api', 'INFO', 'a'), "
                   "('2025-05-01 11:00:00', 'api', 'INFO', 'b')"), logs=t)
    res = apply_mutation(spark, t.path, "msg = 'a'")
    assert res["matched_rows"] == 1 and res["stale_views"] == ["mv_cnt"]
    # view still counts the deleted row (documented CH-parity drift)
    assert t.materialized_views[0].read().collect()[0].n == 2
    # refresh_views repairs in place
    res = apply_mutation(spark, t.path, "msg = 'b'", refresh_views=True)
    assert res["matched_rows"] == 1 and res["stale_views"] == []
    # both rows gone -> the rebuilt view has no groups at all
    assert t.materialized_views[0].read().count() == 0


def test_asof_join_dialect(spark):
    """CH ASOF JOIN through ch_sql: ON with equality + one
    inequality, ASOF LEFT JOIN NULL-fill, the USING form, and CH
    vocabulary in the surrounding statement. Right non-key columns
    surface as <right_alias>_<col> (flat frame; CH reaches them via
    the qualifier)."""
    spark.createDataFrame(
        [(1, "2025-01-01 10:00:00", 5.0),
         (1, "2025-01-01 12:00:00", 7.0),
         (2, "2025-01-01 10:30:00", 9.0)],
        "k long, ts string, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "v") \
        .createOrReplaceTempView("trades")
    spark.createDataFrame(
        [(1, "2025-01-01 09:00:00", 100.0),
         (1, "2025-01-01 11:00:00", 110.0),
         (2, "2025-01-01 11:00:00", 50.0)],
        "k long, ts string, px double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "px") \
        .createOrReplaceTempView("quotes")

    rows = ch_sql(spark, (
        "SELECT t.k, t.v, q.px FROM trades t ASOF JOIN quotes q "
        "ON t.k = q.k AND t.ts >= q.ts ORDER BY t.k, t.v")).collect()
    assert [(r.k, r.v, r.q_px) for r in rows] == [
        (1, 5.0, 100.0), (1, 7.0, 110.0)]

    # LEFT form keeps the unmatched trade with NULL quote columns
    rows = ch_sql(spark, (
        "SELECT t.k, t.v, q.px FROM trades t ASOF LEFT JOIN quotes q "
        "ON t.k = q.k AND t.ts >= q.ts ORDER BY t.k, t.v")).collect()
    assert [(r.k, r.v, r.q_px) for r in rows] == [
        (1, 5.0, 100.0), (1, 7.0, 110.0), (2, 9.0, None)]

    # USING form: trailing column is the backward-inexact asof axis;
    # CH vocabulary (toStartOfHour) translates in the projection
    rows = ch_sql(spark, (
        "SELECT k, v, quotes_px, toStartOfHour(ts) AS h "
        "FROM trades ASOF JOIN quotes USING (k, ts) "
        "ORDER BY k, v")).collect()
    assert [(r.k, r.v, r.quotes_px) for r in rows] == [
        (1, 5.0, 100.0), (1, 7.0, 110.0)]
    assert str(rows[0].h) == "2025-01-01 10:00:00"

    # forward direction via the flipped inequality + aggregation tail
    rows = ch_sql(spark, (
        "SELECT t.k, countIf(q.px > 100) AS n_high "
        "FROM trades t ASOF JOIN quotes q "
        "ON t.k = q.k AND q.ts >= t.ts GROUP BY t.k ORDER BY t.k"
    )).collect()
    assert [(r.k, r.n_high) for r in rows] == [(1, 1), (2, 0)]


def test_asof_join_dialect_errors(spark):
    spark.range(1).selectExpr("id AS k", "CAST('2025-01-01' AS TIMESTAMP) ts") \
        .createOrReplaceTempView("ta")
    spark.range(1).selectExpr("id AS k", "CAST('2025-01-01' AS TIMESTAMP) ts") \
        .createOrReplaceTempView("tb")
    with pytest.raises(ChDialectError, match="equality"):
        ch_sql(spark, "SELECT * FROM ta a ASOF JOIN tb b ON a.ts >= b.ts")
    with pytest.raises(ChDialectError, match="one inequality"):
        ch_sql(spark, ("SELECT * FROM ta a ASOF JOIN tb b "
                       "ON a.k = b.k AND a.ts >= b.ts AND a.ts > b.ts"))
    with pytest.raises(ChDialectError, match="same-named"):
        ch_sql(spark, ("SELECT * FROM ta a ASOF JOIN tb b "
                       "ON a.k = b.ts AND a.ts >= b.ts"))
    with pytest.raises(ChDialectError, match="subquery"):
        ch_sql(spark, ("SELECT * FROM (SELECT * FROM ta a ASOF JOIN tb b "
                       "ON a.k = b.k AND a.ts >= b.ts) x"))
    # text translation honestly refuses (needs the operator plan)
    with pytest.raises(ChDialectError, match="ch_sql"):
        translate("SELECT * FROM ta a ASOF JOIN tb b "
                  "ON a.k = b.k AND a.ts >= b.ts")


def test_r6_vocabulary_wave(spark):
    """Sub-hour buckets, interval constructors, string/URL/hash/bit
    families — each executed, not just translated."""
    cases = {
        "SELECT toStartOfFiveMinutes(TIMESTAMP '2024-01-01 10:07:33') AS v":
            "2024-01-01 10:05:00",
        "SELECT toStartOfFifteenMinutes(TIMESTAMP '2024-01-01 10:17:33') AS v":
            "2024-01-01 10:15:00",
        "SELECT timeSlot(TIMESTAMP '2024-01-01 10:37:33') AS v":
            "2024-01-01 10:30:00",
        "SELECT trimBoth('  x  ') AS v": "x",
        "SELECT concatWithSeparator('-', 'a', 'b') AS v": "a-b",
        "SELECT positionCaseInsensitive('Hello', 'LL') AS v": 3,
        "SELECT base64Encode('hi') AS v": "aGk=",
        "SELECT base64Decode('aGk=') AS v": "hi",
        "SELECT formatReadableSize(1048576) AS v": "1.00 MiB",
        "SELECT formatReadableSize(512) AS v": "512.00 B",
        "SELECT domain('https://ex.com/a/b?q=1') AS v": "ex.com",
        "SELECT path('https://ex.com/a/b?q=1') AS v": "/a/b",
        "SELECT protocol('https://ex.com/a') AS v": "https",
        "SELECT bitShiftLeft(3, 2) AS v": 12,
        "SELECT tupleElement((1, 'x'), 2) AS v": "x",
        "SELECT CAST(toIntervalDay(2) + TIMESTAMP '2024-01-01 00:00:00' "
        "AS STRING) AS v": "2024-01-03 00:00:00",
    }
    for sql, want in cases.items():
        got = spark.sql(translate(sql)).collect()[0].v
        got = str(got) if isinstance(want, str) else got
        assert got == want, (sql, got)
    # list results
    assert list(spark.sql(translate(
        "SELECT extractAll('a1b22c', '[0-9]+') AS v")).collect()[0].v) \
        == ["1", "22"]
    assert list(spark.sql(translate(
        "SELECT splitByString('ab', '1ab2ab3') AS v")).collect()[0].v) \
        == ["1", "2", "3"]
    # halfMD5 is VALUE-EXACT vs CH's definition (first 8 MD5 bytes,
    # big-endian unsigned)
    import hashlib

    exp = int.from_bytes(hashlib.md5(b"abc").digest()[:8], "big")
    assert int(spark.sql(translate(
        "SELECT halfMD5('abc') AS v")).collect()[0].v) == exp
    # cityHash64/sipHash64 -> xxhash64: deterministic in-engine, a
    # DOCUMENTED value divergence from real CH output
    a = spark.sql(translate("SELECT cityHash64('abc') AS v")).collect()[0].v
    b = spark.sql("SELECT xxhash64('abc') AS v").collect()[0].v
    assert a == b
    # block-order-dependent functions refuse with the window rewrite
    with pytest.raises(ChDialectError, match="lag"):
        translate("SELECT runningDifference(x) FROM t")
    with pytest.raises(ChDialectError, match="lead"):
        translate("SELECT neighbor(x, 1) FROM t")


def test_explain_estimate(spark, logs):
    """CH EXPLAIN ESTIMATE from parquet-footer metadata: month
    partitions and the (service, ts) min/max the sorted layout
    produces prune parts WITHOUT reading data; non-indexable
    conjuncts are ignored (upper bound, CH's own contract)."""
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg) VALUES "
        "('2025-05-01 10:00:00', 'api', 'INFO', 'a'), "
        "('2025-05-02 10:00:00', 'api', 'INFO', 'b'), "
        "('2025-07-01 10:00:00', 'web', 'ERROR', 'c')"), logs=logs)

    def est(sql):
        r = ch_sql(spark, sql, logs=logs).collect()[0]
        return (r.parts, r.rows)

    all_parts, all_rows = est("EXPLAIN ESTIMATE SELECT * FROM logs")
    assert all_rows == 3 and all_parts >= 1
    # month pruning drops the other partition entirely
    p, r = est("EXPLAIN ESTIMATE SELECT * FROM logs WHERE month = 202507")
    assert r == 1 and p < all_parts
    # ts range pruning via footer min/max
    p, r = est("EXPLAIN ESTIMATE SELECT count(*) FROM logs "
               "WHERE ts >= toDateTime('2025-06-01 00:00:00')")
    assert r == 1
    # service equality against the sorted layout's min/max
    _, r = est("EXPLAIN ESTIMATE SELECT * FROM logs WHERE service = 'web'")
    assert r == 1
    # un-prunable conjunct ignored -> upper bound, never an error
    _, r = est("EXPLAIN ESTIMATE SELECT * FROM logs WHERE msg = 'c'")
    assert r == 3
    # contradictory range estimates zero
    p, r = est("EXPLAIN ESTIMATE SELECT * FROM logs "
               "WHERE ts > toDateTime('2026-01-01 00:00:00')")
    assert (p, r) == (0, 0)


def test_r6_vocabulary_wave2(spark):
    """SETTINGS stripping + the array/map/bit additions, executed."""
    assert spark.sql(translate(
        "SELECT 1 AS v SETTINGS max_threads = 8")).collect()[0].v == 1
    # a column named settings is NOT a clause
    assert spark.sql(translate(
        "SELECT settings FROM (SELECT 5 AS settings)")).collect()[0][0] == 5
    cases = {
        "SELECT toLastDayOfMonth(TIMESTAMP '2024-02-10 00:00:00') AS v":
            "2024-02-29",
        "SELECT age('day', TIMESTAMP '2024-01-01 12:00:00', "
        "TIMESTAMP '2024-01-03 11:00:00') AS v": 1,  # complete days
        "SELECT bitCount(7) AS v": 3,
        "SELECT hasAll([1,2,3], [1,3]) AS v": True,
        "SELECT hasAll([1,2], [1,9]) AS v": False,
        "SELECT hasAny([1,2], [9,2]) AS v": True,
        "SELECT mapContains(map('a', 1), 'a') AS v": True,
    }
    for sql, want in cases.items():
        got = spark.sql(translate(sql)).collect()[0].v
        got = str(got) if isinstance(want, str) else got
        assert got == want, (sql, got)
    assert list(spark.sql(translate(
        "SELECT arrayCompact([1,1,2,2,1,3,3]) AS v")).collect()[0].v) \
        == [1, 2, 1, 3]
    assert list(spark.sql(translate(
        "SELECT mapKeys(map('a', 1, 'b', 2)) AS v")).collect()[0].v) \
        == ["a", "b"]
    z = spark.sql(translate(
        "SELECT arrayZip([1, 2], ['x', 'y']) AS v")).collect()[0].v
    assert [(r[0], r[1]) for r in z] == [(1, "x"), (2, "y")]
    r = spark.sql(translate("SELECT randCanonical() AS v")).collect()[0].v
    assert 0.0 <= r < 1.0


def test_system_mutations_and_projections(spark, logs):
    """The r6 introspection closures: every mutation lands in
    system.mutations (synchronous -> is_done=1) and projections list
    in system.projections but NOT in system.tables (CH hides them
    there)."""
    ch_sql(spark, ("INSERT INTO logs (ts, service, level, msg) VALUES "
                   "('2025-05-01 10:00:00', 'api', 'DEBUG', 'm1'), "
                   "('2025-05-02 10:00:00', 'api', 'INFO', 'm2')"),
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs DELETE WHERE level = 'DEBUG'",
           logs=logs)
    ch_sql(spark, ("ALTER TABLE logs UPDATE msg = upper(msg) "
                   "WHERE service = 'api'"), logs=logs)
    rows = ch_sql(spark, (
        "SELECT op, command, matched_rows, is_done "
        "FROM system.mutations ORDER BY mutation_id"), logs=logs).collect()
    assert [(r.op, r.matched_rows, r.is_done) for r in rows] == [
        ("delete", 1, 1), ("update", 1, 1)]
    assert rows[0].command.startswith("ALTER TABLE logs DELETE")

    ch_sql(spark, ("ALTER TABLE logs ADD PROJECTION p1 ("
                   "SELECT service, count() AS n FROM logs "
                   "GROUP BY service)"), logs=logs)
    p = ch_sql(spark, ("SELECT name, type, dimensions, aggregates "
                       "FROM system.projections"), logs=logs).collect()
    assert [(r.name, r.type, r.dimensions) for r in p] == [
        ("p1", "aggregate", "service")]
    t = ch_sql(spark, "SELECT name FROM system.tables", logs=logs).collect()
    assert "p1" not in {r.name for r in t}


def test_r6_vocabulary_wave3(spark):
    """Scalar WITH (CH expression aliases), quantile representation
    variants, finite/null helpers, range/arrayDifference/arrayCumSum
    — all executed."""
    # scalar WITH substitutes everywhere, later entries see earlier
    r = spark.sql(translate(
        "WITH 5 AS x, x * 2 AS y SELECT x + 1 AS a, y AS b")).collect()[0]
    assert (r.a, r.b) == (6, 10)
    # expression alias usable in GROUP BY (the CH idiom)
    r = spark.sql(translate(
        "WITH toStartOfHour(t) AS h SELECT h, count() AS n FROM "
        "(SELECT TIMESTAMP '2024-01-01 10:20:00' AS t "
        " UNION ALL SELECT TIMESTAMP '2024-01-01 10:40:00') "
        "GROUP BY h")).collect()
    assert len(r) == 1 and r[0].n == 2
    # genuine CTEs still pass through (mixed form keeps the CTE head)
    r = spark.sql(translate(
        "WITH q AS (SELECT 3 AS v), 10 AS k "
        "SELECT v + k AS s FROM q")).collect()[0]
    assert r.s == 13

    cases = {
        "SELECT medianExact(v) AS r FROM (SELECT explode(array"
        "(1.0, 2.0, 3.0)) AS v)": 2.0,
        "SELECT isFinite(1.0) AS r": True,
        "SELECT isFinite(double('Infinity')) AS r": False,
        "SELECT isInfinite(double('-Infinity')) AS r": True,
        "SELECT ifNotFinite(double('NaN'), 9.0) AS r": 9.0,
        "SELECT assumeNotNull(5) AS r": 5,
    }
    for sql, want in cases.items():
        assert spark.sql(translate(sql)).collect()[0].r == want, sql
    assert list(spark.sql(translate("SELECT range(4) AS r"))
                .collect()[0].r) == [0, 1, 2, 3]
    assert list(spark.sql(translate("SELECT range(2, 9, 3) AS r"))
                .collect()[0].r) == [2, 5, 8]
    assert list(spark.sql(translate(
        "SELECT arrayDifference([10, 13, 11]) AS r")).collect()[0].r) \
        == [0, 3, -2]
    assert list(spark.sql(translate(
        "SELECT arrayCumSum([1, 2, 3]) AS r")).collect()[0].r) \
        == [1.0, 3.0, 6.0]
    out = translate("SELECT quantilesTiming(0.5, 0.9)(v) FROM t")
    assert "percentile_approx(v, array(0.5, 0.9))" in out
    with pytest.raises(ChDialectError, match="DESCRIBE"):
        translate("SELECT toTypeName(x) FROM t")


def test_modify_ttl_arms_retention(spark, logs):
    """The reference's own TTL statement (db.go:59-66) arms the
    retention job: ALTER TABLE ... MODIFY TTL persists the horizon,
    apply_retention with no explicit days enforces it (table TTL
    wins over $RETENTION_DAYS), REMOVE TTL disarms."""
    import datetime as dt

    from clickhouse_observability_spark.sources.retention import (
        apply_retention,
        read_table_ttl,
    )

    ch_sql(spark, ("INSERT INTO logs (ts, service, level, msg) VALUES "
                   "('2025-05-01 10:00:00', 'api', 'INFO', 'old'), "
                   "('2025-07-10 10:00:00', 'api', 'INFO', 'new')"),
           logs=logs)
    # unarmed: no TTL, no env -> no-op
    res = apply_retention(
        spark, logs.path,
        now=dt.datetime(2025, 7, 20, tzinfo=dt.timezone.utc))
    assert res.get("skipped") and logs.read().count() == 2
    # the reference's verbatim statement shape
    assert ch_sql(spark, ("ALTER TABLE logs MODIFY TTL ts + "
                          "INTERVAL 30 DAY DELETE"), logs=logs) == 0
    assert read_table_ttl(logs.path) == 30
    res = apply_retention(
        spark, logs.path, exact=False,
        now=dt.datetime(2025, 7, 20, tzinfo=dt.timezone.utc))
    assert res["dropped_months"] == [202505]
    assert logs.read().count() == 1
    # disarm
    assert ch_sql(spark, "ALTER TABLE logs REMOVE TTL", logs=logs) == 0
    assert read_table_ttl(logs.path) is None
    res = apply_retention(
        spark, logs.path,
        now=dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc))
    assert res.get("skipped") and logs.read().count() == 1


def test_r6_review_fixes(spark):
    """Round-6 review pins: range() empty cases (Spark sequence
    defaults to step -1 when stop < start), keyword-adjacent
    parenthesized subscripts, splitBy* shared helper."""
    assert list(spark.sql(translate("SELECT range(0) AS r"))
                .collect()[0].r) == []
    assert list(spark.sql(translate("SELECT range(3, 3) AS r"))
                .collect()[0].r) == []
    assert list(spark.sql(translate(
        "SELECT range(length('')) AS r")).collect()[0].r) == []
    # (expr)[i] directly after a keyword must not swallow the keyword
    r = spark.sql(translate(
        "SELECT x FROM (SELECT 1 AS x, [7, 8] AS arr) "
        "WHERE (arr)[1] = 7")).collect()
    assert len(r) == 1 and r[0].x == 1
    r = spark.sql(translate(
        "SELECT CASE WHEN ([5])[1] = 5 THEN 'y' ELSE 'n' END AS v"
    )).collect()[0]
    assert r.v == "y"
    with pytest.raises(ChDialectError, match="splitByString"):
        translate("SELECT splitByString(sep, s) FROM t")


def test_subscript_out_of_range_returns_null(spark):
    """Spark 4 runs ANSI mode by default, where plain element_at
    THROWS on an out-of-range index; CH subscripts return the type
    default and never throw. The rewrite emits try_element_at — NULL
    on miss, the repo's documented NULL-for-no-data convention
    (advice r7) — so splitByChar('/', path)[3] on a short path is a
    NULL, not a crash."""
    r = spark.sql(translate(
        "SELECT splitByChar('/', 'a/b')[3] AS miss, "
        "[1, 2][5] AS oob, [1, 2][-5] AS noob, m['absent'] AS mk "
        "FROM (SELECT map('k', 1) AS m)")).collect()[0]
    assert r.miss is None and r.oob is None and r.noob is None \
        and r.mk is None
    # in-range still exact
    r = spark.sql(translate("SELECT [1, 2][2] AS v")).collect()[0]
    assert r.v == 2


def test_extractall_first_capture_group(spark):
    """CH extractAll returns the FIRST capture group per match when
    the pattern contains one, else the whole match; a computed
    pattern can't be inspected and is refused rather than silently
    diverging (advice r7)."""
    r = spark.sql(translate(
        "SELECT extractAll('key=1;key=22', 'key=([0-9]+)') AS g, "
        "extractAll('a1b22', '[0-9]+') AS whole, "
        "extractAll('ab', '(?:a)(b)') AS noncap, "
        "extractAll('a(b', 'a\\\\(b') AS esc")).collect()[0]
    assert list(r.g) == ["1", "22"]
    assert list(r.whole) == ["1", "22"]
    assert list(r.noncap) == ["b"]     # (?:..) is not capturing
    assert list(r.esc) == ["a(b"]      # escaped paren is not a group
    with pytest.raises(ChDialectError, match="literal"):
        translate("SELECT extractAll(msg, msg) FROM t")


def test_explain_estimate_literal_type_coercion(spark, logs):
    """Advice r7: pruning literals whose type can't compare against
    the index must degrade to 'unprunable conjunct' (upper bound),
    never raise — `month = '202507'` (string vs int partition) used
    to TypeError; a numeric ts literal compared against ISO strings
    silently mis-pruned."""
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg) VALUES "
        "('2025-05-01 10:00:00', 'api', 'INFO', 'a'), "
        "('2025-07-01 10:00:00', 'web', 'ERROR', 'c')"), logs=logs)

    def est(sql):
        r = ch_sql(spark, sql, logs=logs).collect()[0]
        return (r.parts, r.rows)

    # string month literal coerces to int and still prunes
    p, r = est("EXPLAIN ESTIMATE SELECT * FROM logs "
               "WHERE month = '202507'")
    assert r == 1
    # an un-coercible month literal is unprunable, not an error
    _, r = est("EXPLAIN ESTIMATE SELECT * FROM logs "
               "WHERE month = 'latest'")
    assert r == 2
    # numeric ts literal: not comparable to ISO footer strings ->
    # unprunable upper bound, never a str/float comparison
    _, r = est("EXPLAIN ESTIMATE SELECT * FROM logs "
               "WHERE ts >= 1750000000")
    assert r == 2
    # numeric service literal likewise unprunable
    _, r = est("EXPLAIN ESTIMATE SELECT * FROM logs WHERE service = 7")
    assert r == 2


def test_multimonth_mutation_is_one_parallel_job(spark, tmp_path):
    """r6 review item 4: a mutation spanning many months used to
    rewrite them in a SEQUENTIAL driver loop (one partition-sized job
    per month). It is now ONE pruned scan + ONE partitioned-overwrite
    job regardless of month count — bounded jobs, not O(months) —
    with identical results, per-month directory layout, and the
    (service, ts) within-file sort preserved."""
    from clickhouse_observability_spark.sources.mutations import (
        apply_mutation,
    )
    from clickhouse_observability_spark.sources.writer import LogsTable

    t = LogsTable(spark, str(tmp_path / "mm_logs"))
    t.init_schema()
    rows = []
    for m in (1, 2, 3, 4):  # four months, each with keep+drop rows
        rows += [
            (f"2025-0{m}-10 10:00:00", "api", "INFO", f"keep{m}"),
            (f"2025-0{m}-10 11:00:00", "web", "DEBUG", f"drop{m}"),
            (f"2025-0{m}-10 09:00:00", "api", "DEBUG", f"drop{m}b"),
        ]
    vals = ", ".join(f"('{ts}', '{s}', '{lv}', '{m}')"
                     for ts, s, lv, m in rows)
    ch_sql(spark, "INSERT INTO logs (ts, service, level, msg) "
           f"VALUES {vals}", logs=t)

    sc = spark.sparkContext
    sc.setJobGroup("mm_mutation", "multi-month mutation")
    try:
        res = apply_mutation(spark, t.path, "level = 'DEBUG'")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("mm_mutation")
    # 1 match-count scan + 1 rewrite job (AQE may add a bounded
    # handful, never one per month) — with 4 months the old loop
    # needed >= 5
    assert 1 <= len(jobs) <= 4, jobs
    assert res["matched_rows"] == 8
    assert res["affected_months"] == [202501, 202502, 202503, 202504]
    kept = t.read().collect()
    assert sorted(r.msg for r in kept) == [f"keep{m}" for m in (1, 2, 3, 4)]
    # per-month directory layout intact; within-file sort preserved
    import os as _os
    for m in (202501, 202502, 202503, 202504):
        d = _os.path.join(t.path, f"month={m}")
        assert _os.path.isdir(d) and any(
            f.endswith(".parquet") for f in _os.listdir(d))
    # delete-ALL of one month drops its directory outright
    apply_mutation(spark, t.path, "month = 202501")
    assert not _os.path.exists(_os.path.join(t.path, "month=202501"))
    assert t.read().count() == 3


def test_parquet_ts_conf_is_scoped_not_global(spark, tmp_path):
    """Advice r7: LogsTable used to pin
    spark.sql.parquet.outputTimestampType on the SHARED session conf
    from its constructor, silently changing every unrelated parquet
    write. The pin is now scoped to this package's own writes; the
    session conf is untouched before and after, while the written
    files still carry INT64-micros ts stats (footer min/max alive)."""
    from clickhouse_observability_spark.sources.writer import LogsTable

    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    t = LogsTable(spark, str(tmp_path / "scoped_logs"))
    t.init_schema()
    assert spark.conf.get(key) == before  # constructor no longer mutates
    ch_sql(spark, ("INSERT INTO logs (ts, service, level, msg) VALUES "
                   "('2025-05-01 10:00:00', 'api', 'INFO', 'x')"), logs=t)
    assert spark.conf.get(key) == before  # write restored it
    # ... and the file still has ts footer stats (micros, not INT96)
    parts = t.parts()
    assert parts and parts[0]["min_ts"] is not None


def _seed_two_months(spark, logs):
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg) VALUES "
        "('2025-05-01 10:00:00', 'api', 'INFO', 'may1'), "
        "('2025-05-02 10:00:00', 'web', 'INFO', 'may2'), "
        "('2025-06-01 10:00:00', 'api', 'ERROR', 'jun1')"), logs=logs)


def test_partition_lifecycle_drop_detach_attach(spark, logs):
    """CH `ALTER TABLE ... DROP/DETACH/ATTACH PARTITION` as
    metadata-only directory moves: DETACH hides the month from every
    reader (underscore dirs are invisible to Spark's listing — the
    `detached/` analog), ATTACH restores it byte-identically, DROP
    unlinks it; none of them runs a Spark job over the data."""
    import os

    _seed_two_months(spark, logs)
    assert ch_sql(spark, "ALTER TABLE logs DETACH PARTITION 202505",
                  logs=logs) >= 1  # file count moved
    assert os.path.isdir(os.path.join(logs.path, "_detached",
                                      "month=202505"))
    msgs = sorted(r.msg for r in logs.read().collect())
    assert msgs == ["jun1"]
    # double-detach and attach-missing raise the dialect error
    with pytest.raises(ChDialectError, match="no partition"):
        ch_sql(spark, "ALTER TABLE logs DETACH PARTITION 202505",
               logs=logs)
    with pytest.raises(ChDialectError, match="no detached"):
        ch_sql(spark, "ALTER TABLE logs ATTACH PARTITION 202506",
               logs=logs)
    # attach restores the rows and clears the _detached root
    assert ch_sql(spark, "ALTER TABLE logs ATTACH PARTITION '202505'",
                  logs=logs) >= 1
    assert sorted(r.msg for r in logs.read().collect()) == [
        "jun1", "may1", "may2"]
    assert not os.path.exists(os.path.join(logs.path, "_detached"))
    # drop unlinks; dropping an absent partition is a 0-file no-op
    assert ch_sql(spark, "ALTER TABLE logs DROP PARTITION 202506",
                  logs=logs) >= 1
    assert ch_sql(spark, "ALTER TABLE logs DROP PARTITION 202506",
                  logs=logs) == 0
    assert sorted(r.msg for r in logs.read().collect()) == [
        "may1", "may2"]


def test_truncate_table(spark, logs):
    """TRUNCATE unlinks every active month (detached months survive —
    they sit outside the table like CH's detached/); the schema
    marker stays so the table reads as zero rows, and a fresh INSERT
    works immediately."""
    _seed_two_months(spark, logs)
    ch_sql(spark, "ALTER TABLE logs DETACH PARTITION 202506", logs=logs)
    assert ch_sql(spark, "TRUNCATE TABLE logs", logs=logs) == 1  # one month
    assert logs.read().count() == 0
    # detached month survived truncate and attaches back
    assert ch_sql(spark, "ALTER TABLE logs ATTACH PARTITION 202506",
                  logs=logs) >= 1
    assert sorted(r.msg for r in logs.read().collect()) == ["jun1"]
    ch_sql(spark, ("INSERT INTO logs (ts, service, level, msg) VALUES "
                   "('2025-07-01 00:00:00', 'api', 'INFO', 'post')"),
           logs=logs)
    assert logs.read().count() == 2


def test_insert_select(spark, logs):
    """CH `INSERT INTO ... SELECT` (the backfill/ETL form): optional
    column list maps POSITIONALLY from the SELECT output, absent
    columns take the INSERT defaults, the inner SELECT is full
    dialect surface — and the self-referential form (SELECT FROM
    logs) materializes before appending instead of scanning the files
    it is writing."""
    src = spark.createDataFrame(
        [("2025-05-01 10:00:00", "api", "a"),
         ("2025-05-01 11:00:00", "web", "b")],
        "t string, svc string, m string")
    n = ch_sql(spark, (
        "INSERT INTO logs (ts, service, msg) "
        "SELECT toDateTime(t), svc, upper(m) FROM src"),
        logs=logs, views={"src": src})
    assert n == 2
    rows = {(r.service, r.msg, r.level) for r in logs.read().collect()}
    assert rows == {("api", "A", ""), ("web", "B", "")}  # level default
    # self-referential backfill doubles the rows
    assert ch_sql(spark,
                  "INSERT INTO logs SELECT ts + INTERVAL 1 DAY, service, "
                  "level, concat(msg, '+1d'), attrs, trace_id, span_id "
                  "FROM logs", logs=logs) == 2
    assert logs.read().count() == 4
    assert sorted(r.msg for r in logs.read().collect()) == [
        "A", "A+1d", "B", "B+1d"]
    # arity and unknown-column guards
    with pytest.raises(ChDialectError, match="arity"):
        ch_sql(spark, "INSERT INTO logs (ts, service) SELECT ts FROM logs",
               logs=logs)
    with pytest.raises(ChDialectError, match="unknown logs columns"):
        ch_sql(spark, "INSERT INTO logs (nope) SELECT msg FROM logs",
               logs=logs)


def test_partition_ops_surface_stale_views(spark, tmp_path):
    """Partition lifecycle changes history like mutations do: the
    programmatic surface reports stale views, and a serving
    projection un-covers (router falls back) until re-MATERIALIZEd."""
    from clickhouse_observability_spark.sources.mutations import (
        attach_partition,
        detach_partition,
    )

    t = LogsTable(spark, str(tmp_path / "pl_logs"))
    t.init_schema()
    ch_sql(spark, (
        "ALTER TABLE logs ADD PROJECTION p ("
        "SELECT service, count() AS n FROM logs GROUP BY service)"),
        logs=t)
    _seed_two_months(spark, t)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE PROJECTION p", logs=t)
    q = "SELECT service, count() AS n FROM logs GROUP BY service"
    assert all("_mv" in f for f in ch_sql(spark, q, logs=t).inputFiles())

    res = detach_partition(spark, t.path, 202505)
    assert res["stale_views"]  # surfaced
    t2 = LogsTable(spark, t.path)
    after = ch_sql(spark, q, logs=t2)
    assert not any("_mv" in f for f in after.inputFiles())  # un-covered
    assert {(r.service, r.n) for r in after.collect()} == {("api", 1)}
    attach_partition(spark, t.path, 202505)
    t3 = LogsTable(spark, t.path)
    assert {(r.service, r.n)
            for r in ch_sql(spark, q, logs=t3).collect()} == {
        ("api", 2), ("web", 1)}


def test_system_detached_parts(spark, logs):
    """system.detached_parts lists months parked by DETACH PARTITION
    (metadata-only: listdir + file sizes), empties after ATTACH."""
    _seed_two_months(spark, logs)
    rows = ch_sql(spark, "SELECT * FROM system.detached_parts",
                  logs=logs).collect()
    assert rows == []
    ch_sql(spark, "ALTER TABLE logs DETACH PARTITION 202505", logs=logs)
    rows = ch_sql(spark, (
        "SELECT partition, files, bytes_on_disk "
        "FROM system.detached_parts ORDER BY partition"),
        logs=logs).collect()
    assert [r.partition for r in rows] == [202505]
    assert rows[0].files >= 1 and rows[0].bytes_on_disk > 0
    ch_sql(spark, "ALTER TABLE logs ATTACH PARTITION 202505", logs=logs)
    assert ch_sql(spark, "SELECT count() AS n FROM system.detached_parts",
                  logs=logs).collect()[0].n == 0


def test_mutation_in_partition_scope(spark, logs):
    """CH `ALTER TABLE ... DELETE/UPDATE IN PARTITION p WHERE pred`
    scopes the mutation to one partition: rows matching the predicate
    in OTHER months are untouched."""
    _seed_two_months(spark, logs)
    # 'api' rows exist in both months; only May's is deleted
    n = ch_sql(spark, (
        "ALTER TABLE logs DELETE IN PARTITION 202505 "
        "WHERE service = 'api'"), logs=logs)
    assert n == 1
    assert sorted(r.msg for r in logs.read().collect()) == [
        "jun1", "may2"]
    # UPDATE scoped the same way (quoted partition id form)
    n = ch_sql(spark, (
        "ALTER TABLE logs UPDATE msg = upper(msg) "
        "IN PARTITION '202506' WHERE service = 'api'"), logs=logs)
    assert n == 1
    assert sorted(r.msg for r in logs.read().collect()) == [
        "JUN1", "may2"]


def test_optimize_deduplicate(spark, logs):
    """CH `OPTIMIZE TABLE ... DEDUPLICATE` drops fully identical rows
    during the merge; non-identical rows (any column differs) stay."""
    dup = ("INSERT INTO logs (ts, service, level, msg) VALUES "
           "('2025-05-01 10:00:00', 'api', 'INFO', 'same')")
    ch_sql(spark, dup, logs=logs)
    ch_sql(spark, dup, logs=logs)  # identical row again
    ch_sql(spark, ("INSERT INTO logs (ts, service, level, msg) VALUES "
                   "('2025-05-01 10:00:00', 'api', 'INFO', 'other')"),
           logs=logs)
    assert logs.read().count() == 3
    # plain OPTIMIZE keeps duplicates (merge only)
    ch_sql(spark, "OPTIMIZE TABLE logs PARTITION 202505 FINAL", logs=logs)
    assert logs.read().count() == 3
    ch_sql(spark, "OPTIMIZE TABLE logs PARTITION 202505 FINAL DEDUPLICATE",
           logs=logs)
    assert sorted(r.msg for r in logs.read().collect()) == [
        "other", "same"]


def test_r7_review_fixes(spark, logs):
    """Regression pins for the r7 self-review findings."""
    # 1. `IN PARTITION` inside a STRING LITERAL must not be stripped
    #    from a destructive statement's predicate (the raw-regex bug)
    ch_sql(spark, ("INSERT INTO logs (ts, service, level, msg) VALUES "
                   "('2025-05-01 10:00:00', 'api', 'INFO', "
                   "'retry IN PARTITION 7 WHERE ok')"), logs=logs)
    n = ch_sql(spark, ("ALTER TABLE logs DELETE WHERE "
                       "msg = 'retry IN PARTITION 7 WHERE ok'"),
               logs=logs)
    assert n == 1 and logs.read().count() == 0

    # 2. zero array index returns NULL (CH-miss behavior), including
    #    constant arithmetic; negative-from-end and computed string
    #    map keys keep working
    r = spark.sql(translate(
        "SELECT [1,2][0] AS z, [1,2][1-1] AS za, [1,2][-1] AS neg, "
        "m[concat('a', 'b')] AS mk FROM (SELECT map('ab', 5) AS m)"
    )).collect()[0]
    assert r.z is None and r.za is None and r.neg == 2 and r.mk == 5

    # 3. \Q...\E-quoted parens are not capture groups
    r = spark.sql(translate(
        r"SELECT extractAll('x(y', '\\Q(\\E') AS v")).collect()[0]
    assert list(r.v) == ["("]

    # 4. fractional month literal cannot truncate-prune: the strict
    #    comparison stays an upper bound (unprunable), never 0-parts
    ch_sql(spark, ("INSERT INTO logs (ts, service, level, msg) VALUES "
                   "('2025-05-01 10:00:00', 'api', 'INFO', 'x')"),
           logs=logs)
    est = ch_sql(spark, ("EXPLAIN ESTIMATE SELECT * FROM logs "
                         "WHERE month < 202505.5"), logs=logs).collect()[0]
    assert est.rows == 1  # the 202505 part is NOT pruned


def test_show_tables_and_show_create(spark, logs):
    """SHOW TABLES lists the base table + attached matviews (not
    projections); SHOW CREATE TABLE reconstructs the CH DDL with this
    table's armed TTL and attached PROJECTION clauses."""
    names = [r.name for r in ch_sql(spark, "SHOW TABLES",
                                    logs=logs).collect()]
    assert names == ["logs"]
    ddl = ch_sql(spark, "SHOW CREATE TABLE logs",
                 logs=logs).collect()[0].statement
    assert "ENGINE = MergeTree" in ddl
    assert "PARTITION BY toYYYYMM(ts)" in ddl
    assert "ORDER BY (service, ts)" in ddl
    assert "TTL" not in ddl and "PROJECTION" not in ddl

    ch_sql(spark, "ALTER TABLE logs MODIFY TTL ts + INTERVAL 30 DAY "
           "DELETE", logs=logs)
    ch_sql(spark, ("ALTER TABLE logs ADD PROJECTION p1 ("
                   "SELECT service, count() AS n FROM logs "
                   "GROUP BY service)"), logs=logs)
    names = [r.name for r in ch_sql(spark, "SHOW TABLES",
                                    logs=logs).collect()]
    assert names == ["logs"]  # projections stay hidden
    ddl = ch_sql(spark, "SHOW CREATE logs", logs=logs).collect()[0] \
        .statement
    assert "TTL ts + INTERVAL 30 DAY DELETE" in ddl
    assert "PROJECTION p1 (SELECT service AS service, "\
           "count() AS n GROUP BY service)" in ddl
    with pytest.raises(ChDialectError, match="logs"):
        ch_sql(spark, "SHOW CREATE TABLE other", logs=logs)


def test_freeze_unfreeze_backup(spark, logs):
    """ALTER TABLE FREEZE hardlinks a zero-copy snapshot into
    _shadow/<name>; later mutations REPLACE files so the frozen view
    keeps the pre-mutation bytes; restore = copy into _detached +
    ATTACH; SYSTEM UNFREEZE drops the backup."""
    import os
    import shutil

    _seed_two_months(spark, logs)
    n = ch_sql(spark, "ALTER TABLE logs FREEZE WITH NAME 'b1'",
               logs=logs)
    assert n >= 2  # files across both months
    b1 = os.path.join(logs.path, "_shadow", "b1")
    f = next(os.path.join(r, x) for r, _, fs in os.walk(b1) for x in fs
             if x.endswith(".parquet"))
    assert os.stat(f).st_nlink >= 2  # hardlink, not a copy
    # unnamed freeze of one month gets the incrementing id
    assert ch_sql(spark, "ALTER TABLE logs FREEZE PARTITION 202506",
                  logs=logs) >= 1
    assert os.path.isdir(os.path.join(logs.path, "_shadow", "1"))

    # mutate history: live table changes, the backup does not
    ch_sql(spark, "ALTER TABLE logs DELETE WHERE month = 202505",
           logs=logs)
    assert sorted(r.msg for r in logs.read().collect()) == ["jun1"]

    # restore May from the backup: copy into _detached, then ATTACH
    det = os.path.join(logs.path, "_detached", "month=202505")
    shutil.copytree(os.path.join(b1, "month=202505"), det)
    ch_sql(spark, "ALTER TABLE logs ATTACH PARTITION 202505", logs=logs)
    assert sorted(r.msg for r in logs.read().collect()) == [
        "jun1", "may1", "may2"]

    ch_sql(spark, "SYSTEM UNFREEZE WITH NAME 'b1'", logs=logs)
    assert not os.path.exists(b1)
    with pytest.raises(ChDialectError, match="no backup"):
        ch_sql(spark, "SYSTEM UNFREEZE WITH NAME 'b1'", logs=logs)
    # duplicate backup name refused
    with pytest.raises(ChDialectError, match="already exists"):
        ch_sql(spark, "ALTER TABLE logs FREEZE WITH NAME '1'", logs=logs)


def test_r8_review_fixes(spark, logs):
    """Regression pins for the r8 advice/verdict items."""
    import os

    # 1. FREEZE/UNFREEZE backup names come from user SQL: a path-
    #    traversal name must be refused before any link/rmtree
    #    touches the filesystem (advice r8, high).
    _seed_two_months(spark, logs)
    for bad in ("../evil", "..", "a/b", ".hidden"):
        with pytest.raises(ChDialectError, match="invalid backup"):
            ch_sql(spark, f"ALTER TABLE logs FREEZE WITH NAME '{bad}'",
                   logs=logs)
        with pytest.raises(ChDialectError, match="invalid backup"):
            ch_sql(spark, f"SYSTEM UNFREEZE WITH NAME '{bad}'",
                   logs=logs)
    assert not os.path.exists(os.path.join(logs.path, "..", "evil"))

    # 2. a failing FREEZE (missing month in the multi-month path)
    #    leaves NO partial _shadow/<name>, and the name is retryable
    from clickhouse_observability_spark.sources.mutations import (
        freeze_table,
    )
    with pytest.raises(ValueError, match="no partition"):
        freeze_table(spark, logs.path, month=209901, name="bk")
    shadow = os.path.join(logs.path, "_shadow")
    assert not os.path.exists(os.path.join(shadow, "bk"))
    assert not any(d.startswith(".bk") for d in
                   (os.listdir(shadow) if os.path.isdir(shadow) else []))
    assert ch_sql(spark, "ALTER TABLE logs FREEZE WITH NAME 'bk'",
                  logs=logs) >= 2  # retry succeeds after the failure

    # 3. identifier-bearing subscript index of 0 returns NULL under
    #    ANSI (type-safe CASE guard), computed string map keys keep
    #    working, literal integer map keys stay exact (verdict r7 #5
    #    + advice low: m[5] must not become nullif(5,0))
    r = spark.sql(translate(
        "SELECT arr[i] AS zi, arr[j] AS ok, arr[i - 1] AS neg_z, "
        "m[k] AS mk, mi[5] AS mi5 "
        "FROM (SELECT [10, 20] AS arr, 0 AS i, 2 AS j, 'ab' AS k, "
        "map('ab', 5) AS m, map(5, 77) AS mi)")).collect()[0]
    assert r.zi is None          # arr[0] -> NULL, not a throw
    assert r.ok == 20
    assert r.neg_z == 20         # i-1 = -1 -> from-the-end
    assert r.mk == 5
    assert r.mi5 == 77           # integer map key untouched
    # non-zero literal index stays bare (no nullif wrap in the SQL)
    sql = translate("SELECT [1, 2][2] AS v")
    assert "nullif" not in sql.lower()


def test_check_table(spark, logs):
    """CHECK TABLE: per-part integrity rows + summary, footer-only.
    A healthy table passes; a corrupted file and a misplaced month
    are both caught; the summary row aggregates."""
    import os
    import shutil

    _seed_two_months(spark, logs)
    rows = ch_sql(spark, "CHECK TABLE logs", logs=logs).collect()
    assert all(r.is_passed == 1 for r in rows)
    summary = [r for r in rows if r.part_path == ""]
    assert len(summary) == 1 and "0 failed" in summary[0].message
    n_parts = len(rows) - 1
    assert n_parts >= 2  # both months have files

    # corrupt one file's footer
    victim = next(
        os.path.join(r, f) for r, _, fs in os.walk(logs.path)
        for f in fs if f.endswith(".parquet"))
    good = open(victim, "rb").read()
    with open(victim, "wb") as f:
        f.write(good[: len(good) // 2])
    rows = ch_sql(spark, "CHECK TABLE logs", logs=logs).collect()
    bad = [r for r in rows if r.is_passed == 0 and r.part_path != ""]
    assert len(bad) == 1 and "unreadable" in bad[0].message
    assert [r for r in rows if r.part_path == ""][0].is_passed == 0
    with open(victim, "wb") as f:
        f.write(good)

    # move a May file into the June partition dir: month mismatch
    may_dir = os.path.join(logs.path, "month=202505")
    jun_dir = os.path.join(logs.path, "month=202506")
    mf = next(f for f in os.listdir(may_dir) if f.endswith(".parquet"))
    shutil.copy(os.path.join(may_dir, mf),
                os.path.join(jun_dir, "misplaced-" + mf))
    rows = ch_sql(spark, "CHECK TABLE logs", logs=logs).collect()
    bad = [r for r in rows if r.is_passed == 0 and r.part_path != ""]
    assert len(bad) == 1 and "outside partition month" in bad[0].message
    with pytest.raises(ChDialectError, match="logs"):
        ch_sql(spark, "CHECK TABLE other", logs=logs)


def test_lag_lead_in_frame(spark):
    """CH lagInFrame/leadInFrame -> Spark lag/lead, executed over a
    real window (offset + default arms included)."""
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "i long, v double"
    ).createOrReplaceTempView("t")
    rows = ch_sql(spark, (
        "SELECT i, lagInFrame(v) OVER (ORDER BY i) AS prev, "
        "leadInFrame(v, 1, -1.0) OVER (ORDER BY i) AS nxt "
        "FROM t ORDER BY i")).collect()
    assert [(r.prev, r.nxt) for r in rows] == [
        (None, 20.0), (10.0, 30.0), (20.0, -1.0)]
    with pytest.raises(ChDialectError, match="runningAccumulate"):
        translate("SELECT runningAccumulate(s) FROM t")


def test_to_start_of_interval(spark):
    """CH's generic grid bucketing: epoch-floor for second-based
    units, date_trunc for single calendar units, honest refusal for
    multi-unit calendar intervals (origin-anchored in CH)."""
    spark.createDataFrame(
        [("2025-05-01 10:07:33",), ("2025-05-01 10:12:01",)],
        "t string",
    ).selectExpr("cast(t as timestamp) ts").createOrReplaceTempView("tt")
    rows = ch_sql(spark, (
        "SELECT toStartOfInterval(ts, INTERVAL 5 MINUTE) AS b5, "
        "toStartOfInterval(ts, INTERVAL 2 HOUR) AS h2, "
        "toStartOfInterval(ts, INTERVAL 1 WEEK) AS wk "
        "FROM tt ORDER BY b5")).collect()
    assert [str(r.b5) for r in rows] == [
        "2025-05-01 10:05:00", "2025-05-01 10:10:00"]
    assert {str(r.h2) for r in rows} == {"2025-05-01 10:00:00"}
    assert {str(r.wk) for r in rows} == {"2025-04-28 00:00:00"}  # Monday
    with pytest.raises(ChDialectError, match="origin-anchored"):
        translate("SELECT toStartOfInterval(ts, INTERVAL 2 MONTH) FROM tt")
    with pytest.raises(ChDialectError, match="literal INTERVAL"):
        translate("SELECT toStartOfInterval(ts, x) FROM tt")


def test_bar_function(spark):
    """bar(x, min, max, width): clamped full-block histogram bars
    (CH draws eighth-block partials; full blocks documented)."""
    spark.createDataFrame(
        [(0.0,), (5.0,), (10.0,), (12.0,), (-3.0,)], "v double"
    ).createOrReplaceTempView("t")
    rows = ch_sql(spark, "SELECT v, bar(v, 0, 10, 10) AS b FROM t "
                  "ORDER BY v").collect()
    assert [len(r.b) for r in rows] == [0, 0, 5, 10, 10]
    assert set(rows[2].b) == {"█"}


def test_format_readable_quantity(spark):
    spark.createDataFrame(
        [(1234.0,), (1500000.0,), (2.5e9,), (42.0,)], "v double"
    ).createOrReplaceTempView("t")
    rows = ch_sql(spark, "SELECT v, formatReadableQuantity(v) AS q "
                  "FROM t ORDER BY v").collect()
    assert [r.q for r in rows] == [
        "42.00", "1.23 thousand", "1.50 million", "2.50 billion"]


def test_explain_pipeline_and_system_metrics(spark, logs):
    """EXPLAIN PIPELINE -> Spark's FORMATTED physical plan (the
    what-actually-executes tier CH's processor graph shows);
    system.metrics reads live scheduler state, zero jobs."""
    out = ch_sql(spark, "EXPLAIN PIPELINE SELECT count() FROM logs",
                 logs=logs).collect()
    text = "\n".join(r[0] for r in out)
    assert "Physical Plan" in text and "(1)" in text
    rows = {r.metric: r.value for r in ch_sql(
        spark, "SELECT metric, value FROM system.metrics",
        logs=logs).collect()}
    assert rows["DefaultParallelism"] >= 1
    assert rows["UptimeSeconds"] > 0
    assert "Executors" in rows and "ActiveJobs" in rows


def test_system_one(spark):
    rows = ch_sql(spark, "SELECT 1 + dummy AS x FROM system.one").collect()
    assert [r.x for r in rows] == [1]


def test_into_outfile(spark, logs, tmp_path):
    """clickhouse-client extracts: SELECT ... INTO OUTFILE writes one
    local file in the requested format, returns the row count, and
    refuses to overwrite (CH parity)."""
    _seed_two_months(spark, logs)
    p = str(tmp_path / "out.csv")
    n = ch_sql(spark, (
        "SELECT service, count() AS n FROM logs GROUP BY service "
        f"ORDER BY service INTO OUTFILE '{p}' FORMAT CSVWithNames"),
        logs=logs)
    assert n == 2
    with open(p) as fh:
        assert fh.read().splitlines() == ["service,n", "api,2", "web,1"]
    with pytest.raises(ChDialectError, match="refuses to overwrite"):
        ch_sql(spark, f"SELECT 1 AS x INTO OUTFILE '{p}'", logs=logs)
    pj = str(tmp_path / "out.jsonl")
    ch_sql(spark, ("SELECT service FROM logs WHERE service = 'web' "
                   f"INTO OUTFILE '{pj}' FORMAT JSONEachRow"),
           logs=logs)
    import json as _json

    assert _json.loads(open(pj).read().splitlines()[0]) == {
        "service": "web"}
    with pytest.raises(ChDialectError, match="not supported"):
        ch_sql(spark, "SELECT 1 AS x INTO OUTFILE "
               f"'{tmp_path}/x.bin' FORMAT Native", logs=logs)


def test_into_outfile_streams_without_driver_materialization(
        spark, tmp_path, monkeypatch):
    """r9: INTO OUTFILE row-streams (toLocalIterator) — a
    multi-partition result writes correctly with DataFrame.toPandas
    forbidden (clickhouse-client streams blocks; the r8 writer
    materialized the whole result on the driver), and Parquet goes
    through a Spark single-partition write + rename."""
    import pyspark.sql

    from clickhouse_observability_spark.functions.ch_dialect import (
        _write_outfile,
    )

    df = (spark.range(0, 10000, 1, 8)  # 8 partitions
          .selectExpr("id", "CAST(id % 7 AS STRING) AS s"))
    monkeypatch.setattr(
        pyspark.sql.DataFrame, "toPandas",
        lambda self: (_ for _ in ()).throw(
            AssertionError("INTO OUTFILE must not toPandas")),
    )
    p = str(tmp_path / "big.csv")
    assert _write_outfile(df, p, "CSVWithNames") == 10000
    lines = open(p).read().splitlines()
    assert lines[0] == "id,s" and len(lines) == 10001
    assert lines[1] == "0,0" and lines[-1] == "9999,3"
    pj = str(tmp_path / "big.jsonl")
    assert _write_outfile(df, pj, "JSONEachRow") == 10000
    import json as _json

    assert _json.loads(open(pj).read().splitlines()[0]) == {
        "id": 0, "s": "0"}
    pp = str(tmp_path / "big.parquet")
    assert _write_outfile(df, pp, "Parquet") == 10000
    back = spark.read.parquet(pp)
    assert back.count() == 10000 and set(back.columns) == {"id", "s"}
    assert not os.path.exists(pp + ".__outfile_tmp__")
    # timestamps/NULLs format stably (chunk-independent cells)
    pt = str(tmp_path / "ts.tsv")
    tdf = spark.sql(
        "SELECT TIMESTAMP '2025-05-01 10:00:00' AS ts, "
        "CAST(NULL AS STRING) AS s, 1.5 AS v, true AS b")
    assert _write_outfile(tdf, pt, "TSVWithNames") == 1
    assert open(pt).read().splitlines()[1] == \
        "2025-05-01 10:00:00\t\t1.5\tTrue"


def test_named_arithmetic_and_orzero_guards(spark):
    spark.createDataFrame([(7, 2), (5, 0)], "a int, b int") \
        .createOrReplaceTempView("t")
    rows = ch_sql(spark, (
        "SELECT plus(a, b) AS s, minus(a, b) AS d, multiply(a, b) AS m,"
        " negate(a) AS n, intDivOrZero(a, b) AS idz, "
        "moduloOrZero(a, b) AS mz FROM t ORDER BY b DESC")).collect()
    assert [(r.s, r.d, r.m, r.n, r.idz, r.mz) for r in rows] == [
        (9, 5, 14, -7, 3, 1), (5, 5, 0, -5, 0, 0)]


def test_parse_guard_conversions(spark):
    spark.createDataFrame(
        [("42",), ("x",), ("3.5",)], "s string"
    ).createOrReplaceTempView("t")
    rows = ch_sql(spark, (
        "SELECT s, toInt64OrNull(s) AS i, toInt64OrZero(s) AS iz, "
        "toFloat64OrNull(s) AS f, toFloat64OrZero(s) AS fz "
        "FROM t ORDER BY s")).collect()
    got = {r.s: (r.i, r.iz, r.f, r.fz) for r in rows}
    assert got["42"] == (42, 42, 42.0, 42.0)
    assert got["x"] == (None, 0, None, 0.0)
    assert got["3.5"][2:] == (3.5, 3.5)


def test_count_substrings(spark):
    spark.createDataFrame([("abcabcab",)], "s string") \
        .createOrReplaceTempView("t")
    rows = ch_sql(spark, (
        "SELECT countSubstrings(s, 'ab') AS n2, "
        "countSubstrings(s, 'abc') AS n3, "
        "countSubstrings(s, 'zz') AS n0, "
        "countSubstrings(s, '') AS ne FROM t")).collect()
    r = rows[0]
    assert (r.n2, r.n3, r.n0, r.ne) == (3, 2, 0, None)


def test_to_monday(spark):
    rows = ch_sql(spark, (
        "SELECT toMonday(CAST('2025-05-01 10:00:00' AS TIMESTAMP)) "
        "AS m")).collect()
    assert str(rows[0].m) == "2025-04-28"  # Thursday -> its Monday


def test_array_scalar_family(spark):
    rows = ch_sql(spark, (
        "SELECT arrayMax([3, 1, 7]) AS mx, arrayMin([3, 1, 7]) AS mn, "
        "arrayAvg([2, 4]) AS av, arrayReverseSort([2, 3, 1]) AS rs, "
        "arrayFirst(x -> x > 2, [1, 3, 5]) AS fi, "
        "arrayLast(x -> x > 2, [1, 3, 5]) AS la, "
        "arrayFirst(x -> x > 9, [1, 3, 5]) AS none")).collect()
    r = rows[0]
    assert (r.mx, r.mn, r.av) == (7, 1, 3.0)
    assert list(r.rs) == [3, 2, 1]
    assert (r.fi, r.la, r.none) == (3, 5, None)


def test_replace_one(spark):
    rows = ch_sql(spark, (
        "SELECT replaceOne('aXbXc', 'X', '-') AS r1, "
        "replaceOne('abc', 'z', '-') AS r2")).collect()
    assert (rows[0].r1, rows[0].r2) == ("a-bXc", "abc")
    with pytest.raises(ChDialectError, match="replaceRegexpOne"):
        translate("SELECT replaceRegexpOne(s, 'a', 'b') FROM t")


def test_uniq_combined_precision_param(spark):
    """uniqCombined(K)(x): the HLL precision maps to Spark's rsd
    (1.04/sqrt(2^K)) instead of mistranslating into invalid SQL."""
    out = translate("SELECT uniqCombined(12)(u) FROM t")
    assert "approx_count_distinct(u, 0.016250)" in out
    spark.createDataFrame([(i % 50,) for i in range(500)], "u int") \
        .createOrReplaceTempView("t")
    n = ch_sql(spark, "SELECT uniqCombined(14)(u) AS n FROM t") \
        .collect()[0].n
    assert 45 <= n <= 55  # ~50 distinct within HLL error


def test_param_call_on_plain_function_refused(spark):
    """CH f(params)(args) syntax on a function without a
    parameterized mapping raises instead of emitting
    `fn(params) (args)` garbage SQL."""
    with pytest.raises(ChDialectError, match="parameterized"):
        translate("SELECT groupArray(10)(x) FROM t")
    # plain calls and genuine param families are untouched
    assert "collect_list(x)" in translate("SELECT groupArray(x) FROM t")
    assert "percentile_approx" in translate(
        "SELECT quantile(0.9)(x) FROM t")


def test_more_param_aggregates(spark):
    """groupArraySorted(N)(x) = smallest-N sorted values (exact,
    deterministic — unlike groupArray's insertion order);
    quantileDeterministic drops the seed column (Spark's sketch is
    already deterministic); histogram refuses toward the operator."""
    spark.createDataFrame([(i,) for i in (5, 3, 9, 1)], "x int") \
        .createOrReplaceTempView("t")
    rows = ch_sql(spark, (
        "SELECT groupArraySorted(3)(x) AS g, "
        "quantileDeterministic(0.5)(x, x) AS q FROM t")).collect()
    assert list(rows[0].g) == [1, 3, 5]
    assert rows[0].q in (3, 5)  # approx sketch returns a data value
    with pytest.raises(ChDialectError, match="histogram_fixed"):
        translate("SELECT histogram(10)(x) FROM t")


def test_r9_vocabulary_wave_bitwise_and_arrays(spark):
    r = ch_sql(spark, (
        "SELECT bitAnd(12, 10) AS ba, bitOr(12, 10) AS bo, "
        "bitXor(12, 10) AS bx, bitNot(0) AS bn, "
        "bitTest(5, 0) AS t0, bitTest(5, 1) AS t1, "
        "arrayProduct([2.0, 3.0, 4.0]) AS prod, "
        "arrayIntersect([1,2,3,4], [3,4,5], [4,3]) AS inter, "
        "countEqual([1, 2, 2, NULL], 2) AS ce2, "
        "countEqual([1, NULL], NULL) AS cen, "
        "multiSearchAny('error: disk full', ['oom', 'disk']) AS msa, "
        "multiSearchAny('ok', ['oom', 'disk']) AS msn, "
        "arrayResize([1, 2, 3], 2) AS shrink, "
        "arrayResize([1, 2], 4, 0) AS grow, "
        "arrayResize([1, 2], 3) AS grow_null"
    )).collect()[0]
    assert (r.ba, r.bo, r.bx, r.bn) == (8, 14, 6, -1)
    assert (r.t0, r.t1) == (1, 0)
    assert r.prod == 24.0
    assert sorted(r.inter) == [3, 4]
    assert (r.ce2, r.cen) == (2, 1)
    assert (r.msa, r.msn) is not None and r.msa and not r.msn
    assert r.shrink == [1, 2]
    assert r.grow == [1, 2, 0, 0]
    assert r.grow_null == [1, 2, None]
    with pytest.raises(ChDialectError, match="negative size"):
        ch_sql(spark, "SELECT arrayResize([1], -2) AS x")


def test_r9_vocabulary_wave_datetime(spark):
    r = ch_sql(spark, (
        "SELECT addYears(toDateTime('2024-02-29 10:00:00'), 1) AS y, "
        "addMonths(toDateTime('2025-01-31 00:00:00'), 1) AS m, "
        "addHours(toDateTime('2025-01-01 23:30:00'), 2) AS h, "
        "subtractMinutes(toDateTime('2025-01-01 00:00:00'), 90) AS mi, "
        "addSeconds(toDateTime('2025-01-01 00:00:00'), 61) AS s, "
        "toStartOfSecond(toDateTime('2025-01-01 00:00:00')) AS ss, "
        "toISOWeek(toDateTime('2025-01-01 00:00:00')) AS iw, "
        "toISOYear(toDateTime('2025-01-01 00:00:00')) AS iy, "
        "toWeek(toDateTime('2025-01-01 00:00:00'), 3) AS w3"
    )).collect()[0]
    assert str(r.y).startswith("2025-02-28")   # leap-day + 1y clamps
    assert str(r.m).startswith("2025-02-28")   # month-end clamps
    assert str(r.h).startswith("2025-01-02 01:30")
    assert str(r.mi).startswith("2024-12-31 22:30")
    assert str(r.s).startswith("2025-01-01 00:01:01")
    # 2025-01-01 is a Wednesday of ISO week 1 of ISO year 2025
    assert (r.iw, r.iy, r.w3) == (1, 2025, 1)
    with pytest.raises(ChDialectError, match="mode 3"):
        ch_sql(spark, "SELECT toWeek(now()) AS w")


def test_r9_vocabulary_wave_stats_and_aggregates(spark):
    spark.createDataFrame(
        [(1, 1.0, 2.0), (2, 2.0, 4.0), (3, 3.0, 6.5), (4, 4.0, 8.0)],
        "id int, x double, y double",
    ).createOrReplaceTempView("pts")
    r = ch_sql(spark, (
        "SELECT skewPop(x) AS sk, kurtPop(x) AS ku, "
        "simpleLinearRegression(x, y) AS lr, "
        "groupBitAnd(id) AS gba, groupBitOr(id) AS gbo, "
        "groupBitXor(id) AS gbx FROM pts"
    )).collect()[0]
    assert r.sk == pytest.approx(0.0, abs=1e-9)   # symmetric
    # uniform-ish 4-point kurtosis: non-excess = excess + 3
    assert r.ku == pytest.approx(1.64, abs=0.01)
    assert r.lr.k == pytest.approx(2.05, abs=0.01)
    assert (r.gba, r.gbo) == (0, 7)
    assert r.gbx == (1 ^ 2 ^ 3 ^ 4)
    r2 = ch_sql(spark, (
        "SELECT roundBankers(2.5) AS b1, roundBankers(3.5) AS b2, "
        "roundBankers(0.125, 2) AS b3, length(generateUUIDv4()) AS ul"
    )).collect()[0]
    # literals parse as DECIMAL; bround keeps the type (exact values)
    assert (float(r2.b1), float(r2.b2), float(r2.b3)) == (2.0, 4.0, 0.12)
    assert r2.ul == 36
    for bad, hint in (
        ("deltaSum(x)", "block-order"),
        ("exponentialMovingAverage(x, id)", "block-order"),
        # the parameterized spelling hits the param-guard first —
        # also a refusal, different message (r8 hardening)
        ("exponentialMovingAverage(1)(x, id)", "parameters"),
        ("maxMap(map('a', x))", "sum_map"),
        ("skewSamp(x)", "population estimator"),
    ):
        with pytest.raises(ChDialectError, match=hint):
            ch_sql(spark, f"SELECT {bad} FROM pts")


def test_r9_sum_map_max_min_variants(spark):
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.operators.ch_functions import (
        sum_map,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 10.0), ("a", 3.0, 20.0), ("b", 2.0, 5.0)],
        "g string, v double, w double",
    )
    m = F.create_map(F.lit("v"), F.col("v"), F.lit("w"), F.col("w"))
    got = {
        (r.g, r.map_key): r.map_sum
        for r in sum_map(df, "g", m, agg="max").collect()
    }
    assert got == {("a", "v"): 3.0, ("a", "w"): 20.0,
                   ("b", "v"): 2.0, ("b", "w"): 5.0}
    got_min = {
        (r.g, r.map_key): r.map_sum
        for r in sum_map(df, "g", m, agg="min").collect()
    }
    assert got_min[("a", "v")] == 1.0 and got_min[("a", "w")] == 10.0
    with pytest.raises(ValueError, match="sum/max/min"):
        sum_map(df, "g", m, agg="median")


def test_r9_star_modifiers_and_join_strictness(spark):
    t = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    u = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")],
                              "a int, s string")
    # CH's unparenthesized single-column EXCEPT; the parenthesized
    # form is native Spark and passes through
    assert ch_sql(spark, "SELECT * EXCEPT b FROM t",
                  views={"t": t}).columns == ["a", "c"]
    assert ch_sql(spark, "SELECT * EXCEPT (b, c) FROM t",
                  views={"t": t}).columns == ["a"]
    # * REPLACE: same values; replaced columns move to the END
    # (documented divergence — text can't know the column order)
    r = ch_sql(spark, "SELECT * REPLACE (a + 1 AS a, 9 AS b) FROM t",
               views={"t": t}).collect()[0]
    assert (r.a, r.b, r.c) == (2, 9, 3)
    with pytest.raises(ChDialectError, match="trailing column"):
        ch_sql(spark, "SELECT * REPLACE (a + 1) FROM t", views={"t": t})
    with pytest.raises(ChDialectError, match="APPLY"):
        ch_sql(spark, "SELECT * APPLY (length) FROM t", views={"t": t})
    # ALL is CH's default join strictness — both spellings strip;
    # UNION ALL and quantifier ALL survive the anchor
    rows = ch_sql(spark, ("SELECT t.a, u.s FROM t ALL LEFT JOIN u "
                          "ON t.a = u.a ORDER BY s"),
                  views={"t": t, "u": u}).collect()
    assert [(r.a, r.s) for r in rows] == [(1, "x"), (1, "y")]
    rows2 = ch_sql(spark, ("SELECT t.a, u.s FROM t LEFT ALL JOIN u "
                           "ON t.a = u.a ORDER BY s"),
                   views={"t": t, "u": u}).collect()
    assert [(r.a, r.s) for r in rows2] == [(1, "x"), (1, "y")]
    assert ch_sql(spark, "SELECT a FROM t UNION ALL SELECT a FROM t",
                  views={"t": t}).count() == 2
    # ANY strictness refused with the deterministic rewrite hint
    with pytest.raises(ChDialectError, match="LIMIT 1 BY"):
        ch_sql(spark, "SELECT t.a FROM t ANY LEFT JOIN u ON t.a = u.a",
               views={"t": t, "u": u})
    # CH LEFT SEMI / LEFT ANTI are native Spark spellings
    assert ch_sql(spark, ("SELECT t.a FROM t LEFT SEMI JOIN u "
                          "ON t.a = u.a"),
                  views={"t": t, "u": u}).count() == 1
    assert ch_sql(spark, ("SELECT t.a FROM t LEFT ANTI JOIN u "
                          "ON t.a = u.a"),
                  views={"t": t, "u": u}).count() == 0
    # GLOBAL IN strips (distributed hint; local no-op)
    assert ch_sql(spark, ("SELECT count() AS n FROM t WHERE a "
                          "GLOBAL IN (SELECT a FROM u)"),
                  views={"t": t, "u": u}).collect()[0].n == 1


def test_r9_array_combinator_aggregates(spark):
    spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0]), ("b", [2.0, 2.0, 5.0])],
        "g string, arr array<double>",
    ).createOrReplaceTempView("av")
    rows = ch_sql(spark, (
        "SELECT g, sumArray(arr) AS s, minArray(arr) AS mn, "
        "maxArray(arr) AS mx, avgArray(arr) AS av, "
        "countArray(arr) AS n, uniqArray(arr) AS u "
        "FROM av GROUP BY g ORDER BY g"
    )).collect()
    a, b = rows
    assert (a.s, a.mn, a.mx, a.av, a.n, a.u) == (6.0, 1.0, 3.0, 2.0, 3, 3)
    assert (b.s, b.mn, b.mx, b.n, b.u) == (9.0, 2.0, 5.0, 3, 2)
    flat = ch_sql(spark, (
        "SELECT g, groupArrayArray(arr) AS all_vals FROM av "
        "GROUP BY g ORDER BY g")).collect()
    assert sorted(flat[0].all_vals) == [1.0, 2.0, 3.0]


def test_r9_distinct_on(spark):
    spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 5.0), ("b", 3, 7.0), ("b", 4, 9.0)],
        "g string, id int, v double",
    ).createOrReplaceTempView("dv")
    # first row per g in the statement's ORDER BY == LIMIT 1 BY g
    rows = ch_sql(spark, (
        "SELECT DISTINCT ON (g) g, id, v FROM dv ORDER BY v DESC"
    )).collect()
    assert sorted((r.g, r.id) for r in rows) == [("a", 1), ("b", 4)]
    # with a trailing global LIMIT the per-group filter runs first
    rows2 = ch_sql(spark, (
        "SELECT DISTINCT ON (g) g, id FROM dv ORDER BY v DESC LIMIT 1"
    )).collect()
    assert [(r.g, r.id) for r in rows2] == [("a", 1)]
    with pytest.raises(ChDialectError, match="leading"):
        ch_sql(spark, ("SELECT * FROM (SELECT DISTINCT ON (g) g "
                       "FROM dv) x"))


def test_r9_numbers_table_function_and_explain_ast(spark):
    rows = ch_sql(spark, (
        "SELECT number, number * 2 AS d FROM numbers(4) "
        "WHERE number > 0 ORDER BY number")).collect()
    assert [(r.number, r.d) for r in rows] == [(1, 2), (2, 4), (3, 6)]
    rows2 = ch_sql(spark, (
        "SELECT sum(number) AS s FROM numbers(5, 3)")).collect()
    assert rows2[0].s == 5 + 6 + 7
    out = ch_sql(spark, "EXPLAIN AST SELECT 1 AS x").collect()
    assert "Parsed Logical Plan" in out[0][0]


def test_r9_wave5_url_and_ip(spark):
    r = ch_sql(spark, (
        "SELECT topLevelDomain('https://news.example.com/a?b=1') AS tld, "
        "topLevelDomain('http://localhost/x') AS tld0, "
        "extractURLParameter('http://x.com/p?a=1&b=2', 'b') AS up, "
        "extractURLParameter('http://x.com/p?a=1', 'z') AS up0, "
        "cutQueryString('http://x.com/p?a=1#f') AS cq, "
        "cutFragment('http://x.com/p?a=1#f') AS cf, "
        "cutQueryStringAndFragment('http://x.com/p?a=1#f') AS cqf, "
        "firstSignificantSubdomain('https://news.clickhouse.com.tr/') "
        "AS fsd, "
        "firstSignificantSubdomain('https://www.example.com/') AS fsd2, "
        "netloc('https://u:p@host.com:8080/x') AS nl, "
        "fragment('http://x.com/p#frag') AS fr, "
        "encodeURLComponent('a b+c') AS enc, "
        "decodeURLComponent('a%20b+c') AS dec, "
        "IPv4NumToString(3232235777) AS ip, "
        "IPv4StringToNum('192.168.1.1') AS n, "
        "IPv4StringToNumOrNull('999.1.1.1') AS bad, "
        "isIPv4String('10.0.0.1') AS ok1, isIPv4String('01.0.0.1') AS ok0"
    )).collect()[0]
    assert (r.tld, r.tld0) == ("com", "")
    assert (r.up, r.up0) == ("2", "")
    assert r.cq == "http://x.com/p#f" and r.cf == "http://x.com/p?a=1"
    assert r.cqf == "http://x.com/p"
    assert (r.fsd, r.fsd2) == ("clickhouse", "example")
    assert r.nl == "u:p@host.com:8080" and r.fr == "frag"
    # CH percent-encodes spaces and does not decode '+' to space
    assert r.enc == "a%20b%2Bc" and r.dec == "a b+c"
    assert r.ip == "192.168.1.1" and r.n == 3232235777
    assert r.bad is None and (r.ok1, r.ok0) == (1, 0)
    # malformed input raises like CH (not a silent wrong number);
    # NULL propagates like CH (self-review fix)
    with pytest.raises(Exception, match="invalid IPv4"):
        ch_sql(spark, "SELECT IPv4StringToNum('1.2.3') AS x").collect()
    rn = ch_sql(spark, (
        "SELECT IPv4StringToNum(CAST(NULL AS STRING)) AS x"
    )).collect()[0]
    assert rn.x is None


def test_r9_wave5_array_enumerations_and_tokens(spark):
    r = ch_sql(spark, (
        "SELECT arrayEnumerate([7,8,9]) AS e, arrayEnumerate([]) AS e0, "
        "arrayEnumerateDense([10,20,10,30]) AS d, "
        "arrayEnumerateUniq([10,20,10,10]) AS u, "
        "alphaTokens('ab1cd2') AS at, tokens('a_b c') AS tk, "
        "splitByWhitespace('a  b\tc') AS sw, "
        "splitByRegexp('[0-9]+', 'a1b22c') AS sr, "
        "ngrams('abcd', 2) AS ng, ngrams('a', 2) AS ng0, "
        "multiSearchFirstPosition('hello world', ['world','hell']) AS mp, "
        "multiSearchFirstPosition('xy', ['a','b']) AS mp0, "
        "multiSearchFirstIndex('hello world', ['world','hell']) AS mi, "
        "multiSearchAllPositions('hello', ['l','z']) AS ma, "
        "countMatches('a1b22c333', '[0-9]+') AS cm"
    )).collect()[0]
    assert r.e == [1, 2, 3] and r.e0 == []
    assert r.d == [1, 2, 1, 3] and r.u == [1, 1, 2, 3]
    assert r.at == ["ab", "cd"] and r.tk == ["a", "b", "c"]
    assert r.sw == ["a", "b", "c"] and r.sr == ["a", "b", "c"]
    assert r.ng == ["ab", "bc", "cd"] and r.ng0 == []
    # leftmost occurrence ('hell' at 1) beats list order
    assert (r.mp, r.mp0, r.mi) == (1, 0, 2)
    assert list(r.ma) == [3, 0] and r.cm == 3


def test_r9_wave5_transform_rounding_datetime(spark):
    r = ch_sql(spark, (
        "SELECT transform(2, [1,2,3], ['a','b','c'], 'z') AS t4, "
        "transform(9, [1,2,3], ['a','b','c'], 'z') AS t4m, "
        "transform(9, [1,2], [10,20]) AS t3m, "
        "transform([1,2,3], x -> x * 2) AS hof, "
        "roundDown(7, [1,5,10]) AS rd, roundDown(0, [1,5,10]) AS rdlo, "
        "roundAge(30) AS ra, roundDuration(95) AS du, "
        "intExp2(10) AS e2, intExp10(15) AS e10, roundToExp2(100) AS r2, "
        "dateAdd(QUARTER, 1, toDateTime('2024-01-31 00:00:00')) AS q, "
        "dateSub('month', 1, toDateTime('2024-03-31 00:00:00')) AS m, "
        "timestampAdd(toDateTime('2024-01-01 00:00:00'), "
        "INTERVAL 3 HOUR) AS h, "
        "toTime(toDateTime('2024-03-05 13:14:15')) AS tt, "
        "monthName(toDate('2024-03-05')) AS mn, "
        "toRelativeHourNum(toDateTime('1970-01-02 01:00:00')) AS rh, "
        "toRelativeMonthNum(toDate('2024-03-05')) AS rm"
    )).collect()[0]
    assert (r.t4, r.t4m, r.t3m) == ("b", "z", 9)
    assert r.hof == [2, 4, 6]   # Spark's higher-order form untouched
    assert (r.rd, r.rdlo, r.ra, r.du) == (5, 1, 25, 60)
    assert (r.e2, r.e10, r.r2) == (1024, 10 ** 15, 64)
    assert str(r.q).startswith("2024-04-30")     # quarter -> 3 months
    assert str(r.m).startswith("2024-02-29")     # month-end clamps
    assert str(r.h).startswith("2024-01-01 03")
    assert str(r.tt) == "1970-01-02 13:14:15"    # CH anchor day
    assert r.mn == "March" and r.rh == 25 and r.rm == 2024 * 12 + 3
    with pytest.raises(ChDialectError, match="unit"):
        ch_sql(spark, "SELECT dateAdd(fortnight, 1, now()) AS x")
    with pytest.raises(ChDialectError, match="toRelativeDayNum"):
        ch_sql(spark, "SELECT toRelativeWeekNum(now()) AS x")


def test_r9_wave5_json_hash_misc(spark):
    r = ch_sql(spark, (
        'SELECT JSONType(\'{"a":1}\') AS jt, JSONType(\'[1]\') AS ja, '
        "JSONType('42') AS ji, JSONType('4.5') AS jd, "
        "JSONLength('[1,2,3]') AS jl, "
        'JSONLength(\'{"a":1,"b":2}\') AS jo, '
        'JSONExtractArrayRaw(\'[1, {"a": 2}]\') AS jar, '
        'simpleJSONExtractString(\'{"k":"v"}\', \'k\') AS sv, '
        'visitParamExtractInt(\'{"n": 7}\', \'n\') AS vi, '
        'simpleJSONHas(\'{"k":1}\', \'z\') AS vh, '
        "hex(MD5('abc')) AS md, length(SHA256('abc')) AS sl, "
        "bitHammingDistance(5, 6) AS bh, "
        "greatCircleDistance(-1.8263, 51.1788, -0.1275, 51.5072) AS gd, "
        "normalizeQuery('SELECT col1 FROM t WHERE x = 42') AS nq, "
        "tupleElement(tuple(1, 'x'), 2) AS te, "
        "mapFromArrays(['a'], [1]) AS mf, toLowCardinality('s') AS lc, "
        "hostName() AS hn, currentDatabase() AS cd, "
        "randUniform(5, 6) AS ru, rand() AS rr"
    )).collect()[0]
    assert (r.jt, r.ja, r.ji, r.jd) == ("Object", "Array", "Int64",
                                        "Double")
    assert (r.jl, r.jo) == (3, 2)
    assert r.jar[0] == "1" and '"a"' in r.jar[1]
    assert (r.sv, r.vi, r.vh) == ("v", 7, False)
    # MD5/SHA return BINARY digests like CH FixedString
    assert r.md == "900150983CD24FB0D6963F7D28E17F72" and r.sl == 32
    assert r.bh == 2
    assert 120000 < r.gd < 127000   # Stonehenge->London ~123.5 km
    assert r.nq == "SELECT col1 FROM t WHERE x = ?"
    assert r.te == "x" and r.mf == {"a": 1} and r.lc == "s"
    assert (r.hn, r.cd) == ("localhost", "default")
    assert 5 <= r.ru < 6 and 0 <= r.rr < 4294967296  # CH rand: UInt32
    for bad, hint in (
        ("rand64()", "64-bit"),
        ("randConstant()", "per-query-constant"),
        ("uptime()", "server-state"),
        ("sleep(1)", "side-effecting"),
        ("pointInPolygon((1, 2), [(0, 0), (3, 0), (3, 3)])", "geometry"),
        ("untuple(tuple(1, 2))", "star expansion"),
        ("groupArrayMovingSum(x)", "block-order"),
        ("IPv6NumToString(x)", "IPv6"),
    ):
        with pytest.raises(ChDialectError, match=hint):
            ch_sql(spark, f"SELECT {bad} AS x")


def test_r9_wave5_conditional_aggregates(spark):
    df = spark.createDataFrame(
        [("error", "u1", 10.0, 1), ("error", "u2", 5.0, 2),
         ("info", "u3", 1.0, 3)],
        "level string, user_id string, value double, ts int")
    rows = ch_sql(spark, (
        "SELECT level, argMaxIf(user_id, ts, level != '') AS am, "
        "anyIf(user_id, level = 'error') AS ai, "
        "uniqExactIf(user_id, level = 'error') AS ue, "
        "argMinIf(user_id, value, value > 0) AS an, "
        "sumCount(value) AS sc FROM t GROUP BY level ORDER BY level"
    ), views={"t": df}).collect()
    err, info = rows
    assert err.am == "u2" and err.ue == 2 and err.an == "u2"
    assert err.sc.asDict() == {"sum": 15.0, "count": 2}
    assert info.ue == 0 and info.ai is None


def test_r9_wave6_array_toolkit(spark):
    r = ch_sql(spark, (
        "SELECT hasSubstr([1,2,3,4], [2,3]) AS hs1, "
        "hasSubstr([1,2,3], [2,4]) AS hs0, hasSubstr([1], []) AS hse, "
        "arrayRotateLeft([1,2,3,4,5], 2) AS rl, "
        "arrayRotateLeft([1,2,3,4,5], -2) AS rln, "
        "arrayRotateRight([1,2,3,4,5], 1) AS rr, "
        "arrayShiftLeft([1,2,3,4], 2, 0) AS sl, "
        "arrayShiftRight([1,2,3,4], 1, 9) AS sr, "
        "arrayShiftLeft([1,2], 5, 0) AS slall, "
        "arrayShiftLeft([1,2,3], 1) AS slnull, "
        "arrayFill(x -> x != 0, [1,0,0,5,0]) AS fl, "
        "arrayFill(x -> x != 0, [0,0,3]) AS fl2, "
        "arrayReverseFill(x -> x != 0, [0,0,3,0]) AS rf, "
        "arraySplit(x -> x = 1, [1,2,3,1,4]) AS sp, "
        "arraySplit(x -> x = 9, [1,2]) AS sp2, "
        "arrayFold((acc, x) -> acc + x, [1,2,3], "
        "CAST(10 AS BIGINT)) AS fo"
    )).collect()[0]
    assert (r.hs1, r.hs0, r.hse) == (True, False, True)
    assert r.rl == [3, 4, 5, 1, 2] and r.rln == [4, 5, 1, 2, 3]
    assert r.rr == [5, 1, 2, 3, 4]
    assert r.sl == [3, 4, 0, 0] and r.sr == [9, 1, 2, 3]
    assert r.slall == [0, 0]
    assert r.slnull == [2, 3, None]   # no default -> NULL padding
    # fill takes the previous OUTPUT element; leading failers keep
    # their value (CH semantics)
    assert r.fl == [1, 1, 1, 5, 5] and r.fl2 == [0, 0, 3]
    assert r.rf == [3, 3, 3, 0]
    # split cuts BEFORE marked elements; no leading empty group
    assert r.sp == [[1, 2, 3], [1, 4]] and r.sp2 == [[1, 2]]
    assert r.fo == 16


def test_r9_wave6_map_toolkit_and_refusals(spark):
    r = ch_sql(spark, (
        "SELECT mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS mf, "
        "mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3)) AS mu, "
        "mapContainsKeyLike(map('abc', 1), 'a%') AS mk, "
        "mapExtractKeyLike(map('abc', 1, 'xyz', 2), 'a%') AS me"
    )).collect()[0]
    assert r.mf == {"b": 2}
    assert r.mu == {"a": 1, "b": 9, "c": 3}   # m2 wins on conflicts
    assert r.mk is True and r.me == {"abc": 1}
    for bad, hint in (
        ("arrayShuffle([1,2])", "nondeterministic"),
        ("mapApply((k,v) -> (k,v), map('a',1))", "transform_keys"),
        ("mapAdd(map('a',1), map('a',2))", "sum_map"),
        ("arrayFold((a,x)->a, [1],[2], 0)", "zip first"),
    ):
        with pytest.raises(ChDialectError, match=hint):
            ch_sql(spark, f"SELECT {bad} AS x")


def test_r9_wave7_string_distance_and_datetime(spark):
    r = ch_sql(spark, (
        "SELECT levenshteinDistance('kitten', 'sitting') AS lv, "
        "editDistance('abc', 'abd') AS ed, "
        "arrayJaccardIndex([1,2,3], [2,3,4]) AS aj, "
        "stringJaccardIndex('abc', 'bcd') AS sj, "
        "initcapUTF8('hello world') AS ic, "
        "positionUTF8('hello', 'll') AS pu, "
        "dateName('month', toDate('2024-03-05')) AS dn, "
        "dateName('weekday', toDate('2024-03-05')) AS dw, "
        "timeSlots(toDateTime('2024-01-01 10:17:00'), 3600, 1800) AS t1, "
        "size(timeSlots(toDateTime('2024-01-01 10:17:00'), 3600)) AS t2, "
        "formatBytes(10240) AS fb"
    )).collect()[0]
    assert (r.lv, r.ed) == (3, 1)
    assert r.aj == pytest.approx(0.5) and r.sj == pytest.approx(0.5)
    assert r.ic == "Hello World" and r.pu == 3
    assert (r.dn, r.dw) == ("March", "Tuesday")
    # slots anchored to the grid, spanning [start, start+duration]
    assert [str(x)[11:16] for x in r.t1] == ["10:00", "10:30", "11:00"]
    assert r.t2 == 3 and "KiB" in r.fb
    for bad, hint in (
        ("dateName('century', now())", "unsupported part"),
        ("dateName(month, now())", "string literal"),
        ("tupleConcat(tuple(1), tuple(2))", "field renumbering"),
    ):
        with pytest.raises(ChDialectError, match=hint):
            ch_sql(spark, f"SELECT {bad} AS x")


def test_no_duplicate_function_mapping_keys():
    """A duplicate key in the _FUNCS/_PARAM_FUNCS literals silently
    shadows the earlier definition (r9 found three such shadows from
    historical waves) — keep the class mechanical."""
    import inspect
    import re

    from clickhouse_observability_spark.functions import ch_dialect as D

    src = inspect.getsource(D)
    for dict_name in ("_FUNCS", "_PARAM_FUNCS"):
        start = src.index(f"{dict_name} = {{") + len(dict_name) + 3
        depth, end = 1, start
        for j in range(start, len(src)):
            if src[j] == "{":
                depth += 1
            elif src[j] == "}":
                depth -= 1
                if depth == 0:
                    end = j
                    break
        names = re.findall(r"\"([a-zA-Z0-9_]+)\":", src[start:end])
        dups = sorted({n for n in names if names.count(n) > 1})
        assert not dups, f"duplicate keys in {dict_name}: {dups}"


def test_r10_advisor_dialect_parity_fixes(spark):
    """The three r9-advisor divergences, now pinned to CH behavior:
    JSONExtractArrayRaw keeps string-element quotes (VARIANT
    re-serialization), encodeURLComponent is RFC-3986 for '*' and
    '~', JSONLength returns 0 for scalar/invalid docs and NULL for
    NULL input."""
    r = ch_sql(spark, (
        "SELECT "
        "JSONExtractArrayRaw('[\"a\",\"b\"]') AS quoted, "
        "JSONExtractArrayRaw('[1, {\"a\": 2}, null, [3]]') AS mixed, "
        "JSONExtractArrayRaw('{\"k\":1}') AS notarray, "
        "JSONExtractArrayRaw('junk') AS invalid, "
        "JSONExtractArrayRaw('{\"k\": [1, \"z\"]}', 'k') AS pathed, "
        "encodeURLComponent('*~') AS rfc, "
        "encodeURLComponent('a b') AS sp, "
        "JSONLength('42') AS scalar, "
        "JSONLength('junk') AS bad, "
        "JSONLength(NULL) AS nul, "
        "JSONLength('[1,2]') AS arr"
    )).collect()[0]
    assert r.quoted == ['"a"', '"b"']  # CH raw keeps the quotes
    assert r.mixed == ["1", '{"a":2}', "null", "[3]"]
    assert r.notarray == [] and r.invalid == []
    assert r.pathed == ["1", '"z"']
    assert r.rfc == "%2A~" and r.sp == "a%20b"
    assert (r.scalar, r.bad, r.arr) == (0, 0, 2)
    assert r.nul is None


def test_r10_wave8_math_date_map_array(spark):
    r = ch_sql(spark, (
        "SELECT "
        "arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS auc, "
        "arrayAUC([0.5, 0.5], [1, 0]) AS auct, "
        "arrayAUC([0.5], [1]) AS aucn, "
        # CH label rule: any label > 0 is positive, everything else
        # negative — nonbinary (2) and -1/1 encodings must count
        "arrayAUC([0.1, 0.4, 0.35, 0.8], [-1, -1, 2, 1]) AS aucnb, "
        "arrayFirstIndex(x -> x > 2, [1, 2, 3]) AS afi, "
        "arrayFirstIndex(x -> x > 9, [1, 2, 3]) AS afi0, "
        "arrayLastIndex(x -> x > 0, [1, 2, 3]) AS ali, "
        "arrayLastIndex(x -> x > 9, [1, 2, 3]) AS ali0, "
        "exp2(10) AS e2, exp10(3) AS e10, "
        "gcd(12, 18) AS g, gcd(0, 0) AS g00, gcd(-12, 18) AS gn, "
        "lcm(4, 6) AS l, lcm(0, 5) AS l0, "
        "toUnixTimestamp64Milli(toDateTime('2024-01-01 00:00:00')) "
        "AS ms, "
        "fromUnixTimestamp64Milli(1704067200000) AS fts, "
        "mapSubtract(map('a', 2, 'b', 1), map('a', 1, 'c', 5)) AS md, "
        "cutToFirstSignificantSubdomain("
        "'https://news.clickhouse.com.tr/') AS cfs, "
        "cutToFirstSignificantSubdomain('https://www.example.com/x') "
        "AS cfs2, "
        "sumKahan(v) AS sk, groupArrayDistinct(v) AS gad "
        "FROM (SELECT 1.0 AS v UNION ALL SELECT 2.0 "
        "UNION ALL SELECT 1.0)"
    )).collect()[0]
    assert r.auc == 0.75 and r.auct == 0.5 and r.aucn is None
    assert r.aucnb == 0.75  # same ranking, labels {-1,2} not {0,1}
    assert (r.afi, r.afi0, r.ali, r.ali0) == (3, 0, 3, 0)
    assert (r.e2, r.e10) == (1024.0, 1000.0)
    assert (r.g, r.g00, r.gn) == (6, 0, 6)
    assert (r.l, r.l0) == (12, 0)
    assert r.ms == 1704067200000
    assert str(r.fts) == "2024-01-01 00:00:00"
    assert r.md == {"a": 1, "b": 1, "c": -5}
    assert r.cfs == "clickhouse.com.tr" and r.cfs2 == "example.com"
    assert r.sk == 4.0 and r.gad == [1.0, 2.0]


def test_interval_length_sum_parity(spark):
    """CH intervalLengthSum: overlapping segments count once,
    touching segments ([20,25) + [25,30)) merge via >, degenerate
    zero-length intervals contribute 0."""
    r = ch_sql(spark, (
        "SELECT k, intervalLengthSum(st, en) AS cov FROM VALUES "
        "('a', 0, 10), ('a', 5, 15), ('a', 20, 25), ('a', 25, 30), "
        "('a', 24, 26), ('b', 1, 1), ('b', 2, 3) AS t(k, st, en) "
        "GROUP BY k ORDER BY k"
    )).collect()
    assert [(x.k, x.cov) for x in r] == [("a", 25), ("b", 1)]


def test_delta_sum_timestamp_parity(spark):
    """CH deltaSumTimestamp: positive consecutive deltas in ts order;
    resets (negative jumps) ignored; single row contributes 0."""
    r = ch_sql(spark, (
        "SELECT k, deltaSumTimestamp(v, t) AS d FROM VALUES "
        "('a', 1, 10.0), ('a', 2, 15.0), ('a', 3, 5.0), "
        "('a', 4, 20.0), ('b', 1, 7.0) AS t(k, t, v) "
        "GROUP BY k ORDER BY k"
    )).collect()
    # a: +5 (10->15), reset ignored (15->5), +15 (5->20) = 20
    assert [(x.k, x.d) for x in r] == [("a", 20.0), ("b", 0.0)]


def test_r11_wave9_bitmaps_and_misc(spark):
    """Dialect wave 9 (r11): the roaring-bitmap family as
    sorted-distinct-array analogs, arrayReduce-by-name, javaHash
    (exact String.hashCode), tryBase64Decode (''-on-invalid, CH
    semantics), format/{N} placeholders, extractGroups /
    extractAllGroups (empty-on-no-match), parseDateTime MySQL
    tokens, and the date/URL/UTF8 completions."""
    r = ch_sql(spark, (
        "SELECT "
        "bitmapBuild([3, 1, 2, 3]) AS bb, "
        "bitmapCardinality(bitmapBuild([3, 1, 2, 3])) AS bc, "
        "bitmapAnd(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4])) "
        "AS ba, "
        "bitmapOr(bitmapBuild([1, 2]), bitmapBuild([2, 4])) AS bo, "
        "bitmapXor(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4])) "
        "AS bx, "
        "bitmapAndnot(bitmapBuild([1, 2, 3]), bitmapBuild([3])) "
        "AS bn, "
        "bitmapContains(bitmapBuild([1, 5]), 5) AS bct, "
        "bitmapHasAny(bitmapBuild([1, 2]), bitmapBuild([2, 9])) "
        "AS bha, "
        "bitmapHasAll(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3])) "
        "AS bhl, "
        "bitmapHasAll(bitmapBuild([1, 2]), bitmapBuild([2, 3])) "
        "AS bhl0, "
        "bitmapMin(bitmapBuild([4, 2])) AS bmn, "
        "bitmapMax(bitmapBuild([4, 2])) AS bmx, "
        "bitmapAndCardinality(bitmapBuild([1, 2, 3]), "
        "bitmapBuild([2, 3, 4])) AS bac, "
        "bitmapXorCardinality(bitmapBuild([1, 2, 3]), "
        "bitmapBuild([2, 3, 4])) AS bxc, "
        "arrayReduce('sum', [1, 2, 3]) AS ars, "
        "arrayReduce('uniqExact', [1, 1, 2]) AS aru, "
        "arrayReduce('any', [7, 8]) AS ara, "
        "javaHash('abc') AS jh, javaHash('') AS jh0, "
        "javaHash('Z') AS jhz, "
        "tryBase64Decode('aGk=') AS b64, "
        "tryBase64Decode('!!!bad') AS b64bad, "
        "tryBase64Decode(CAST(NULL AS STRING)) AS b64n, "
        "dayName(toDateTime('2024-01-01 00:00:00')) AS dn, "
        "toYYYYMMDDhhmmss(toDateTime('2024-01-02 03:04:05')) AS ymd, "
        "domainWithoutWWW('https://www.example.com/a?b=1') AS dww, "
        "round(greatCircleAngle(0.0, 0.0, 90.0, 0.0), 6) AS gca, "
        "reverseUTF8('abc') AS rev, lowerUTF8('AbC') AS lo, "
        "upperUTF8('AbC') AS up, "
        "format('{} <-> {}', 'a', 'b') AS f1, "
        "format('{1}{0}', 'x', 'y') AS f2, "
        "format('{{}} {}', 'z') AS f3, "
        "extractGroups('2024-01-02', '(\\\\d+)-(\\\\d+)') AS eg, "
        "extractGroups('nope', '(\\\\d+)-(\\\\d+)') AS eg0, "
        "extractAllGroups('a=1, b=2', '(\\\\w)=(\\\\d)') AS eag, "
        "parseDateTime('2024-01-02 03:04:05', "
        "'%Y-%m-%d %H:%i:%S') AS pdt, "
        "groupBitmap(v) AS gb, groupBitmapState(v) AS gbs "
        "FROM (SELECT 1 AS v UNION ALL SELECT 2 UNION ALL SELECT 1)"
    )).collect()[0]
    assert r.bb == [1, 2, 3] and r.bc == 3
    assert r.ba == [2, 3] and r.bo == [1, 2, 4]
    assert r.bx == [1, 4] and r.bn == [1, 2]
    assert r.bct and r.bha and r.bhl and not r.bhl0
    assert (r.bmn, r.bmx) == (2, 4)
    assert (r.bac, r.bxc) == (2, 2)
    assert (r.ars, r.aru, r.ara) == (6.0, 2, 7)
    # java.lang.String hashCode references: "abc"=96354, ""=0, "Z"=90
    assert (r.jh, r.jh0, r.jhz) == (96354, 0, 90)
    assert r.b64 == "hi" and r.b64bad == "" and r.b64n is None
    assert r.dn == "Monday"
    assert r.ymd == 20240102030405
    assert r.dww == "example.com"
    assert r.gca == 90.0
    assert (r.rev, r.lo, r.up) == ("cba", "abc", "ABC")
    assert (r.f1, r.f2, r.f3) == ("a <-> b", "yx", "{} z")
    assert r.eg == ["2024", "01"] and r.eg0 == []
    assert r.eag == [["a", "1"], ["b", "2"]]
    assert str(r.pdt) == "2024-01-02 03:04:05"
    assert r.gb == 2 and r.gbs == [1, 2]


def test_r11_wave9_refusals(spark):
    """Wave-9 honest refusals: non-literal patterns/names refuse
    loudly instead of mis-translating."""
    import pytest as _pytest

    from clickhouse_observability_spark.functions.ch_dialect import (
        ChDialectError,
    )

    for bad in (
        "SELECT arrayReduce('median', [1,2])",
        "SELECT arrayReduce(x, [1,2]) FROM (SELECT 'sum' AS x)",
        "SELECT extractGroups('a', 'nogroups')",
        "SELECT format(p, 'x') FROM (SELECT '{}' AS p)",
        "SELECT parseDateTime('x', '%Q')",
    ):
        with _pytest.raises(ChDialectError):
            ch_sql(spark, bad)


def test_r11_wave9_python_reference_sweep(spark):
    """Wave-9 reference sweep in ONE query: javaHash vs a Python
    String.hashCode replay, format vs Python formatting, and
    extractGroups vs re.search — 24 diverse literals each, so the
    lowering is checked against an independent implementation, not
    just hand-picked examples."""
    import re as _re

    strings = [
        "", "a", "Z", "abc", "hello world", "The Quick Brown Fox",
        "0123456789", "  spaces  ", "a" * 64, "x,y;z|w",
        "CamelCaseMix", "snake_case_name", "tab\tsep", "dup dup dup",
        "unicode café", "ALLCAPS", "MiXeD123", "trailing ",
        " leading", "mid  dle", "p@ss!w0rd", "semi;colon",
        "a-b-c-d", "1e9",
    ]

    def java_hash(s: str) -> int:
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) & 0xFFFFFFFF
        return h - (1 << 32) if h >= (1 << 31) else h

    lits = ", ".join(
        "javaHash('" + s.replace("'", "''") + "') AS h%d" % i
        for i, s in enumerate(strings))
    r = ch_sql(spark, f"SELECT {lits}").collect()[0]
    for i, s in enumerate(strings):
        assert r[f"h{i}"] == java_hash(s), repr(s)

    # format: auto {} and positional {N} against Python's replay
    cases = [
        ("{} {}", ("a", "b")),
        ("{}+{}+{}", ("1", "2", "3")),
        ("{1} then {0}", ("first", "second")),
        ("{0}{0}", ("dup",)),
        ("100% {}", ("sure",)),  # literal % survives format_string
        ("{{literal}} {}", ("x",)),
    ]
    sel = []
    for i, (pat, args) in enumerate(cases):
        a = ", ".join("'" + x + "'" for x in args)
        sel.append(f"format('{pat}', {a}) AS f{i}")
    r = ch_sql(spark, "SELECT " + ", ".join(sel)).collect()[0]

    def py_format(pat, args):
        out, i, auto = [], 0, 0
        while i < len(pat):
            c = pat[i]
            if c == "{" and pat[i + 1:i + 2] == "{":
                out.append("{"); i += 2; continue
            if c == "}" and pat[i + 1:i + 2] == "}":
                out.append("}"); i += 2; continue
            if c == "{":
                j = pat.index("}", i)
                body = pat[i + 1:j]
                if body == "":
                    out.append(args[auto]); auto += 1
                else:
                    out.append(args[int(body)])
                i = j + 1
                continue
            out.append(c); i += 1
        return "".join(out)

    for i, (pat, args) in enumerate(cases):
        want = py_format(pat, args)  # CH format: % is not special
        assert r[f"f{i}"] == want, (pat, r[f"f{i}"], want)

    # extractGroups vs re.search on varied haystacks
    pat = r"(\w+)=(\d+)"
    hay = ["a=1", "key=42 b=7", "no match here", "x=“9”", "=5", "k=",
           "a=1;b=2", "  pad=003  "]
    sel = ", ".join(
        "extractGroups('" + h.replace("'", "''")
        + "', '(\\\\w+)=(\\\\d+)') AS g%d" % i
        for i, h in enumerate(hay))
    r = ch_sql(spark, f"SELECT {sel}").collect()[0]
    for i, h in enumerate(hay):
        m = _re.search(pat, h)
        want = list(m.groups()) if m else []
        assert r[f"g{i}"] == want, (h, r[f"g{i}"], want)


def test_r12_advisor_fixes(spark):
    """r11 advisor findings, fixed and pinned:

    1. parseDateTime literal-letter RUNS quote as one section
       ('%H hrs' -> 'hrs', not 'h''r''s' which Java reads as
       h-quote-r-quote-s);
    2. extractAllGroups refuses lookaround patterns (groups are
       re-extracted from the isolated match text where the assertion
       context is absent — silent '' groups otherwise);
    3. capture-group counting tracks character-class state ('(' inside
       [...] is a literal, not a group);
    4. format raises ChDialectError (not bare ValueError) on an
       unbalanced '{' and on a non-numeric index."""
    import pytest as _pytest

    from clickhouse_observability_spark.functions.ch_dialect import (
        ChDialectError,
    )

    # 1. consecutive literal letters inside the format
    r = ch_sql(
        spark,
        "SELECT parseDateTime('12 hrs 2024', '%H hrs %Y') AS t1, "
        "parseDateTime('2024-01-02T03:04:05', '%Y-%m-%dT%H:%i:%s') "
        "AS t2",
    ).collect()[0]
    assert str(r.t1) == "2024-01-01 12:00:00"
    assert str(r.t2) == "2024-01-02 03:04:05"

    # 3. '(' inside a character class is not a capture group
    r = ch_sql(
        spark,
        "SELECT extractGroups('(a)', '[(](\\\\w)[)]') AS g1, "
        "extractGroups('f(5)', '\\\\w[(]([0-9])[)]') AS g2",
    ).collect()[0]
    assert r.g1 == ["a"]
    assert r.g2 == ["5"]

    # 2. lookarounds refuse; 4. format brace validation refuses
    for bad in (
        "SELECT extractAllGroups('x1', '(?<=x)(\\\\d)')",
        "SELECT extractAllGroups('1px', '(\\\\d+)(?=px)')",
        "SELECT format('{oops', 'x')",
        "SELECT format('{abc}', 'x')",
    ):
        with _pytest.raises(ChDialectError):
            ch_sql(spark, bad)


def test_r12_wave10_functions(spark):
    """Wave-10 spot checks incl. the names the oracle panel can't
    cover: soundex (no DuckDB twin — classic American Soundex pinned
    on reference values), the snowflake epoch anchor, and char/ascii
    edges."""
    r = ch_sql(
        spark,
        "SELECT soundex('Robert') AS s1, soundex('Rupert') AS s2, "
        "soundex('Tymczak') AS s3, soundex('Honeyman') AS s4, "
        "substringIndex('a.b.c', '.', 2) AS si, "
        "regexpQuoteMeta('a.b[c]*') AS rq, "
        "bitHammingDistance(5, 3) AS bh, "
        "snowflakeToDateTime(1426860702823350272) AS sf, "
        "dateTimeToSnowflake(snowflakeToDateTime("
        "1426860702823350272)) AS rt, "
        "ascii('Az') AS ac, char(72, 105) AS ch, "
        "startsWithUTF8('héllo', 'hé') AS sw, "
        "endsWithUTF8('héllo', 'lo') AS ew",
    ).collect()[0]
    assert (r.s1, r.s2, r.s3, r.s4) == ("R163", "R163", "T522", "H555")
    assert r.si == "a.b"
    assert r.rq == "a\\.b\\[c\\]\\*"
    assert r.bh == 2
    # CH docs' own example id -> 2021-08-15 10:57:56 (UTC)
    assert str(r.sf) == "2021-08-15 10:57:56"
    # round-trip floors to the second: low 22 bits + sub-second ms gone
    assert r.rt == ((((1426860702823350272 >> 22) + 1288834974657)
                     // 1000 * 1000 - 1288834974657) << 22)
    assert r.ac == 65 and r.ch == "Hi" and r.sw and r.ew


def test_r13_port_and_utf8_pads(spark):
    """r13's three additions to the r9 URL/pad vocabulary: port
    (explicit ':NNNN', absent-with-0, absent-with-default — the
    no-match '' from regexp_extract must not hit an ANSI cast) and
    the left/rightPadUTF8 twins (multi-byte pad characters count as
    ONE unit — Spark's l/rpad are UTF-8 native)."""
    r = ch_sql(
        spark,
        "SELECT "
        "port('https://h.com:8443/x') AS p1, "
        "port('https://h.com/x') AS p2, "
        "port('https://h.com/x', 443) AS p3, "
        "port('https://u:p@h.com:9000/x') AS p4, "
        "leftPadUTF8('héllo', 7, 'é') AS lpu, "
        "rightPadUTF8('héllo', 7, 'é') AS rpu, "
        "leftPadUTF8('héllo', 2) AS trunc",
    ).collect()[0]
    assert (r.p1, r.p2, r.p3, r.p4) == (8443, 0, 443, 9000)
    assert r.lpu == "ééhéllo" and r.rpu == "hélloéé"
    assert r.trunc == "hé"  # over-length input truncates like CH


def test_r13_url_hierarchy_and_parameter_arrays(spark):
    """URLHierarchy / URLPathHierarchy pinned on ClickHouse's own
    docs examples (boundary separator included in each truncation,
    the bare 'proto://host/' element leads, path-less URLs keep just
    it), extractURLParameters/Names (CH splits on & AND ;), and the
    honest in-engine UTF-8 validators (Spark strings are validated
    at the ingest boundary, so isValidUTF8 is the NOT-NULL constant
    and toValidUTF8 the identity)."""
    r = ch_sql(
        spark,
        "SELECT "
        "URLPathHierarchy("
        "'https://example.com/browse/CONV-6788') AS ph, "
        "URLHierarchy('https://example.com/browse/CONV-6788') AS uh, "
        "URLHierarchy('https://example.com/a/b?page=1') AS uq, "
        "URLHierarchy('https://example.com') AS bare, "
        "URLPathHierarchy('https://example.com') AS bare_p, "
        "extractURLParameters('https://h/a?x=1&y=2;z=3') AS eps, "
        "extractURLParameterNames('https://h/a?x=1&y=2') AS epn, "
        "extractURLParameters('https://h/a') AS eps0, "
        "isValidUTF8('héllo') AS iv, "
        "isValidUTF8(NULL) AS ivn, "
        "toValidUTF8('héllo') AS tv",
    ).collect()[0]
    assert r.ph == ["/browse/", "/browse/CONV-6788"]  # CH docs example
    assert r.uh == ["https://example.com/",
                    "https://example.com/browse/",
                    "https://example.com/browse/CONV-6788"]
    assert r.uq == ["https://example.com/", "https://example.com/a/",
                    "https://example.com/a/b?",
                    "https://example.com/a/b?page=1"]
    assert r.bare == ["https://example.com/"] and r.bare_p == []
    assert r.eps == ["x=1", "y=2", "z=3"] and r.epn == ["x", "y"]
    assert r.eps0 == []
    assert (r.iv, r.ivn, r.tv) == (1, 0, "héllo")
