"""CH data-skipping indexes (`sources/skip_index.py` + dialect
routing): per-file sidecar summaries pruning FILES the way CH's
minmax / set(N) / bloom_filter / tokenbf_v1 prune granules.

Pinned here: ADD INDEX is metadata-only (no summaries, no job
observable); MATERIALIZE builds per-file summaries in one pass;
pruned reads scan ONLY surviving files (inputFiles asserted) and
return exactly the full-filter answer; set(N) overflow and
unmaterialized/new files are conservative (never wrongly skipped);
Bloom probes use Spark's own xxhash64 so build and probe can't
drift; DROP/CLEAR INDEX and system.data_skipping_indices.
"""

from __future__ import annotations

import os

import pytest

from clickhouse_observability_spark.functions.ch_dialect import (
    ChDialectError,
    ch_sql,
)
from clickhouse_observability_spark.sources.skip_index import (
    SkipIndex,
    read_pruned,
)
from clickhouse_observability_spark.sources.writer import LogsTable


@pytest.fixture()
def logs(spark, tmp_path):
    t = LogsTable(spark, str(tmp_path / "logs"))
    t.init_schema()
    # three months -> three+ files with disjoint level/msg profiles
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg) VALUES "
        "('2025-05-01 10:00:00', 'api', 'INFO', 'alpha beta'), "
        "('2025-05-01 11:00:00', 'api', 'INFO', 'beta gamma'), "
        "('2025-06-01 10:00:00', 'web', 'WARN', 'delta epsilon'), "
        "('2025-07-01 10:00:00', 'db', 'ERROR', 'zeta eta theta')"),
        logs=t)
    return t


def _files(df):
    return {os.path.basename(f) for f in df.inputFiles()}


def test_set_index_prunes_files(spark, logs):
    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=logs)
    idx = SkipIndex.load(logs.path, "lvl")
    assert not idx.is_materialized()  # ADD is metadata-only (CH parity)
    # unmaterialized: conservative — everything scans
    df, st = read_pruned(spark, logs.path, "lvl", "ERROR")
    assert st["files_skipped"] == 0
    n = ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX lvl",
               logs=logs)
    assert n >= 3
    df, st = read_pruned(spark, logs.path, "lvl", "ERROR")
    assert st["files_skipped"] >= 2 and st["files_read"] >= 1
    rows = df.filter("level = 'ERROR'").collect()
    assert [r.msg for r in rows] == ["zeta eta theta"]
    # the pruned frame really reads fewer files than the full scan
    assert len(_files(df)) < len(_files(logs.read()))


def test_pruned_read_equals_full_filter(spark, logs):
    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX lvl", logs=logs)
    for probe in ("INFO", "WARN", "ERROR", "ABSENT"):
        df, _ = read_pruned(spark, logs.path, "lvl", probe)
        got = sorted(r.msg for r in
                     df.filter(df.level == probe).collect())
        want = sorted(r.msg for r in logs.read()
                      .filter(f"level = '{probe}'").collect())
        assert got == want, probe


def test_minmax_index(spark, logs):
    ch_sql(spark,
           "ALTER TABLE logs ADD INDEX svc service TYPE minmax",
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX svc", logs=logs)
    df, st = read_pruned(spark, logs.path, "svc", "web")
    assert st["files_skipped"] >= 1
    assert sorted(r.service for r in df.collect()) >= ["web"]


def test_set_overflow_never_prunes(spark, logs):
    # N=1 but the May file has one level only -> still prunable;
    # force overflow with an index on msg (2 distinct per file > 1)
    ch_sql(spark, "ALTER TABLE logs ADD INDEX m msg TYPE set(1)",
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX m", logs=logs)
    idx = SkipIndex.load(logs.path, "m")
    # whether the two May rows share a file depends on task layout;
    # the CONTRACT is layout-independent: an overflow marker (None)
    # always keeps the file, and a probe never loses rows
    assert idx.might_contain(None, "anything")
    per_file = idx._latest_rows()
    assert all(
        r["overflow"] or (r["vals"] is not None and len(r["vals"]) <= 1)
        for r in per_file.values()
    )
    df, st = read_pruned(spark, logs.path, "m", "alpha beta")
    assert st["files_read"] >= 1
    assert "alpha beta" in {r.msg for r in df.collect()}


def test_tokenbf_index_prunes_by_token(spark, logs):
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX toks msg TYPE "
        "tokenbf_v1(8192, 4, 0)"), logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX toks", logs=logs)
    df, st = read_pruned(spark, logs.path, "toks", "zeta")
    assert st["files_skipped"] >= 2  # no false negatives, real pruning
    assert {r.msg for r in df.collect()} >= {"zeta eta theta"}
    # a token present in two files keeps both
    df2, st2 = read_pruned(spark, logs.path, "toks", "beta")
    msgs = {r.msg for r in df2.collect()}
    assert {"alpha beta", "beta gamma"} <= msgs


def test_new_files_after_materialize_are_scanned(spark, logs):
    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX lvl", logs=logs)
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg) VALUES "
        "('2025-08-01 10:00:00', 'new', 'FATAL', 'fresh row')"),
        logs=logs)
    df, st = read_pruned(spark, logs.path, "lvl", "FATAL")
    assert st["files_unindexed"] >= 1
    assert {r.msg for r in df.filter("level = 'FATAL'").collect()} == {
        "fresh row"}


def test_drop_clear_and_system_table(spark, logs):
    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX lvl", logs=logs)
    rows = ch_sql(spark, (
        "SELECT name, type, files_indexed FROM "
        "system.data_skipping_indices"), logs=logs).collect()
    assert [(r.name, r.type) for r in rows] == [("lvl", "set")]
    assert rows[0].files_indexed >= 3
    ch_sql(spark, "ALTER TABLE logs CLEAR INDEX lvl", logs=logs)
    assert not SkipIndex.load(logs.path, "lvl").is_materialized()
    ch_sql(spark, "ALTER TABLE logs DROP INDEX lvl", logs=logs)
    assert SkipIndex.load(logs.path, "lvl") is None
    assert ch_sql(spark, "ALTER TABLE logs DROP INDEX IF EXISTS lvl",
                  logs=logs) == 0
    with pytest.raises(ChDialectError, match="no skip index"):
        ch_sql(spark, "ALTER TABLE logs DROP INDEX lvl", logs=logs)
    with pytest.raises(ChDialectError, match="already exists"):
        ch_sql(spark, "ALTER TABLE logs ADD INDEX x level TYPE minmax",
               logs=logs)
        ch_sql(spark, "ALTER TABLE logs ADD INDEX x level TYPE minmax",
               logs=logs)
    assert ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX IF NOT EXISTS x level TYPE minmax"),
        logs=logs) == 0


def test_index_expression_through_dialect(spark, logs):
    # a CH-vocabulary expression: the dialect translates before the
    # sidecar stores it
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX ulen lengthUTF8(msg) TYPE minmax"),
        logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX ulen", logs=logs)
    df, st = read_pruned(spark, logs.path, "ulen", 14)
    assert st["files_skipped"] >= 1  # only 'zeta eta theta' is 14 long
    assert "zeta eta theta" in {r.msg for r in df.collect()}


def test_api_level_filter_uses_index_transparently(spark, tmp_path):
    """The /v1/logs endpoint consults a materialized `level` set
    index the way CH's scan consults skip indexes: same envelope
    either way, fewer files scanned when the layout allows."""
    from clickhouse_observability_spark.api.http import LogsApi

    t = LogsTable(spark, str(tmp_path / "api_logs"))
    t.init_schema()
    # level-local files: repartition by level before insert
    from pyspark.sql import functions as F

    rows = [("2025-05-01 10:%02d:00" % i, "api",
             "ERROR" if i % 2 else "INFO", f"m{i}") for i in range(8)]
    block = spark.createDataFrame(
        rows, "ts string, service string, level string, msg string"
    ).select(
        F.to_timestamp("ts").alias("ts"), "service", "level", "msg",
        F.lit("{}").alias("attrs"), F.lit("t").alias("trace_id"),
        F.lit("s").alias("span_id"),
    ).repartition(4, "level")
    t.insert(block)
    params = {"service": "api", "from": "2025-05-01T00:00:00Z",
              "to": "2025-05-02T00:00:00Z", "level": "ERROR"}
    api = LogsApi(t.read, logs_table=t)
    st0, body0 = api.query_logs_handler(dict(params))
    assert st0 == 200 and body0["count"] == 4
    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=t)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX lvl", logs=t)
    api2 = LogsApi(t.read, logs_table=t)  # fresh cache
    st1, body1 = api2.query_logs_handler(dict(params))
    assert st1 == 200
    assert [l["Msg"] for l in body1["logs"]] == [
        l["Msg"] for l in body0["logs"]]
    # and the pruned read really touches fewer files
    from clickhouse_observability_spark.sources.skip_index import (
        read_pruned,
    )

    _, stats = read_pruned(spark, t.path, "lvl", "ERROR")
    assert stats["files_skipped"] >= 1


def test_incremental_materialize_covers_only_new_files(spark, logs):
    """The r9 O(new-files) maintenance contract: an incremental
    materialize APPENDS one delta shard covering only never-seen
    files — every prior shard file stays byte-identical on disk (the
    r8 sidecar rewrote the whole summary set per call)."""
    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=logs)
    idx = SkipIndex.load(logs.path, "lvl")
    idx.materialize(spark)
    before_files = idx.indexed_files(spark)
    before_shards = {
        f: (os.path.getsize(f), os.path.getmtime(f))
        for f in idx.shard_files()
    }
    before_rows = dict(idx._latest_rows())
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg) VALUES "
        "('2025-08-01 10:00:00', 'new', 'FATAL', 'fresh row')"),
        logs=logs)
    res = idx.materialize(spark, incremental=True)
    assert res["files"] == len(before_files) + 1
    # prior shard files byte-untouched; exactly a delta was appended
    after_shards = {
        f: (os.path.getsize(f), os.path.getmtime(f))
        for f in idx.shard_files()
    }
    for f, sig in before_shards.items():
        assert after_shards[f] == sig, "prior shard rewritten"
    new_shards = set(after_shards) - set(before_shards)
    assert new_shards, "no delta shard appended"
    # O(new files): the delta holds exactly ONE summary row (the one
    # new file), not a re-summarization of the table (fixed parquet
    # framing overhead makes byte counts meaningless at this scale)
    import pyarrow.parquet as pq

    delta_rows = sum(pq.read_table(f).num_rows for f in new_shards)
    assert delta_rows == 1
    # prior summaries logically unchanged (never recomputed)
    after_rows = idx._latest_rows()
    for k, v in before_rows.items():
        assert after_rows[k]["vals"] == v["vals"]
        assert after_rows[k]["overflow"] == v["overflow"]
    df, st = read_pruned(spark, logs.path, "lvl", "FATAL")
    assert st["files_unindexed"] == 0 and st["files_skipped"] >= 3
    assert {r.msg for r in df.collect()} == {"fresh row"}
    # idempotent when nothing is new: no new shard, same count
    n_shards = len(idx.shard_files())
    assert idx.materialize(spark, incremental=True)["files"] == \
        len(before_files) + 1
    assert len(idx.shard_files()) == n_shards


def test_spark_probe_path_matches_driver_fast_path(spark, logs,
                                                   monkeypatch):
    """The adaptive probe's two implementations (driver pyarrow under
    FAST_PATH_MAX_BYTES, distributed Spark filter above it) must give
    identical keep/skip verdicts for every index type."""
    from clickhouse_observability_spark.sources import skip_index as SIX

    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs ADD INDEX svc service TYPE minmax",
           logs=logs)
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX toks msg TYPE "
        "tokenbf_v1(8192, 4, 0)"), logs=logs)
    for nm in ("lvl", "svc", "toks"):
        ch_sql(spark, f"ALTER TABLE logs MATERIALIZE INDEX {nm}",
               logs=logs)
    probes = [("lvl", "ERROR"), ("lvl", "ABSENT"), ("svc", "web"),
              ("toks", "zeta"), ("toks", "beta"), ("toks", "nosuch")]
    fast = {}
    for nm, v in probes:
        idx = SIX.SkipIndex.load(logs.path, nm)
        assert idx._use_fast_path()
        fast[(nm, v)] = idx.prune(spark, v)
    monkeypatch.setattr(SIX, "FAST_PATH_MAX_BYTES", 0)
    for nm, v in probes:
        idx = SIX.SkipIndex.load(logs.path, nm)
        assert not idx._use_fast_path()
        assert idx.prune(spark, v) == fast[(nm, v)], (nm, v)
    # range probe parity too
    idx = SIX.SkipIndex.load(logs.path, "svc")
    spark_rng = idx._prune_minmax_range(spark, "da", "dc")
    monkeypatch.setattr(SIX, "FAST_PATH_MAX_BYTES", 8 << 20)
    assert SIX.SkipIndex.load(logs.path, "svc")._prune_minmax_range(
        spark, "da", "dc") == spark_rng


def test_minmax_range_probe(spark, logs):
    from clickhouse_observability_spark.sources.skip_index import (
        read_pruned_range,
    )

    ch_sql(spark,
           "ALTER TABLE logs ADD INDEX svc service TYPE minmax",
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX svc", logs=logs)
    # ['api','db','web'] across files: probe ['da','dc'] hits db only
    df, st = read_pruned_range(spark, logs.path, "svc", "da", "dc")
    assert st["files_skipped"] >= 1
    assert {r.service for r in df.collect()} >= {"db"}
    got = sorted(r.msg for r in df.filter(
        "service BETWEEN 'da' AND 'dc'").collect())
    want = sorted(r.msg for r in logs.read().filter(
        "service BETWEEN 'da' AND 'dc'").collect())
    assert got == want
    with pytest.raises(ValueError, match="minmax"):
        ch_sql(spark, "ALTER TABLE logs ADD INDEX l2 level TYPE set(5)",
               logs=logs)
        read_pruned_range(spark, logs.path, "l2", "A", "Z")


def test_mutation_surfaces_and_refreshes_stale_indexes(spark, logs):
    from clickhouse_observability_spark.sources.mutations import (
        apply_mutation,
    )

    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX lvl", logs=logs)
    res = apply_mutation(spark, logs.path,
                         "service = 'db'", assignments={"level": "'X'"})
    assert res["stale_indexes"] == ["lvl"]
    # conservative meanwhile: rewritten files are unindexed -> scanned
    df, st = read_pruned(spark, logs.path, "lvl", "X")
    assert st["files_unindexed"] >= 1
    assert {r.level for r in df.filter("service = 'db'").collect()} == {
        "X"}
    res2 = apply_mutation(spark, logs.path,
                          "service = 'db'", assignments={"msg": "'y'"},
                          refresh_indexes=True)
    assert res2["stale_indexes"] == []
    df2, st2 = read_pruned(spark, logs.path, "lvl", "X")
    assert st2["files_unindexed"] == 0 and st2["files_skipped"] >= 2


def test_hastoken_dialect(spark, logs):
    rows = ch_sql(spark, (
        "SELECT msg FROM logs WHERE hasToken(msg, 'zeta')"),
        logs=logs).collect()
    assert [r.msg for r in rows] == ["zeta eta theta"]
    rows = ch_sql(spark, (
        "SELECT msg FROM logs WHERE hasTokenCaseInsensitive(msg, 'ZETA')"),
        logs=logs).collect()
    assert [r.msg for r in rows] == ["zeta eta theta"]
    # case-sensitive form does NOT match a different case
    assert ch_sql(spark, (
        "SELECT count() AS n FROM logs WHERE hasToken(msg, 'ZETA')"),
        logs=logs).collect()[0].n == 0


def test_sql_path_consults_tokenbf_automatically(spark, logs):
    """The CH-parity flagship: a plain SELECT with a hasToken
    conjunct runs against the index-pruned file set — same answer,
    fewer input files — while OR contexts and multi-reference
    statements conservatively keep the full scan."""
    want = [("db", "zeta eta theta")]
    q = ("SELECT service, msg FROM logs "
         "WHERE hasToken(msg, 'zeta') ORDER BY service")
    before = ch_sql(spark, q, logs=logs)
    assert [(r.service, r.msg) for r in before.collect()] == want
    n_full = len(before.inputFiles())
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX toks msg TYPE "
        "tokenbf_v1(8192, 4, 0)"), logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX toks", logs=logs)
    after = ch_sql(spark, q, logs=logs)
    assert [(r.service, r.msg) for r in after.collect()] == want
    assert len(after.inputFiles()) < n_full  # really pruned
    # AND chains prune; extra conjuncts survive
    rows = ch_sql(spark, (
        "SELECT msg FROM logs WHERE hasToken(msg, 'zeta') "
        "AND level = 'ERROR'"), logs=logs)
    assert [r.msg for r in rows.collect()] == ["zeta eta theta"]
    assert len(rows.inputFiles()) < n_full
    # a depth-0 OR disables pruning: the INFO arm lives in files
    # without the token and must survive
    rows = ch_sql(spark, (
        "SELECT msg FROM logs WHERE hasToken(msg, 'zeta') "
        "OR level = 'WARN' ORDER BY msg"), logs=logs)
    assert [r.msg for r in rows.collect()] == [
        "delta epsilon", "zeta eta theta"]
    assert len(rows.inputFiles()) == n_full
    # punctuation-boundary token (hasToken tokenizer, not whitespace)
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg) VALUES "
        "('2025-08-01 10:00:00', 'punct', 'INFO', 'error:omega-9')"),
        logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX toks", logs=logs)
    rows = ch_sql(spark, "SELECT msg FROM logs "
                  "WHERE hasToken(msg, 'omega')", logs=logs)
    assert [r.msg for r in rows.collect()] == ["error:omega-9"]


def test_api_user_filter_uses_attrs_index(spark, tmp_path):
    """The reference's P5 predicate (JSONExtractString(attrs,'user'))
    accelerated by a set index over the SAME expression — ADD INDEX
    takes the CH spelling, the API probe matches the translated one."""
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.api.http import LogsApi

    t = LogsTable(spark, str(tmp_path / "u_logs"))
    t.init_schema()
    # one insert per user -> each user's rows land in their own
    # files (deterministic layout; hash-repartition of two keys into
    # few buckets can collide)
    for who, par in (("jane", 1), ("bob", 0)):
        rows = [("2025-05-01 10:%02d:00" % i, "api", "INFO", f"m{i}",
                 '{"user": "%s"}' % who)
                for i in range(8) if i % 2 == par]
        block = spark.createDataFrame(
            rows, "ts string, service string, level string, "
            "msg string, attrs string"
        ).select(
            F.to_timestamp("ts").alias("ts"), "service", "level",
            "msg", "attrs", F.lit("t").alias("trace_id"),
            F.lit("s").alias("span_id"),
        ).coalesce(1)
        t.insert(block)
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX u "
        "JSONExtractString(attrs, 'user') TYPE set(100)"), logs=t)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX u", logs=t)
    idx = SkipIndex.load(t.path, "u")
    assert "get_json_object" in idx.meta["expr"]  # CH -> Spark spelling
    params = {"service": "api", "from": "2025-05-01T00:00:00Z",
              "to": "2025-05-02T00:00:00Z", "user": "jane"}
    api = LogsApi(t.read, logs_table=t)
    st, body = api.query_logs_handler(dict(params))
    assert st == 200 and body["count"] == 4
    assert all(l["Attrs"]["user"] == "jane" for l in body["logs"])
    # and the pruned read really skips bob-only files
    df, stats = read_pruned(spark, t.path, "u", "jane")
    assert stats["files_skipped"] >= 1


def test_streaming_ingest_maintains_index_online(spark, tmp_path):
    """maintain_indexes=True summarizes each micro-batch's new files
    inside the idempotency marker — after the stream drains, a probe
    sees zero unindexed files (CH: parts get their index at write
    time)."""
    from clickhouse_observability_spark.streaming.batcher import (
        IngestStream,
    )

    t = LogsTable(spark, str(tmp_path / "s_logs"))
    t.init_schema()
    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=t)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX lvl", logs=t)
    stream = IngestStream(
        spark, t, str(tmp_path / "inbox"), str(tmp_path / "ckpt"),
        maintain_indexes=True)
    q = stream.start()
    try:
        stream.submit_many([
            {"ts": f"2025-09-01T10:0{m}:00Z", "service": "s",
             "level": "FATAL" if m else "INFO", "msg": f"m{m}",
             "attrs": {}, "trace_id": "t", "span_id": "s"}
            for m in range(2)
        ])
        q.processAllAvailable()
    finally:
        stream.stop(drain=False)
    df, st = read_pruned(spark, t.path, "lvl", "FATAL")
    assert st["files_unindexed"] == 0 and st["files_total"] >= 1
    assert {r.msg for r in df.filter("level = 'FATAL'").collect()} == {
        "m1"}


def test_sql_path_equality_probe_trace_lookup(spark, tmp_path):
    """The observability point-lookup: `trace_id = 'x'` probes a
    bloom_filter index on trace_id and scans only surviving files —
    same answer, fewer inputs; numeric-typed columns never probe
    (typed-hash mismatch guard)."""
    from pyspark.sql import functions as F

    t = LogsTable(spark, str(tmp_path / "tr_logs"))
    t.init_schema()
    for tr in ("aaa", "bbb", "ccc"):
        block = spark.createDataFrame(
            [(f"2025-05-01 10:00:00", "api", "INFO", f"m-{tr}", "{}",
              tr, "s")],
            "ts string, service string, level string, msg string, "
            "attrs string, trace_id string, span_id string"
        ).select(F.to_timestamp("ts").alias("ts"), "service", "level",
                 "msg", "attrs", "trace_id", "span_id").coalesce(1)
        t.insert(block)
    ch_sql(spark, ("ALTER TABLE logs ADD INDEX tr trace_id TYPE "
                   "bloom_filter"), logs=t)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX tr", logs=t)
    q = "SELECT msg FROM logs WHERE trace_id = 'bbb'"
    full_files = len(ch_sql(spark, "SELECT msg FROM logs",
                            logs=t).inputFiles())
    df = ch_sql(spark, q, logs=t)
    assert [r.msg for r in df.collect()] == ["m-bbb"]
    assert len(df.inputFiles()) < full_files
    # flipped literal side works too
    df2 = ch_sql(spark, "SELECT msg FROM logs WHERE 'ccc' = trace_id",
                 logs=t)
    assert [r.msg for r in df2.collect()] == ["m-ccc"]
    assert len(df2.inputFiles()) < full_files


def test_sql_path_in_list_probe(spark, logs):
    """col IN ('a','b') prunes via the union of per-literal keep
    sets — sound superset, one read over the union."""
    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX lvl", logs=logs)
    full = len(ch_sql(spark, "SELECT msg FROM logs",
                      logs=logs).inputFiles())
    df = ch_sql(spark, ("SELECT msg FROM logs WHERE level IN "
                        "('WARN', 'ERROR') ORDER BY msg"), logs=logs)
    assert [r.msg for r in df.collect()] == [
        "delta epsilon", "zeta eta theta"]
    assert len(df.inputFiles()) < full


def test_prune_requires_depth0_from_logs(spark, logs):
    """ADVICE r8 (high): a statement whose only `logs` reference sits
    INSIDE a subquery while the outer FROM is another relation with a
    same-named column must NOT register a pruned logs view — the
    depth-0 WHERE filters the OTHER table."""
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX toks msg TYPE "
        "tokenbf_v1(8192, 4, 0)"), logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX toks", logs=logs)
    other = spark.createDataFrame(
        [("no tokens here",)], "msg string")
    n_logs_total = logs.read().count()
    rows = ch_sql(spark, (
        "SELECT (SELECT count() FROM logs) AS n_logs FROM other "
        "WHERE hasToken(msg, 'zeta')"),
        logs=logs, views={"other": other}).collect()
    # 'zeta' is absent from other.msg -> zero result rows is fine;
    # but when the outer row DOES match, the inner count must be the
    # FULL table, never the zeta-pruned one
    assert rows == []
    other2 = spark.createDataFrame([("zeta",)], "msg string")
    rows = ch_sql(spark, (
        "SELECT (SELECT count() FROM logs) AS n_logs FROM other "
        "WHERE hasToken(msg, 'zeta')"),
        logs=logs, views={"other": other2}).collect()
    assert [r.n_logs for r in rows] == [n_logs_total]


def _session_views(spark):
    return {t.name for t in spark.catalog.listTables()}


def test_statement_views_never_leak(spark, logs):
    """Every name a statement reads is bound for that statement only:
    after a pruning ch_sql that returns, and after statements that
    raise part-way, the session catalog holds nothing they bound —
    and the returned pruned frame still collects the right rows (its
    plan was bound before the views dropped)."""
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX toks msg TYPE "
        "tokenbf_v1(8192, 4, 0)"), logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX toks", logs=logs)
    before = _session_views(spark)
    df = ch_sql(spark, "SELECT msg FROM logs WHERE hasToken(msg, 'zeta')",
                logs=logs)
    assert len(df.inputFiles()) < len(logs.read().inputFiles())
    assert _session_views(spark) == before
    with pytest.raises(Exception, match="no_such_col"):
        ch_sql(spark, ("SELECT no_such_col FROM logs "
                       "WHERE hasToken(msg, 'zeta')"), logs=logs)
    assert _session_views(spark) == before
    other = spark.createDataFrame([("x",)], "msg string")
    with pytest.raises(Exception, match="no_such_col"):
        ch_sql(spark, ("SELECT no_such_col FROM other, system.parts, "
                       "logs"), logs=logs, views={"other": other})
    assert _session_views(spark) == before
    assert [r.msg for r in df.collect()] == ["zeta eta theta"]


def test_concurrent_pruned_statements_are_isolated(spark, tmp_path):
    """One shared session serves concurrent statements (the HTTP
    server's request threads). Each statement binds its own
    index-pruned `logs`, so no answer reads the file set another
    statement pruned to: 4 threads x 25 hasToken counts over one
    file per token must all be exact."""
    from concurrent.futures import ThreadPoolExecutor

    t = LogsTable(spark, str(tmp_path / "logs"))
    t.init_schema()
    # one month, hence one file, per token
    rows = ", ".join(
        f"('{2023 + i // 12}-{i % 12 + 1:02d}-01 10:00:00', 'api', "
        f"'INFO', 'tok{i:03d}')" for i in range(25))
    ch_sql(spark, "INSERT INTO logs (ts, service, level, msg) VALUES "
           + rows, logs=t)
    assert len(t.read().inputFiles()) == 25
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX toks msg TYPE "
        "tokenbf_v1(8192, 4, 0)"), logs=t)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX toks", logs=t)
    before = _session_views(spark)

    def count_tokens(k):
        return [ch_sql(spark, (
            f"SELECT count() AS n FROM logs WHERE "
            f"hasToken(msg, 'tok{(7 * k + j) % 25:03d}')"),
            logs=t).collect()[0].n for j in range(25)]

    with ThreadPoolExecutor(4) as pool:
        answers = [n for ns in pool.map(count_tokens, range(4)) for n in ns]
    assert answers == [1] * 100
    assert _session_views(spark) == before


def test_hastoken_splits_on_underscore(spark, logs):
    """CH's tokenizer splits on ALL non-alphanumeric ASCII, including
    underscore: hasToken('a_b', 'a') is true (r9 parity fix) — and
    the tokenbf index shares the class, so the pruned read still
    finds underscore-separated tokens."""
    ch_sql(spark, (
        "INSERT INTO logs (ts, service, level, msg) VALUES "
        "('2025-08-01 10:00:00', 'u', 'INFO', 'snake_case_token')"),
        logs=logs)
    rows = ch_sql(spark, (
        "SELECT msg FROM logs WHERE hasToken(msg, 'snake')"),
        logs=logs).collect()
    assert [r.msg for r in rows] == ["snake_case_token"]
    # the full underscore string is NOT a token anymore (CH parity)
    assert ch_sql(spark, (
        "SELECT count() AS n FROM logs WHERE "
        "hasToken(msg, 'snake_case_token')"), logs=logs).collect()[0].n == 0
    # index and predicate agree through the pruned path
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX toks msg TYPE "
        "tokenbf_v1(8192, 4, 0)"), logs=logs)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX toks", logs=logs)
    df = ch_sql(spark, "SELECT msg FROM logs WHERE hasToken(msg, 'case')",
                logs=logs)
    assert [r.msg for r in df.collect()] == ["snake_case_token"]
    assert len(df.inputFiles()) < len(logs.read().inputFiles())


def test_api_intersects_level_and_user_keep_sets(spark, tmp_path):
    """ADVICE r8 (medium): when BOTH the level and the attrs-user
    indexes match, the /v1/logs read intersects their verdicts (a
    file either index rules out is skipped) instead of keeping only
    the last probe's — and pruning only activates when the provider
    is the table's raw read."""
    from pyspark.sql import functions as F

    from clickhouse_observability_spark.api.http import LogsApi
    from clickhouse_observability_spark.sources import skip_index as SIX

    t = LogsTable(spark, str(tmp_path / "lu_logs"))
    t.init_schema()
    # one insert per (level, user) combo -> combo-local files
    for lvl, who in (("INFO", "jane"), ("ERROR", "jane"),
                     ("INFO", "bob"), ("ERROR", "bob")):
        rows = [("2025-05-01 10:%02d:00" % i, "api", lvl,
                 f"{lvl}-{who}-{i}", '{"user": "%s"}' % who)
                for i in range(3)]
        block = spark.createDataFrame(
            rows, "ts string, service string, level string, "
            "msg string, attrs string"
        ).select(
            F.to_timestamp("ts").alias("ts"), "service", "level",
            "msg", "attrs", F.lit("t").alias("trace_id"),
            F.lit("s").alias("span_id"),
        ).coalesce(1)
        t.insert(block)
    ch_sql(spark, "ALTER TABLE logs ADD INDEX lvl level TYPE set(10)",
           logs=t)
    ch_sql(spark, (
        "ALTER TABLE logs ADD INDEX u "
        "JSONExtractString(attrs, 'user') TYPE set(100)"), logs=t)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX lvl", logs=t)
    ch_sql(spark, "ALTER TABLE logs MATERIALIZE INDEX u", logs=t)
    # intersection: both verdict sets apply
    lvl_keep, lvl_skip = SIX.SkipIndex.load(t.path, "lvl").prune(
        spark, "ERROR")
    u_keep, u_skip = SIX.SkipIndex.load(t.path, "u").prune(
        spark, "jane")
    both_skip = lvl_skip | u_skip
    both_keep = (lvl_keep | u_keep) - both_skip
    assert len(both_keep) < len(lvl_keep)
    assert len(both_keep) < len(u_keep)
    params = {"service": "api", "from": "2025-05-01T00:00:00Z",
              "to": "2025-05-02T00:00:00Z", "level": "ERROR",
              "user": "jane"}
    api = LogsApi(t.read, logs_table=t)
    assert api._prunable
    st, body = api.query_logs_handler(dict(params))
    assert st == 200 and body["count"] == 3
    assert all(l["Level"] == "ERROR" and l["Attrs"]["user"] == "jane"
               for l in body["logs"])
    # a transformed provider must NOT activate pruning (the pruned
    # path would re-read the table and bypass the transformation)
    api2 = LogsApi(lambda: t.read().filter("level != 'ERROR'"),
                   logs_table=t)
    assert not api2._prunable
    st2, body2 = api2.query_logs_handler(dict(params))
    assert st2 == 200 and body2["count"] == 0
