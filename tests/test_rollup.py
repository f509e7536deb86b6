"""Mergeable-state materialized rollups (operators/rollup.py).

Pins the AggregatingMergeTree-style invariants: merge-on-read over
append-only partial states equals a direct aggregation of the raw
events, at any coarser grain; the DDSketch histogram's quantiles are
within the documented relative error; compaction changes layout but
never answers.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import clickhouse_observability_spark.operators.rollup as R
from clickhouse_observability_spark.sources.parquet import load_table


def _answers(df):
    rows = {}
    for r in df.collect():
        rows[(r["bucket_ts"], r["event_type"])] = r
    return rows


def test_merge_to_coarser_equals_direct_build(spark, sf_med):
    ev = load_table(spark, sf_med, "events")
    # extra dim forces real state merging on the read path
    ev2 = ev.withColumn("user_bucket", (F.col("user_id") % 4).cast("int"))
    fine = R.build_rollup(ev2, "hour", ("event_type", "user_bucket"))
    merged = R.merge_states(fine, ("event_type",), granularity="day")
    direct = R.build_rollup(ev2, "day", ("event_type",))
    a, b = _answers(R.finalize(merged)), _answers(R.finalize(direct))
    assert set(a) == set(b) and len(a) > 0
    for k in a:
        ra, rb = a[k], b[k]
        assert ra["cnt"] == rb["cnt"]
        assert ra["sum_value"] == pytest.approx(rb["sum_value"], rel=1e-12)
        assert ra["min_value"] == rb["min_value"]
        assert ra["max_value"] == rb["max_value"]
        # HLL union of sub-sketches == sketch of the union
        assert ra["uniq_users_est"] == rb["uniq_users_est"]
        # identical histograms => identical quantiles
        for q in ("p50", "p95", "p99"):
            assert ra[q] == rb[q]


def test_quantiles_within_ddsketch_error(spark, sf_med):
    ev = load_table(spark, sf_med, "events")
    states = R.build_rollup(ev, "month", ("event_type",))
    approx = _answers(R.finalize(states))
    exact = _answers(
        ev.groupBy(F.date_trunc("month", "ts").alias("bucket_ts"),
                   "event_type")
        # percentile_disc (not the interpolating percentile): the
        # sketch estimates the ceil(q*n)-th order statistic itself
        .agg(*[F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)")
               .alias(n)
               for n, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))])
    )
    tol = (R.GAMMA - 1) / (R.GAMMA + 1) + 1e-6
    for k, e in exact.items():
        for q in ("p50", "p95", "p99"):
            assert abs(approx[k][q] - e[q]) <= tol * abs(e[q]) + 1e-9, (
                k, q, approx[k][q], e[q])


def test_uniq_estimate_tracks_exact(spark, sf_med):
    ev = load_table(spark, sf_med, "events")
    est = _answers(R.finalize(R.build_rollup(ev, "month", ("event_type",))))
    ex = _answers(
        ev.groupBy(F.date_trunc("month", "ts").alias("bucket_ts"),
                   "event_type")
        .agg(F.countDistinct("user_id").alias("u"))
    )
    for k, r in ex.items():
        # lgK=12 => ~1.6% std error; allow 5%
        assert abs(est[k]["uniq_users_est"] - r["u"]) <= max(3, 0.05 * r["u"])


def test_zero_and_negative_values(spark):
    vals = [-250.0, -1.0, -0.5, 0.0, 0.0, 0.25, 1.0, 3.0, 1000.0]
    df = spark.createDataFrame(
        [Row(ts="2024-01-01 00:00:00", event_type="t", user_id=i,
             value=v) for i, v in enumerate(vals)]
    ).withColumn("ts", F.to_timestamp("ts"))
    fin = R.finalize(
        R.build_rollup(df, "hour", ("event_type",)),
        quantiles={"p50": 0.5},
    ).collect()[0]
    assert fin["min_value"] == -250.0 and fin["max_value"] == 1000.0
    # p50 of 9 values = 5th = 0.0; zero has an exact reserved bucket
    assert fin["p50"] == 0.0
    # bucket index order == value order (mirrored negative range)
    b = (df.select(R.value_bucket(F.col("value")).alias("b"),
                   "value").orderBy("value").collect())
    idx = [r["b"] for r in b]
    assert idx == sorted(idx)
    # midpoint inverts within relative error
    mids = df.select(
        R.bucket_midpoint(R.value_bucket(F.col("value"))).alias("m"),
        "value").collect()
    tol = (R.GAMMA - 1) / (R.GAMMA + 1) + 1e-9
    for r in mids:
        assert abs(r["m"] - r["value"]) <= tol * abs(r["value"]) + 1e-12


def test_finalize_refuses_quantiles_without_value_hist(spark):
    """Explicit quantiles over states that carry no value_hist raise;
    the default (quantiles=None) still finalizes without them."""
    df = spark.createDataFrame(
        [Row(ts="2024-01-01 00:00:00", event_type="t", user_id=1,
             value=1.0)]
    ).withColumn("ts", F.to_timestamp("ts"))
    states = R.build_rollup(df, "hour", ("event_type",)).drop("value_hist")
    with pytest.raises(ValueError, match="value_hist"):
        R.finalize(states, quantiles={"p50": 0.5})
    fin = R.finalize(states).collect()[0]
    assert fin["cnt"] == 1 and "p50" not in fin.asDict()


def test_append_increments_then_compact(spark, sf_med, tmp_path):
    ev = load_table(spark, sf_med, "events")
    path = str(tmp_path / "rollup")
    # three disjoint time slices appended independently, as an
    # incremental ingest would
    for lo, hi in (("2024-01-01", "2024-01-11"),
                   ("2024-01-11", "2024-01-21"),
                   ("2024-01-21", "2024-02-01")):
        R.append_increment(
            ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
            path, "hour", ("event_type",))
    direct = _answers(R.finalize(R.build_rollup(ev, "day", ("event_type",))))

    def read_answers():
        states = R.read_rollup(spark, path)
        return _answers(
            R.finalize(R.merge_states(states, ("event_type",), "day")))

    before = read_answers()
    assert set(before) == set(direct)
    for k in direct:
        assert before[k]["cnt"] == direct[k]["cnt"]
        assert before[k]["sum_value"] == pytest.approx(
            direct[k]["sum_value"], rel=1e-12)
        assert before[k]["p95"] == direct[k]["p95"]
        assert before[k]["uniq_users_est"] == direct[k]["uniq_users_est"]

    # hour-grain keys that straddle increments do NOT straddle these
    # slice boundaries, so pre-compaction each key appears once per
    # covering slice; compaction must collapse to one row per key and
    # keep every answer identical.
    states = R.read_rollup(spark, path)
    n_rows = states.count()
    n_keys = states.select("bucket_ts", "event_type").distinct().count()
    R.compact_rollup(spark, path, ("event_type",))
    compacted = R.read_rollup(spark, path)
    assert compacted.count() == n_keys <= n_rows
    after = read_answers()
    for k in direct:
        assert after[k]["cnt"] == before[k]["cnt"]
        assert after[k]["p99"] == before[k]["p99"]
        assert after[k]["uniq_users_est"] == before[k]["uniq_users_est"]


def test_compact_crash_recovery(spark, sf_med, tmp_path):
    """A compaction that died between its two renames leaves the data
    under .compact.old; the next read restores it."""
    ev = load_table(spark, sf_med, "events")
    path = str(tmp_path / "rollup")
    R.append_increment(ev, path, "day", ("event_type",))
    want = R.read_rollup(spark, path).count()
    import os

    os.rename(path, path + ".compact.old")  # simulated crash window
    assert R.read_rollup(spark, path).count() == want
    assert os.path.exists(path)


def test_rollup_oracles_match_duckdb(spark, sf_med):
    """Executes every rollup_* oracle string against DuckDB at the
    driver's adjudication scale (these entries register after the
    50-slot window, so pytest is their oracle gate — the tpch_*
    pattern)."""
    import duckdb

    from clickhouse_observability_spark.registry import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    names = sorted(n for n in oracles if n.startswith("rollup_"))
    assert names, "rollup entries must be registered"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_med}/events.parquet'")
    for name in names:
        sdf = qs[name](spark, sf_med)
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        assert sorted(sdf.columns) == sorted(dcols), name
        idx = [dcols.index(c) for c in sdf.columns]

        def norm(rows):
            return sorted(
                tuple(str(v) for v in r) for r in rows)

        srows = norm(tuple(r) for r in sdf.collect())
        drows = norm(tuple(r[i] for i in idx) for r in res.fetchall())
        assert srows == drows, name


def test_state_size_is_bounded(spark, sf_med):
    """The whole point at 100 TB: state size ~ O(log dynamic range),
    not O(rows). For values in (0.01, 500] at gamma=1.02 that is
    <= ln(5e4)/ln(1.02) ~ 547 buckets."""
    ev = load_table(spark, sf_med, "events")
    states = R.build_rollup(ev, "month", ("event_type",))
    bound = int(math.log(5e4) / math.log(R.GAMMA)) + 2
    mx = states.select(F.max(F.size("value_hist")).alias("s")).collect()[0]["s"]
    assert 0 < mx <= bound


def test_topk_state_exact_under_capacity_and_merge_invariant(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    rows = []
    base = dt.datetime(2025, 9, 1)
    # 2 types x 2 days x 3 hours, 12 users: well under TOPK_MAX_TRACKED
    for d in range(2):
        for h in range(3):
            for et in ("a", "b"):
                for u in range(12):
                    for _ in range((u + d + h) % 5 + 1):
                        rows.append(
                            (base + dt.timedelta(days=d, hours=h), et,
                             float(u), u)
                        )
    ev = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double, user_id long"
    )
    fine = R.build_rollup(ev, "hour", ("event_type",), topk_col="user_id")
    merged = R.merge_states(fine, ("event_type",), "day")
    got = {}
    for r in R.finalize(merged, topk_k=3).collect():
        got[(r.bucket_ts, r.event_type)] = {
            (e["item"], e["count"]) for e in r.top_items_est
        }
    # exact reference: under capacity the sketch IS the exact counts
    exact = (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("d"), "event_type", "user_id"
        )
        .count()
        .collect()
    )
    ref = {}
    for r in exact:
        ref.setdefault((r.d, r.event_type), []).append((r.user_id, r["count"]))
    for k, pairs in ref.items():
        pairs.sort(key=lambda p: (-p[1], p[0]))
        cut = pairs[2][1]  # count of rank-3: ties may swap membership
        top = {p for p in pairs if p[1] >= cut}
        assert got[k] <= top and len(got[k]) == 3, k
    # merge-on-read == direct build at the coarse grain
    direct = R.build_rollup(ev, "day", ("event_type",), topk_col="user_id")
    got2 = {
        (r.bucket_ts, r.event_type): {
            (e["item"], e["count"]) for e in r.top_items_est
        }
        for r in R.finalize(direct, topk_k=3).collect()
    }
    assert set(got2) == set(got)
    for k in got:
        # same counts either path (exact regime); membership may only
        # differ inside an exact tie at the cut
        assert sorted(c for _, c in got[k]) == sorted(c for _, c in got2[k]), k


def test_rollup_topk_users_entry(spark, sf_small, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    import __spark_entry__ as em

    rows = em.queries()["rollup_topk_users"](spark, sf_small).collect()
    assert rows and all(1 <= r.rank <= 3 for r in rows)
    # ranks are count-descending within each (day, type)
    by_key = {}
    for r in rows:
        by_key.setdefault((r.bucket_ts, r.event_type), []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r.rank)
        counts = [r.n_events for r in rs]
        assert counts == sorted(counts, reverse=True), k


def test_rollup_and_query_log_writes_keep_ts_stats(spark, tmp_path):
    """r7 review: removing the session-wide TIMESTAMP_MICROS pin must
    not revert the OTHER ts-bearing write paths to INT96 (which has
    no footer statistics): rollup stores and query_log flushes both
    carry min/max stats on their timestamp columns."""
    import glob

    import pyarrow.parquet as pq

    def ts_stats_alive(root, col):
        files = glob.glob(f"{root}/**/*.parquet", recursive=True)
        assert files
        seen = False
        for f in files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    if c.path_in_schema == col:
                        assert c.statistics and c.statistics.has_min_max, f
                        seen = True
        assert seen, (root, col)

    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 11:00:00", 2.0)],
        "user_id long, ts string, value double",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "value",
                 "'click' AS event_type")
    states = R.build_rollup(ev, "hour", ("event_type",))
    R.write_rollup(states, str(tmp_path / "roll"))
    ts_stats_alive(str(tmp_path / "roll"), "bucket_ts")

    from clickhouse_observability_spark.api.query_log import QueryLog

    ql = QueryLog(maxlen=8)
    ql.record("query", detail="SELECT 1", duration_ms=1.0,
              result_rows=1)
    ql.flush(spark, str(tmp_path / "qlog"))
    ts_stats_alive(str(tmp_path / "qlog"), "ts")
