"""Seeded inputs for the benchmark. The same seed gives the same bytes.

- `logs_table`: the preloaded `logs` dataset of `dashboard_read`
  (services x months, unique timestamps, planted rare message tokens);
- `entries`: wire-form `LogEntry` dicts for `ingest_wire` requests;
- `testdata`: the testdata-shaped tables (`customer orders lineitem
  events documents`, the schemas of the repo's testdata, TESTDATA.md)
  that the `analytics_batch` registry entries read.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SERVICES = [f"svc{i:02d}" for i in range(20)]
LEVELS = np.array(["INFO", "WARN", "ERROR", "DEBUG"])
LEVEL_P = [0.70, 0.15, 0.10, 0.05]
LOGS_START = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
LOGS_DAYS = 90  # Jan 1 .. Mar 31
RARE_TOKENS = [f"tok{i:03d}" for i in range(400)]
USERS = 500
INGEST_TS = dt.datetime(2026, 1, 15, 12, tzinfo=dt.timezone.utc)
_VERBS = ["created", "updated", "deleted", "fetched", "retried", "failed",
          "queued", "shipped", "billed", "cancelled"]
_OBJECTS = ["order", "payment", "invoice", "cart", "session", "user",
            "shipment", "refund"]
_WORDS = ("a the data table row column key value scan sort hash join group "
          "agg filter query spark batch stream window merge part line order "
          "customer vector fast slow big small").split()


def _ts_us(start: dt.datetime) -> int:
    return int(start.timestamp() * 1_000_000)


def logs_table(seed: int, n_rows: int, path: str) -> None:
    """`n_rows` at-rest log rows over 3 months x 20 services, written as
    one parquet file (UTC timestamps, attrs as a JSON string). Each
    timestamp is distinct, so `ORDER BY ts DESC LIMIT n` has one
    answer. About 1 row in 8 carries one rare `tokNNN` message token."""
    rng = np.random.default_rng(seed)
    span = LOGS_DAYS * 86_400_000_000
    step = span // n_rows
    ts = (_ts_us(LOGS_START) + np.arange(n_rows, dtype=np.int64) * step
          + rng.integers(0, step, n_rows))
    order = rng.permutation(n_rows)
    svc = rng.integers(0, len(SERVICES), n_rows)
    lvl = rng.choice(len(LEVELS), n_rows, p=LEVEL_P)
    verb = rng.integers(0, len(_VERBS), n_rows)
    obj = rng.integers(0, len(_OBJECTS), n_rows)
    tok = np.where(rng.random(n_rows) < 0.125,
                   rng.integers(0, len(RARE_TOKENS), n_rows), -1)
    user = np.where(rng.random(n_rows) < 0.8,
                    rng.integers(0, USERS, n_rows), -1)
    ids = rng.integers(0, 1_000_000, n_rows)
    msg = [f"{_OBJECTS[o]} {i} {_VERBS[v]}" + (f" {RARE_TOKENS[t]}"
                                               if t >= 0 else "")
           for o, i, v, t in zip(obj, ids, verb, tok)]
    attrs = [json.dumps({"order_id": str(i), "user": f"user{u}"})
             if u >= 0 else "{}" for i, u in zip(ids, user)]
    table = pa.table({
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "service": pa.array(np.array(SERVICES)[svc]),
        "level": pa.array(LEVELS[lvl]),
        "msg": pa.array(msg),
        "attrs": pa.array(attrs),
        "trace_id": pa.array([f"trace-{i}" for i in ids]),
        "span_id": pa.array([f"span-{k}" for k in range(n_rows)]),
    }).take(order)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def entries(rng: np.random.Generator, n: int, first_id: int,
            now: dt.datetime) -> list[dict]:
    """`n` wire-form LogEntry dicts; `span_id` carries a run-unique
    sequence number so each row can be found exactly once later."""
    base = _ts_us(now)
    svc = rng.integers(0, len(SERVICES), n)
    lvl = rng.choice(len(LEVELS), n, p=LEVEL_P)
    verb = rng.integers(0, len(_VERBS), n)
    out = []
    for k in range(n):
        t = dt.datetime.fromtimestamp((base + k) / 1e6, dt.timezone.utc)
        out.append({
            "ts": t.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
            "service": SERVICES[svc[k]], "level": str(LEVELS[lvl[k]]),
            "msg": f"{_OBJECTS[k % len(_OBJECTS)]} {first_id + k} "
                   f"{_VERBS[verb[k]]}",
            "attrs": {"user": f"user{(first_id + k) % USERS}"},
            "trace_id": f"trace-{first_id + k}",
            "span_id": str(first_id + k),
        })
    return out


def _write(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.datetime, n_days: int, n: int) -> pa.Array:
    us = _ts_us(start) + rng.integers(0, n_days, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def testdata(seed: int, scale: float, path: str) -> None:
    """Testdata-shaped tables at `scale` (1.0 = sf1 sizes; lineitem has
    6M x scale rows). Distributions follow the repo's synthetic testdata:
    uniform keys and dates, 2-decimal money, a 30-word vocabulary for
    document text with a few exact copies."""
    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = max(200, int(50_000 * scale))
    epoch95 = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)

    _write(path, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
             "BUILDING"], n_cust)),
    })
    _write(path, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(rng, epoch95, 2404, n_ord),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)),
    })
    _write(path, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, max(1, n_li // 30), n_li)),
        "l_suppkey": pa.array(rng.integers(0, max(1, n_li // 600), n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": _days(rng, epoch95 + dt.timedelta(days=1), 2498,
                            n_li),
    })
    ev_us = (_ts_us(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc))
             + np.sort(rng.choice(30 * 86_400_000_000, n_ev,
                                  replace=False)))
    _write(path, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(rng.permutation(ev_us), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev)),
        "event_type": pa.array(rng.choice(
            ["signup", "click", "error", "view", "purchase"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, n_ev)]),
    })
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         rng.integers(8, 100))])
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, max(2, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]  # exact duplicates
    _write(path, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "es", "zh", "de", "fr"], n_doc,
                                    p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
