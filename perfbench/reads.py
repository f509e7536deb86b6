"""The dashboard statement mix: `/v1/logs`, `/v1/query`, `/v1/stats`.

`pool()` draws a seeded sequence of read operations over a data domain
(services, days, months, users, message tokens). A stated share of the
`/v1/query` statements comes from a small hot set, so the result cache
can hit; the rest draw fresh parameters. `Oracle` answers every
operation independently with DuckDB over the parquet the engine was
loaded from, and `answer()` reduces an HTTP reply to the same shape.
"""

from __future__ import annotations

import datetime as dt
import time

import datagen
import wire

LIMIT = 100


def _iso(d: dt.datetime) -> str:
    return d.strftime("%Y-%m-%dT%H:%M:%SZ")


def _sql_ts(d: dt.datetime) -> str:
    return d.strftime("%Y-%m-%d %H:%M:%S")


class Domain:
    """Parameter ranges of the statements: `days` consecutive UTC days
    from `start`."""

    def __init__(self, start: dt.datetime, days: int):
        self.start = start
        self.days = days

    def day(self, rng) -> dt.datetime:
        return self.start + dt.timedelta(days=int(rng.integers(0, self.days)))


def _logs(rng, dom: Domain) -> tuple:
    svc = datagen.SERVICES[rng.integers(0, len(datagen.SERVICES))]
    kind = int(rng.integers(0, 3))
    day = dom.day(rng)
    p = {"service": svc}
    if kind == 2:  # user filter over a 4-week window
        p["from"], p["to"] = _iso(day), _iso(day + dt.timedelta(days=28))
        p["user"] = f"user{rng.integers(0, datagen.USERS)}"
    else:
        p["from"], p["to"] = _iso(day), _iso(day + dt.timedelta(days=1))
        if kind == 1:
            p["level"] = str(datagen.LEVELS[rng.integers(0, 4)])
    return ("logs", "/v1/logs", p)


def _query(rng, dom: Domain) -> tuple:
    svc = datagen.SERVICES[rng.integers(0, len(datagen.SERVICES))]
    kind = int(rng.integers(0, 4))
    day = dom.day(rng)
    if kind == 0:  # per-level counts over a week of one service
        q = (f"SELECT level, count() AS n FROM logs WHERE service = '{svc}'"
             f" AND ts >= '{_sql_ts(day)}'"
             f" AND ts < '{_sql_ts(day + dt.timedelta(days=7))}'"
             f" AND toYYYYMM(ts) = {day.year * 100 + day.month}"
             " GROUP BY level ORDER BY level")
    elif kind == 1:  # top users of one service-month from the JSON attrs
        q = ("SELECT JSONExtractString(attrs, 'user') AS u, count() AS n "
             f"FROM logs WHERE service = '{svc}'"
             f" AND toYYYYMM(ts) = {day.year * 100 + day.month}"
             " AND JSONExtractString(attrs, 'user') != ''"
             " GROUP BY u ORDER BY n DESC, u LIMIT 5")
    else:  # log search through the tokenbf index
        tok = datagen.RARE_TOKENS[rng.integers(0, len(datagen.RARE_TOKENS))]
        if kind == 2:
            q = f"SELECT count() AS n FROM logs WHERE hasToken(msg, '{tok}')"
        else:
            lvl = datagen.LEVELS[rng.integers(0, 2)]
            q = ("SELECT service, count() AS n FROM logs WHERE "
                 f"hasToken(msg, '{tok}') AND level = '{lvl}' "
                 "GROUP BY service ORDER BY service")
    return ("query", "/v1/query", {"q": q})


def _stats(rng, dom: Domain) -> tuple:
    svc = datagen.SERVICES[rng.integers(0, len(datagen.SERVICES))]
    day = dom.day(rng)
    return ("stats", "/v1/stats", {
        "granularity": "day", "service": svc, "from": _iso(day),
        "to": _iso(day + dt.timedelta(days=14))})


def pool(rng, dom: Domain, n: int, mix: dict, repeat_share: float,
         hot: int) -> list[tuple]:
    """`n` operations; `mix` gives the share of each route."""
    hot_set = [_query(rng, dom) for _ in range(hot)]
    kinds = list(mix)
    picks = rng.choice(len(kinds), n, p=[mix[k] for k in kinds])
    out = []
    for k in picks:
        kind = kinds[k]
        if kind == "query" and rng.random() < repeat_share:
            out.append(hot_set[rng.integers(0, hot)])
        else:
            out.append({"logs": _logs, "query": _query,
                        "stats": _stats}[kind](rng, dom))
    return out


def answer(op: tuple, body) -> object:
    """The comparable core of a 200 reply."""
    kind = op[0]
    if kind == "logs":
        return [r["SpanID"] for r in body["logs"]]
    if kind == "query":
        names = [m["name"] for m in body["meta"]]
        return [tuple(r[c] for c in names) for r in body["data"]]
    return sorted((r["Bucket"], r["Level"], r["Count"])
                  for r in body["stats"])


class Oracle:
    """DuckDB over the source parquet of the preloaded table."""

    def __init__(self, parquet_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            "CREATE TABLE logs AS SELECT ts::TIMESTAMP AS ts, service, "
            "level, msg, attrs, span_id, "
            "json_extract_string(attrs, '$.user') AS usr, "
            "string_split(msg, ' ') AS toks "
            f"FROM '{parquet_dir}/*.parquet'")

    def expected(self, op: tuple) -> object:
        kind, _, p = op
        if kind == "logs":
            where, args = "service = ? AND ts >= ? AND ts < ?", [
                p["service"], _parse(p["from"]), _parse(p["to"])]
            if "level" in p:
                where += " AND level = ?"
                args.append(p["level"])
            if "user" in p:
                where += " AND usr = ?"
                args.append(p["user"])
            rows = self.con.execute(
                f"SELECT span_id FROM logs WHERE {where} "
                f"ORDER BY ts DESC LIMIT {LIMIT}", args).fetchall()
            return [r[0] for r in rows]
        if kind == "stats":
            rows = self.con.execute(
                "SELECT strftime(date_trunc('day', ts), "
                "'%Y-%m-%dT%H:%M:%SZ'), level, count(*) FROM logs "
                "WHERE service = ? AND date_trunc('day', ts) >= ? "
                "AND date_trunc('day', ts) < ? GROUP BY ALL",
                [p["service"], _parse(p["from"]), _parse(p["to"])]
            ).fetchall()
            return sorted(rows)
        return [tuple(r) for r in self.con.execute(_duck(p["q"])).fetchall()]


def _parse(s: str) -> dt.datetime:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")


def _duck(q: str) -> str:
    """The ClickHouse statement of `_query` in DuckDB's dialect."""
    import re

    q = q.replace("count()", "count(*)")
    q = q.replace("JSONExtractString(attrs, 'user')", "usr")
    q = re.sub(r"toYYYYMM\(ts\)", "(year(ts) * 100 + month(ts))", q)
    q = re.sub(r"hasToken\(msg, '(\w+)'\)", r"list_contains(toks, '\1')", q)
    q = re.sub(r"ts (>=|<) '([^']+)'", r"ts \1 TIMESTAMP '\2'", q)
    return q


def read(ops, port: int, op: tuple, due: float, expected=None,
         kind: str = "read") -> None:
    """One read, timed from `due`. With `expected` the answer must equal
    it; without, a well-formed 200 reply counts as success."""
    try:
        status, body = wire.http_get(port, op[1], op[2])
        ok = status == 200 and body is not None
        why = f"HTTP {status} {str(body)[:200]}"
        if ok:
            got = answer(op, body)
            if expected is not None and got != expected:
                ok, why = False, f"wrong answer {op[2]}: {got} != {expected}"
    except Exception as e:  # noqa: BLE001 - every failure is counted
        ok, why = False, repr(e)
    ops.add(kind, (time.time() - due) * 1e3, ok, why)
