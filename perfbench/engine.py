"""Engine side of the benchmark: one Spark process per run.

    python3 perfbench/engine.py serve --data-dir D [--preload P] [--trace 1]
    python3 perfbench/engine.py batch --sf-dir S [--trace 1]

`serve` boots an `EngineServer` on ephemeral ports and fronts it
exactly as `python -m clickhouse_observability_spark.server` would;
`--preload` first appends a parquet dataset through the public
`LogsTable.insert` and `RollupView.apply` calls. `batch` runs registry
entries on request. Both speak a line protocol with the load
generator (`run.py`): replies are stdout lines starting with `@@`,
commands arrive on stdin.

With `--trace 1` the public functions of each layer are wrapped before
the server starts, spans are kept in memory (name, start, end, parent,
request id) and written to `<data-dir>/trace.json` at exit together
with the streaming progress events and the result-cache counters.
The Spark UI (and with it the `/api/v1` REST surface the generator
reads stage metrics from) is only enabled in traced runs.
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import socket
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def say(obj) -> None:
    sys.stdout.write("@@" + json.dumps(obj) + "\n")
    sys.stdout.flush()


# -- tracing ---------------------------------------------------------------

class Tracer:
    """In-memory spans. A span opened inside another on the same thread
    is its child and inherits its request id."""

    def __init__(self):
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def wrap(self, owner, attr: str, name: str, rid=None) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **k):
            stack = self._local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            sid = next(self._ids)
            req = (parent[1] if parent else
                   rid(*a, **k) if rid else f"r{sid}")
            stack.append((sid, req))
            t0 = time.time()
            try:
                return fn(*a, **k)
            finally:
                t1 = time.time()
                stack.pop()
                with self._lock:
                    self.spans.append(
                        (name, t0, t1, sid, parent[0] if parent else None,
                         req))

        setattr(owner, attr, traced)


def install_wrappers(tracer: Tracer) -> None:
    from clickhouse_observability_spark.api import grpc_transport as G
    from clickhouse_observability_spark.api import http as H
    from clickhouse_observability_spark.functions import ch_dialect as D
    from clickhouse_observability_spark.sources import writer as W
    from clickhouse_observability_spark.streaming import batcher as B
    from clickhouse_observability_spark.streaming import rollup_view as RV

    w = tracer.wrap
    w(G, "decode_batch_write_request", "grpc_transport.decode")
    w(G.LogServiceHandler, "batch_write", "grpc_transport.batch_write")
    w(B.IngestStream, "submit_many", "batcher.submit")
    w(B.IngestStream, "_write_batch", "batcher.foreach_batch",
      rid=lambda self, df, batch_id: f"b{batch_id}")
    w(W.LogsTable, "insert", "writer.insert")
    w(RV.RollupView, "apply", "rollup_view.apply")
    w(H.LogsApi, "query_logs_handler", "http.logs")
    w(H.LogsApi, "query_handler", "http.query")
    w(H.LogsApi, "stats_handler", "http.stats")
    w(D, "ch_sql", "ch_dialect.ch_sql")


def progress_listener(events: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append({
                "batch_id": p.batchId, "at": time.time(),
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


# -- session ---------------------------------------------------------------

def start_spark(trace: bool):
    if trace:
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        confs = {"spark.ui.enabled": "true", "spark.ui.port": str(port),
                 "spark.ui.retainedJobs": "100000",
                 "spark.ui.retainedStages": "100000",
                 "spark.ui.retainedTasks": "1000",
                 "spark.ui.showConsoleProgress": "false"}
    else:
        confs = {"spark.ui.enabled": "false",
                 "spark.ui.showConsoleProgress": "false"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    from clickhouse_observability_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ui_base(spark) -> str | None:
    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    return f"{url}/api/v1/applications/{spark.sparkContext.applicationId}"


# -- serve -----------------------------------------------------------------

def preload(spark, server, path: str) -> None:
    from clickhouse_observability_spark.schema import LOGS_COLUMNS
    from clickhouse_observability_spark.streaming.rollup_view import (
        RollupView,
    )

    df = spark.read.parquet(path).select(*LOGS_COLUMNS)
    # the server's own view object reads the same directory; -1 keeps
    # the preload increment clear of the stream's batch ids (0, 1, ...)
    view = RollupView(os.path.join(server.data_dir, "mv", "logs_hourly"))
    # the two writes are independent; overlapping them halves set-up
    rollup = threading.Thread(target=view.apply, args=(df, -1))
    rollup.start()
    server.table.insert(df)
    rollup.join()


def serve(args, spark, tracer) -> None:
    from clickhouse_observability_spark.server import EngineServer

    events: list = []
    if tracer is not None:
        install_wrappers(tracer)
        spark.streams.addListener(progress_listener(events))
    server = EngineServer(spark, data_dir=args.data_dir,
                          http_addr="127.0.0.1:0",
                          grpc_addr="127.0.0.1:0").start()
    if args.preload:
        preload(spark, server, args.preload)
    http_port, grpc_port = server.ports
    say({"ready": True, "http": http_port, "grpc": grpc_port,
         "ui": ui_base(spark)})
    cache = server._api._cache

    def counters() -> dict:
        return {"hits": cache.hits, "misses": cache.misses} if cache else {}

    for line in sys.stdin:
        if line.strip() == "stop":
            break
        if line.strip() == "mark":  # phase boundary
            say({"mark": time.time(), "cache": counters()})
    server.stop()
    if tracer is not None:
        dump(args.data_dir, tracer, events, counters())
    say({"stopped": True})


def dump(data_dir: str, tracer: Tracer, events: list, cache: dict) -> None:
    with open(os.path.join(data_dir, "trace.json"), "w") as f:
        json.dump({"spans": tracer.spans, "progress": events,
                   "cache": cache}, f)


# -- batch -----------------------------------------------------------------

def batch(args, spark) -> None:
    import __spark_entry__ as entry

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from selfcheck import table_hash

    queries = entry.queries()
    say({"ready": True, "ui": ui_base(spark)})
    for line in sys.stdin:
        cmd = line.split()
        if not cmd or cmd[0] == "stop":
            break
        name = cmd[1]
        try:
            t0 = time.perf_counter()
            df = queries[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
            say({"entry": name, "build_ms": (t1 - t0) * 1e3,
                 "exec_ms": (t2 - t1) * 1e3, "rows": len(rows),
                 "hash": table_hash(df.columns, rows),
                 "columns": sorted(df.columns)})
        except Exception as e:  # reported as a failed operation
            say({"entry": name, "error": f"{type(e).__name__}: {e}"[:500]})
    say({"stopped": True})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("serve", "batch"))
    ap.add_argument("--data-dir")
    ap.add_argument("--preload")
    ap.add_argument("--sf-dir")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spark = start_spark(bool(args.trace))
    try:
        if args.mode == "serve":
            serve(args, spark, Tracer() if args.trace else None)
        else:
            batch(args, spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
