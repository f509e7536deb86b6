"""`dashboard_read`: read traffic against a table that does not change.

Setup writes a seeded logs dataset, starts the engine with it preloaded
through `LogsTable.insert` and `RollupView.apply`, and builds a
`tokenbf_v1` index on `msg` through `/v1/query` DDL. Meanwhile DuckDB
answers every statement of the seeded mix from the same parquet. After
a warm-up, closed-loop HTTP clients send the mix until `--seconds` have
passed; there is no ingest. Every answer must equal DuckDB's.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

import datagen
import reads
import trace
import wire

DDL = ("ALTER TABLE logs ADD INDEX msg_tokens msg TYPE tokenbf_v1(8192, 4, 0)",
       "ALTER TABLE logs MATERIALIZE INDEX msg_tokens")


def run(ctx) -> dict:
    cfg = ctx.cfg
    src = os.path.join(ctx.run_dir, "src")
    data_dir = os.path.join(ctx.run_dir, "data")
    datagen.logs_table(ctx.seed, cfg["rows"], src)
    eng = wire.Engine(ctx.run_dir, ["serve", "--data-dir", data_dir,
                                    "--preload", src], ctx.trace)
    ctx.engine = eng
    rng = np.random.default_rng(ctx.seed)
    dom = reads.Domain(datagen.LOGS_START.replace(tzinfo=None),
                       datagen.LOGS_DAYS - 28)
    warm = reads.pool(rng, dom, cfg["warm_reads"], cfg["read_mix"], 0, 1)
    ops_pool = reads.pool(rng, dom, cfg["pool"], cfg["read_mix"],
                          cfg["repeat_share"], cfg["hot_statements"])
    oracle = reads.Oracle(src)
    expected = {}
    for op in warm + ops_pool:
        key = repr(op)
        if key not in expected:
            expected[key] = oracle.expected(op)
    oracle.con.close()

    t_oracle = time.perf_counter()
    ready = eng.ready()
    t_ready = time.perf_counter()
    port, ui = ready["http"], ready["ui"]
    ops = wire.Ops()
    for q in DDL:
        status, body = wire.http_get(port, "/v1/query", {"q": q})
        ops.add("warm_ddl", 0.0, status == 200, f"{q}: {status} {body}")
    for op in warm:
        reads.read(ops, port, op, time.time(), expected[repr(op)],
                     "warm_read")
    t_warm = time.perf_counter()
    files = trace.parquet_files(os.path.join(data_dir, "logs"))
    eng.send("mark")
    m0 = eng.recv(30)
    ctx.mark_setup_done()

    snap0 = wire.spark_snapshot(ui)
    cpu0 = eng.cpu_s()
    lock = threading.Lock()
    cursor = iter(ops_pool)
    t0 = time.time()
    deadline = t0 + ctx.seconds

    def client():
        while time.time() < deadline:
            with lock:
                op = next(cursor, None)
            if op is None:
                return
            reads.read(ops, port, op, time.time(), expected[repr(op)])

    threads = [threading.Thread(target=client, daemon=True)
               for _ in range(cfg["clients"])]
    for t in threads:
        t.start()
    eng.wait(max(0.0, deadline - time.time()))
    for t in threads:
        t.join()
    t_end = time.time()
    cpu = eng.cpu_s() - cpu0
    snap1 = wire.spark_snapshot(ui)
    eng.send("mark")
    m1 = eng.recv(30)
    eng.stop()

    rd = ops.lat("read")
    q, rd_tail = wire.tail(rd)
    n_ok = sum(1 for k, _, ok in ops.items if k == "read" and ok)
    qps = n_ok / (t_end - t0)
    layer = {
        "writer.files_written": 0, "writer.bytes_written": 0,
        **trace.cache_metrics(m0["cache"], m1["cache"]),
    }
    if ctx.trace:
        layer.update(trace.span_metrics(
            trace.load(data_dir), t0, t_end, sum(rd) / 1e3))
    layer.update(wire.spark_diff(snap0, snap1))
    failed = sum(1 for _, _, ok in ops.items if not ok)
    n_rows = cfg["rows"]
    return {
        "e2e": {"engine_cpu_ms": 1e3 * cpu / max(1, len(rd))},
        "layer": layer,
        "attempted": len(ops.items), "failed": failed,
        "errors": ops.errors,
        "detail": {
            "read_p50_ms": wire.median(rd), "read_tail_ms": rd_tail,
            "read_tail_pct": q, "read_samples": len(rd), "read_qps": qps,
            "pool_exhausted": next(cursor, None) is None,
            "preloaded_rows": n_rows,
            "stored_bytes_per_row": sum(files.values()) / n_rows,
            "files_at_rest": len(files),
            "failed_share": failed / max(1, len(ops.items)),
            "setup_oracle_done_s": t_oracle - ctx.t_process,
            "setup_engine_ready_s": t_ready - ctx.t_process,
            "setup_index_and_warm_s": t_warm - t_ready,
        },
    }
