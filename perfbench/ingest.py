"""`ingest_wire`: gRPC-Web `BatchWrite` through the streaming batcher.

Four generator threads, one connection each: two senders, one
visibility probe and one reader.

- Steady phase (open loop): each sender sends at a fixed mean rate on a
  seeded schedule whose gaps vary from 0.5 to 1.5 periods, so arrivals
  do not lock to the engine's trigger cycle; every request carries a
  marker row (service `__probe`). The probe polls
  `/v1/logs?service=__probe` on a jittered schedule too; a marker
  became visible between the first poll that returns it and the poll
  before (or its send, if later), and its lag is the midpoint minus its
  request's due time. The reader sends the dashboard statement mix at
  a low rate; its hasToken statements, whose answer ingest cannot
  change, must count nothing. Writes and reads are timed from their
  due time.
- Burst phase (closed loop): the senders push a fixed row count back to
  back; the phase ends when the last burst marker is visible.

Set-up ends with a warm-up that sends a few requests one at a time,
each awaited until visible, so it runs the same triggers on every run.

Request sizes are a seeded spread; sizes matter because the trigger cap
counts inbox files (one per request), not rows. Afterwards every
acknowledged row must be visible exactly once.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np

import datagen
import reads
import trace
import wire

PROBE = "__probe"


def _request(rng, size: int, first_id: int, marker_id: int, now):
    """One request of `size` rows: `size - 1` entries and the marker, so
    a request of at most `flush_size` rows stays one inbox file."""
    from clickhouse_observability_spark.api.grpc_transport import (
        encode_batch_write_request,
    )

    rows = datagen.entries(rng, size - 1, first_id, now)
    rows.append({"ts": now.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
                 "service": PROBE, "level": "INFO",
                 "msg": f"marker {marker_id}", "attrs": {},
                 "trace_id": "", "span_id": str(first_id + size - 1)})
    ids = range(first_id, first_id + size)
    return (wire.GrpcWebClient.frame(encode_batch_write_request(rows)),
            len(rows), marker_id, sum(ids))


def known_answer(op: tuple):
    """The answer of a statement that ingest cannot change, else None:
    ingested messages never carry a `tokNNN` token, so every hasToken
    statement counts nothing."""
    q = op[2].get("q", "")
    if "hasToken" not in q:
        return None
    return [] if "GROUP BY" in q else [(0,)]


def run(ctx) -> dict:
    cfg = ctx.cfg
    data_dir = os.path.join(ctx.run_dir, "data")
    eng = wire.Engine(ctx.run_dir, ["serve", "--data-dir", data_dir],
                      ctx.trace)
    ctx.engine = eng
    rng = np.random.default_rng(ctx.seed)
    # a fixed event time: the same seed sends the same bytes on every run
    now = datagen.INGEST_TS
    lo_size, hi_size = cfg["request_rows"]
    next_id = n_markers = 0
    plans = {}  # phase -> per-sender request lists

    def make(n_requests: int):
        """Requests whose sizes are an evenly spaced spread over
        `request_rows`, in seeded order: every seed sends as many rows."""
        nonlocal next_id, n_markers
        out = []
        sizes = np.linspace(lo_size, hi_size, n_requests).round()
        for size in rng.permutation(sizes.astype(int)).tolist():
            out.append(_request(rng, size, next_id, n_markers, now))
            n_markers += 1
            next_id += size
        return out

    n_steady = max(1, round(ctx.seconds * cfg["sender_rate"]))
    plans["warm"] = [make(cfg["warm_requests"])]
    plans["steady"] = [make(n_steady) for _ in range(2)]
    mean_rows = (lo_size + hi_size) / 2
    n_burst = max(1, round(cfg["burst_rows"] / mean_rows / 2))
    plans["burst"] = [make(n_burst) for _ in range(2)]
    dom = reads.Domain(now.replace(hour=0, minute=0, second=0,
                                   microsecond=0, tzinfo=None), 1)
    read_ops = reads.pool(rng, dom, 1000, cfg["read_mix"],
                          cfg["repeat_share"], cfg["hot_statements"])

    ready = eng.ready()
    http_port, grpc_port, ui = ready["http"], ready["grpc"], ready["ui"]
    ops = wire.Ops()
    acked: list[tuple[float, int, int]] = []  # (ack time, rows, id sum)
    seen: dict[int, float] = {}
    due_of: dict[int, float] = {}
    stop = threading.Event()

    def send(client, req, due: float, kind: str) -> None:
        framed, n, mid, id_sum = req
        due_of[mid] = due
        try:
            status, written = client.call(framed)
            ok = status == 0 and written == n
            why = f"grpc-status {status}, written {written} of {n}"
        except Exception as e:  # noqa: BLE001 - every failure is counted
            ok, why = False, repr(e)
        t = time.time()
        if ok:
            with ops.lock:
                acked.append((t, n, id_sum))
        ops.add(kind, (t - due) * 1e3, ok, why)

    def sender(reqs_steady, reqs_burst, dues, t0: float,
               burst_go: threading.Event):
        client = wire.GrpcWebClient(grpc_port)
        for req, offset in zip(reqs_steady, dues):
            due = t0 + offset
            ops.pace(due)
            send(client, req, due, "write")
        burst_go.wait()
        for req in reqs_burst:
            send(client, req, time.time(), "burst_write")
        client.close()

    probe_params = {"service": PROBE, "limit": "1000",
                    "from": (now - dt.timedelta(hours=1)).strftime(
                        "%Y-%m-%dT%H:%M:%SZ"),
                    "to": (now + dt.timedelta(hours=1)).strftime(
                        "%Y-%m-%dT%H:%M:%SZ")}

    def probe(t0: float):
        period = 1.0 / cfg["probe_rate"]
        jitter = np.random.default_rng(ctx.seed + 1)
        due = prev = t0
        while not stop.is_set():
            if (wait := due - time.time()) > 0:
                time.sleep(wait)
            sent = time.time()
            try:
                status, body = wire.http_get(http_port, "/v1/logs",
                                             probe_params)
                ok = status == 200
                if ok:
                    # visible between the previous poll (or the send,
                    # if later) and this one
                    for r in body["logs"]:
                        mid = int(r["Msg"].split()[1])
                        lo = max(prev, due_of.get(mid, prev))
                        seen.setdefault(mid, (lo + sent) / 2)
            except Exception as e:  # noqa: BLE001
                ok, status = False, repr(e)
            ops.add("probe", (time.time() - sent) * 1e3, ok, f"{status}")
            prev = sent
            # jittered period: polls do not lock to the senders' phase
            due = max(due + period * jitter.uniform(0.5, 1.5), time.time())

    def reader(t0: float):
        for op, offset in zip(read_ops, schedule(cfg["read_rate"],
                                                 len(read_ops), 99)):
            due = t0 + offset
            ops.pace(due)
            if stop.is_set():
                return
            reads.read(ops, http_port, op, due, known_answer(op))

    def schedule(rate: float, n: int, stream: int):
        """Seeded open-loop due offsets: gaps of 0.5..1.5 mean periods,
        so arrivals do not lock to the engine's trigger cycle."""
        gaps = np.random.default_rng([ctx.seed, stream]).uniform(
            0.5, 1.5, n) / rate
        return (np.cumsum(gaps) - gaps[0] / 2).tolist()

    def wait_visible(mids, timeout: float) -> bool:
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            if all(m in seen for m in mids):
                return True
            eng.wait(0.1)
        return False

    def await_marker(mid: int, timeout: float) -> bool:
        """Poll /v1/logs every 50 ms until marker `mid` is visible."""
        want = f"marker {mid}"
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            try:
                status, body = wire.http_get(http_port, "/v1/logs",
                                             probe_params)
            except Exception:  # noqa: BLE001 - a timeout fails the warm-up
                status = None
            if status == 200 and any(r["Msg"] == want for r in body["logs"]):
                return True
            eng.wait(0.05)
        return False

    # -- warm-up: cold triggers and the cold query paths -----------------
    # one request at a time, each awaited: the warm-up runs the same
    # triggers whatever the phase of the engine's trigger clock
    t_ready = time.perf_counter()
    warm_client = wire.GrpcWebClient(grpc_port)
    for req in plans["warm"][0]:
        send(warm_client, req, time.time(), "warm_write")
        ops.add("warm_visible", 0.0, await_marker(req[2], 60),
                f"warm marker {req[2]} not visible in 60 s")
    warm_client.close()
    for op in read_ops[:cfg["warm_reads"]]:
        reads.read(ops, http_port, op, time.time(), known_answer(op),
                   "warm_read")
    read_ops = read_ops[cfg["warm_reads"]:]
    eng.send("mark")
    m0 = eng.recv(30)
    files0 = trace.parquet_files(os.path.join(data_dir, "logs"))
    ctx.mark_setup_done()

    # -- steady phase ----------------------------------------------------
    snap0 = wire.spark_snapshot(ui)
    cpu0 = eng.cpu_s()
    t0 = time.time() + 0.05
    probe_thread = threading.Thread(target=probe, args=(t0,), daemon=True)
    probe_thread.start()
    burst_go = threading.Event()
    dues = [schedule(cfg["sender_rate"], n_steady, i) for i in range(2)]
    senders = [threading.Thread(daemon=True, target=sender, args=(
        plans["steady"][i], plans["burst"][i], dues[i], t0, burst_go))
        for i in range(2)]
    read_thread = threading.Thread(target=reader, args=(t0,), daemon=True)
    for t in (*senders, read_thread):
        t.start()
    steady_end = t0 + max(d[-1] for d in dues)
    eng.wait(max(0.0, steady_end - time.time()))
    steady_markers = [r[2] for lst in plans["steady"] for r in lst]
    wait_visible(steady_markers, 60)
    snap1 = wire.spark_snapshot(ui)

    # -- burst phase -----------------------------------------------------
    t_burst = time.time()
    burst_go.set()
    burst_markers = [r[2] for lst in plans["burst"] for r in lst]
    complete = wait_visible(burst_markers, 150)
    window_cpu = eng.cpu_s() - cpu0
    t_visible = max((seen[m] for m in burst_markers if m in seen),
                    default=time.time())
    stop.set()
    for t in (*senders, read_thread, probe_thread):
        t.join()
    snap2 = wire.spark_snapshot(ui)
    t_end = time.time()
    eng.send("mark")
    m1 = eng.recv(30)

    # -- exactly once: every acknowledged row visible once ---------------
    n_acked = sum(n for _, n, _ in acked)
    q = ("SELECT count() AS n, uniqExact(span_id) AS d, "
         "sum(toInt64(span_id)) AS s FROM logs")
    want = (n_acked, n_acked, sum(s for _, _, s in acked))
    got = None
    for _ in range(40):
        status, body = wire.http_get(http_port, "/v1/query", {"q": q})
        if status == 200:
            got = tuple(body["data"][0][k] for k in ("n", "d", "s"))
            if got == want:
                break
        eng.wait(0.5)
    once_ok = got == want and complete
    ops.add("exactly_once", 0.0, once_ok,
            f"(rows, distinct ids, id sum) {got} != {want}, "
            f"all burst markers visible: {complete}")
    eng.stop()
    files = trace.parquet_files(os.path.join(data_dir, "logs"))
    inbox = len([f for f in os.listdir(os.path.join(data_dir, "inbox"))
                 if f.endswith(".jsonl")])

    # -- metrics ---------------------------------------------------------
    lag = [(seen[m] - due_of[m]) * 1e3 if m in seen else wire.TIMEOUT_S * 1e3
           for m in steady_markers]
    lag_q, lag_tail = wire.tail(lag)
    ack = ops.lat("write")
    ack_q, ack_tail = wire.tail(ack)
    rd = ops.lat("read")
    rd_q, rd_tail = wire.tail(rd) if rd else (None, None)
    burst_rows = sum(r[1] for lst in plans["burst"] for r in lst)
    rows_per_s = burst_rows / max(1e-3, t_visible - t_burst)
    stored = sum(files.values()) / max(1, n_acked)
    late = ops.late or [0.0]
    measured = [it for it in ops.items if not it[0].startswith("warm")]
    written = [b for f, b in files.items() if f not in files0]
    layer = {
        "writer.files_written": len(written),
        "writer.bytes_written": sum(written),
        "batcher.inbox_files": inbox,
        **trace.cache_metrics(m0["cache"], m1["cache"]),
    }
    tr = trace.load(data_dir) if ctx.trace else None
    client_busy = sum(ms for k, ms, _ in measured
                      if k in ("write", "burst_write", "read", "probe")) / 1e3
    if tr is not None:
        layer.update(trace.span_metrics(tr, t0, t_end, client_busy))
    layer.update(trace.batcher_metrics(
        tr, trace.batch_rows(data_dir), t0, t_end, acked))
    steady_spark = wire.spark_diff(snap0, snap1)
    layer.update({k: steady_spark[k] + v for k, v in
                  wire.spark_diff(snap1, snap2).items()})
    failed = sum(1 for _, _, ok in ops.items if not ok)
    cpu_per_1k = 1e6 * window_cpu / max(
        1, sum(n for t, n, _ in acked if t >= t0))
    return {
        "e2e": {"engine_cpu_ms": cpu_per_1k},
        "layer": layer,
        "attempted": len(ops.items), "failed": failed,
        "errors": ops.errors,
        "detail": {
            "setup_ready_s": t_ready - ctx.t_process,
            "setup_warm_s": ctx.setup_s - (t_ready - ctx.t_process),
            "ingest_rows_per_s": rows_per_s,
            "reference_floor_entries_per_s": 5000,
            "burst_rows": burst_rows,
            "visible_lag_p50_ms": wire.median(lag),
            "visible_lag_tail_ms": lag_tail, "visible_lag_tail_pct": lag_q,
            "visible_lag_samples": len(lag),
            "write_ack_p50_ms": wire.median(ack), "write_ack_tail_ms": ack_tail,
            "write_ack_tail_pct": ack_q, "write_ack_samples": len(ack),
            "read_p50_ms": wire.median(rd) if rd else None,
            "read_tail_ms": rd_tail, "read_tail_pct": rd_q,
            "read_samples": len(rd),
            "stored_bytes_per_row": stored,
            "rows_acked": n_acked, "files_at_rest": len(files),
            "generator_late_p50_ms": wire.median(late),
            "generator_late_max_ms": max(late),
            "generator_behind": max(late) > cfg["late_limit_ms"],
            "sends_blocked_by_open_request": ops.blocked,
            "failed_share": failed / max(1, len(ops.items)),
            "spark_steady": steady_spark,
            "spark_burst": wire.spark_diff(snap1, snap2),
        },
    }
