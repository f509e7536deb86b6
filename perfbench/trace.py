"""Per-layer numbers: engine spans, streaming progress, the data dir.

Spans come from the traced engine (`engine.py`, `trace.json`). A span's
layer is its name up to the first dot; its self time is its duration
minus the union of its children's intervals. Shares are self time over
the wall time of the measured window (average busy threads), and
`trace.unattributed_share` is the part of the clients' waiting that no
top-level server span covers.

Rows per trigger are counted from the data dir, not from Spark: the file
source's log under `checkpoint/sources/0` names the inbox files of each
batch, and each inbox file holds one JSON row per line.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

LAYERS = ("grpc_transport", "batcher", "writer", "rollup_view", "http",
          "ch_dialect")
# per-call mean latency metrics: metric name -> span name
SPAN_MS = {
    "grpc_transport.decode_ms": "grpc_transport.decode",
    "grpc_transport.batch_write_ms": "grpc_transport.batch_write",
    "batcher.submit_ms": "batcher.submit",
    "writer.insert_ms": "writer.insert",
    "rollup_view.apply_ms": "rollup_view.apply",
    "http.logs_ms": "http.logs",
    "http.query_ms": "http.query",
    "http.stats_ms": "http.stats",
    "ch_dialect.ch_sql_ms": "ch_dialect.ch_sql",
}
SPAN_CALLS = {"grpc_transport.calls": "grpc_transport.batch_write",
              "ch_dialect.calls": "ch_dialect.ch_sql"}


def load(data_dir: str) -> dict:
    """The traced engine's spans, progress events and cache counters; a
    traced run without them fails."""
    with open(os.path.join(data_dir, "trace.json")) as f:
        return json.load(f)


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def span_metrics(tr: dict, lo: float, hi: float, client_busy_s: float
                 ) -> dict:
    spans = [s for s in tr["spans"] if lo <= s[1] < hi]
    wall = hi - lo
    by_name = defaultdict(list)
    children = defaultdict(list)
    for name, t0, t1, sid, parent, _ in spans:
        by_name[name].append(t1 - t0)
        if parent is not None:
            children[parent].append((t0, t1))
    out = {}
    for metric, name in SPAN_MS.items():
        d = by_name.get(name)
        out[metric] = 1e3 * sum(d) / len(d) if d else 0.0
    for metric, name in SPAN_CALLS.items():
        out[metric] = len(by_name.get(name, ()))
    self_s = defaultdict(float)
    top = []
    for name, t0, t1, sid, parent, _ in spans:
        self_s[name.split(".")[0]] += (t1 - t0) - _union(children[sid])
        if parent is None and not name.startswith("batcher.foreach"):
            top.append((t0, t1))
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = 1e3 * self_s[layer]
        out[f"{layer}.self_share"] = self_s[layer] / wall
    served = sum(b - a for a, b in top)
    out["trace.unattributed_share"] = max(0.0, client_busy_s - served) / wall
    return out


def parquet_files(root: str) -> dict:
    return {f: os.path.getsize(f)
            for f in glob.glob(os.path.join(root, "**", "*.parquet"),
                               recursive=True)}


def batch_rows(data_dir: str) -> dict:
    """batch id -> rows, from the file source log and the inbox files."""
    batch_of: dict[str, int] = {}  # compacted logs repeat earlier entries
    log_dir = os.path.join(data_dir, "checkpoint", "sources", "0")
    for f in glob.glob(os.path.join(log_dir, "*")):
        if f.endswith(".crc") or os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    batch_of[e["path"].removeprefix("file://")] = e["batchId"]
    rows: dict[int, int] = defaultdict(int)
    for path, batch in batch_of.items():
        with open(path, "rb") as inbox:
            rows[batch] += sum(1 for _ in inbox)
    return dict(rows)


def batcher_metrics(tr: dict | None, rows: dict, lo: float, hi: float,
                    acked: list) -> dict:
    """`rows`: batch id -> rows; `acked`: (ack time, rows, ...) of every
    acknowledged write."""
    out = {k: 0.0 for k in (
        "batcher.triggers", "batcher.trigger_ms", "batcher.add_batch_ms",
        "batcher.wal_commit_ms", "batcher.commit_offsets_ms",
        "batcher.rows_per_trigger", "batcher.source_read_ratio",
        "batcher.backlog_rows_max", "batcher.busy_share")}
    if tr is None:
        return out
    events = [e for e in tr["progress"]
              if lo <= e["at"] < hi and e["batch_id"] in rows]
    if not events:
        return out

    def mean(key):
        return sum(e["duration_ms"].get(key, 0) for e in events) / len(
            events)

    true_rows = sum(rows[e["batch_id"]] for e in events)
    out.update({
        "batcher.triggers": len(events),
        "batcher.trigger_ms": mean("triggerExecution"),
        "batcher.add_batch_ms": mean("addBatch"),
        "batcher.wal_commit_ms": mean("walCommit"),
        "batcher.commit_offsets_ms": mean("commitOffsets"),
        "batcher.rows_per_trigger": true_rows / len(events),
        "batcher.source_read_ratio": sum(
            e["input_rows"] for e in events) / max(1, true_rows),
        "batcher.busy_share": sum(
            e["duration_ms"].get("triggerExecution", 0)
            for e in tr["progress"] if lo <= e["at"] < hi) / 1e3 / (hi - lo),
    })
    committed = sum(rows[e["batch_id"]] for e in tr["progress"]
                    if e["at"] < lo and e["batch_id"] in rows)
    backlog = 0
    for e in sorted(events, key=lambda e: e["at"]):
        sent = sum(n for t, n, *_ in acked if t <= e["at"])
        committed += rows[e["batch_id"]]
        backlog = max(backlog, sent - committed)
    out["batcher.backlog_rows_max"] = backlog
    return out


def cache_metrics(before: dict, after: dict) -> dict:
    """Result-cache counters between two engine marks."""
    hits = after.get("hits", 0) - before.get("hits", 0)
    misses = after.get("misses", 0) - before.get("misses", 0)
    return {"http.cache_hits": hits, "http.cache_misses": misses,
            "http.cache_hit_ratio": hits / (hits + misses)
            if hits + misses else 0.0}
