"""Load-generator plumbing: the engine process, wire clients, probes.

Everything here runs in the load-generator process (`run.py`). The
engine is reached only over its sockets, its stdin/stdout line
protocol, `/proc` and (in traced runs) the Spark UI REST API.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import select
import signal
import struct
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 35  # the API's own query budget is 30 s


# -- statistics --------------------------------------------------------------

def pct(values, q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


TAIL_LEVELS = (99.9, 99.5, 99, 98, 95, 90, 80, 75, 70, 60, 50)


def tail(values) -> tuple[float, float]:
    """(percentile, value) of the highest listed percentile that has at
    least ten samples above it; the median when there are too few."""
    n = len(values)
    for q in TAIL_LEVELS:
        if n - math.ceil(q / 100 * n) >= 10:
            return q, pct(values, q)
    return 50.0, pct(values, 50)


def median(values) -> float:
    return pct(values, 50)


class Ops:
    """Thread-safe record of operations: (kind, latency ms, ok)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.items: list[tuple[str, float, bool]] = []
        self.late: list[float] = []  # ms the generator itself was late
        self.blocked = 0  # sends due while the previous one was open
        self.errors: list[str] = []

    def pace(self, due: float) -> None:
        """Wait for an open-loop due time. A send that is already due
        because its connection's previous request is still running is
        the server's delay (timed from `due`), not the generator's."""
        wait = due - time.time()
        if wait <= 0:
            with self.lock:
                self.blocked += 1
            return
        time.sleep(wait)
        with self.lock:
            self.late.append((time.time() - due) * 1e3)

    def add(self, kind: str, ms: float, ok: bool, why: str = "") -> None:
        with self.lock:
            self.items.append((kind, ms, ok))
            if not ok:
                self.errors.append(f"{kind}: {why}")

    def lat(self, kind: str) -> list[float]:
        """Latencies; a failed operation counts as the client timeout."""
        return [ms if ok else TIMEOUT_S * 1e3
                for k, ms, ok in self.items if k == kind]


# -- the engine process ------------------------------------------------------

class Engine:
    """`perfbench/engine.py` as a child process in its own session, so
    that its JVM is found (RSS, shutdown) through the session id."""

    def __init__(self, run_dir: str, argv: list[str], trace: int):
        env = dict(os.environ)
        env["SPARK_DRIVER_MEMORY"] = "1g"
        # one core stays free for the load generator, the server's Python
        # threads and the JVM's compiler and GC threads
        env["SPARK_GRAFT_CPUS"] = str(max(1, (os.cpu_count() or 4) - 1))
        env["PYTHONUNBUFFERED"] = "1"
        # every scratch file stays inside the run directory, the JVMs' too
        for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark")):
            env[var] = os.path.join(run_dir, sub)
            os.makedirs(env[var], exist_ok=True)
        env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={env['TMPDIR']} "
                                    "-XX:-UsePerfData")
        self.log = os.path.join(run_dir, "engine.log")
        with open(self.log, "w") as err:
            self.p = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "engine.py"), *argv,
                 "--trace", str(trace)],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err,
                cwd=ROOT, env=env, start_new_session=True)
        self._buf = b""
        self.rss_peak_mb = 0.0
        self.trace = trace

    def ready(self, timeout: float = 300) -> dict:
        """The engine's ready message; a traced engine must name its
        Spark UI, which the per-layer Spark counters come from."""
        msg = self.recv(timeout)
        if self.trace and not msg.get("ui"):
            raise RuntimeError("traced engine has no Spark UI")
        return msg

    def pids(self) -> list[int]:
        out = []
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[3]) == self.p.pid:  # session id
                    out.append(int(d))
        return out

    def sample_rss(self) -> None:
        """Resident memory of the engine: its Python process plus its JVM
        (PySpark's Python workers are not counted)."""
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = dict(line.split(":", 1) for line in f)
            except OSError:
                continue
            if pid == self.p.pid or status["Name"].strip() == "java":
                kb += int(status.get("VmRSS", "0 kB").split()[0])
        self.rss_peak_mb = max(self.rss_peak_mb, kb / 1024)

    def cpu_s(self) -> float:
        """CPU seconds the engine's processes (and their reaped children)
        have used so far."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / os.sysconf("SC_CLK_TCK")

    def send(self, line: str) -> None:
        self.p.stdin.write((line + "\n").encode())
        self.p.stdin.flush()

    def recv(self, timeout: float) -> dict:
        """Next `@@` protocol message; samples RSS while waiting."""
        deadline = time.monotonic() + timeout
        fd = self.p.stdout.fileno()
        while True:
            while b"\n" in self._buf:
                line, self._buf = self._buf.split(b"\n", 1)
                if line.startswith(b"@@"):
                    return json.loads(line[2:])
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError("engine did not answer")
            self.sample_rss()
            ready, _, _ = select.select([fd], [], [], min(0.25, left))
            if ready:
                chunk = os.read(fd, 65536)
                if not chunk:
                    raise RuntimeError(f"engine exited; see {self.log}")
                self._buf += chunk

    def wait(self, seconds: float) -> None:
        """Sleep while sampling RSS."""
        end = time.monotonic() + seconds
        while (left := end - time.monotonic()) > 0:
            self.sample_rss()
            time.sleep(min(0.25, left))

    def stop(self, timeout: float = 90) -> None:
        try:
            self.send("stop")
            self.recv(timeout)
            self.p.wait(timeout=30)
        finally:
            self.kill()

    def kill(self) -> None:
        """Stop whatever is left of the session and wait until it is gone."""
        for sig in (signal.SIGTERM, signal.SIGKILL):
            pids = self.pids()
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            end = time.monotonic() + 15
            while pids and time.monotonic() < end:
                self.p.poll()
                time.sleep(0.1)
                pids = self.pids()
            if not pids:
                break
        if self.p.poll() is None:
            self.p.wait(timeout=10)


# -- HTTP API client ---------------------------------------------------------

def http_get(port: int, path: str, params: dict | None = None):
    """(status, decoded body or None) of one GET on a fresh connection
    (the API server speaks HTTP/1.0 and closes after each reply)."""
    if params:
        path += "?" + urllib.parse.urlencode(params)
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", path)
        r = conn.getresponse()
        raw = r.read()
    finally:
        conn.close()
    try:
        body = json.loads(raw)
    except ValueError:
        body = None
    return r.status, body


# -- gRPC-Web client (one persistent connection per sender) ------------------

class GrpcWebClient:
    PATH = "/logs.v1.LogService/BatchWrite"

    def __init__(self, port: int):
        self.port = port
        self.conn = None

    @staticmethod
    def frame(request: bytes) -> bytes:
        return struct.pack(">BI", 0, len(request)) + request

    def call(self, framed: bytes) -> tuple[int, int]:
        """(grpc-status, written) for one pre-framed BatchWrite."""
        from clickhouse_observability_spark.api.grpc_transport import (
            decode_batch_write_response,
            unframe,
        )

        if self.conn is None:
            self.conn = http.client.HTTPConnection(
                "127.0.0.1", self.port, timeout=TIMEOUT_S)
        try:
            # no retry: a resent BatchWrite could be admitted twice
            self.conn.request(
                "POST", self.PATH, body=framed,
                headers={"Content-Type": "application/grpc-web+proto"})
            body = self.conn.getresponse().read()
        except (OSError, http.client.HTTPException):
            self.close()
            raise
        status, written = 2, 0
        for flags, payload in unframe(body):
            if flags & 0x80:
                for line in payload.decode().splitlines():
                    if line.startswith("grpc-status:"):
                        status = int(line.split(":", 1)[1])
            else:
                written = decode_batch_write_response(payload)
        return status, written

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None


# -- Spark UI REST (traced runs) ---------------------------------------------

SPARK_FIELDS = {"spark.tasks": "numCompleteTasks",
                "spark.executor_run_ms": "executorRunTime",
                "spark.gc_ms": "jvmGcTime",
                "spark.input_bytes": "inputBytes",
                "spark.shuffle_read_bytes": "shuffleReadBytes",
                "spark.shuffle_write_bytes": "shuffleWriteBytes"}


def spark_snapshot(ui: str | None) -> dict | None:
    """Completed jobs and per-stage counters from the UI REST API."""
    if not ui:
        return None
    u = urllib.parse.urlparse(ui)

    def get(path):
        conn = http.client.HTTPConnection(u.hostname, u.port, timeout=60)
        try:
            conn.request("GET", u.path + path)
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    jobs = {j["jobId"] for j in get("/jobs") if j["status"] != "RUNNING"}
    stages = {(s["stageId"], s["attemptId"]): s
              for s in get("/stages?status=complete")}
    return {"jobs": jobs, "stages": stages}


def spark_diff(before: dict | None, after: dict | None) -> dict:
    """Spark counters of the jobs and stages finished between snapshots."""
    out = {"spark.jobs": 0, **{k: 0 for k in SPARK_FIELDS}}
    if before is None or after is None:
        return out
    out["spark.jobs"] = len(after["jobs"] - before["jobs"])
    for key, st in after["stages"].items():
        if key not in before["stages"]:
            for name, field in SPARK_FIELDS.items():
                out[name] += st.get(field, 0)
    return out
