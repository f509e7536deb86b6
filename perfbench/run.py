"""End-to-end benchmark of the engine's product path.

    python3 perfbench/run.py --workload ingest_wire --seed 1 --seconds 10 \
        --trace 0 [--smoke]

Each run starts a fresh engine process on a fresh data directory under
`.perfbench/` in the checkout and drives it from this one process:
gRPC-Web `BatchWrite`, `GET /v1/logs`, `/v1/query` and `/v1/stats`
for `ingest_wire` and `dashboard_read`, registry entries for
`analytics_batch`. Workload parameters and the layer-to-metric map live
in `perfbench/design.json`; metric names and units in `BENCHMARK.json`.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). The line before it is a `detail`
object with every workload-specific number. `--smoke` shrinks every
size so a run takes seconds; `test_smoke.py` runs it for each workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


DEADLINE_S = 170  # a run must end within 180 s, result or not


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _overrun(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


class Context:
    def __init__(self, args, cfg: dict, run_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = args.trace
        self.cfg = cfg
        self.run_dir = run_dir
        self.engine = None
        self.setup_s = None
        self.t_process = T_PROCESS

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_PROCESS


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, for the benchmark's own tests")
    args = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "clickhouse_observability_spark",
                                        "server.py"))
            and os.path.isfile(bench_path)):
        fail("run from a full checkout: the engine package is missing")
    with open(bench_path) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "design.json")) as f:
        design = json.load(f)
    if args.workload not in design["workloads"]:
        fail(f"unknown workload {args.workload!r}")
    cfg = dict(design["workloads"][args.workload]["config"])
    if args.smoke:
        cfg.update(design["workloads"][args.workload]["smoke"])

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import importlib

    module = importlib.import_module(
        design["workloads"][args.workload]["module"])
    run_dir = os.path.join(ROOT, ".perfbench",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = Context(args, cfg, run_dir)
    steal0, total0 = _cpu_ticks()
    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(DEADLINE_S)
    try:
        res = module.run(ctx)
    finally:
        signal.alarm(0)
        if ctx.engine is not None:
            ctx.engine.kill()
        shutil.rmtree(run_dir, ignore_errors=True)

    steal1, total1 = _cpu_ticks()
    attempted, failed = res["attempted"], res["failed"]
    e2e = {**res["e2e"], "setup_s": ctx.setup_s,
           "server_rss_mb": ctx.engine.rss_peak_mb,
           "ok_share": (attempted - failed) / max(1, attempted)}
    if args.trace:
        values = dict(res["layer"])
        values.update({f"traced.{k}": v for k, v in e2e.items()})
        spec = bench["per_layer"]
    else:
        values = e2e
        spec = bench["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec}
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "errors": res["errors"][:20],
              # CPU time the hypervisor gave to other guests: a run on a
              # contended host is slower in wall and in CPU time
              "host_steal_share": (steal1 - steal0) / max(1, total1 - total0),
              **res["detail"]}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
