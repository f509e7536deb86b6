"""The benchmark's own tests: smoke runs with tiny sizes.

    python -m pytest perfbench/test_smoke.py -q

Each workload runs for a few seconds untraced and traced; every metric
named in `BENCHMARK.json` must print with its unit, and the correctness
gate must pass. A directory holding only the benchmark must make it
fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(HERE, "design.json")) as _f:
    DESIGN = json.load(_f)["workloads"]
WORKLOADS = sorted(DESIGN)
# per-layer metrics a traced smoke run must measure above zero: at least
# one per layer the workload reaches, so a wrapper, the streaming
# listener or the Spark UI that stops reporting fails the test
ALIVE = {
    "ingest_wire": [
        "grpc_transport.calls", "grpc_transport.decode_ms",
        "grpc_transport.batch_write_ms", "batcher.submit_ms",
        "batcher.inbox_files", "batcher.triggers", "batcher.trigger_ms",
        "batcher.rows_per_trigger", "writer.insert_ms",
        "writer.files_written", "rollup_view.apply_ms", "http.logs_ms",
        "http.query_ms", "ch_dialect.calls", "spark.tasks"],
    "dashboard_read": [
        "http.logs_ms", "http.query_ms", "http.stats_ms",
        "http.cache_misses", "ch_dialect.calls", "ch_dialect.ch_sql_ms",
        "spark.tasks"],
    "analytics_batch": [
        *(f"registry.{k}.{e}" for k in ("build_ms", "exec_ms")
          for e in DESIGN["analytics_batch"]["entries"]),
        "spark.jobs", "spark.tasks"],
}


def _run(cwd: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout[-3000:]
    assert result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = bench["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], float), name
    if trace:
        dead = [m for m in ALIVE[workload]
                if not result["metrics"][m]["value"] > 0]
        assert not dead, f"traced run measured nothing for {dead}"
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "ingest_wire", 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
