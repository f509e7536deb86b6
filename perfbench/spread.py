"""Run a workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest_wire --seeds 1-10 \
        [--seconds 20] [--traced]

For every metric: the median of the runs, the quartiles as
`statistics.quantiles(values, n=4)` gives them, and the spread
(q3 - q1) / median next to the metric's bound from `BENCHMARK.json`.
With `--traced` each seed also runs with `--trace 1`, and the tracing
overhead is printed as traced minus untraced median for every
end-to-end metric. `--seconds` defaults to `run_seconds`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"seed {seed} failed:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return {"seed": seed, "trace": trace, **json.loads(lines[-1]),
            "detail": json.loads(lines[-2])["detail"]}


def table(results: list[dict], spec: list[dict]) -> dict:
    medians = {}
    for m in spec:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        medians[m["name"]] = med
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = vals[0]
        spread = (q3 - q1) / med if med else float("inf")
        bound = m.get("bound")
        flag = "" if bound is None else (
            "ok" if spread < bound / 3 else
            "within bound" if spread <= bound else "TOO WIDE")
        print(f"  {m['name']:<44} median {med:>14.4f} {m['unit']:<6} "
              f"spread {spread:7.3f}" + (f"  bound {bound}  {flag}"
                                         if bound is not None else ""))
    return medians


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    plain, traced = [], []
    for seed in seeds(args.seeds):
        plain.append(run(args.workload, seed, seconds, 0))
        if args.traced:
            traced.append(run(args.workload, seed, seconds, 1))
    bad = sum(r["failed"] for r in plain + traced)
    print(f"{args.workload}: {len(plain)} seeds, {bad} failed operations, "
          f"all correct: {all(r['correct'] for r in plain + traced)}")
    e2e = table(plain, bench["end_to_end"])
    if traced:
        print("per-layer (traced runs):")
        layer = table(traced, bench["per_layer"])
        print("tracing overhead (traced minus untraced median):")
        for name, med in e2e.items():
            print(f"  {name:<44} {layer['traced.' + name] - med:+14.4f}")


if __name__ == "__main__":
    main()
