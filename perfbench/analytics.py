"""`analytics_batch`: the operator layer through `registry.queries()`.

Setup generates the testdata-shaped tables from the seed, starts the
engine in batch mode and, while the JVM boots, computes every entry's
DuckDB oracle hash with the canonicalization of `scripts/selfcheck.py`.
One warm-up pass runs every entry once. The measured part then runs
whole passes of the entry list, in a fixed order, while another pass
should still end within `--seconds` (at least one pass). Every answer
is hash-checked.
"""

from __future__ import annotations

import os
import sys
import time

import datagen
import wire

ENTRIES = [
    "text_log_templates",
    "window_user_gaps",
    "asof_click_before_purchase",
    "tpch_q3_shipping",
    "dedup_exact_groups",
    "dedup_jaccard_pairs",
    "text_corpus_curation",
    "text_pack_chunks",
]


def oracle_hashes(sf_dir: str) -> dict:
    import duckdb

    sys.path.insert(0, os.path.join(wire.ROOT, "scripts"))
    import __spark_entry__ as entry
    from selfcheck import table_hash

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in os.listdir(sf_dir):
        name = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS "
                    f"SELECT * FROM '{os.path.join(sf_dir, f)}'")
    oracles = entry.oracle_sql()
    out = {}
    for name in ENTRIES:
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        out[name] = (sorted(cols), table_hash(cols, res.fetchall()))
    return out


def run(ctx) -> dict:
    sf_dir = os.path.join(ctx.run_dir, "sf")
    datagen.testdata(ctx.seed, ctx.cfg["scale"], sf_dir)
    eng = wire.Engine(ctx.run_dir, ["batch", "--sf-dir", sf_dir], ctx.trace)
    ctx.engine = eng
    expected = oracle_hashes(sf_dir)
    ready = eng.ready()
    ui = ready.get("ui")
    attempted = failed = 0
    errors: list[str] = []

    def run_entry(name: str) -> dict:
        nonlocal attempted, failed
        eng.send(f"run {name}")
        t0 = time.perf_counter()
        r = eng.recv(170)
        r["wall_ms"] = (time.perf_counter() - t0) * 1e3
        attempted += 1
        want = expected[name]
        if "error" in r or (r["columns"], r["hash"]) != want:
            failed += 1
            r["ok"] = False
            errors.append(f"{name}: {r.get('error') or 'hash mismatch'}")
        else:
            r["ok"] = True
        return r

    for name in ENTRIES:  # warm-up pass: JIT, codegen, Python workers
        run_entry(name)
    ctx.mark_setup_done()

    passes: list[float] = []
    per_entry: dict[str, list[dict]] = {n: [] for n in ENTRIES}
    spark_tot: dict[str, float] = {}
    t_start = time.perf_counter()
    cpu0 = eng.cpu_s()
    # whole passes only: start another while it should end in the window
    while not passes or (time.perf_counter() - t_start
                         + sum(passes) / len(passes) <= ctx.seconds):
        t0 = time.perf_counter()
        for name in ENTRIES:
            before = wire.spark_snapshot(ui)
            r = run_entry(name)
            r["spark"] = wire.spark_diff(before, wire.spark_snapshot(ui))
            per_entry[name].append(r)
        passes.append(time.perf_counter() - t0)
    elapsed = time.perf_counter() - t_start
    cpu_per_pass = (eng.cpu_s() - cpu0) / len(passes)
    eng.stop()

    ok = [r for rs in per_entry.values() for r in rs if r["ok"]]
    # a pass with each entry at its median: one entry's pause in one
    # pass does not move it; the slowest whole pass is the tail
    batch_ms = sum(wire.median([r["wall_ms"] for r in rs])
                   for rs in per_entry.values())
    layer = {}
    for name, rs in per_entry.items():
        layer[f"registry.build_ms.{name}"] = wire.median(
            [r.get("build_ms", 0.0) for r in rs])
        layer[f"registry.exec_ms.{name}"] = wire.median(
            [r.get("exec_ms", 0.0) for r in rs])
        for k in rs[0]["spark"]:
            per = wire.median([r["spark"][k] for r in rs])
            layer[f"{k}.{name}"] = per
            # per pass, like batch_s: the pass count follows host speed
            spark_tot[k] = spark_tot.get(k, 0) + per
    layer.update(spark_tot)
    return {
        "e2e": {"engine_cpu_ms": 1e3 * cpu_per_pass},
        "layer": layer,
        "attempted": attempted, "failed": failed, "errors": errors,
        "detail": {
            "batch_s": batch_ms / 1e3, "batch_slowest_s": max(passes),
            "entries_per_s": len(ok) / elapsed, "passes": len(passes),
            "entry_ms": {n: [round(r["wall_ms"], 1) for r in rs]
                         for n, rs in per_entry.items()},
            "entry_rows": {n: rs[0].get("rows") for n, rs in
                           per_entry.items()},
            "passes_s": passes,
            "failed_share": failed / max(1, attempted),
            "entries": ENTRIES, "scale": ctx.cfg["scale"],
        },
    }
