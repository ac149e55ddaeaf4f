#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size (4,000 wafer rows, sf0.001).

Usage, from the root of the repository:

    python3 perfbench/smoke.py

For each workload in BENCHMARK.json it checks that an untraced run prints
every end-to-end metric and a traced run every per-layer metric, each with
its declared unit and a numeric value, with all outputs correct; then that
a run whose outputs are deliberately corrupted reports failures (ok_frac
below 1). Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"wafer_canonical": ["--rows", "4000"], "catalog_sf01": ["--sf", "sf0.001"]}


def bench(workload, trace, corrupt=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--corrupt", str(corrupt)] + TINY[workload]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(label, got, declared):
    want = {m["name"]: m["unit"] for m in declared}
    if set(got) != set(want):
        sys.exit(f"FAIL {label}: missing {sorted(set(want) - set(got))}, "
                 f"unexpected {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if m.get("unit") != want[name] or not isinstance(m.get("value"), (int, float)):
            sys.exit(f"FAIL {label}: {name} = {m}, want a number in {want[name]}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            r = bench(w, trace)
            label = f"{w} trace={trace}"
            check_metrics(label, r["metrics"], declared)
            if not (r["correct"] and r["failed"] == 0 and r["attempted"] >= 1):
                sys.exit(f"FAIL {label}: outputs not correct: {r}")
            print(f"ok   {label}: {len(r['metrics'])} metrics, {r['attempted']} operations")
        r = bench(w, 0, corrupt=1)
        ok_frac = r["metrics"]["ok_frac"]["value"]
        if r["correct"] or r["failed"] == 0 or ok_frac >= 1.0:
            sys.exit(f"FAIL {w}: corrupted outputs were not caught: {r}")
        print(f"ok   {w} corrupted: {r['failed']}/{r['attempted']} failed, ok_frac {ok_frac}")
    print("SMOKE OK")


if __name__ == "__main__":
    main()
