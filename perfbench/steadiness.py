#!/usr/bin/env python3
"""Steadiness procedure: run every workload in BENCHMARK.json at several
seeds, in one or more sets, and report per metric the median, quartiles
and spread (inter-quartile range / median) of each set, the drift of each
later set's median from the first, and the share of failed operations.

A metric passes when, in every set, its spread is within its bound, and
every later set's median is no worse than the first set's by more than
the bound. `setup_s` is held to the drift rule only: a run sets up a few
times and reports their median, so its spread across runs is not gated.
The failed share must be the same in every set.

    python3 perfbench/steadiness.py --runs 10 --sets 2 [--workload NAME] [--seed-base 1000]

Run from the root of a checkout; each run is `perfbench/run.py` with the
benchmark's own `run_seconds`. Every run's result line is appended to
`.bench_build/steadiness.jsonl`.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seed-base", type=int, default=1000)
    a = ap.parse_args()

    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    out = Path(".bench_build/steadiness.jsonl")
    out.parent.mkdir(exist_ok=True)
    ok = True
    for w in workloads:
        sets = []
        for k in range(a.sets):
            rows = []
            for i in range(a.runs):
                seed = a.seed_base + 100 * k + i
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    stdout=subprocess.PIPE, text=True)
                if p.returncode != 0:
                    raise SystemExit(f"{w} seed {seed}: run.py exited with {p.returncode}")
                r = json.loads(p.stdout.strip().splitlines()[-1])
                wall = time.time() - t0
                print(f"{w} set {k} seed {seed}: {wall:.0f} s, correct {r['correct']}", file=sys.stderr, flush=True)
                with out.open("a") as f:
                    f.write(json.dumps({"workload": w, "set": k, "seed": seed, "wall_s": wall, **r}) + "\n")
                ok &= r["correct"]
                rows.append(r)
            sets.append(rows)
        print(f"\n{w}: {a.sets} sets of {a.runs} runs")
        shares = [{r["failed"] / r["attempted"] for r in rows} for rows in sets]
        print(f"  failed/attempted per set: {shares}")
        ok &= all(len(x) == 1 for x in shares) and len(set().union(*shares)) == 1
        for m in sorted(bounds):
            line = f"  {m:16s} bound {bounds[m]:.2f}"
            first = None
            for rows in sets:
                v = [r["metrics"][m]["value"] for r in rows]
                q1, med, q3 = statistics.quantiles(v, n=4)
                spread = (q3 - q1) / med
                first = med if first is None else first
                drift = med / first - 1
                worse = drift if lower[m] else -drift
                line += f" | med {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f} drift {drift:+.3f}"
                ok &= (m == "setup_s" or spread <= bounds[m]) and worse <= bounds[m]
            print(line)
    print("\nall correct, all spreads and drifts within bounds" if ok else "\nSOME CHECK, SPREAD OR DRIFT FAILED")


if __name__ == "__main__":
    main()
