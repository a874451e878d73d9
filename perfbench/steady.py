#!/usr/bin/env python3
"""Steadiness self-check of the benchmark on one tree.

Usage (from the root of a checkout):
    python3 perfbench/steady.py

Runs perfbench/run.py once per seed and workload, in two sets of ten
runs that use different seeds, with the run length from BENCHMARK.json.
For every end-to-end metric it prints, one row per workload:
  - the median of each set;
  - the spread of each set: the distance between the first and third
    quartile (statistics.quantiles, n=4) as a share of the median;
  - the drift of the second set's median from the first's;
  - the metric's bound. A spread or a drift past the bound is marked
    FAIL.
It also makes one traced run per workload and prints the traced pass
time against the untraced median: the tracing overhead.
Raw results go to perfbench/.work/steady-<time>.json.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = 10
SETS = 2


def run(spec, workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
           "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    res["readable"] = [l for l in lines if l.startswith("#")]
    return res


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    raw = {}
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        sets = [[run(spec, w, 1000 * s + i + 1, 0) for i in range(SEEDS)]
                for s in range(SETS)]
        raw[w] = {"untraced": sets}
        bad = [r for rs in sets for r in rs if not r["correct"] or r["failed"]]
        if bad:
            ok = False
            print(f"{w}: {len(bad)} runs with wrong or failed operations")
        walls = [r["wall_s"] for rs in sets for r in rs]
        print(f"\n{w}: {sum(len(rs) for rs in sets)} runs, wall median "
              f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        print(f"  {'metric':<14}{'median':>20}{'spread':>18}{'drift':>9}{'bound':>7}")
        for m in spec["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            sprs = [spread(v) for v in vals]
            drift = meds[-1] / meds[0] - 1 if meds[0] else 0.0
            worse = drift if m["better"] == "lower" else -drift
            fails = worse > m["bound"] or any(x > m["bound"] for x in sprs)
            ok &= not fails
            print(f"  {m['name']:<14}"
                  f"{' / '.join(f'{x:.4g}' for x in meds):>20}"
                  f"{' / '.join(f'{x:.1%}' for x in sprs):>18}"
                  f"{drift:>+9.1%}{m['bound']:>7.2f}"
                  f"{'  FAIL' if fails else ''}")
        t = run(spec, w, 1, 1)
        raw[w]["traced"] = t
        ok &= t["correct"] and not t["failed"]
        untraced = statistics.median(
            r["metrics"]["pass_s"]["value"] for rs in sets for r in rs)
        traced = t["metrics"]["trace.pass_s"]["value"]
        print(f"  tracing overhead: traced pass {traced:.3f} s vs untraced median "
              f"{untraced:.3f} s ({traced / untraced - 1:+.1%}); "
              f"traced run correct={t['correct']}")
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    out = os.path.join(HERE, ".work", f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump(raw, fh)
    print(f"\nraw results: {out}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
