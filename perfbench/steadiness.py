"""Steadiness check: run workloads with distinct seeds and report, per
end-to-end metric, the quartile spread (Q3 - Q1) / median as
statistics.quantiles(values, n=4) gives it, next to the metric's bound.

    python3 perfbench/steadiness.py --runs 10 [--first-seed 1] [workload ...]

The per-run wall time (set-up included) is reported too, since the whole
run budget of the benchmark depends on it. A summary is written to
perfbench/out/steadiness-<first seed>-<runs>.json.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("workloads", nargs="*")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    summary = {}
    for w in workloads:
        values = {m: [] for m in bounds}
        walls = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t = time.time()
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE)
            walls.append(time.time() - t)
            r = json.loads(res.stdout.decode().strip().splitlines()[-1])
            if not r["correct"]:
                print(f"{w} seed {seed}: NOT CORRECT {r}", flush=True)
            for m in bounds:
                values[m].append(r["metrics"][m]["value"])
            print(f"{w} seed {seed} wall {walls[-1]:.1f}s " + " ".join(
                f"{m}={r['metrics'][m]['value']:.4g}" for m in bounds),
                flush=True)
        summary[w] = {"wall_s": walls, "values": values}
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < bounds[m] / 3 else (
                "within bound" if spread <= bounds[m] else "TOO NOISY")
            print(f"  {w} {m}: median {med:.4g} spread {spread:.4f} "
                  f"bound {bounds[m]} {flag}", flush=True)
        print(f"  {w} wall: median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s", flush=True)
    out = os.path.join(HERE, "out",
                       f"steadiness-{a.first_seed}-{a.runs}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
