"""Smallest-size smoke test of the benchmark.

    python3 perfbench/smoke_test.py

For each workload, on a tiny world and a tiny corpus:
  * an untraced run must be correct and print every end-to-end metric of
    BENCHMARK.json with its declared unit;
  * a traced run with one expected answer planted wrong must count at
    least one failed op (so a wrong answer can never read as a pass), its
    JVM must have printed every per-layer metric of that workload (read
    from the artifact, before run.py fills in the other workload's layers
    as 0), and the result must hold every per-layer metric with its
    declared unit.
Exits non-zero on the first violation.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run as bench_run  # noqa: E402

SEED = 7


def run(workload, trace, plant_wrong):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "2", "--trace", str(trace),
           "--size", "tiny", "--plant-wrong", str(plant_wrong)]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, timeout=900)
    lines = res.stdout.decode().strip().splitlines()
    if res.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace}: exit {res.returncode}")
    return json.loads(lines[-1])


def check_metrics(what, metrics, declared):
    bad = bench_run.metric_mismatch(metrics, declared)
    if bad:
        raise AssertionError(f"{what}: {bad}")


def jvm_metrics(workload, trace):
    """The metrics the JVM itself printed, from the run's artifact."""
    path = os.path.join(HERE, "out", f"{workload}-seed{SEED}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)["result"]["metrics"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (x["name"] for x in bench["workloads"]):
        r = run(w, trace=0, plant_wrong=0)
        assert r["correct"] is True and r["failed"] == 0, f"{w}: {r}"
        assert r["attempted"] >= 1, f"{w}: {r}"
        check_metrics(f"{w} end-to-end", r["metrics"], bench["end_to_end"])
        assert all(v["value"] > 0 for v in r["metrics"].values()), f"{w}: {r}"
        print(f"ok {w}: {r['attempted']} ops, end-to-end metrics complete")

        r = run(w, trace=1, plant_wrong=1)
        assert r["correct"] is False and r["failed"] >= 1, f"{w} planted: {r}"
        check_metrics(f"{w} own per-layer", jvm_metrics(w, 1),
                      bench_run.own_metrics(w, trace=1))
        check_metrics(f"{w} per-layer", r["metrics"], bench["per_layer"])
        print(f"ok {w}: planted wrong answer failed {r['failed']} of "
              f"{r['attempted']} ops, per-layer metrics complete")
    print("smoke test passed")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"smoke test FAILED: {e}", file=sys.stderr)
        sys.exit(1)
