"""Run one benchmark workload in its own JVM and print its result.

    python3 perfbench/run.py --workload archive_convert --seed 1 \
        --seconds 12 --trace 0

Workloads: archive_convert, curate_full (see README.md).
The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics; with --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones. Diagnostics (op samples, spans,
listener counts, CPU probes, part sizes) go to
perfbench/out/<workload>-seed<seed>-trace<trace>.json.

Extra options for the smoke test: --size tiny (small world, small corpus,
the same panel) and --plant-wrong 1 (one expected answer is wrong on
purpose).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("archive_convert", "curate_full")
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit (the list build.sbt passes too)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--plant-wrong", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def declared(kind):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def own_metrics(workload, trace):
    """The metrics of BENCHMARK.json this workload's JVM prints: every
    end-to-end one untraced; traced, the curate.* layers on curate_full,
    every other layer on archive_convert, and the set-up split and the
    tracing overhead on both."""
    if not trace:
        return declared("end_to_end")

    def mine(name):
        if name.startswith("setup.") or name == "trace.overhead_s":
            return True
        return name.startswith("curate") == (workload == "curate_full")
    return [m for m in declared("per_layer") if mine(m["name"])]


def metric_mismatch(metrics, want):
    """None when `metrics` holds exactly the names and units of `want`,
    else what differs."""
    got = {k: v["unit"] for k, v in metrics.items()}
    want = {m["name"]: m["unit"] for m in want}
    if got == want:
        return None
    return (f"missing {sorted(set(want) - set(got))}, "
            f"undeclared {sorted(set(got) - set(want))}, unit differs "
            f"{sorted(k for k in set(got) & set(want) if got[k] != want[k])}")


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict)
            and set(r) == {"correct", "attempted", "failed", "metrics"}
            and r["attempted"] >= 1 and bool(r["metrics"]))


def main():
    a = parse_args()
    try:
        classes, jars = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] cannot build the program: {e}", file=sys.stderr)
        return 2
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    log_path = os.path.join(out_dir, f"{tag}.log")
    # one task slot (Main.session) and the serial collector with a fixed
    # young generation: heap sizing then follows the allocations alone,
    # not pause times a host storm stretches (README.md)
    cmd = (["java", "-Xmx3g", "-Xmn512m", "-XX:+UseSerialGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--size", a.size, "--plant-wrong", str(a.plant_wrong),
              "--artifact", os.path.join(out_dir, f"{tag}.json")])
    try:
        with open(log_path, "w") as log:
            launch_ms = int(time.time() * 1000)
            proc = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)],
                                    cwd=work, stdout=subprocess.PIPE,
                                    stderr=log)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"[perfbench] {tag} timed out; log: {log_path}",
                      file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if proc.returncode != 0 or not lines or not valid_result(lines[-1]):
        print(f"[perfbench] {tag} exited with {proc.returncode} and no result;"
              f" log: {log_path}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    bad = metric_mismatch(result["metrics"], own_metrics(a.workload, a.trace))
    if bad:
        print(f"[perfbench] {tag} printed the wrong metrics: {bad}",
              file=sys.stderr)
        return 1
    if a.trace:
        # BENCHMARK.json lists one per-layer set for all workloads: the
        # layers of the other workload, which this one does not run, read 0
        for m in declared("per_layer"):
            result["metrics"].setdefault(m["name"],
                                         {"value": 0, "unit": m["unit"]})
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
