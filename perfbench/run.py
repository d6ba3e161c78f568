#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload suite_sweep|graph_txn \
        --seed N --seconds S --trace 0|1

Builds graft and the harness from source (perfbench/build.py), runs the
workload in one JVM on local[min(nproc, 4)], checks every output, and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the run attaches the
listeners and the metrics are the per-layer ones; its trace_overhead_frac
compares it with the untraced run of the same seed kept from before (else
with every kept untraced run of the workload). Each metric in the result line
holds only its value and unit; the percentile and sample count of each tail
metric go to stderr and to the raw record of the run (units, jobs, stages,
query executions, tails), kept in .bench_build/runs/<workload>-<seed>-t<trace>.json.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("suite_sweep", "graph_txn")
DEADLINE_S = 170.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(root, classes, args, raw_path, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(root), "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", raw_path, "--work", work,
            "--data", os.path.join(HERE, "fixture", "sf0.1"), "--bench", HERE]
    proc = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: run exceeded its time limit")
    finally:
        # on a time-out or a signal, never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: harness exited with {rc}")


def untraced_ms(out_dir, workload, seed):
    """Unit latencies of the kept untraced run of this seed, else of all
    kept untraced runs of the workload; None when there is none."""
    paths = [os.path.join(out_dir, f"{workload}-{seed}-t0.json")]
    if not os.path.exists(paths[0]):
        paths = [os.path.join(out_dir, f) for f in sorted(os.listdir(out_dir))
                 if f.startswith(workload + "-") and f.endswith("-t0.json")]
    ms = []
    for p in paths:
        with open(p) as f:
            ms += [u["ms"] for u in json.load(f)["units"]]
    return ms or None


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    classes = build.build(root)
    # the build may take long on a checkout's first run; the limit holds
    # for the run itself
    deadline = time.time() + DEADLINE_S - min(time.time() - start, 10.0)
    out_dir = os.path.join(build.build_dir(root), "runs")
    os.makedirs(out_dir, exist_ok=True)
    raw_path = os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    work = os.path.join(build.build_dir(root), "work")
    run_jvm(root, classes, args, raw_path, work, deadline)
    with open(raw_path) as f:
        raw = json.load(f)
    if not raw["units"]:
        raise SystemExit("perfbench: the run completed no unit")
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        expected = json.load(f)
    untraced = untraced_ms(out_dir, args.workload, args.seed) if args.trace else None
    result, tails, spans = metrics.summarize(raw, expected, untraced)
    raw["tails"] = tails
    with open(raw_path, "w") as f:
        json.dump(raw, f)
    for name, t in tails.items():
        print(f"perfbench: {name} is p{t['p']} of {t['n']} samples", file=sys.stderr)
    for u in raw["units"]:
        if u["error"] is not None or u["wrong"] is not None:
            print(f"perfbench: {u['name']} failed: {u['error'] or u['wrong']}", file=sys.stderr)
    steal = raw["cpu_steal_frac"]
    print(f"perfbench: cpu steal during the loop: "
          f"{'n/a' if steal is None else f'{steal:.1%}'}", file=sys.stderr)
    if args.trace:
        with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-spans.json"), "w") as f:
            json.dump(spans, f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
