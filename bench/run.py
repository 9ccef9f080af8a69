#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 bench/run.py --workload tpch_serving --seed 1 --seconds 10 --trace 0

Builds the benchmark JVM when its sources changed, generates the
workload's inputs from the seed (cached under bench/.data), runs set-up
and the closed loop in one JVM, checks every result, prints a report and
then, as the last line, one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones;
with --trace 1 they are the per-layer ones. Every run keeps its op
records, and a traced run its spans, in bench/.runs. See bench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

from graftbench import build, gen, stats, summary  # noqa: E402

WORKLOADS = {"miint_file_queries": "miint", "tpch_serving": "tpch", "corpus_curation": "corpus"}
# A run, build excluded, must end within this many seconds.
RUN_LIMIT_S = 170


def cpu_ticks():
    """The machine's cumulative CPU ticks from /proc/stat: (total, steal)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(build.ROOT, "src", "main", "scala")):
        sys.exit(f"engine sources not found under {build.ROOT}/src/main/scala; "
                 "run from a checkout of the repository")
    state = os.path.join(BENCH, ".work")
    os.makedirs(state, exist_ok=True)
    cp = build.classpath(os.path.join(state, "build.log"))

    t0 = time.monotonic()
    seed = a.seed % 2 ** 63
    kinds = set(gen.KINDS) if a.trace else {WORKLOADS[a.workload]}
    data = {k: gen.ensure(os.path.join(BENCH, ".data"), k, seed) for k in sorted(kinds)}
    cores = build.cores()
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    heap = build.heap_mb()
    # fixed heap and young generation: peak RSS then follows the live
    # data, not when the collector chose to grow either
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 4}m", f"-Djava.io.tmpdir={work}/tmp"] +
           build.ADD_OPENS +
           ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
            "--work", work, "--out", out] +
           [x for k, d in sorted(data.items()) for x in (f"--data-{k}", d)])
    ticks0 = cpu_ticks()
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - t0)))
        if proc.returncode != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                tail = f.read()[-3000:]
            sys.exit(f"benchmark JVM failed (exit {proc.returncode}):\n{tail}")
        with open(out) as f:
            result = json.load(f)
    except subprocess.TimeoutExpired:
        sys.exit("benchmark JVM did not finish in time")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ticks1 = cpu_ticks()
    if "tpch" in data:
        summary.check_against_duckdb(result, data["tpch"], cores)
    e2e = summary.end_to_end(result)
    for line in summary.report_lines(result, e2e):
        print(line)
    # a virtual machine's CPUs taken by other tenants while the JVM ran:
    # every timing of a run with a high share is slowed by it
    print(f"stolen CPU while the JVM ran: {(ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]):.1%}")
    counted = summary.counted_ops(result)
    failed = sum(1 for o in counted if not o["ok"])
    correct = failed == 0 and all(o["ok"] for o in summary.all_ops(result))
    runs = os.path.join(BENCH, ".runs")
    os.makedirs(runs, exist_ok=True)
    if a.trace:
        layers = summary.per_layer(result)
        print(f"trace.overhead_ratio = {layers['trace.overhead_ratio']} "
              "(traced vs untraced op latency in this run, per kind median)")
        spans = result["trace"]["spans"]
        self_ns = stats.self_times(spans)
        for s in spans:
            s["self_ns"] = self_ns[s["id"]]
        path = os.path.join(runs, f"{a.workload}-s{seed}-trace.json")
        with open(path, "w") as f:
            json.dump({"per_layer": layers, "end_to_end": e2e, "spans": spans,
                       "ops": summary.all_ops(result)}, f)
        print(f"spans and per-layer metrics written to {os.path.relpath(path)}")
        metrics = {k: {"value": v, "unit": summary.PER_LAYER[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": summary.END_TO_END[k][0]} for k, v in e2e.items()}
        # every op of the run, for comparing runs kind by kind
        with open(os.path.join(runs, f"{a.workload}-s{seed}.json"), "w") as f:
            json.dump({"end_to_end": e2e, "setup_phases_s": result["setup_phases_s"],
                       "ops": summary.all_ops(result)}, f)
    print(json.dumps({"correct": correct, "attempted": len(counted), "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
