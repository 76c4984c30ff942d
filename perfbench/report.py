#!/usr/bin/env python3
"""Traced-run report.

    python3 perfbench/report.py [--seed <n>]

Run from the repository root. For each workload BENCHMARK.json declares, it
makes one untraced run (end-to-end metrics) and one traced run (per-layer
metrics) of its run_seconds on the same seed, and prints a markdown
report: the end-to-end figures, self time per layer within the timed
window, span coverage of that window, the share of it outside any Spark job
(also within the sink calls alone), and the tracing overhead (traced minus
untraced pass time). The span dumps stay in
.bench_build/spans-<workload>-<seed>.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return res, {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    seconds = BENCHMARK["run_seconds"]

    print(f"# perfbench report (seed {a.seed}, {seconds} s runs, local[4])\n")
    for w in [wl["name"] for wl in BENCHMARK["workloads"]]:
        plain_res, e2e = run(w, a.seed, seconds, 0)
        traced_res, layer = run(w, a.seed, seconds, 1)
        overhead = layer["trace.pass_s"] / e2e["pass_s"] - 1
        print(f"## {w}\n")
        print(f"untraced: attempted {plain_res['attempted']}, failed {plain_res['failed']}; "
              f"traced: attempted {traced_res['attempted']}, failed {traced_res['failed']}\n")
        print("| end-to-end metric | value |\n|---|---|")
        for k, v in e2e.items():
            print(f"| {k} | {v:.4g} |")
        print()
        print(f"- span coverage of the timed window: {layer['trace.coverage']:.1%} "
              f"({int(layer['trace.spans'])} spans)")
        print(f"- outside any Spark job: {layer['driver_only_share']:.1%} of the timed window; "
              f"{int(layer['spark.jobs'])} jobs, {int(layer['spark.tasks'])} tasks, "
              f"task CPU {layer['spark.task_cpu_s']:.2f} s, GC {layer['jvm.gc_s']:.2f} s")
        sink_s = layer["delta.write_s"] + layer["iceberg.write_s"]
        if sink_s:
            share = (layer["delta.driver_only_s"] + layer["iceberg.driver_only_s"]) / sink_s
            print(f"- outside any Spark job within the sink calls alone: {share:.1%} of {sink_s:.2f} s")
        print(f"- tracing overhead: pass {layer['trace.pass_s']:.3f} s traced vs "
              f"{e2e['pass_s']:.3f} s untraced ({overhead:+.1%}; one run each, to be read against the run-to-run spread)")
        print("\n| layer | self time in window (s) |\n|---|---|")
        for k in sorted(k for k in layer if k.startswith("self.")):
            if layer[k]:
                print(f"| {k[5:-2]} | {layer[k]:.3f} |")
        print("\n| per-layer metric | value |\n|---|---|")
        for k in sorted(layer):
            if layer[k] and not k.startswith("self."):
                print(f"| {k} | {layer[k]:.6g} |")
        print()


if __name__ == "__main__":
    main()
