#!/usr/bin/env python3
"""Read the span file of a traced run and print per-layer self time.

    python3 perfbench/spans.py [<trace dir> ...]

A traced run (`run.py --trace 1`) writes `.bench_build/trace/<workload>-seed<n>/`
with `spans.jsonl` (one span per line: name, layer, round, start/end, duration,
parent span, and the Spark-listener counters of the jobs it ran) and
`summary.json`. With no argument every trace dir there is read.

A span's self time is its duration minus the durations of its child spans
(the client is one thread, so children never overlap). Summed by layer, self
time splits the measured rounds' wall time across the Graft layers the
benchmark called into; the `client` layer is the benchmark's own work between
calls (model checks, batch generation). The per-op table adds the listener
counters: jobs, task-seconds, shuffle bytes and driver time (wall time not
covered by the op's jobs).
"""
import collections
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(trace_dir):
    with open(os.path.join(trace_dir, "spans.jsonl")) as f:
        return [json.loads(l) for l in f if l.strip()]


def self_times(spans):
    child = collections.defaultdict(float)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["dur_ms"]
    return {s["id"]: s["dur_ms"] - child[s["id"]] for s in spans}


def report(trace_dir):
    spans = load(trace_dir)
    own = self_times(spans)
    wall = sum(s["dur_ms"] for s in spans if s["parent"] < 0)
    rounds = len({s["round"] for s in spans})
    print(f"{trace_dir}: {len(spans)} spans, {rounds} rounds, {wall / 1000:.2f} s measured")
    by_layer = collections.defaultdict(float)
    for s in spans:
        by_layer[s["layer"]] += own[s["id"]]
    print(f"  {'layer':10s} {'self_s':>8s} {'share':>7s} {'ms/round':>9s}")
    for layer, ms in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:10s} {ms / 1000:8.2f} {ms / wall:7.1%} {ms / max(rounds, 1):9.1f}")
    ops = collections.defaultdict(list)
    for s in spans:
        ops[s["name"]].append(s)
    print(f"  {'op':20s} {'layer':10s} {'n':>4s} {'ms':>9s} {'self_ms':>9s} {'jobs':>6s} "
          f"{'task_s':>7s} {'shuffle_B':>11s} {'driver_ms':>9s}")
    for name, ss in sorted(ops.items(), key=lambda kv: -sum(s["dur_ms"] for s in kv[1])):
        n = len(ss)

        def mean(key):
            return sum(s[key] for s in ss) / n
        print(f"  {name:20s} {ss[0]['layer']:10s} {n:4d} {mean('dur_ms'):9.1f} "
              f"{sum(own[s['id']] for s in ss) / n:9.1f} {mean('jobs'):6.1f} "
              f"{mean('task_s'):7.2f} {mean('shuffle_bytes'):11.0f} {mean('driver_ms'):9.1f}")


def main():
    dirs = sys.argv[1:] or sorted(glob.glob(os.path.join(ROOT, ".bench_build", "trace", "*")))
    if not dirs:
        sys.exit("no trace dirs: run perfbench/run.py with --trace 1 first")
    for d in dirs:
        report(d)


if __name__ == "__main__":
    main()
