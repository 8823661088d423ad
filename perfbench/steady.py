#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly on the same commit and compare
each end-to-end metric's spread with its bound in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--sets 1|2]
                                [--first-seed 1] [--overhead]

For every workload it runs `run.py` `--runs` times with seeds first-seed,
first-seed+1, ... and reports, per metric, the median, the quartiles
(`statistics.quantiles(values, n=4)`) and the spread (Q3 - Q1) / median
against the metric's bound, setup_s too; a spread over the bound fails the
check, and one at or above a third of the bound is flagged. With `--sets 2`
it makes a second set on fresh seeds and checks that the second median is
not worse than the first by more than the bound, so "two sets of runs
agree" is this one command. With `--overhead` it also
makes one traced run per seed and reports the tracing overhead: the traced
run's end-to-end medians (from its summary.json) against the untraced ones.

Run from the root of a checkout. Exit status 1 when any check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:] + p.stdout[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed}: correct={res['correct']} failed={res['failed']}")
    if trace:
        summary = os.path.join(ROOT, ".bench_build", "trace", f"{workload}-seed{seed}",
                               "summary.json")
        with open(summary) as f:
            return {k: v["value"] for k, v in json.load(f)["end_to_end"].items()}
    return {k: v["value"] for k, v in res["metrics"].items()}


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    if a.runs < 2:
        ap.error("--runs must be at least 2 for quartiles")
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    seed = a.first_seed
    for w in a.workloads.split(","):
        sets = []
        for s in range(a.sets):
            values = {m: [] for m in metrics}
            traced = {m: [] for m in metrics}
            for _ in range(a.runs):
                r = run(w, seed, bench["run_seconds"], 0)
                for m in metrics:
                    values[m].append(r[m])
                if a.overhead:
                    t = run(w, seed, bench["run_seconds"], 1)
                    for m in metrics:
                        traced[m].append(t[m])
                seed += 1
            sets.append(values)
            print(f"{w} set {s + 1} ({a.runs} runs, seeds {seed - a.runs}..{seed - 1}):")
            for m, spec in metrics.items():
                med, q1, q3, spread = stats(values[m])
                flag = ""
                if spread > spec["bound"]:
                    flag, ok = "  SPREAD OVER BOUND", False
                elif spread >= spec["bound"] / 3:
                    flag = "  spread >= bound/3"
                print(f"  {m:16s} median {med:12.3f}  q1 {q1:12.3f}  q3 {q3:12.3f}  "
                      f"spread {spread:6.3f}  bound {spec['bound']:.2f}{flag}")
                print(f"  {'':16s} runs " + " ".join(f"{v:.1f}" for v in values[m]))
                if a.overhead:
                    tmed = statistics.median(traced[m])
                    print(f"  {'':16s} traced median {tmed:12.3f}  overhead "
                          f"{(tmed - med) / med:+.3f}")
        if a.sets == 2:
            for m, spec in metrics.items():
                m1, m2 = statistics.median(sets[0][m]), statistics.median(sets[1][m])
                worse = (m2 - m1) / m1 if spec["better"] == "lower" else (m1 - m2) / m1
                verdict = "ok" if worse <= spec["bound"] else "DISAGREE"
                ok &= verdict == "ok"
                print(f"  {m:16s} set medians {m1:12.3f} -> {m2:12.3f}  worse by {worse:+.3f} "
                      f"(bound {spec['bound']:.2f}) {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
