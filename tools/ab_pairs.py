#!/usr/bin/env python3
"""Paired A/B runs of one benchmark workload in two checkouts.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload W --seeds A-B

For each seed A..B it runs `perfbench/run.py --trace 0` once in each
checkout, alternating which checkout goes first, so drift on a shared
machine falls on both sides alike. Both runs of a pair use the same seed and
the `run_seconds` of the change's BENCHMARK.json. It then prints, for every
end-to-end metric of that BENCHMARK.json, each side's first quartile,
median and third quartile (from `statistics.quantiles(values, n=4)`, the
quartiles `perfbench/steady.py` uses), the parent's quartile spread
(Q3 - Q1), the relative delta of the medians, and in how many pairs the
change was better (in the metric's `better` direction).

Exit status 1 when any run is not `correct` (or fails to report), 0
otherwise; the figures are printed either way for the runs that finished.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One untraced run; its metric values, or None when it is not correct."""
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-2000:])
        return None
    if not res.get("correct") or res.get("failed"):
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def seed_range(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return range(lo, hi + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="A-B, inclusive")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    values = {side: {m["name"]: [] for m in metrics} for side in sides}
    wins = {m["name"]: 0 for m in metrics}
    ok = True
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            pair[side] = run(sides[side], a.workload, seed, bench["run_seconds"])
            print(f"seed {seed} {side}: " + ("not correct" if pair[side] is None else
                  " ".join(f"{k}={v:.1f}" for k, v in sorted(pair[side].items()))),
                  flush=True)
        if pair["parent"] is None or pair["change"] is None:
            ok = False
            continue
        for m in metrics:
            p, c = pair["parent"][m["name"]], pair["change"][m["name"]]
            values["parent"][m["name"]].append(p)
            values["change"][m["name"]].append(c)
            if (c < p) if m["better"] == "lower" else (c > p):
                wins[m["name"]] += 1
    pairs = len(values["parent"][metrics[0]["name"]])
    print(f"\n{a.workload}: {pairs} pairs, seeds {a.seeds.start}-{a.seeds.stop - 1}")
    print(f"{'metric':16s} {'parent Q1':>10s} {'parent med':>10s} {'parent Q3':>10s} "
          f"{'change Q1':>10s} {'change med':>10s} {'change Q3':>10s} "
          f"{'parent IQR':>10s} {'delta':>8s} {'wins':>7s}")
    for m in metrics:
        name = m["name"]
        p, c = values["parent"][name], values["change"][name]
        if pairs < 2:
            print(f"{name:16s} needs at least 2 pairs for quartiles")
            continue
        pq1, pmed, pq3 = statistics.quantiles(p, n=4)
        cq1, cmed, cq3 = statistics.quantiles(c, n=4)
        delta = (cmed - pmed) / pmed if pmed else float("nan")
        print(f"{name:16s} {pq1:10.2f} {pmed:10.2f} {pq3:10.2f} "
              f"{cq1:10.2f} {cmed:10.2f} {cq3:10.2f} {pq3 - pq1:10.2f} "
              f"{delta:+8.1%} {wins[name]:3d}/{pairs:<3d} "
              f"({m['unit']}, {m['better']} is better)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
