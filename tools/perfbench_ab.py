#!/usr/bin/env python3
"""Alternating A/B of the repository benchmark between two checkouts.

    python3 tools/perfbench_ab.py TREE_A TREE_B --workload W --pairs N [--first-seed S]

TREE_A is the baseline (say, the parent commit) and TREE_B the change.
Pair i runs ``perfbench/run.py --workload W --seed S+i --trace 0`` once in
each tree, for BENCHMARK.json's ``run_seconds``, A first in even pairs and
B first in odd ones, so drift on the host hits both sides alike.  It
prints each side's failed runs and, for every end-to-end metric of
BENCHMARK.json over the pairs that finished on both sides, each side's
median and quartiles, the number of pairs B wins (ties, and pairs where a
side failed, count for neither side), and whether B's gain holds by the
rule the benchmark's gain claims follow: B wins at least nine tenths of
all pairs run, the medians differ by more than A's interquartile
distance, and B failed no more runs than A.  It then prints, per
operation, each side's median latency (the median over the pairs of each
run's median sample), B's median over A's, and the number of pairs B wins,
from the ``samples`` of each run's
``.bench_build/work/<workload>-<seed>-t0/result.json``; this names the
operations a change moved.  The gain rule reads only the end-to-end
metrics.

Each tree builds itself on its first run (``.bench_build/`` in that tree);
the build is not timed.  This script only calls ``perfbench/run.py``.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(tree, workload, seed, seconds):
    """One untraced benchmark run in ``tree``: its result line, with each
    operation's median latency added under ``op_medians``; or None."""
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    if p.returncode != 0:
        print(f"  {tree} seed {seed}: exit {p.returncode}: {p.stderr.strip()[-500:]}",
              file=sys.stderr)
        return None
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["op_medians"] = op_medians(tree, workload, seed)
    return res


def op_medians(tree, workload, seed):
    """Median latency of each operation's successful samples in the run's
    ``result.json`` (samples are ``[name, module, latency_s, ok]``)."""
    with open(os.path.join(tree, ".bench_build", "work", f"{workload}-{seed}-t0",
                           "result.json")) as f:
        samples = json.load(f)["samples"]
    by_op = {}
    for name, _, lat, ok in samples:
        if ok:
            by_op.setdefault(name, []).append(lat)
    return {name: statistics.median(lats) for name, lats in by_op.items()}


def quartiles(xs):
    """(first quartile, median, third quartile) of at least one value."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tree_a")
    ap.add_argument("tree_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    trees = {"A": os.path.abspath(a.tree_a), "B": os.path.abspath(a.tree_b)}
    with open(os.path.join(trees["A"], "BENCHMARK.json")) as f:
        spec = json.load(f)

    pairs = []
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = "AB" if i % 2 == 0 else "BA"
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            t = time.time()
            pair[side] = run_once(trees[side], a.workload, seed, spec["run_seconds"])
            print(f"pair {i + 1} seed {seed} {side}: {time.time() - t:.0f} s wall"
                  + ("" if pair[side] else ", failed"), flush=True)
        pairs.append(pair)
    failed = {side: sum(p[side] is None for p in pairs) for side in "AB"}
    done = [p for p in pairs if p["A"] and p["B"]]
    print(f"\n{a.workload}: failed runs A {failed['A']}, B {failed['B']} of {len(pairs)} each;"
          f" {len(done)} pairs completed on both sides")
    if not done:
        sys.exit("no pair completed on both sides")
    print(f"{'metric':<14}{'side':>5}{'q1':>11}{'median':>11}{'q3':>11}"
          f"{'B wins':>8}{'B gain holds':>14}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        va = [p["A"]["metrics"][name]["value"] for p in done]
        vb = [p["B"]["metrics"][name]["value"] for p in done]
        wins = sum((b < x) if lower else (b > x) for x, b in zip(va, vb))
        (a1, am, a3), (b1, bm, b3) = quartiles(va), quartiles(vb)
        gain = (bm < am) if lower else (bm > am)
        holds = (wins * 10 >= 9 * len(pairs) and gain and abs(bm - am) > a3 - a1
                 and failed["B"] <= failed["A"])
        print(f"{name:<14}{'A':>5}{a1:>11.4g}{am:>11.4g}{a3:>11.4g}")
        print(f"{'':<14}{'B':>5}{b1:>11.4g}{bm:>11.4g}{b3:>11.4g}"
              f"{f'{wins}/{len(pairs)}':>8}{'yes' if holds else 'no':>14}")

    ops = sorted({op for p in done for op in p["A"]["op_medians"]})
    print(f"\n{'operation':<22}{'A median':>11}{'B median':>11}{'B/A':>8}{'B wins':>8}")
    for op in ops:
        both = [(p["A"]["op_medians"][op], p["B"]["op_medians"][op]) for p in done
                if op in p["A"]["op_medians"] and op in p["B"]["op_medians"]]
        if not both:
            continue
        am = statistics.median(x for x, _ in both)
        bm = statistics.median(b for _, b in both)
        wins = sum(b < x for x, b in both)
        print(f"{op:<22}{am:>11.4g}{bm:>11.4g}{bm / am:>8.3f}{f'{wins}/{len(both)}':>8}")


if __name__ == "__main__":
    main()
