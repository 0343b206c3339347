#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/repeat.py --workload NAME [--seeds 1-10] [--seconds S] [--trace 0|1]

For every metric it prints the median over the seeds and the distance
between the first and third quartile as a share of the median (the spread
a metric's ``bound`` in BENCHMARK.json must exceed three times over), and
each run's wall time.  Add ``--json FILE`` to keep the raw results.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    secs = a.seconds or spec["run_seconds"]
    runs = []
    for s in seeds(a.seeds):
        t = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(secs),
                            "--trace", str(a.trace)], cwd=root, capture_output=True, text=True)
        wall = time.time() - t
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["wall_s"] = wall
        runs.append(res)
        print(f"seed {s}: {wall:.1f} s wall, attempted {res['attempted']}, "
              f"failed {res['failed']}, correct {res['correct']}", flush=True)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(runs, f)
    if len(runs) < 2:
        sys.exit(1)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{'metric':<34}{'median':>14}{'spread':>9}{'bound':>8}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        b = bounds.get(name)
        print(f"{name:<34}{statistics.median(vals):>14.6g}{stats.spread(vals):>9.3f}"
              f"{'' if b is None else b:>8}")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f} s")


if __name__ == "__main__":
    main()
