#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  It builds the library and the harness from
source (sbt, offline), generates the workload's inputs from the seed, runs
one JVM (``graft.perfbench.Main``) that measures for ``--seconds`` and checks
every output, and prints one JSON object as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  Everything it writes goes under
``.bench_build/`` in the checkout.  See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

# Input sizes: one wc pass (three surfaces on each corpus) takes a few
# seconds at 4 cores; every query on the tables finishes in under ~3 s.
PAPER_K = 4             # 21 words x 4 x 5000 = 420 k tokens
ZIPF_TOKENS = 400_000
ZIPF_VOCAB = 1_000_000
TABLES_SF = 0.01
JVM_HEAP = "3g"
DEADLINE_S = 170        # the whole run, build excluded
BUILD_TIMEOUT_S = 840

WORKLOADS = ("wc", "queries_sf0.01")

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an unchanged checkout skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the library and the harness; returns the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=HERE, env=env,
                               stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 1)
    with open(log) as f:
        lines = [l.strip() for l in f if ".jar" in l and ":" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed; see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def cached_input(name, make):
    """Generate an input once per (workload, seed, generator); drop older ones."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        name += "-" + hashlib.sha256(f.read()).hexdigest()[:12]
    base = os.path.join(BUILD, "inputs")
    path = os.path.join(base, name)
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    os.makedirs(base, exist_ok=True)
    prefix = name.split("-")[0]
    for old in os.listdir(base):
        if old.split("-")[0] == prefix:
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    fresh_dir(path)
    make(path)
    open(os.path.join(path, "DONE"), "w").close()
    return path


def workload_args(workload, seed, work, record=False):
    """Generate the inputs; returns the harness arguments that name them."""
    if workload == "wc":
        paper = cached_input(f"paper-{seed}-{PAPER_K}",
                             lambda p: gen.paper_corpus(p, seed, PAPER_K))
        with open(os.path.join(paper, "tally.tsv")) as f:
            pids = {w: int(p) for w, _, p in (l.rstrip("\n").split("\t") for l in f)}
        if pids != {w: p for p, ws in gen.PAPER_LAYOUT.items() for w in ws}:
            fail("paper corpus tally does not match the FIXTURES.md djb2 layout", 1)
        zipf = cached_input(f"zipf-{seed}-{ZIPF_TOKENS}-{ZIPF_VOCAB}",
                            lambda p: gen.zipf_corpus(p, seed + 1, ZIPF_TOKENS, ZIPF_VOCAB))
        return ["--workload", "wc", "--input", f"paper={paper},zipf={zipf}"]
    d = cached_input(f"tables-{TABLES_SF}", lambda p: gen.tables(p, TABLES_SF))
    expected = os.path.join(HERE, "expected_rows.tsv")
    # The order is fixed, not drawn from the seed: a query's latency falls
    # with its position in the pass as the JVM warms up (position-latency
    # correlation over ten seeded orders on a 4-vCPU VM: median -0.76), so
    # a permuted order moved the median query latency by 18 % between
    # seeds.
    names = sorted(q for q, _ in read_expected(expected)) if record else query_set(expected)
    order = os.path.join(work, "order.txt")
    with open(order, "w") as f:
        f.write("\n".join(names) + "\n")
    return ["--workload", "queries", "--input", d, "--order", order, "--expected", expected]


def read_expected(path):
    """``(query, module)`` pairs of the expected-rows file, in file order."""
    with open(path) as f:
        return [tuple(l.split("\t")[:2]) for l in f if l.strip() and not l.startswith("#")]


def query_set(path):
    """The queries one pass runs: every fourth of the 84 in name order,
    starting from the fourth.  A pass over all 84 does not fit the run time;
    this start keeps ``wordcount_files`` (last in name order), the query
    known to fail without the reference corpus, in the measured set.
    """
    return sorted(q for q, _ in read_expected(path))[3::4]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write observed query row counts here instead of checking")
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    if not os.path.isfile(spec_file):
        fail(f"missing {spec_file}")
    with open(spec_file) as f:
        spec = json.load(f)

    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    t0 = time.time()
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    work = fresh_dir(os.path.join(BUILD, "work", tag))
    jvm_tmp = fresh_dir(os.path.join(work, "tmp"))
    args = workload_args(a.workload, a.seed, work, record=bool(a.record))
    result = os.path.join(work, "result.json")
    trace_file = os.path.join(BUILD, f"trace-{tag}.jsonl")
    cmd = (["java", f"-Xmx{JVM_HEAP}"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={jvm_tmp}", f"-Djava.io.tmpdir={jvm_tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", cp, "graft.perfbench.Main"] + args +
           ["--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", result, "--trace-file", trace_file])
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    log = os.path.join(BUILD, f"run-{tag}.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run timed out; see {log}", 1)
    if rc != 0 or not os.path.exists(result):
        fail(f"harness exited with {rc}; see {log}", 1)
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(jvm_tmp, ignore_errors=True)

    if a.workload.startswith("queries"):
        res["metrics"].update(stats.query_metrics(res["samples"]))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"], 0.0 if a.trace else None)
        if v is None:
            fail(f"harness did not report {m['name']}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if res["failed_ops"]:
        print(f"failed operations: {', '.join(res['failed_ops'])}")
    if a.trace:
        print(f"trace: {trace_file}")
        print(stats.layer_table(res["metrics"]))
    print(json.dumps({"correct": res["wrong"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
