#!/usr/bin/env python3
"""The repo's benchmark: one workload per invocation, run from the root of
a checkout.

    python3 perfbench/run.py --workload <replicate|corpus_session>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, into the
checkout's own target directories and ``.bench_build``), writes the
workload's inputs from the seed, forks one JVM on the compiled classpath
at ``local[<cores>]`` and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``metrics.py``). Everything else goes to stderr.

Workloads (sizes are fixed here; the seed varies only content and order):

* ``replicate``: snapshot + Debezium change stream + FINAL scans + point
  lookups + OPTIMIZE, through ``Replicator``, ``CdcPipeline`` and
  ``GraftTable``.
* ``corpus_session``: dedup, similarity and retrieval queries built on
  memoized relations, then one image, audio and video decode query each,
  in one session with cold memos.
"""
import argparse
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
import metrics  # noqa: E402

WORKLOADS = ("replicate", "corpus_session")
# replicate: orders in the snapshot (customers = orders/10, ~4 line items
# per order), change events, and `records_per_file`. The spool source reads
# 16 files per trigger, so a pass runs 3 micro-batches of ~540 events; the
# first also carries the stream's start-up and its DDL, so the median batch
# is a plain one.
REPLICATE = dict(n_orders=2000, n_events=1600, records_per_file=34)
# corpus: documents and embeddings, from a fixed seed so every run checks
# against the same goldens; the run's seed permutes the query order
CORPUS = dict(seed=42, n_docs=500, n_emb=500)
# a fixed heap, so runs compare across machines; the live heap is ~100 MB
HEAP = "4g"
# the harness is stopped if it outlives this (a run must end in 180 s)
DEADLINE_S = 170
# the root build's JVM flags: module opens Spark needs on JDK 17, and the
# throughput collector
JAVA_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:+UseParallelGC",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        if os.path.isfile(r):
            newest = max(newest, os.path.getmtime(r))
        for d, _, files in os.walk(r):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def classpath():
    """Compile engine + harness if any source is newer than the last
    build; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if (os.path.exists(stamp) and
            os.path.getmtime(stamp) >= newest_source_mtime()):
        with open(stamp) as f:
            return f.read().strip()
    log("building engine and harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def make_inputs(workload, seed, inputs):
    if workload == "replicate":
        gen.write_replicate(inputs, seed, **REPLICATE)
    else:
        gen.write_corpus(os.path.join(inputs, "corpus"), CORPUS["seed"],
                         CORPUS["n_docs"], CORPUS["n_emb"])
        shutil.copy(os.path.join(HERE, "goldens.json"), inputs)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, seed, seconds, trace, inputs, work, out, deadline):
    cmd = (["java", f"-Xmx{HEAP}"] + JAVA_OPTS +
           ["-cp", cp, "perfbench.Harness", "--workload", workload,
            "--inputs", inputs, "--work", work, "--out", out,
            "--cpus", str(cores()), "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace)])
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL)
    try:
        return p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("harness ran past its deadline")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found next to perfbench/")

    cp = classpath()
    # a build in this invocation does not count against the deadline
    budget_start = time.time()
    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(inputs)
    os.makedirs(work)
    try:
        make_inputs(args.workload, args.seed, inputs)
        out = os.path.join(run_dir, "observations.json")
        rc = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace,
                     inputs, work, out, budget_start + DEADLINE_S)
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"harness exited with {rc}")
        with open(out) as f:
            obs = json.load(f)
        if args.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(out, os.path.join(
                BUILD, "traces", f"{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        values, units = metrics.per_layer(obs), dict(metrics.PER_LAYER)
    else:
        values, units = metrics.end_to_end(obs), dict(metrics.END_TO_END)
    result = {
        "correct": obs["failed"] == 0 and obs["attempted"] > 0,
        "attempted": obs["attempted"],
        "failed": obs["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
