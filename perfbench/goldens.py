#!/usr/bin/env python3
"""Derives ``goldens.json`` for the query workloads (run once, from the
repo root, after the corpus fixture or the query surface changes):

    python3 perfbench/goldens.py

Writes the corpus fixture ``run.py`` uses, runs every ``corpus_session``
query through ``perfbench.Goldens`` at two core
counts, compares each result with its DuckDB oracle
(``SparkEntry.oracleSql``) by ``tools/selfcheck.py``, and records for each
query its row count and result digest. A query whose oracle comparison
fails is left out, so the benchmark counts it as failed; a query without
an oracle, or whose digest differs between the two core counts, is
checked by row count only.
"""
import json
import os
import shutil
import subprocess
import sys

import run

TMP = os.path.join(run.BUILD, "goldens")


def main():
    cp = run.classpath()
    shutil.rmtree(TMP, ignore_errors=True)
    corpus = os.path.join(TMP, "corpus")
    run.gen.write_corpus(corpus, run.CORPUS["seed"], run.CORPUS["n_docs"],
                         run.CORPUS["n_emb"])
    digests = []
    for cpus in (run.cores(), 2):
        out = os.path.join(TMP, f"out-{cpus}")
        subprocess.run(["java", f"-Xmx{run.HEAP}"] + run.JAVA_OPTS +
                       ["-cp", cp, "perfbench.Goldens", corpus, out,
                        str(cpus)], check=True, stdout=sys.stderr)
        with open(os.path.join(out, "digests.json")) as f:
            digests.append(json.load(f))
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "selfcheck.py"),
         corpus, os.path.join(TMP, f"out-{run.cores()}")],
        stdout=subprocess.PIPE, text=True)
    verdict = {}
    for line in check.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "ROWS", "FAIL"):
            verdict[parts[1].rstrip(":")] = parts[0]
    goldens = {}
    for q, d in sorted(digests[0].items()):
        v = verdict.get(q)
        if v == "FAIL" or v is None:
            print(f"left out {q}: oracle comparison {v}", file=sys.stderr)
            continue
        stable = digests[1].get(q) == d
        goldens[q] = {"rows": d["rows"],
                      "digest": d["digest"] if v == "PASS" and stable
                      else None}
    with open(os.path.join(run.HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(TMP, ignore_errors=True)
    print(f"{len(goldens)} goldens, "
          f"{sum(g['digest'] is None for g in goldens.values())} rows-only",
          file=sys.stderr)


if __name__ == "__main__":
    main()
