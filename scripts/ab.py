#!/usr/bin/env python3
"""Interleaved A/B timer for gate leaves, one long-lived worker per tree.

    python3 scripts/ab.py --sf DATA_DIR --gates parse_regex,ann_ivf_topk \\
        --rounds 10 . ../parent-checkout

Each TREE is a checkout of this repository (one tree just times it).
A gate name is looked up in that tree's ``queries()`` registry first,
then as ``q_<name>`` in its ``logagent_spark/queries.py``, so the
unregistered single-strategy gates (``ann_ivf_topk``,
``parse_grok_dict_udf``, ...) can be timed too.

Protocol (the three micro-benchmark traps in CLAUDE.md):

- one timing = the gate BUILD (several gates do eager work at build
  time) plus a ``write.format("noop")`` execute, so every column is
  materialized and no join is eliminated under a bare ``count()``;
- every timing builds a fresh plan, so no run re-uses the shuffle
  files of an earlier one;
- the workers stay up for the whole run (warm JIT, warm Python worker
  pool), only one executes at a time, every leg of a gate runs back to
  back and the tree order flips every round, so host drift hits both
  trees alike. One untimed warm-up leg per (tree, gate) runs first.

Prints one JSON line per (tree, gate): every run in seconds, min,
quartiles, median and the number of rounds the tree was fastest.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

MARK = "AB "
CPUS = len(os.sched_getaffinity(0))  # only one worker executes at a time
HEAP = "4g"  # per Spark JVM: two of them and their Python workers fit in 16 GB


def worker(tree: str, sf_dir: str) -> None:
    """Serve gate names from stdin, one timing reply per line."""
    reply_to = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)  # Spark and the JVM child never write into the replies

    def reply(obj: dict) -> None:
        reply_to.write(MARK + json.dumps(obj) + "\n")
        reply_to.flush()

    sys.path.insert(0, tree)
    from logagent_spark import queries as q
    from logagent_spark.session import get_spark

    spark = get_spark("ab", parallelism=CPUS,
                      extra={"spark.driver.memory": HEAP})
    registry = q.queries()
    reply({"ready": True})
    for line in sys.stdin:
        name = line.strip()
        fn = registry.get(name) or getattr(q, f"q_{name}", None)
        if fn is None:
            reply({"error": f"no gate {name!r} in {tree}"})
            continue
        try:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            reply({"s": time.perf_counter() - t0})
        except Exception as e:  # the parent process reports it and stops
            reply({"error": f"{name}: {type(e).__name__}: {e}"[:2000]})
    spark.stop()


class Worker:
    def __init__(self, tree: str, args, scratch: str, i: int):
        self.tree = tree
        env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
                   PYTHONPATH=os.pathsep.join(
                       [tree] + [p for p in os.environ.get(
                           "PYTHONPATH", "").split(os.pathsep) if p]))
        cwd = os.path.join(scratch, f"w{i}")
        os.makedirs(cwd)
        self.log = os.path.join(cwd, "worker.log")
        with open(self.log, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--worker", tree,
                 "--sf", args.sf],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log,
                text=True, cwd=cwd, env=env)

    def read(self) -> dict:
        for line in self.proc.stdout:
            if line.startswith(MARK):
                msg = json.loads(line[len(MARK):])
                if "error" in msg:
                    raise SystemExit(f"{self.tree}: {msg['error']}")
                return msg
        with open(self.log) as f:  # the scratch dir goes away on exit
            tail = f.read()[-3000:]
        raise SystemExit(f"worker for {self.tree} died:\n{tail}")

    def time(self, gate: str) -> float:
        self.proc.stdin.write(gate + "\n")
        self.proc.stdin.flush()
        return self.read()["s"]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=120)
            except subprocess.TimeoutExpired:
                self.proc.kill()


def summary(runs: list[float]) -> dict:
    if len(runs) > 1:
        q1, med, q3 = statistics.quantiles(runs, n=4, method="inclusive")
    else:
        q1 = med = q3 = runs[0]
    return {"runs": [round(r, 3) for r in runs], "min": round(min(runs), 3),
            "q1": round(q1, 3), "median": round(med, 3), "q3": round(q3, 3)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("trees", nargs="*", help="one or two repository checkouts")
    ap.add_argument("--gates", default="",
                    help="comma-separated gate names")
    ap.add_argument("--sf", required=True,
                    help="directory holding the <table>.parquet inputs")
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--worker", help=argparse.SUPPRESS)
    args = ap.parse_args()
    args.sf = os.path.abspath(args.sf)
    if args.worker:
        return worker(args.worker, args.sf)
    trees = [os.path.abspath(t) for t in args.trees]
    gates = [g for g in args.gates.split(",") if g]
    if not 1 <= len(trees) <= 2 or len(set(trees)) != len(trees) or not gates:
        ap.error("give one or two distinct trees and at least one gate")
    if args.rounds < 1:
        ap.error("--rounds must be at least 1")

    scratch = tempfile.mkdtemp(prefix="ab-")
    workers = []
    try:
        workers = [Worker(t, args, scratch, i) for i, t in enumerate(trees)]
        for w in workers:
            w.read()  # session up; start-up is never timed
        for g in gates:
            for w in workers:
                w.time(g)  # one untimed warm-up leg
        runs = {(w.tree, g): [] for w in workers for g in gates}
        won = {key: 0 for key in runs}
        for r in range(args.rounds):
            order = workers if r % 2 == 0 else workers[::-1]
            for g in gates:
                leg = {w.tree: w.time(g) for w in order}
                for t, s in leg.items():
                    runs[(t, g)].append(s)
                won[(min(leg, key=leg.get), g)] += 1
            print(f"[ab] round {r + 1}/{args.rounds} done",
                  file=sys.stderr, flush=True)
        for (t, g), rs in runs.items():
            print(json.dumps({"tree": t, "gate": g, "sf": args.sf,
                              "rounds": args.rounds, **summary(rs),
                              "won": won[(t, g)]}), flush=True)
    finally:
        for w in workers:
            w.close()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
