"""Self-check of the benchmark on tiny inputs.

    python3 perfbench/run.py --smoke

Runs every workload end to end through ``run.py`` (one process per run,
as the benchmark is meant to be run) and asserts that:

* an untraced run prints every end-to-end metric of ``BENCHMARK.json``
  and a traced run every per-layer one, each with its unit, and both
  pass their output checks — a run also fails when a metric that
  ``catalog.json`` applies to its workload was not measured;
* a run whose first output is deliberately damaged reports
  ``correct: false`` and exits non-zero — the checks are live.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(python: str, run_py: str, workload: str, *extra: str):
    cmd = [python, run_py, "--workload", workload, "--seed", "1",
           "--seconds", "1", "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        res = None
    return p.returncode, res, p.stderr


def _names(entries) -> dict:
    return {e["name"]: e["unit"] for e in entries}


def main(python: str, run_py: str) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(f"[smoke] {'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            failures.append(what)

    for w in (w["name"] for w in bench["workloads"]):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            code, res, err = _run(python, run_py, w, "--trace", trace)
            label = f"{w} --trace {trace}"
            expect(code == 0 and res is not None and res["correct"]
                   and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{label}: exit 0, correct, nothing failed, "
                   "every metric of the workload measured")
            if res is None:
                print(err[-3000:], file=sys.stderr)
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == _names(bench[key]),
                   f"{label}: prints exactly the {key} metrics with units")
        code, res, _ = _run(python, run_py, w, "--trace", "0", "--corrupt")
        expect(code != 0 and res is not None and not res["correct"]
               and res["failed"] >= 1,
               f"{w}: a damaged output is reported as failed")
    print(f"[smoke] {'PASS' if not failures else 'FAIL'}", flush=True)
    return 0 if not failures else 1
