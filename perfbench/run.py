#!/usr/bin/env python3
"""sparklog benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload route_write --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process, one Spark job at a
time, at most local[4]. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(``BENCHMARK.json`` names both; ``perfbench/catalog.json`` says which
workloads each applies to). The exit code is 0 only when every pass's
output matched the reference and every metric of the workload was
measured. ``--smoke`` runs the
self-check instead (see ``smoke.py``). Everything the run writes stays
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CATALOG = os.path.join(HERE, "catalog.json")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

PARALLELISM = 4      # the host has 4 vCPUs; local[4] is the ceiling
DRIVER_MEMORY = "2g"  # the host has 15 GB shared with other tenants


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env() -> None:
    """Environment for the driver JVM and its Python workers, set before
    pyspark is imported: workers launched by the JVM import
    ``logagent_spark`` (and UDF closures from this directory) through
    PYTHONPATH; shuffle files, temp files and the warehouse stay inside
    the checkout."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def session_conf() -> dict:
    tmp = os.path.join(WORK, "tmp")
    return {
        # console progress bars write '\r' lines that swallow result lines
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


class Engine:
    """The Spark context of a run and its current session."""

    def __init__(self) -> None:
        self.spark = None
        self.cold_start_s = 0.0

    def start(self, parallelism: int):
        """Launch the JVM and open the first session."""
        from logagent_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", parallelism=parallelism,
                               extra=session_conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cold_start_s = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        """Stop the session, close the JVM and wait for every process it
        started (Python workers included) to end."""
        from pyspark import SparkContext
        from tracing import descendants

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        pids = descendants(os.getpid())
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        _wait_gone(pids, timeout=20)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _wait_gone(pids, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


class Runner:
    """One benchmark run: set-up, a closed loop of checked passes, then
    either the end-to-end metrics or the traced per-layer metrics."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 tiny: bool = False) -> None:
        from inputs import InputCache
        from workloads import WORKLOADS

        self.engine = Engine()
        cache = InputCache(os.path.join(WORK, "cache"))
        self.wl = WORKLOADS[workload](
            cache, os.path.join(WORK, "work"), seed, tiny)
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.corrupt_next = False  # self-check: damage the next output

    # -- set-up ----------------------------------------------------------
    def setup(self) -> float:
        """The cold set-up, once per run: JVM launch and session start
        (taken while the inputs were generated), pipeline compile and one
        warm-up pass on the fixed slice, which pays codegen, JIT and the
        Python-worker fork."""
        spark = self.engine.spark
        t1 = time.perf_counter()
        self.wl.compile(spark)
        t2 = time.perf_counter()
        self.wl.warmup(spark)
        t3 = time.perf_counter()
        log(f"setup: session {self.engine.cold_start_s:.2f} s, "
            f"compile {t2 - t1:.2f} s, warm-up {t3 - t2:.2f} s")
        return self.engine.cold_start_s + t3 - t1

    # -- one checked pass ------------------------------------------------
    def one_pass(self, step=None) -> float | None:
        """One timed, checked pass; `step` (a traced step) wraps the timed
        work, and the time it takes to read its metrics counts."""
        spark = self.engine.spark
        self.attempted += 1
        try:
            self.wl.before_pass()
            t0 = time.perf_counter()
            with step or nullcontext():
                out = self.wl.run_pass(spark)
            dt = time.perf_counter() - t0
            if self.corrupt_next:
                self.wl.corrupt(out)
                self.corrupt_next = False
            # the first pass gets every check, including the digests that
            # re-read the whole output; later passes the cheap ones
            problems = self.wl.check(
                spark, out, full=self.attempted == 1 or step is not None)
        except Exception:  # a failing pass is counted, the loop goes on
            log("pass raised:\n" + traceback.format_exc())
            self.failed += 1
            return None
        if problems:
            self.failed += 1
            for p in problems:
                log(f"check failed: {p}")
            return None
        return dt

    def loop(self, seconds: float) -> list[float]:
        times: list[float] = []
        deadline = time.perf_counter() + seconds
        errors = 0
        while (time.perf_counter() < deadline
               or len(times) < self.wl.min_passes):
            dt = self.one_pass()
            if dt is None:
                errors += 1
                if errors >= 3:
                    break
                continue
            times.append(dt)
            log(f"pass {len(times)}: {dt:.3f} s")
        return times

    # -- runs ------------------------------------------------------------
    def run(self, trace: bool) -> dict:
        from tracing import MemorySampler

        sampler = MemorySampler().start()
        try:
            # the JVM launches while the inputs are generated
            with ThreadPoolExecutor(1) as pool:
                launch = pool.submit(self.engine.start, PARALLELISM)
                t0 = time.perf_counter()
                try:
                    self.wl.prepare()
                finally:
                    launch.result()
            log(f"inputs ready in {time.perf_counter() - t0:.1f} s "
                f"({self.wl.ref['rows']} rows), JVM up in "
                f"{self.engine.cold_start_s:.1f} s")
            setup_s = self.setup()
            if trace:
                metrics = self.traced()
            else:
                metrics = self.timed()
                metrics["setup_s"] = setup_s
        finally:
            peak = sampler.stop()
            t0 = time.perf_counter()
            self.engine.stop()
            log(f"engine stopped in {time.perf_counter() - t0:.1f} s")
        if not trace:
            metrics["peak_rss_mb"] = peak / 2**20
        return metrics

    def timed(self) -> dict:
        times = self.loop(self.seconds)
        return {"docs_per_s":
                self.wl.ref["rows"] / median(times) if times else 0.0}

    def traced(self) -> dict:
        """Per-layer run: one traced pass between two untraced ones (the
        overhead is taken against their mean), then the layer plans."""
        from tracing import Tracer

        tracer = Tracer(self.engine.spark)
        before = self.one_pass()
        traced_s = self.one_pass(tracer.action("pass"))
        after = self.one_pass()
        full = tracer.actions[:1]  # empty when the traced pass raised
        m = self.wl.trace(self.engine.spark, tracer)
        m.update(tracer.engine_totals(full))
        m["engine.session_start_s"] = self.engine.cold_start_s
        untraced = [t for t in (before, after) if t is not None]
        if untraced and traced_s is not None:
            base = sum(untraced) / len(untraced)
            m["trace.untraced_pass_s"] = base
            m["trace.traced_pass_s"] = traced_s
            m["trace.overhead_frac"] = traced_s / base - 1.0
        tracer.write(os.path.join(
            WORK, "traces", f"{self.wl.name}-s{self.wl.seed}.json"))
        return m


def result(runner: Runner, metrics: dict, names: list[dict],
           catalog: dict) -> dict:
    """The result line. A metric whose catalog entry leaves out the
    running workload reads 0; one that applies but was not measured makes
    the run incorrect."""
    out = {}
    missing = []
    for spec in names:
        name = spec["name"]
        if name in metrics:
            v = metrics[name]
        else:
            v = 0.0
            if runner.wl.name in catalog["metrics"][name]["workloads"]:
                missing.append(name)
        out[name] = {"value": float(v), "unit": spec["unit"]}
    if missing:
        log("not measured: " + ", ".join(missing))
    return {
        "correct": (runner.failed == 0 and runner.attempted > 0
                    and not missing),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": out,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run the self-check (smoke.py) on tiny inputs")
    ap.add_argument("--tiny", action="store_true",
                    help="self-check only: tiny inputs")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-check only: damage the first pass's output")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "logagent_spark")):
        log(f"no logagent_spark package under {ROOT}: run from a checkout")
        return 2
    prepare_env()
    if args.smoke:
        import smoke

        return smoke.main(sys.executable, os.path.abspath(__file__))
    bench, catalog = load_json(BENCHMARK), load_json(CATALOG)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2
    runner = Runner(args.workload, args.seed, args.seconds, tiny=args.tiny)
    runner.corrupt_next = args.corrupt
    metrics = runner.run(bool(args.trace))
    names = bench["per_layer" if args.trace else "end_to_end"]
    res = result(runner, metrics, names, catalog)
    print(json.dumps(res), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
