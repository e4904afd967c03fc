"""Spans, Spark's own metrics and process memory, read from outside the
program.

* ``Tracer.span(name)`` records (name, start, end, parent) in memory; the
  spans are written out once, when the run ends.
* ``Tracer.action(name)`` is a span that also tags every Spark job it
  starts with a job group, then reads the jobs' stage metrics from the
  status store (exact counters) and the SQL metrics of the executions it
  started (Spark's formatted strings, about four significant digits).
* ``MemorySampler`` sums the proportional set size (PSS: shared pages
  split between the processes sharing them, so pages a forked Python
  worker shares with its daemon count once) of every process below this
  one — the driver JVM and its Python workers — from ``/proc``.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas")


def parse_metric(text: str | None, kind: str) -> float:
    """Total of one formatted SQL metric: '1.2 s', '917.0 B', '200,000',
    or the 'total (min, med, max ...)\\n<total> (...)' form."""
    if not text:
        return 0.0
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return v * _SIZE_UNITS.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return v * _TIME_UNITS.get(unit, 1e-3)
    return v


# ---------------------------------------------------------------------------

def descendants(root: int) -> list[int]:
    """Pids of every live process below `root`."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class MemorySampler:
    """Peak of the summed PSS of all descendant processes, sampled every
    `interval` seconds on a daemon thread between start() and stop()."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(descendants(me)))
            self._stop.wait(self.interval)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


# ---------------------------------------------------------------------------

class Action:
    """Result of one traced step: wall seconds, the stages its jobs ran and
    the SQL executions it started."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.seconds = 0.0
        self.stages: list = []       # StageData (JVM objects)
        self.task_ms: list[list[float]] = []
        self.sql: list[tuple[str, str, str, float]] = []  # node, metric, kind, value

    def stage_sum(self, field: str) -> float:
        return float(sum(getattr(s, field)() for s in self.stages))

    def task_skew(self) -> float:
        """max / median task duration over the stage with the most tasks
        (the stage that carries the step's data)."""
        best = max(self.task_ms, key=len, default=[])
        if len(best) < 2:
            return 1.0
        s = sorted(best)
        med = s[len(s) // 2]
        return s[-1] / med if med > 0 else 1.0

    def python(self) -> dict:
        run = boot = sent = 0.0
        for n, mname, _, v in self.sql:
            if not n.startswith(PYTHON_NODES):
                continue
            if mname == "time to run Python workers":
                run += v
            elif mname == "time to start Python workers":
                boot += v
            elif mname == "data sent to Python workers":
                sent += v
        return {"run_s": run, "boot_s": boot, "bytes_sent": sent}

    def python_by_node(self) -> dict:
        out: dict = {}
        for n, mname, _, v in self.sql:
            if mname == "time to run Python workers":
                key = n.split(" ")[0]
                out[key] = out.get(key, 0.0) + v
        return out


class Tracer:
    """Spans and Spark metrics for the traced run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.actions: list[Action] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0}
        self._stack.append(sid)
        act = Action(name)
        try:
            yield act
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            act.seconds = rec["end"] - rec["start"]
            self.spans.append(rec)

    @contextmanager
    def action(self, name: str):
        sc = self.spark.sparkContext
        group = f"perfbench-{name}-{next(self._ids)}"
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        before = self._execution_ids(sql_store)
        sc.setJobGroup(group, name)
        try:
            with self.span(name) as act:
                yield act
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self._read_stages(act, group)
        self._read_sql(act, sql_store, before)
        self.actions.append(act)

    def _read_stages(self, act: Action, group: str) -> None:
        sc = self.spark.sparkContext
        status = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                st = status.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: no attempt recorded
                continue
            act.stages.append(st)
            tasks = status.taskList(sid, st.attemptId(), 100_000)
            durations = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durations.append(float(d.get()))
            act.task_ms.append(durations)

    @staticmethod
    def _execution_ids(sql_store) -> set[int]:
        execs = sql_store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    def _read_sql(self, act: Action, sql_store, before: set[int]) -> None:
        # execution ids are unique in the JVM but not dense per session
        for eid in sorted(self._execution_ids(sql_store) - before):
            values = sql_store.executionMetrics(eid)
            nodes = sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    v = values.get(pm.accumulatorId())
                    text = v.get() if v.isDefined() else None
                    act.sql.append((node.name(), pm.name(), pm.metricType(),
                                    parse_metric(text, pm.metricType())))

    @staticmethod
    def engine_totals(actions: list[Action]) -> dict:
        """Executor time, CPU, GC, spill and Python-worker start-up summed
        over the given actions' stages and SQL executions."""
        stages = [s for a in actions for s in a.stages]
        boot = sum(a.python()["boot_s"] for a in actions)
        return {
            "engine.run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "engine.cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "engine.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "engine.spill_bytes": float(sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled()
                for s in stages)),
            "engine.python_boot_s": boot,
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "actions": [
                {"name": a.name, "seconds": a.seconds,
                 "stages": len(a.stages),
                 "sql": [list(x) for x in a.sql]}
                for a in self.actions]}, f)
