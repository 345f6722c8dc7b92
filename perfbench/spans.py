"""Measurement from outside the engine: process-tree CPU and memory,
spans, and Spark's own event log.

Nothing here imports the engine. Spans wrap the benchmark's calls into a
layer's public functions; the Spark jobs a span runs are tagged with the
span name through the job description, and the traced run reads stage,
task and plan metrics back from the event log after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return s[s.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """root and every live descendant (JVM, python daemon, workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over the live tree. The c-fields
    hold the CPU of children that already exited and were reaped, so
    python workers that end inside a window still count; a difference of
    two readings is the tree's CPU over the window."""
    total = 0
    for p in process_tree(root):
        st = _stat(p)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _CLK


def _pss_mb(pid: int) -> float:
    """Proportional set size of one process: pages shared between forked
    python workers count once, as they do in host memory."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1e3
    except OSError:
        pass
    return 0.0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class MemSampler:
    """Peak memory of the process tree, sampled on a thread while active.

    `peak` is the gated figure: the PSS of every process but the JVM (the
    python driver, daemon and workers) plus the memory Spark's memory
    manager holds in the JVM (execution: shuffle, sort and aggregation
    buffers; storage: cached and broadcast blocks). The JVM's own RSS is
    left out of it because G1 sizes the heap adaptively: in runs of the
    same code the committed heap varied from 0.9 to 1.7 GB. `peak_tree`
    is the PSS of the whole tree, JVM included, kept for the record.

    Execution memory is held for the length of a task, so the managed
    memory is read every `period`; the PSS, which is dearer to read and
    moves slowly, every `pss_period`."""

    def __init__(self, root: int, jvm, period: float = 0.05,
                 pss_period: float = 0.25):
        self.root, self.jvm = root, jvm
        self.period, self.pss_period = period, pss_period
        self.peak = self.peak_tree = 0.0
        self._py = 0.0
        self._pss_at = float("-inf")
        self._on = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def sample(self, pss: bool = True):
        if pss or time.monotonic() - self._pss_at >= self.pss_period:
            py = java = 0.0
            for p in process_tree(self.root):
                if _is_jvm(p):
                    java += _pss_mb(p)
                else:
                    py += _pss_mb(p)
            self._py, self._pss_at = py, time.monotonic()
            self.peak_tree = max(self.peak_tree, py + java)
        mm = self.jvm.org.apache.spark.SparkEnv.get().memoryManager()
        managed = (mm.executionMemoryUsed() + mm.storageMemoryUsed()) / 1e6
        self.peak = max(self.peak, self._py + managed)

    def _run(self):
        while not self._stop.wait(self.period):
            if self._on.is_set():
                self.sample(pss=False)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    @contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self.sample()
            self._on.clear()


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory. When
    `tag_jobs` is set, each span also becomes the description of the Spark
    jobs started inside it, which is how the event log maps work to spans."""

    def __init__(self, sc=None, tag_jobs: bool = False):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._sc = sc if tag_jobs else None

    @contextmanager
    def span(self, name: str, tag: bool = False):
        """Time a block. With tag=True (and job tagging on), Spark jobs
        started inside it carry `name` as their description."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        tag = tag and self._sc is not None
        if tag:
            self._sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if tag:
                self._sc.setJobDescription(None)
            self.spans.append({"name": name, "start": t0, "end": t1,
                               "parent": parent, "run": self.run_id})

    def current(self) -> str:
        """Name of the innermost open span ("-" outside any span)."""
        return self._stack[-1] if self._stack else "-"

    def wall(self, name: str) -> float:
        """Wall time of the latest span of that name (0 if none)."""
        return next((s["end"] - s["start"] for s in reversed(self.spans)
                     if s["name"] == name), 0.0)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas", "AggregateInPandas",
            "WindowInPandas", "FlatMapGroupsInArrow")


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", ()):
        yield from _walk(c)


class EventLog:
    """Jobs, stages, tasks and SQL plans of one application's event log,
    grouped by the span (job description) that started them."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*")))
        if not files:
            raise RuntimeError(f"no event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, dict] = {}   # execution id -> final plan
        self.accum: dict[int, float] = {}  # SQL metric id -> summed value
        with open(files[-1]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "span": props.get("spark.job.description"),
                "exec": int(props.get("spark.sql.execution.id", -1)),
                "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                "start": e["Submission Time"] / 1e3, "end": None}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.setdefault(si["Stage ID"], self._new_stage())
            st["scopes"] = {json.loads(r["Scope"])["name"]
                            for r in si.get("RDD Info", ()) if r.get("Scope")}
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], self._new_stage())
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["retries"] += int(info.get("Attempt", 0) > 0
                                 or info.get("Failed", False))
            st["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            st["spill"] += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0))
            st["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for a in info.get("Accumulables", ()):
                if isinstance(a.get("Update"), (int, float)):
                    self.accum[a["ID"]] = self.accum.get(a["ID"], 0) + a["Update"]
                elif isinstance(a.get("Update"), str) and a["Update"].lstrip("-").isdigit():
                    self.accum[a["ID"]] = self.accum.get(a["ID"], 0) + int(a["Update"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates") or kind.endswith(
                "DriverAccumUpdates"):
            for upd in e.get("accumUpdates", ()):
                self.accum[upd[0]] = self.accum.get(upd[0], 0) + upd[1]

    @staticmethod
    def _new_stage() -> dict:
        return {"scopes": set(), "tasks": 0, "retries": 0, "task_s": [],
                "gc_s": 0.0, "spill": 0, "shuffle_w": 0}

    # -- queries ------------------------------------------------------------

    def jobs_of(self, span: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["span"] == span]

    def stages_of(self, span: str) -> list[dict]:
        """Stages that ran (not skipped) for jobs of the span."""
        ids = {s for j in self.jobs_of(span) for s in j["stages"]}
        return [self.stages[i] for i in sorted(ids)
                if i in self.stages and self.stages[i]["tasks"]]

    def executions_of(self, span: str) -> list[int]:
        return sorted({j["exec"] for j in self.jobs_of(span)
                       if j["exec"] >= 0 and j["exec"] in self.plans})

    def plan_nodes(self, span: str) -> list[dict]:
        return [n for x in self.executions_of(span)
                for n in _walk(self.plans[x])]

    def execution_walls(self, span: str) -> dict[int, float]:
        """Wall time of each SQL execution (all its jobs) in the span."""
        spans: dict[int, list[float]] = {}
        for j in self.jobs_of(span):
            if j["exec"] >= 0 and j["end"] is not None:
                lo, hi = spans.get(j["exec"], (j["start"], j["end"]))
                spans[j["exec"]] = (min(lo, j["start"]), max(hi, j["end"]))
        return {x: hi - lo for x, (lo, hi) in spans.items()}

    def writes_to(self, execution: int, suffix: str) -> bool:
        """Whether the execution's plan writes files to a path ending in
        suffix."""
        return any(n["nodeName"].endswith("InsertIntoHadoopFsRelationCommand")
                   and f"{suffix}," in n.get("simpleString", "")
                   for n in _walk(self.plans.get(execution, {})))

    def python_nodes(self, span: str) -> int:
        return sum(n["nodeName"] in PY_NODES for n in self.plan_nodes(span))

    def node_metric(self, span: str, node: str, text: str,
                    metric: str) -> float:
        """Summed SQL metric of plan nodes named `node` whose description
        contains `text` (e.g. a python function name)."""
        ids = {m["accumulatorId"] for n in self.plan_nodes(span)
               if n["nodeName"] == node and text in n.get("simpleString", "")
               for m in n.get("metrics", ()) if m["name"] == metric}
        return float(sum(self.accum.get(i, 0) for i in ids))

    def count_executions_with(self, span: str, node: str, text: str) -> int:
        return sum(
            any(n["nodeName"] == node and text in n.get("simpleString", "")
                for n in _walk(self.plans[x]))
            for x in self.executions_of(span))

    def totals(self, spans: list[str]) -> dict:
        sts = [s for sp in spans for s in self.stages_of(sp)]
        return {"gc_s": sum(s["gc_s"] for s in sts),
                "spill": sum(s["spill"] for s in sts),
                "shuffle_w": sum(s["shuffle_w"] for s in sts),
                "tasks": sum(s["tasks"] for s in sts),
                "retries": sum(s["retries"] for s in sts)}


def skew(task_s: list[float]) -> float:
    """max / median task time (1.0 for a perfectly even stage)."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 0.0
