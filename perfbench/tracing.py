"""Spans around calls into the program's layers, and the Spark event log.

The tracer wraps public functions of ``spark_ml_spark.api``,
``spark_ml_spark.io.sources``, ``spark_ml_spark.session`` and
``spark_ml_spark.registry``, and ``pyspark.ml.base.Estimator.fit``, from
outside the program: every module of the package that holds a reference to
one of those functions gets the wrapper in its place, and ``restore`` puts
the originals back. Spans stay in memory until the run writes them out.

The event log is Spark's own JSON-lines listener log, written uncompressed
and unrolled; its jobs carry the job group the benchmark set around each
step of each query, which attributes jobs, stages, tasks and plans to the
query and to the step (building the DataFrame or executing it).
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: plan node names counted per query, by metric name
PLAN_NODES = {
    "plans.exchanges": ("Exchange",),
    "plans.broadcast_exchanges": ("BroadcastExchange",),
    "plans.smj": ("SortMergeJoin",),
    "plans.bhj": ("BroadcastHashJoin",),
    "plans.inmemory_scans": ("InMemoryTableScan",),
}


def _is_python_eval(node: str) -> bool:
    return "Python" in node or "Pandas" in node or "Arrow" in node


def public_functions(module) -> dict:
    """Functions defined in ``module`` whose names are public."""
    return {
        name: fn for name, fn in inspect.getmembers(module, inspect.isfunction)
        if not name.startswith("_") and fn.__module__ == module.__name__
    }


class Tracer:
    """Spans with name, start, end, parent and query id, kept in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.qid: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "qid": self.qid,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def patch_functions(self, module, layer: str) -> None:
        """Wrap every public function defined in ``module`` wherever the
        package refers to it."""
        for name, fn in public_functions(module).items():
            traced = self._wrap(fn, f"{layer}.{name}")
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(
                        "spark_ml_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._set(mod, attr, traced)

    def patch_method(self, cls, attr: str, name: str) -> None:
        self._set(cls, attr, self._wrap(getattr(cls, attr), name))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[str, dict[str, list[float]]]:
        """Per query id, per span name: [calls, self seconds]. Self time is
        a span's duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(lambda: [0, 0.0]))
        for i, s in enumerate(self.spans):
            acc = out[s["qid"]][s["name"]]
            acc[0] += 1
            acc[1] += (s["end"] - s["start"]) - child[i]
        return out


def _walk_plan(info: dict, counts: dict[str, int]) -> None:
    node = info.get("nodeName", "")
    for metric, names in PLAN_NODES.items():
        if node in names:
            counts[metric] += 1
    if _is_python_eval(node):
        counts["plans.python_evals"] += 1
    for c in info.get("children", ()):
        _walk_plan(c, counts)


def parse_event_log(paths: list[str]) -> dict[str, dict[str, dict[str, float]]]:
    """Aggregate an event log by job group: ``{group: {step: metrics}}``,
    where a job group is ``<query id>|<step>`` as the benchmark sets it."""
    job_group: dict[int, tuple[str, str]] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    exec_group: dict[int, tuple[str, str]] = {}
    exec_plan: dict[int, dict] = {}
    exec_replans: dict[int, int] = defaultdict(int)
    out: dict[str, dict[str, dict[str, float]]] = defaultdict(
        lambda: defaultdict(lambda: defaultdict(float)))
    job_submit: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if not group or "|" not in group:
                        continue
                    qid, step = group.rsplit("|", 1)
                    jid = ev["Job ID"]
                    job_group[jid] = (qid, step)
                    job_submit[jid] = ev["Submission Time"]
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(
                            int(props["spark.sql.execution.id"]), (qid, step))
                    out[qid][step]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        qid, step = job_group[jid]
                        out[qid][step]["job_ms"] += (
                            ev["Completion Time"] - job_submit[jid])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage_submit[sid] = info.get("Submission Time", 0)
                    if stage_job.get(sid) in job_group:
                        qid, step = job_group[stage_job[sid]]
                        out[qid][step]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if stage_job.get(sid) not in job_group:
                        continue
                    qid, step = job_group[stage_job[sid]]
                    acc = out[qid][step]
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    acc["tasks"] += 1
                    acc["failed_tasks"] += 1 if info.get("Failed") else 0
                    acc["task_wait_ms"] += max(
                        info["Launch Time"] - stage_submit.get(sid, info["Launch Time"]), 0)
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
                    acc["peak_mem_bytes"] = max(
                        acc["peak_mem_bytes"], m.get("Peak Execution Memory", 0))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
                    exec_replans[ev["executionId"]] += 1
    for eid, (qid, step) in exec_group.items():
        counts: dict[str, int] = defaultdict(int)
        _walk_plan(exec_plan.get(eid, {}), counts)
        acc = out[qid][step]
        for metric in (*PLAN_NODES, "plans.python_evals"):
            acc[metric] += counts[metric]
        acc["plans.aqe_replans"] += exec_replans.get(eid, 0)
    return out
