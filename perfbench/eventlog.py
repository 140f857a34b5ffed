"""Spark event-log stage profiler.

Reads an uncompressed Spark event log (one file) and returns one row
per completed stage attempt:
its job, the job description the benchmark tagged it with, the Python
call site of the action, the physical operators it ran, and its task
metrics (count, p50/max task time, executor/CPU/GC time, Python-worker
time and bytes, shuffle read/write, input files and bytes, spill).

Operators come from two places. The RDD scopes of a stage name the
operators whose RDDs it computes (`MapInPandas`, `Exchange`, ...). The
SQL plan links the rest: every plan node owns accumulator ids for its
metrics, and a task reports an update for each accumulator its stage
touched, so the accumulator ids a stage's tasks report identify the
plan nodes it ran, with their full `simpleString` (column lists
included). Driver-side node metrics (`number of files read`, `size of
files read`) arrive in `SparkListenerDriverAccumUpdates` and are
credited to the stages that ran that node.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

TOPK_OPS = ("Window", "WindowGroupLimit", "TakeOrderedAndProject")


def read_events(path: str) -> list[dict]:
    """All events of one application's log, in order."""
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def find_log(log_dir: str) -> str:
    """The one application log written under `log_dir`."""
    entries = [os.path.join(log_dir, e) for e in os.listdir(log_dir)
               if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log in {log_dir}, "
                         f"found {len(entries)}")
    return entries[0]


@dataclass
class PlanNode:
    name: str
    detail: str
    metrics: dict[int, tuple[str, str]]   # accumulator id -> (name, type)
    parent: "PlanNode | None" = None


@dataclass
class Stage:
    stage_id: int
    attempt: int
    job_id: int
    description: str
    callsite: str
    submit_ms: int
    complete_ms: int
    scopes: set[str]
    task_ms: list[int] = field(default_factory=list)
    launch_ms: list[int] = field(default_factory=list)
    nodes: dict[int, PlanNode] = field(default_factory=dict)
    node_values: dict[int, float] = field(default_factory=dict)
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    python_run_ms: float = 0.0
    python_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    shuffle_blocks: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0

    @property
    def tasks(self) -> int:
        return len(self.task_ms)

    @property
    def operators(self) -> set[str]:
        ops = {s.split(" (")[0] for s in self.scopes}
        ops |= {n.name for n in self.nodes.values()}
        return ops

    def has_op(self, names) -> bool:
        return any(o in names for o in self.operators)

    def task_wait_ms(self) -> int:
        return sum(max(0, t - self.submit_ms) for t in self.launch_ms)

    def skew(self) -> float:
        """max / median task time (1.0 for a single task)."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0

    def node_metric(self, node_pred, metric: str) -> float:
        """Sum of `metric` over this stage's plan nodes matching
        `node_pred(node)`."""
        total = 0.0
        for acc, node in self.nodes.items():
            name, _ = node.metrics[acc]
            if name == metric and node_pred(node):
                total += self.node_values.get(acc, 0.0)
        return total

    def row(self) -> dict:
        """The profiler's flat per-stage record."""
        return {
            "stage": self.stage_id, "attempt": self.attempt,
            "job": self.job_id, "description": self.description,
            "callsite": self.callsite,
            "operators": sorted(self.operators),
            "tasks": self.tasks,
            "task_p50_ms": statistics.median(self.task_ms)
            if self.task_ms else 0,
            "task_max_ms": max(self.task_ms) if self.task_ms else 0,
            "executor_run_ms": self.executor_run_ms,
            "executor_cpu_ms": self.executor_cpu_ns / 1e6,
            "gc_ms": self.gc_ms,
            "python_worker_ms": self.python_run_ms,
            "python_bytes": self.python_bytes,
            "shuffle_read_bytes": self.shuffle_read_bytes,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "input_files": int(self.node_metric(lambda n: True,
                                                "number of files read")),
            "input_bytes": self.input_bytes,
            "spill_bytes": self.spill_bytes,
            "failed_tasks": self.failed_tasks,
        }


@dataclass
class Job:
    job_id: int
    description: str
    submit_ms: int
    complete_ms: int


@dataclass
class Profile:
    stages: list[Stage]
    jobs: list[Job]


_TIME_SCALE = {"timing": 1.0, "nsTiming": 1e-6}   # -> ms


def _walk(info: dict, parent: PlanNode | None, out: dict[int, PlanNode]):
    metrics = {m["accumulatorId"]: (m["name"], m["metricType"])
               for m in info.get("metrics", [])}
    # an adaptive re-plan repeats nodes that already ran: keep one
    # object per node (its accumulators are the same)
    node = next((out[a] for a in metrics if a in out), None)
    if node is None:
        node = PlanNode(info["nodeName"], info.get("simpleString", ""),
                        metrics, parent)
    else:   # the latest plan is the one that runs from here on
        node.parent = parent
    for acc in node.metrics:
        out[acc] = node
    for child in info.get("children", []):
        _walk(child, node, out)


def _scaled(node: PlanNode, acc: int, value) -> float:
    _, mtype = node.metrics[acc]
    return float(value) * _TIME_SCALE.get(mtype, 1.0)


def profile(events: list[dict]) -> Profile:
    """Stage and job records of one application's events."""
    acc_node: dict[int, PlanNode] = {}
    driver_acc: dict[int, float] = {}
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], Stage] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or \
                kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk(e["sparkPlanInfo"], None, acc_node)
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                acc_node.setdefault(m["accumulatorId"], PlanNode(
                    "AdaptiveMetric", "",
                    {m["accumulatorId"]: (m["name"], m["metricType"])}))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, val in e["accumUpdates"]:
                driver_acc[acc] = driver_acc.get(acc, 0.0) + float(val)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get("spark.job.description", "") or "",
                e["Submission Time"], e["Submission Time"])
            for s in e.get("Stage Infos", []):
                stage_job.setdefault(s["Stage ID"], e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].complete_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            scopes = {json.loads(r["Scope"])["name"]
                      for r in info.get("RDD Info", []) if r.get("Scope")}
            stages[key] = Stage(
                info["Stage ID"], info["Stage Attempt ID"],
                job.job_id if job else -1,
                job.description if job else "", info["Stage Name"],
                info.get("Submission Time") or 0, 0, scopes)
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            if st is None:
                continue
            ti = e["Task Info"]
            st.task_ms.append(ti["Finish Time"] - ti["Launch Time"])
            st.launch_ms.append(ti["Launch Time"])
            if ti.get("Failed") or ti.get("Killed"):
                st.failed_tasks += 1
            tm = e.get("Task Metrics") or {}
            st.executor_run_ms += tm.get("Executor Run Time", 0)
            st.executor_cpu_ns += tm.get("Executor CPU Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += (sr.get("Local Bytes Read", 0)
                                      + sr.get("Remote Bytes Read", 0))
            st.shuffle_read_records += sr.get("Total Records Read", 0)
            st.shuffle_blocks += (sr.get("Local Blocks Fetched", 0)
                                  + sr.get("Remote Blocks Fetched", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            im = tm.get("Input Metrics") or {}
            st.input_bytes += im.get("Bytes Read", 0)
            st.output_bytes += (tm.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            for a in ti.get("Accumulables", []):
                node = acc_node.get(a["ID"])
                if node is None or "Update" not in a:
                    continue
                try:
                    val = _scaled(node, a["ID"], a["Update"])
                except (TypeError, ValueError):
                    continue
                st.nodes[a["ID"]] = node
                st.node_values[a["ID"]] = st.node_values.get(a["ID"],
                                                             0.0) + val
                name = a["Name"]
                if name == "time to run Python workers":
                    st.python_run_ms += val
                elif name in ("data sent to Python workers",
                              "data returned from Python workers"):
                    st.python_bytes += int(val)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.get((info["Stage ID"], info["Stage Attempt ID"]))
            if st is not None:
                st.complete_ms = info.get("Completion Time") or 0
    # driver-side node metrics: credit each to the stages that ran the
    # node (the first such stage, so a value is never counted twice)
    first_stage: dict[int, Stage] = {}
    for st in sorted(stages.values(), key=lambda s: s.stage_id):
        for node in st.nodes.values():
            first_stage.setdefault(id(node), st)
    for acc, val in driver_acc.items():
        node = acc_node.get(acc)
        st = first_stage.get(id(node)) if node is not None else None
        if st is not None:
            st.nodes[acc] = node
            st.node_values[acc] = _scaled(node, acc, val)
    return Profile(sorted(stages.values(),
                          key=lambda s: (s.stage_id, s.attempt)),
                   sorted(jobs.values(), key=lambda j: j.job_id))
