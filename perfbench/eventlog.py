"""Spark event-log parser: per-stage executor metrics, grouped by job
description.

Spark 4.1 writes a rolling event log: a directory ``eventlog_v2_<app>``
holding ``events_<n>_<app>[.zstd]`` files of JSON lines. The zstd files
are read with ``pyarrow.CompressedInputStream``, so no extra package is
needed.

``parse(path)`` returns a :class:`Log` with

* ``stages``: one :class:`Stage` per completed stage attempt, carrying
  executor run/CPU time, GC, spill, shuffle read/write bytes and
  records, output bytes, task durations and task intervals, and the SQL
  metrics (per plan node) the stage updated;
* ``jobs``: job id -> :class:`Job` (description, submit/complete
  times, stage ids);
* ``nodes``: SQL metric accumulator id -> :class:`MetricNode` (plan node
  name, metric name, the node's one-line description and its scan
  location), collected from the initial plan and every adaptive re-plan;
* ``driver_metrics``: accumulator id -> value for SQL metrics the driver
  updates (for example the write command's ``number of written files``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class MetricNode:
    node: str
    metric: str
    detail: str
    location: str = ""
    execution_id: int | None = None


@dataclass
class Job:
    job_id: int
    description: str | None
    stage_ids: list[int]
    submit_ms: int = 0
    complete_ms: int = 0


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str
    job_id: int | None = None
    description: str | None = None
    submit_ms: int = 0
    complete_ms: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    output_bytes: int = 0
    task_ms: list[int] = field(default_factory=list)
    task_intervals: list[tuple[int, int]] = field(default_factory=list)
    sql: dict[int, int] = field(default_factory=dict)

    @property
    def task_p50_ms(self) -> float:
        return statistics.median(self.task_ms) if self.task_ms else 0.0

    @property
    def task_max_ms(self) -> int:
        return max(self.task_ms, default=0)


@dataclass
class Log:
    stages: list[Stage]
    jobs: dict[int, Job]
    nodes: dict[int, MetricNode]
    driver_metrics: dict[int, int]
    execution_desc: dict[int, str | None]

    def by_description(self) -> dict[str | None, list[Stage]]:
        out: dict[str | None, list[Stage]] = {}
        for st in self.stages:
            out.setdefault(st.description, []).append(st)
        return out

    def sql_rows(self, stage: Stage, node_pred, metric: str = "number of output rows") -> int:
        """Sum of one SQL metric over the plan nodes of ``stage`` that
        satisfy ``node_pred(MetricNode)``."""
        total = 0
        for acc_id, value in stage.sql.items():
            n = self.nodes.get(acc_id)
            if n is not None and n.metric == metric and node_pred(n):
                total += value
        return total

    def stage_has_node(self, stage: Stage, node_pred) -> bool:
        return any(
            (n := self.nodes.get(a)) is not None and node_pred(n)
            for a in stage.sql
        )


def event_files(path: str) -> list[str]:
    """Event files of one application log, in rolling order. ``path`` is
    an ``eventlog_v2_*`` dir, a dir holding exactly one of them, or a
    single (possibly zstd-compressed) event file."""
    if os.path.isfile(path):
        return [path]
    apps = sorted(glob.glob(os.path.join(path, "eventlog_v2_*")))
    if apps:
        if len(apps) != 1:
            raise ValueError(f"{path} holds {len(apps)} application logs, expected 1")
        path = apps[0]
    files = glob.glob(os.path.join(path, "events_*"))
    if not files:
        raise FileNotFoundError(f"no events_* files under {path}")
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def read_events(path: str):
    import pyarrow as pa

    for f in event_files(path):
        if f.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(f), "zstd") as s:
                data = s.read()
        else:
            with open(f, "rb") as s:
                data = s.read()
        for line in data.decode("utf-8").splitlines():
            if line:
                yield json.loads(line)


def _plan_nodes(info: dict, execution_id: int, out: dict[int, MetricNode]) -> None:
    stack = [info]
    while stack:
        n = stack.pop()
        loc = n.get("metadata", {}).get("Location", "")
        for m in n.get("metrics", []):
            out[m["accumulatorId"]] = MetricNode(
                n["nodeName"], m["name"], n.get("simpleString", ""), loc, execution_id
            )
        stack.extend(n.get("children", []))


_TASK_KEYS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.recordsRead": "shuffle_read_records",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.write.recordsWritten": "shuffle_write_records",
    "internal.metrics.output.bytesWritten": "output_bytes",
}


def parse(path: str) -> Log:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    nodes: dict[int, MetricNode] = {}
    driver: dict[int, int] = {}
    exec_desc: dict[int, str | None] = {}
    tasks: dict[tuple[int, int], list[tuple[int, int]]] = {}
    stages: list[Stage] = []

    for e in read_events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(
                e["Job ID"], props.get("spark.job.description"),
                [s["Stage ID"] for s in e["Stage Infos"]],
                submit_ms=e.get("Submission Time", 0),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].complete_ms = e.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                continue
            tasks.setdefault((e["Stage ID"], e["Stage Attempt ID"]), []).append(
                (info["Launch Time"], info["Finish Time"])
            )
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = Stage(
                si["Stage ID"], si["Stage Attempt ID"], si["Stage Name"],
                submit_ms=si.get("Submission Time", 0),
                complete_ms=si.get("Completion Time", 0),
            )
            for acc in si.get("Accumulables", []):
                name, value = acc["Name"], acc.get("Value")
                attr = _TASK_KEYS.get(name)
                if attr is not None:
                    setattr(st, attr, getattr(st, attr) + int(value))
                elif not name.startswith("internal.") and value is not None:
                    try:
                        st.sql[acc["ID"]] = int(value)
                    except (TypeError, ValueError):
                        pass
            iv = tasks.pop((st.stage_id, st.attempt), [])
            st.task_intervals = iv
            st.task_ms = [b - a for a, b in iv]
            stages.append(st)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_desc[int(e["executionId"])] = e.get("description")
            _plan_nodes(e["sparkPlanInfo"], int(e["executionId"]), nodes)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_nodes(e["sparkPlanInfo"], int(e["executionId"]), nodes)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                driver[acc_id] = driver.get(acc_id, 0) + int(value)

    for st in stages:
        jid = stage_job.get(st.stage_id)
        st.job_id = jid
        st.description = jobs[jid].description if jid is not None else None
    return Log(stages, jobs, nodes, driver, exec_desc)


def union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
