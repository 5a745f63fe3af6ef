"""Spark event-log reader: jobs, stages and task metrics for the traced run.

Stage records are attributed to layers through the job description the
library sets when IOVERLAY_AUDIT_JOBDESC is on (or the benchmark's own
label), and to a timed pass through the job's submission time.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Task:
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    fetch_wait_ms: int


@dataclass
class Stage:
    id: int
    submit_ms: int = 0
    complete_ms: int = 0
    accum: dict = field(default_factory=dict)
    tasks: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(0, self.complete_ms - self.submit_ms) / 1000.0

    def sum(self, attr: str) -> int:
        return sum(getattr(t, attr) for t in self.tasks)


@dataclass
class Job:
    id: int
    desc: str
    submit_ms: int
    complete_ms: int = 0
    stages: list = field(default_factory=list)
    app: int = 0

    @property
    def wall_s(self) -> float:
        return max(0, self.complete_ms - self.submit_ms) / 1000.0


@dataclass
class Log:
    jobs: list
    stages: dict
    rdd_blocks: list  # ((app, job id) last started before it was stored, bytes)
    sql_metrics: list  # (SQL execution start ms, metric name, value) of driver-side metrics

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list:
        return [j for j in self.jobs if t0_ms <= j.submit_ms <= t1_ms]


def read(log_dir: str) -> Log:
    """All applications logged under log_dir (one file each). Job and stage
    ids restart per application, so stages are keyed (file index, stage id)."""
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )
    log = Log([], {}, [], [])
    for app, path in enumerate(paths):
        state = {"jobs": {}, "stages": {}, "blocks": [], "last_job": None,
                 "metric_names": {}, "exec_ms": {}, "sql": log.sql_metrics}
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                _apply(ev, state)
        for job in sorted(state["jobs"].values(), key=lambda j: j.id):
            job.app = app
            job.stages = [(app, s) for s in job.stages]
            log.jobs.append(job)
        log.stages.update({(app, sid): st for sid, st in state["stages"].items()})
        log.rdd_blocks += [((app, j), b) for j, b in state["blocks"]]
    return log


# driver-side SQL metrics worth keeping (the file scan reports its bytes here)
DRIVER_METRICS = {"size of files read"}


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        if m.get("name") in DRIVER_METRICS:
            out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _apply(ev: dict, state: dict) -> None:
    jobs, stages, blocks = state["jobs"], state["stages"], state["blocks"]
    e = ev.get("Event")
    if e == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        job = Job(ev["Job ID"], props.get("spark.job.description") or "", ev["Submission Time"])
        jobs[job.id] = job
        state["last_job"] = job.id
        for s in ev.get("Stage Infos", []):
            sid = s["Stage ID"]
            job.stages.append(sid)
            stages.setdefault(sid, Stage(sid))
    elif e == "SparkListenerJobEnd":
        if ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].complete_ms = ev["Completion Time"]
    elif e == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
        st.submit_ms = info.get("Submission Time", 0)
        st.complete_ms = info.get("Completion Time", 0)
        for acc in info.get("Accumulables", []):
            try:
                st.accum[acc["Name"]] = st.accum.get(acc["Name"], 0) + int(acc["Value"])
            except (KeyError, TypeError, ValueError):
                pass
    elif e == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
        st.tasks.append(
            Task(
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                fetch_wait_ms=sr.get("Fetch Wait Time", 0),
            )
        )
    elif e.endswith("SparkListenerSQLExecutionStart"):
        state["exec_ms"][ev["executionId"]] = ev.get("time", 0)
        _plan_metrics(ev.get("sparkPlanInfo") or {}, state["metric_names"])
    elif e.endswith("SparkListenerDriverAccumUpdates"):
        t = state["exec_ms"].get(ev["executionId"], 0)
        for acc_id, value in ev.get("accumUpdates", []):
            name = state["metric_names"].get(acc_id)
            if name:
                state["sql"].append((t, name, int(value)))
    elif e == "SparkListenerBlockUpdated":
        info = ev.get("Block Updated Info") or {}
        bid = (info.get("Block ID") or "")
        size = int(info.get("Memory Size", 0)) + int(info.get("Disk Size", 0))
        if bid.startswith("rdd_") and size > 0 and state["last_job"] is not None:
            blocks.append((state["last_job"], size))
