"""Parser for Spark's JSON-lines event log.

Reads an uncompressed, non-rolling event log (one JSON listener event per
line) into jobs, stages and SQL executions, with task metrics summed per
stage. Job counts come from ``SparkListenerJobStart`` events, never from
``statusTracker`` job-id deltas, which go negative once Spark's 1000-job
retention cap drops old jobs.

Times are epoch milliseconds, as Spark writes them.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

LISTING_DESC = "Listing leaf files and directories"

# SQL metric names (task accumulables) of the Arrow/Python-worker nodes
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_returned",
}
FILES_WRITTEN = "number of written files"

STAGE_SUMS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "delay_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "input_bytes",
    "output_bytes", *PYTHON_METRICS.values(),
)


@dataclass
class Stage:
    stage_id: int
    job_id: int | None
    submit: int = 0
    complete: int = 0
    peak_exec_mem: int = 0
    sums: dict[str, int] = field(default_factory=lambda: dict.fromkeys(STAGE_SUMS, 0))


@dataclass
class Job:
    job_id: int
    start: int
    group: str | None
    description: str
    stage_ids: list[int]
    end: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # execution id -> (start ms, files written)
    executions: dict[int, list[int]] = field(default_factory=dict)


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def _add_task(stage: Stage, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    s = stage.sums
    run, deser, ser = (
        m.get("Executor Run Time", 0),
        m.get("Executor Deserialize Time", 0),
        m.get("Result Serialization Time", 0),
    )
    s["tasks"] += 1
    s["run_ms"] += run
    s["cpu_ns"] += m.get("Executor CPU Time", 0)
    s["gc_ms"] += m.get("JVM GC Time", 0)
    s["delay_ms"] += max(0, info["Finish Time"] - info["Launch Time"] - run - deser - ser)
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    s["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    s["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    s["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    stage.peak_exec_mem = max(stage.peak_exec_mem, m.get("Peak Execution Memory", 0))
    for acc in info.get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None:
            s[key] += int(acc.get("Update") or 0)


def parse(path: str) -> EventLog:
    log = EventLog()
    stage_job: dict[int, int] = {}
    metric_names: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"],
                    ev["Submission Time"],
                    props.get("spark.jobGroup.id"),
                    props.get("spark.job.description") or "",
                    list(ev.get("Stage IDs", [])),
                )
                log.jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]].end = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in log.stages:
                    log.stages[sid] = Stage(sid, stage_job.get(sid))
                _add_task(log.stages[sid], ev)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                if sid not in log.stages:
                    log.stages[sid] = Stage(sid, stage_job.get(sid))
                log.stages[sid].submit = info.get("Submission Time", 0)
                log.stages[sid].complete = info.get("Completion Time", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                log.executions[ev["executionId"]] = [ev["time"], 0]
                _plan_metric_names(ev["sparkPlanInfo"], metric_names)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_names(ev["sparkPlanInfo"], metric_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                execution = log.executions.get(ev["executionId"])
                for acc_id, value in ev["accumUpdates"]:
                    if execution is not None and metric_names.get(acc_id) == FILES_WRITTEN:
                        execution[1] += int(value)
    return log
