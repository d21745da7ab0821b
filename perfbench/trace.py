"""Spans for the traced run and the per-layer ledger built from them.

The benchmark records, in memory, one span per op with its driver-side
phases (``build``: inside the entry call; ``plan``: forcing the executed
plan; ``action``: the count/collect). After the run, jobs and stages from
the event log are hung under the op whose job group they carry, each job
under the phase it was submitted in, each stage under its job.

Self time: every instant of an op's wall time goes to the deepest span
active at that instant (op < phase < job < stage), so the layers' self
times add up to the op's wall time. ``op`` self time is driver time outside
every phase, so its share of the wall is the unattributed share.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from perfbench.eventlog import LISTING_DESC, EventLog

DEPTH = {"op": 0, "build": 1, "plan": 1, "action": 1, "job": 2, "stage": 3}


@dataclass
class OpRecord:
    op_id: str  # unique per execution; also the Spark job group
    name: str
    start: float
    end: float
    phases: list[tuple[str, float, float]]
    catalyst_ms: dict[str, float] = field(default_factory=dict)
    leaked_rdds: int = 0
    extra: dict[str, float] = field(default_factory=dict)  # workload-specific seconds


def _self_times(spans: list[tuple[str, float, float]]) -> dict[str, float]:
    """Deepest-span attribution of the first span's interval (the op)."""
    cuts = sorted({t for _, a, b in spans for t in (a, b)})
    out = dict.fromkeys(DEPTH, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        best = None
        for kind, s, e in spans:
            if s <= mid < e and (best is None or DEPTH[kind] > DEPTH[best]):
                best = kind
        if best is not None:
            out[best] += b - a
    return out


def op_ledger(rec: OpRecord, log: EventLog, cores: int) -> dict:
    """Per-layer numbers and span tree of one traced op."""
    jobs = [j for j in log.jobs.values() if j.group == rec.op_id and j.start / 1e3 < rec.end]
    job_ids = {j.job_id for j in jobs}
    stages = [s for s in log.stages.values() if s.job_id in job_ids]
    spans = [("op", rec.start, rec.end)] + [(k, a, b) for k, a, b in rec.phases]
    tree = []
    eager = 0
    for j in jobs:
        a, b = max(j.start / 1e3, rec.start), min(j.end / 1e3, rec.end)
        parent = next((k for k, s, e in rec.phases if s <= j.start / 1e3 < e), "action")
        eager += parent == "build"
        spans.append(("job", a, b))
        tree.append({"job": j.job_id, "parent": parent, "start": a, "end": b})
    for s in stages:
        if s.submit and s.complete:
            a, b = max(s.submit / 1e3, rec.start), min(s.complete / 1e3, rec.end)
            spans.append(("stage", a, b))
            tree.append({"stage": s.stage_id, "parent": s.job_id, "start": a, "end": b})
    self_s = _self_times(spans)
    wall = rec.end - rec.start
    tot = {k: sum(s.sums[k] for s in stages) for k in stages[0].sums} if stages else {}
    g = tot.get
    files_written = sum(
        n for t, n in log.executions.values() if rec.start <= t / 1e3 < rec.end
    )
    phase_s = {k: b - a for k, a, b in rec.phases}
    m = {
        "plans.build_s": phase_s.get("build", 0.0),
        "plans.eager_jobs": eager,
        "catalyst.analysis_s": rec.catalyst_ms.get("analysis", 0.0) / 1e3,
        "catalyst.optimization_s": rec.catalyst_ms.get("optimization", 0.0) / 1e3,
        "catalyst.planning_s": rec.catalyst_ms.get("planning", 0.0) / 1e3,
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": g("tasks", 0),
        "scheduler.delay_s": g("delay_ms", 0) / 1e3,
        "executor.run_s": g("run_ms", 0) / 1e3,
        "executor.cpu_s": g("cpu_ns", 0) / 1e9,
        "executor.gc_s": g("gc_ms", 0) / 1e3,
        "executor.peak_exec_mem_mb": max((s.peak_exec_mem for s in stages), default=0) / 2**20,
        "shuffle.write_bytes": g("shuffle_write_bytes", 0),
        "shuffle.read_bytes": g("shuffle_read_bytes", 0),
        "shuffle.fetch_wait_s": g("fetch_wait_ms", 0) / 1e3,
        "shuffle.spill_bytes": g("spill_bytes", 0),
        "sources.input_bytes": g("input_bytes", 0),
        "sources.output_bytes": g("output_bytes", 0),
        "sources.files_written": files_written,
        "sources.listing_jobs": sum(LISTING_DESC in j.description for j in jobs),
        "python.run_s": g("python_run_ms", 0) / 1e3,
        "python.init_s": g("python_init_ms", 0) / 1e3,
        "python.bytes_sent": g("python_sent", 0),
        "python.bytes_returned": g("python_returned", 0),
        "cache.leaked_rdds": rec.leaked_rdds,
        **{f"self.{k}_s": v for k, v in self_s.items()},
        **rec.extra,
    }
    m["executor.core_util"] = m["executor.run_s"] / (wall * cores) if wall > 0 else 0.0
    return {
        "op": rec.name,
        "op_id": rec.op_id,
        "wall_s": wall,
        "unattributed_share": self_s["op"] / wall if wall > 0 else 0.0,
        "metrics": m,
        "spans": [{"phase": k, "start": a, "end": b} for k, a, b in rec.phases] + tree,
    }


def run_ledger(records: list[OpRecord], log: EventLog, cores: int, passes: int) -> tuple[dict, list[dict]]:
    """Per-layer metrics summed over the traced ops and divided by the
    number of passes (so they read per pass), plus the per-op ledgers."""
    ledgers = [op_ledger(r, log, cores) for r in records]
    keys = ledgers[0]["metrics"].keys() if ledgers else []
    total = {k: sum(l["metrics"].get(k, 0) for l in ledgers) / passes for k in keys}
    total["executor.peak_exec_mem_mb"] = max(
        (l["metrics"]["executor.peak_exec_mem_mb"] for l in ledgers), default=0.0
    )
    walls = sum(l["wall_s"] for l in ledgers)
    total["executor.core_util"] = (
        sum(l["metrics"]["executor.run_s"] for l in ledgers) / (walls * cores) if walls else 0.0
    )
    total["trace.unattributed_share_max"] = max((l["unattributed_share"] for l in ledgers), default=0.0)
    return total, ledgers


def write_spans(path: str, run: dict, ledgers: list[dict]) -> None:
    with open(path, "w") as fh:
        json.dump({"run": run, "ops": ledgers}, fh, indent=1)
