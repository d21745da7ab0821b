"""The event-log parser and the per-op ledger, on a captured sf0.001 log
(``capture_eventlog.py`` regenerates it)."""

from __future__ import annotations

import gzip
import json
import shutil
from pathlib import Path

import pytest

from perfbench.eventlog import LISTING_DESC, parse
from perfbench.trace import OpRecord, _self_times, op_ledger, run_ledger

DATA = Path(__file__).resolve().parent / "data"


@pytest.fixture(scope="module")
def log_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("eventlog") / "app"
    with gzip.open(DATA / "eventlog_sf0001.json.gz", "rb") as src, open(path, "wb") as dst:
        shutil.copyfileobj(src, dst)
    return str(path)


@pytest.fixture(scope="module")
def log(log_path):
    return parse(log_path)


@pytest.fixture(scope="module")
def records():
    ops = json.loads((DATA / "eventlog_sf0001_ops.json").read_text())
    return {
        o["op_id"]: OpRecord(o["op_id"], o["op_id"], o["start"], o["end"], [("action", o["start"], o["end"])])
        for o in ops
    }


def _count_events(path: str, kind: str) -> int:
    with open(path) as fh:
        return sum(json.loads(line)["Event"] == kind for line in fh)


def test_jobs_and_tasks_come_from_listener_events(log_path, log):
    assert len(log.jobs) == _count_events(log_path, "SparkListenerJobStart")
    tasks = sum(s.sums["tasks"] for s in log.stages.values())
    assert tasks == _count_events(log_path, "SparkListenerTaskEnd")
    assert all(j.end >= j.start > 0 for j in log.jobs.values())
    assert all(s.job_id in log.jobs for s in log.stages.values())


def test_every_op_group_has_jobs(log):
    groups = {j.group for j in log.jobs.values()}
    assert {"pricing_summary", "kmeans_clusters", "write", "listing"} <= groups


def test_python_kernel_metrics(log):
    kmeans = [s for s in log.stages.values() if log.jobs[s.job_id].group == "kmeans_clusters"]
    assert sum(s.sums["python_run_ms"] for s in kmeans) > 0
    assert sum(s.sums["python_sent"] for s in kmeans) > 0
    plain = [s for s in log.stages.values() if log.jobs[s.job_id].group == "pricing_summary"]
    assert sum(s.sums["python_run_ms"] for s in plain) == 0


def test_listing_and_write_metrics(log, records):
    listing = op_ledger(records["listing"], log, cores=2)["metrics"]
    assert listing["sources.listing_jobs"] >= 1
    assert any(LISTING_DESC in j.description for j in log.jobs.values() if j.group == "listing")
    write = op_ledger(records["write"], log, cores=2)["metrics"]
    assert write["sources.files_written"] == 3
    assert write["sources.output_bytes"] > 0


def test_self_times_account_for_each_op(log, records):
    total, ledgers = run_ledger(list(records.values()), log, cores=2, passes=1)
    for led in ledgers:
        self_sum = sum(v for k, v in led["metrics"].items() if k.startswith("self."))
        assert self_sum == pytest.approx(led["wall_s"], rel=1e-9)
        assert led["metrics"]["scheduler.jobs"] >= 1
    assert total["scheduler.jobs"] == sum(l["metrics"]["scheduler.jobs"] for l in ledgers)


def test_deepest_span_attribution():
    spans = [
        ("op", 0.0, 10.0),
        ("build", 0.0, 2.0),
        ("action", 2.0, 10.0),
        ("job", 3.0, 9.0),
        ("stage", 4.0, 6.0),
        ("stage", 5.0, 8.0),  # overlaps the first stage: counted once
    ]
    got = _self_times(spans)
    assert got == {"op": 0.0, "build": 2.0, "plan": 0.0, "action": 2.0, "job": 2.0, "stage": 4.0}
    assert sum(got.values()) == 10.0
