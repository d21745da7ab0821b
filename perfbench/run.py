"""Lakehouse benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client thread submits the next op only
after the previous one returns, on ``local[<usable cores>]``. Untraced runs
(``--trace 0``) print every end-to-end metric of ``BENCHMARK.json``; traced
runs (``--trace 1``) switch on the Spark event log, per-op job groups and
Catalyst tracker reads, and print every per-layer metric. The last stdout
line is the result JSON; the line before it holds per-op detail and the
environment. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_DIR = ROOT / ".perfbench_run"
SETUP_REPS = 3
WARMUP_PASSES = 2  # star_queries; ops still speed up over the first two passes
MIN_PASSES = 3
DRIVER_MEM = "2g"
UNTRACED_KEEP = 21


def _proc_stat_steal() -> int:
    with open("/proc/stat") as fh:
        vals = fh.readline().split()[1:]
    return int(vals[7]) if len(vals) > 7 else 0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _source_sha() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "faers_datalakehouse_spark").rglob("*.py"))
    for p in files + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _metric_specs() -> dict[str, list[dict]]:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


class Session:
    """Starts and stops the Spark session; owns the driver JVM process."""

    def __init__(self, work: Path, cores: int, trace: bool):
        self.conf = {
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        }
        if trace:
            (work / "eventlog").mkdir()
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.work = work
        self.cores = cores
        self.spark = None

    def start(self):
        from faers_datalakehouse_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=self.conf)
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def event_log(self) -> str:
        return str(self.work / "eventlog" / self.spark.sparkContext.applicationId)

    def close(self) -> None:
        """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)


def _untraced_walls(workload: str) -> list[float]:
    """Untraced ``wall_s`` values recorded by earlier runs in this checkout."""
    path = RUN_DIR / "untraced" / f"{workload}.json"
    return json.loads(path.read_text()) if path.exists() else []


def _record_untraced(workload: str, wall_s: float) -> None:
    path = RUN_DIR / "untraced" / f"{workload}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps((_untraced_walls(workload) + [wall_s])[-UNTRACED_KEEP:]))


def run(workload_name: str, seed: int, seconds: int, trace: bool, work: Path) -> tuple[dict, dict]:
    from perfbench import workloads
    from perfbench.trace import run_ledger, write_spans

    ops = workloads.WORKLOAD_OPS[workload_name]
    medallion = workload_name == "medallion_etl"
    cores = len(os.sched_getaffinity(0))
    steal0 = _proc_stat_steal()
    runner = workloads.MedallionRunner(work) if medallion else workloads.QueryRunner(work)
    session = Session(work, cores, trace)
    attempted = failed = 0
    failures: list[str] = []
    records = []
    latencies: dict[str, list[float]] = {op: [] for op in ops}
    try:
        setup_s, start_s = [], []
        for _ in range(SETUP_REPS):
            t0 = time.time()
            spark = session.start()
            t1 = time.time()
            runner.make_inputs(seed)
            setup_s.append(time.time() - t0)
            start_s.append(t1 - t0)
        order = list(ops)
        random.Random(seed).shuffle(order)
        sc = spark.sparkContext
        extra: dict[str, float] = {}
        if medallion:
            # set-up: the full-source load and the warm-up refreshes, untimed
            warehouse = session.conf["spark.sql.warehouse.dir"]
            runner.reset(spark, warehouse)
            t_warm = time.time()
            load, load_tasks = runner.run_op(spark, workloads.LOAD_QUARTER, "load")
            quarters = iter(workloads.REFRESH_QUARTERS)
            for _ in range(workloads.WARMUP_REFRESHES):
                q = next(quarters)
                runner.run_op(spark, q, f"warmup:{q.tag}")
            warmup_s = time.time() - t_warm
            passes = 0
            t_pass = time.time()
            for q in quarters:
                if passes >= MIN_PASSES and time.time() - t_pass >= seconds:
                    break
                if trace:
                    sc.setJobGroup(q.tag, q.tag)
                rec, _ = runner.run_op(spark, q, q.tag)
                records.append(rec)
                latencies["refresh"].append(rec.end - rec.start)
                passes += 1
            measured_s = time.time() - t_pass
            if trace:
                sc.setJobGroup("checks", "output checks")
            checks, bad, fps = runner.check(spark)
            attempted, failed = checks, bad
            if bad:
                failures.append("medallion checks")
            extra["medallion.load_s"] = load.end - load.start
            extra["medallion.fact_s"] = load.extra["medallion.fact_s"]
            extra["sources.storage_amp"] = workloads._du(warehouse) / runner.csv_bytes()
            runner.reset(spark, warehouse)
            detail_ops = {
                "load_tasks_s": {t: r.seconds for t, r in load_tasks.items()},
                "fingerprints": fps,
                "expected": runner.expected,
            }
        else:

            def attempt(op: str, op_id: str, warmup: bool):
                """Run one op; a raise or a wrong output counts as failed."""
                nonlocal attempted, failed
                attempted += 1
                try:
                    rec, ok, _ = runner.run_op(spark, op, op_id, warmup, trace and not warmup)
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    rec, ok = None, False
                    print(f"op {op_id} raised:", file=sys.stderr)
                    traceback.print_exc()
                if not ok:
                    failed += 1
                    failures.append(op_id)
                return rec

            warmup_s = 0.0
            for i in range(WARMUP_PASSES):  # the first one also checks outputs in full
                for op in order:
                    spark.catalog.clearCache()
                    rec = attempt(op, f"warmup{i}:{op}", i == 0)
                    warmup_s += rec.end - rec.start if rec else 0.0
            passes = 0
            t_pass = time.time()
            while passes < MIN_PASSES or time.time() - t_pass < seconds:
                for op in order:
                    op_id = f"{op}#{passes}"
                    spark.catalog.clearCache()
                    if trace:
                        sc.setJobGroup(op_id, op_id)
                    rec = attempt(op, op_id, False)
                    if rec is not None:
                        records.append(rec)
                        latencies[op].append(rec.end - rec.start)
                passes += 1
            measured_s = time.time() - t_pass
            spark.catalog.clearCache()
            detail_ops = {}
        peak_rss_mb = _vm_hwm_mb(session.jvm_pid())
        log_path = session.event_log() if trace else None
    finally:
        session.close()

    wall_s = sum(statistics.median(v) for v in latencies.values() if v)
    metrics = {
        "wall_s": wall_s,
        "peak_rss_mb": peak_rss_mb,
        "setup_s": statistics.median(setup_s) + warmup_s,
    }
    detail = {
        "workload": workload_name,
        "seed": seed,
        "trace": int(trace),
        "order": order,
        "passes": passes,
        "measured_s": measured_s,
        "latencies_s": latencies,
        "failures": failures,
        "env": {
            "nproc": os.cpu_count(),
            "cores": cores,
            "driver_heap": DRIVER_MEM,
            "pyspark": __import__("pyspark").__version__,
            "commit": _commit(),
            "source_sha": _source_sha(),
            "steal_ticks": _proc_stat_steal() - steal0,
        },
        **detail_ops,
    }
    if not trace:
        _record_untraced(workload_name, wall_s)
        return metrics, {"attempted": attempted, "failed": failed, "detail": detail}

    from perfbench.eventlog import parse

    totals, ledgers = run_ledger(records, parse(log_path), cores, passes)
    baseline = _untraced_walls(workload_name)
    detail["untraced_baseline_runs"] = len(baseline)
    totals = {
        # medallion-only run metrics read 0 on star_queries
        "medallion.load_s": 0.0,
        "sources.storage_amp": 0.0,
        **totals,
        **extra,
        "session.start_s": statistics.median(start_s),
        # 0 until an untraced run of this workload has been recorded here
        "trace.overhead_s": wall_s - statistics.median(baseline) if baseline else 0.0,
        "trace.wall_s": wall_s,
    }
    spans_path = RUN_DIR / f"spans-{workload_name}-seed{seed}.json"
    write_spans(str(spans_path), detail, ledgers)
    detail["spans_file"] = str(spans_path.relative_to(ROOT))
    return totals, {"attempted": attempted, "failed": failed, "detail": detail}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [
        p for p in ("faers_datalakehouse_spark", "__spark_entry__.py", "bench.py", "BENCHMARK.json")
        if not (ROOT / p).exists()
    ]
    if missing:
        print(f"perfbench: not a spark-graft checkout, missing {missing}", file=sys.stderr)
        return 2
    specs = _metric_specs()
    if args.workload not in {w["name"] for w in specs["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # Python workers import the package, so they need the checkout on their path;
    # every scratch file stays inside the checkout.
    sys.path.insert(0, str(ROOT))
    work = RUN_DIR / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        metrics, result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = specs["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({"detail": result["detail"]}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
