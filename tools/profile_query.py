"""Per-query profiler for the optimization rounds (guide §1).

For each named bench query (or entry-map key) this times, separately:
  - build:    Python plan construction (the ``fn(spark, sf_dir)`` call),
              and counts the Python→JVM (py4j) commands it sends
              (``py4j_calls``: a count that repeats exactly run to run,
              unlike build time)
  - action:   the bench's own action (collect/count) — what BENCH_r*.json
              times — plus a noop-sink run (full-column materialization,
              guide §1.4) so column-pruning artifacts are visible
  - jobs:     Spark jobs triggered during the action (the jobs of a job
              group set for that one action)
and writes ``plans/r13/<name>_<tag>.txt`` with ``explain('formatted')``
when --plans is passed.

Usage:
  python tools/profile_query.py [--plans TAG] [--runs N] name [name ...]
  python tools/profile_query.py --top 20          # slowest from last bench
"""

from __future__ import annotations

import argparse
import io
import json
import sys
import time
import uuid
from contextlib import contextmanager, redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench as benchmod  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from faers_datalakehouse_spark.session import get_spark  # noqa: E402

SF_DIR = benchmod.SF_DIR


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextmanager
def count_py4j(spark):
    """Count the py4j commands the driver sends while the block runs, by
    wrapping ``GatewayClient.send_command`` for its duration only. Yields a
    one-element list holding the count. Object deletes (``m\nd\n``) are not
    counted: py4j's finalizer thread sends them whenever Python's garbage
    collector runs, so they would make the count vary run to run."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            count[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield count
    finally:
        del client.send_command  # back to the class method


def profile(spark, queries, key: str, action: str, runs: int, plan_tag):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = {"key": key, "action": action}
    # untimed warm-up (codegen/JIT), matching bench methodology
    df = queries[key](spark, SF_DIR)
    getattr(df, "count" if action == "count" else "collect")()
    spark.catalog.clearCache()

    builds, actions, noops, jobs, calls = [], [], [], [], []
    for _ in range(runs):
        with count_py4j(spark) as n_calls:
            t0 = time.time()
            df = queries[key](spark, SF_DIR)
            t1 = time.time()
        calls.append(n_calls[0])
        # a group per timed action: a length delta over all job ids goes
        # negative once Spark's job retention drops old ids
        group = f"profile:{key}:{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        getattr(df, "count" if action == "count" else "collect")()
        t2 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(tracker.getJobIdsForGroup(group))
        spark.catalog.clearCache()
        # noop sink on a fresh plan (forces every column)
        df2 = queries[key](spark, SF_DIR)
        t3 = time.time()
        df2.write.format("noop").mode("overwrite").save()
        t4 = time.time()
        spark.catalog.clearCache()
        builds.append(t1 - t0)
        actions.append(t2 - t1)
        noops.append(t4 - t3)
        jobs.append(n_jobs)
    out["build_s"] = round(sorted(builds)[len(builds) // 2], 3)
    out["py4j_calls"] = sorted(calls)[len(calls) // 2]
    out["action_s"] = round(sorted(actions)[len(actions) // 2], 3)
    out["noop_s"] = round(sorted(noops)[len(noops) // 2], 3)
    out["n_jobs"] = jobs[len(jobs) // 2]
    if plan_tag:
        plan_dir = Path(__file__).resolve().parent.parent / "plans" / "r13"
        plan_dir.mkdir(parents=True, exist_ok=True)
        df = queries[key](spark, SF_DIR)
        (plan_dir / f"{key}_{plan_tag}.txt").write_text(formatted_plan(df))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--plans", default=None, help="write plans/r13/<q>_<TAG>.txt")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--bench-artifact", default="BENCH_r12.json")
    args = ap.parse_args()

    label_by_key = {v[1]: (k, v[0]) for k, v in benchmod.BENCH_QUERIES.items()}
    names = list(args.names)
    if args.top:
        art = json.load(open(Path(__file__).resolve().parent.parent / args.bench_artifact))
        if "queries" not in art and "parsed" in art:
            art = art["parsed"]
        by_label = {v[0]: (v[1], k) for k, v in
                    ((lbl, (benchmod.BENCH_QUERIES[lbl][1], benchmod.BENCH_QUERIES[lbl][0]))
                     for lbl in benchmod.BENCH_QUERIES if lbl in art["queries"])}
        ranked = sorted(art["queries"].items(), key=lambda kv: -kv[1])
        names += [benchmod.BENCH_QUERIES[lbl][1] for lbl, _ in ranked[: args.top]
                  if lbl in benchmod.BENCH_QUERIES]

    spark = get_spark("profile")
    queries = entrymod.queries()
    results = []
    for name in names:
        # resolve bench label -> (action); plain entry keys default to count
        if name in label_by_key:
            label, action = label_by_key[name]
        else:
            label, action = name, "count"
        spark.sparkContext.setJobDescription(f"profile:{name}")
        r = profile(spark, queries, name, action, args.runs, args.plans)
        spark.sparkContext.setJobDescription(None)
        results.append(r)
        print(json.dumps(r), flush=True)


if __name__ == "__main__":
    main()
