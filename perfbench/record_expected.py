"""Record the expected output fingerprints of every query-workload op.

    python3 perfbench/record_expected.py

Runs each query op (the `star_queries` workload) twice, in two Spark sessions, over the
fixed star tables and writes ``perfbench/expected.json``. An op whose hash
differs between the two executions is recorded by row count only and
reported on stderr. Re-record only when an op's intended output changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_run" / f"record-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")

    import bench
    import __spark_entry__ as entry
    from faers_datalakehouse_spark.session import get_spark
    from perfbench import star_gen, workloads
    from perfbench.fingerprint import fingerprint

    ops = workloads.WORKLOAD_OPS["star_queries"]
    actions = {k: a for a, k in bench.BENCH_QUERIES.values()}
    sf_dir = star_gen.generate(work / "star", workloads.STAR_SEED, workloads.STAR_SF)
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    runs = []
    try:
        for _ in range(2):
            spark = get_spark("perfbench-record", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
            q = entry.queries()
            got = {}
            for op in ops:
                spark.catalog.clearCache()
                df = q[op](spark, sf_dir)
                got[op] = fingerprint(df.collect())
                print(op, actions.get(op, "count"), got[op], file=sys.stderr)
            runs.append(got)
            spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    expected = {}
    for op in ops:
        a, b = runs[0][op], runs[1][op]
        if a != b:
            print(f"{op}: output differs between executions; rows only", file=sys.stderr)
            expected[op] = {"rows": a["rows"]}
        else:
            expected[op] = a
    out = {"star_seed": workloads.STAR_SEED, "star_sf": workloads.STAR_SF, "ops": expected}
    workloads.EXPECTED_PATH.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
