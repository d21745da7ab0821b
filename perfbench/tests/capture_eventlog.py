"""Capture the small event log the parser tests read.

    python3 perfbench/tests/capture_eventlog.py

Runs four ops over sf0.001 star tables on ``local[2]``, each under its own
job group: a collected aggregate (``pricing_summary``), an Arrow kernel
(``kmeans_clusters``), a parquet write and a read of 40 paths, which Spark
lists with a distributed job. Writes the gzipped log and the ops' driver
timestamps to ``perfbench/tests/data/``.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
DATA = Path(__file__).resolve().parent / "data"


def main() -> int:
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_run" / f"capture-{os.getpid()}"
    (work / "events").mkdir(parents=True)
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"

    import __spark_entry__ as entry
    from faers_datalakehouse_spark.session import get_spark
    from perfbench import star_gen

    sf_dir = star_gen.generate(work / "star", 1, 0.001)
    spark = get_spark("perfbench-capture", cpus=2, extra_conf={
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": (work / "events").as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    q = entry.queries()
    paths = [str(work / "many" / f"p{i}") for i in range(40)]
    ops = {
        "pricing_summary": lambda: q["pricing_summary"](spark, sf_dir).collect(),
        "kmeans_clusters": lambda: q["kmeans_clusters"](spark, sf_dir).count(),
        "write": lambda: spark.range(300).repartition(3).write.parquet(str(work / "out")),
        "listing": lambda: spark.read.parquet(*paths).count(),
    }
    for p in paths:
        spark.range(2).coalesce(1).write.parquet(p)
    records = []
    try:
        for name, fn in ops.items():
            spark.sparkContext.setJobGroup(name, name)
            t0 = time.time()
            fn()
            records.append({"op_id": name, "start": t0, "end": time.time()})
        app = spark.sparkContext.applicationId
    finally:
        spark.stop()
    DATA.mkdir(exist_ok=True)
    with open(work / "events" / app, "rb") as src, gzip.open(DATA / "eventlog_sf0001.json.gz", "wb") as dst:
        shutil.copyfileobj(src, dst)
    (DATA / "eventlog_sf0001_ops.json").write_text(json.dumps(records, indent=1) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
