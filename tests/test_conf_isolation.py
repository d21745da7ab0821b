"""Per-read / per-write semantics do not depend on session conf.

Each site below carries its semantics on the operation itself instead of
in session-global conf: a writer option for path writes, a static
partition spec for catalog tables, an explicit read schema for versioned
partition columns, and the scoped ``sources.tables.nanos_as_long`` window
for footer inference. Every test runs the site with the session holding
each value of the conf that governs it, asserts the same result, and
asserts the session value is left as it was.
"""

from __future__ import annotations

import shutil
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.operators.matview import IncrementalMatView
from faers_datalakehouse_spark.sources.catalog import ensure_schemas
from faers_datalakehouse_spark.sources.maintenance import (
    compact_table,
    file_inventory,
)
from faers_datalakehouse_spark.sources.tables import read_events
from faers_datalakehouse_spark.sources.versioned import VersionedTable
from faers_datalakehouse_spark.streaming.events import (
    run_to_completion,
    stream_events_from_dir,
)

OVERWRITE = "spark.sql.sources.partitionOverwriteMode"
INFER = "spark.sql.sources.partitionColumnTypeInference.enabled"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@contextmanager
def session_conf(spark, key, value):
    """Hold ``key=value`` for the block; assert the code under test left
    it there, then restore the session's prior value."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
        assert spark.conf.get(key) == value
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.mark.parametrize("mode", ["static", "dynamic"])
def test_compact_table_rewrites_only_fragmented_partitions(spark, mode):
    ensure_schemas(spark)
    t = f"gold.conf_compact_{mode}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    # partitions ('A', ts) and (NULL, ts) land in 6 files each
    spark.range(0, 300).selectExpr(
        "id",
        "CASE WHEN id % 2 = 0 THEN 'A' END AS p",
        "TIMESTAMP '2024-03-01 12:30:05' AS ts",
    ).repartition(6).write.partitionBy("p", "ts").saveAsTable(t)
    spark.range(300, 310).selectExpr(
        "id", "'B' AS p", "CAST(NULL AS TIMESTAMP) AS ts"
    ).coalesce(1).write.mode("append").insertInto(t)

    def b_paths():
        inv, _ = file_inventory(spark, t)
        return {r["file_path"] for r in inv.filter("p = 'B'").collect()}

    before_b = b_paths()
    rows_before = sorted(tuple(r) for r in spark.table(t).collect())
    with session_conf(spark, OVERWRITE, mode):
        stats = compact_table(spark, t, target_file_bytes=1 << 30)
    # ('A', ts) and (NULL, ts) are fragmented; ('B', NULL) is not
    assert stats["partitions_compacted"] == 2
    assert stats["files_after"] == 3
    assert b_paths() == before_b
    assert sorted(tuple(r) for r in spark.table(t).collect()) == rows_before


def _mv(path):
    return IncrementalMatView(
        path=path,
        group_keys=["k"],
        measures={"n": ("count", ""), "total": ("sum", "v")},
        n_buckets=8,
    )


def _src(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "CAST(id % 10 AS INT) AS k", "id * 3 AS v"
    )


@pytest.mark.parametrize("mode", ["static", "dynamic"])
def test_matview_refresh_and_optimize(spark, tmp_path, mode):
    mv = _mv(str(tmp_path / "mv"))
    with session_conf(spark, OVERWRITE, mode):
        mv.refresh(_src(spark, 0, 200))
        before = {
            d.name: sorted(p.name for p in d.glob("*.parquet"))
            for d in (tmp_path / "mv").glob("_bucket=*")
        }
        info = mv.refresh(spark.createDataFrame([(3, 999)], "k int, v long"))
        after = {
            d.name: sorted(p.name for p in d.glob("*.parquet"))
            for d in (tmp_path / "mv").glob("_bucket=*")
        }
        assert info["buckets_touched"] == 1
        assert sum(before[b] != after[b] for b in before) == 1
        assert before.keys() == after.keys()
        mv.refresh(_src(spark, 200, 300))
        opt = mv.optimize(spark)
        got = {(r["k"], r["n"], r["total"]) for r in mv.read(spark).collect()}
    want = {
        (r["k"], r["n"], r["total"])
        for r in _src(spark, 0, 300)
        .union(spark.createDataFrame([(3, 999)], "k int, v long"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert got == want
    assert opt["files_after"] == len(after)


@pytest.mark.parametrize("value", ["false", "true"])
def test_stream_events_from_nanos_dir(
    spark, events_with_ts_encoding, tmp_path, value
):
    d = events_with_ts_encoding("ts_nanos")
    want = sorted(tuple(r) for r in read_events(spark, d).collect())
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(Path(d) / "events.parquet", landing / "part-0.parquet")
    with session_conf(spark, NANOS, value):
        stream = stream_events_from_dir(spark, str(landing))
        assert dict(stream.dtypes)["ts"] == "timestamp"
        out = run_to_completion(stream, f"conf_nanos_{value}", "append")
        got = sorted(tuple(r) for r in out.collect())
    assert got == want


@pytest.mark.parametrize("value", ["true", "false"])
def test_versioned_partitioned_read(spark, tmp_path, value):
    t = VersionedTable(str(tmp_path / "vt"))
    rows = [(1, "01", 7), (2, "007", 8), (3, "1e3", 7), (4, None, None)]
    t.write(
        spark.createDataFrame(rows, "id bigint, day string, b int"),
        partition_by=("day", "b"),
        committed_at="t1",
    )
    with session_conf(spark, INFER, value):
        got = t.read(spark)
        assert dict(got.dtypes) == {
            "id": "bigint", "day": "string", "b": "int"
        }
        assert sorted(tuple(r) for r in got.collect()) == rows
