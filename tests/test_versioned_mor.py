"""Merge-on-read (position-delete) tests for VersionedTable.

Reference parity: Delta deletion vectors / Iceberg position deletes —
row-level DELETE whose commit writes tombstones instead of rewriting
data files; every read path applies them, rewrites materialize them.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.versioned import VersionedTable

T0 = "2024-01-01T00:00:00Z"
T1 = "2024-01-02T00:00:00Z"
T2 = "2024-01-03T00:00:00Z"
T3 = "2024-01-04T00:00:00Z"


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="mor_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _table(spark, root, n=100):
    t = VersionedTable(f"{root}/t")
    df = spark.range(0, n).select("id", (F.col("id") % 7).alias("g"))
    t.write(df, mode="overwrite", committed_at=T0)
    return t


def test_mor_delete_keeps_files_and_filters_reads(spark, root):
    t = _table(spark, root)
    v1 = t.current_version()
    r = t.delete_where(spark, "g = 3", committed_at=T1, mode="mor")
    assert r["rows_deleted"] == 14 and r["files_rewritten"] == 0
    # data file list is byte-identical: merge-on-read commits metadata
    assert [f["path"] for f in t.snapshot().files] == [
        f["path"] for f in t.snapshot(v1).files
    ]
    assert t.read(spark).count() == 86
    assert t.read(spark).filter("g = 3").count() == 0
    # time travel still sees the pre-delete rows
    assert t.read(spark, version=v1).count() == 100


def test_mor_delete_idempotent_and_stacking(spark, root):
    t = _table(spark, root)
    t.delete_where(spark, "g = 3", committed_at=T1, mode="mor")
    v = t.current_version()
    again = t.delete_where(spark, "g = 3", committed_at=T2, mode="mor")
    assert again["rows_deleted"] == 0
    assert t.current_version() == v  # empty match publishes nothing
    r2 = t.delete_where(spark, "id < 10", committed_at=T2, mode="mor")
    assert r2["rows_deleted"] == 9  # id=3 already tombstoned
    assert t.read(spark).count() == 77


def test_mor_deletes_apply_on_pruned_reads(spark, root):
    t = VersionedTable(f"{root}/t")
    df = spark.range(0, 100).select("id", (F.col("id") % 7).alias("g"))
    t.write(
        df.repartitionByRange(4, "id"),
        mode="overwrite",
        committed_at=T0,
        stats_cols=("id",),
        bloom_cols=("g",),
    )
    t.delete_where(spark, "id = 42", committed_at=T1, mode="mor")
    pruned, rep = t.read_pruned(spark, "id", 40, 45)
    assert rep["files_skipped"] > 0
    assert sorted(r.id for r in pruned.collect()) == [40, 41, 43, 44, 45]
    bloomed, _ = t.read_bloom_pruned(spark, "g", 0)
    assert bloomed.filter("id = 42").count() == 0


def test_mor_deletes_apply_on_partitioned_reads(spark, root):
    t = VersionedTable(f"{root}/t")
    df = spark.range(0, 60).select(
        "id", (F.col("id") % 3).alias("bucket")
    )
    t.write(
        df, mode="overwrite", committed_at=T0, partition_by=("bucket",)
    )
    t.delete_where(spark, "id < 6", committed_at=T1, mode="mor")
    part, rep = t.read_partitions(spark, {"bucket": 0})
    assert rep["files_skipped"] > 0
    ids = sorted(r.id for r in part.collect())
    assert ids[0] >= 6 and all(i % 3 == 0 for i in ids)


def test_mor_cdf_falls_back_to_full_diff(spark, root):
    t = _table(spark, root)
    v1 = t.current_version()
    t.delete_where(spark, "g = 3", committed_at=T1, mode="mor")
    ch = t.changes(spark, v1)
    rows = ch.collect()
    assert len(rows) == 14
    assert all(r.change_type == "delete" and r.g == 3 for r in rows)


def test_compact_materializes_tombstones(spark, root):
    t = _table(spark, root)
    t.delete_where(spark, "g = 3", committed_at=T1, mode="mor")
    res = t.compact(spark, target_file_bytes=10**9, committed_at=T2)
    assert res["compacted"]
    snap = t.snapshot()
    assert (snap.extra.get("deletes") or []) == []
    assert t.read(spark).count() == 86


def test_rewrite_on_tombstoned_table_respects_deletes(spark, root):
    t = _table(spark, root)
    t.delete_where(spark, "g = 3", committed_at=T1, mode="mor")
    # CoW delete touching every file: tombstoned rows must NOT resurrect
    r = t.delete_where(spark, "g = 1", committed_at=T2)
    assert r["files_rewritten"] >= 1
    assert r["rows_matched"] == 15  # ids ≡ 1 (mod 7) in 0..99
    assert t.read(spark).count() == 86 - 15
    assert t.read(spark).filter("g = 3").count() == 0


def test_merge_on_tombstoned_table_respects_deletes(spark, root):
    t = _table(spark, root)
    t.delete_where(spark, "id < 50", committed_at=T1, mode="mor")
    src = spark.range(45, 55).select(
        "id", F.lit(99).cast("long").alias("g")
    )
    t.merge_rows(spark, src, ["id"], committed_at=T2)
    out = t.read(spark)
    assert out.count() == 50 + 10 - 5  # 50 survivors, +10 upserts, -5 overlap
    assert out.filter("id < 45").count() == 0  # tombstones held
    assert out.filter("g = 99").count() == 10


def test_overwrite_clears_tombstones(spark, root):
    t = _table(spark, root)
    t.delete_where(spark, "g = 3", committed_at=T1, mode="mor")
    fresh = spark.range(0, 10).select("id", (F.col("id") % 7).alias("g"))
    t.write(fresh, mode="overwrite", committed_at=T2)
    assert (t.snapshot().extra.get("deletes") or []) == []
    assert t.read(spark).count() == 10


def test_restore_carries_target_delete_set(spark, root):
    t = _table(spark, root)
    t.delete_where(spark, "g = 3", committed_at=T1, mode="mor")
    v_mor = t.current_version()
    t.compact(spark, target_file_bytes=10**9, committed_at=T2)
    t.restore(v_mor, committed_at=T3)
    assert t.read(spark).count() == 86
    assert len(t.snapshot().extra.get("deletes") or []) == 1


def test_append_after_mor_delete_untouched_by_tombstones(spark, root):
    t = _table(spark, root)
    t.delete_where(spark, "g = 3", committed_at=T1, mode="mor")
    extra = spark.range(1000, 1010).select(
        "id", F.lit(3).cast("long").alias("g")
    )
    t.write(extra, mode="append", committed_at=T2)
    out = t.read(spark)
    assert out.count() == 86 + 10
    # new rows with g=3 are NOT deleted: position deletes bind to files,
    # not predicates
    assert out.filter("g = 3").count() == 10


def test_mode_validation(spark, root):
    t = _table(spark, root)
    with pytest.raises(ValueError, match="cow.*mor|mor.*cow"):
        t.delete_where(spark, "g = 3", mode="nope")
