"""Optimistic concurrency on VersionedTable: exclusive manifest publish,
append rebase-and-retry, constraint drift re-validation, and the
snapshot metadata that rides along."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.versioned import (
    ConcurrentWriteError,
    ConstraintViolation,
    VersionedTable,
)


def test_concurrent_appends_all_commit(spark, tmp_path):
    root = str(tmp_path / "vt")

    def _append(i: int) -> int:
        t = VersionedTable(root)
        return t.write(
            spark.range(i * 10, i * 10 + 10), committed_at=f"t{i}"
        )

    with ThreadPoolExecutor(max_workers=8) as pool:
        versions = sorted(pool.map(_append, range(8)))
    # every writer committed a distinct, contiguous version
    assert versions == list(range(1, 9))
    t = VersionedTable(root)
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(80))
    # the log is a chain: each version's file list contains its parent's
    for v in range(2, 9):
        prev = {f["path"] for f in t.snapshot(v - 1).files}
        curr = {f["path"] for f in t.snapshot(v).files}
        assert prev < curr


def test_publish_conflict_rebases_without_data_rewrite(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "vt")
    t = VersionedTable(root)
    t.write(spark.range(0, 5), committed_at="t1")

    orig = VersionedTable._commit
    state = {"raced": False}

    def racing(self, files, operation, committed_at, **kw):
        # a competing writer lands a commit between this writer's
        # snapshot resolution and its publish — exactly once
        if not state["raced"] and operation == "append":
            state["raced"] = True
            VersionedTable(root).write(
                spark.range(100, 103), committed_at="rival"
            )
        return orig(self, files, operation, committed_at, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", racing)
    v = t.write(spark.range(5, 10), committed_at="t2")
    # the rival took v2; our write rebased onto it and became v3
    assert v == 3
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == list(range(10)) + [100, 101, 102]
    # exactly one staged directory per commit — no data rewrite on retry
    assert t.snapshot(3).committed_at == "t2"


def test_conflict_revalidates_drifted_constraints(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "vt")
    t = VersionedTable(root)
    t.write(spark.range(0, 5), committed_at="t1")

    orig = VersionedTable._commit
    state = {"raced": False}

    def racing(self, files, operation, committed_at, **kw):
        if not state["raced"] and operation == "append":
            state["raced"] = True
            VersionedTable(root).write(
                spark.range(0, 0), constraints=("id < 8",), committed_at="rival"
            )
        return orig(self, files, operation, committed_at, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", racing)
    # our staged rows (5..9) violate the constraint added concurrently:
    # the rebase must re-validate and abort, leaving the table untouched
    with pytest.raises(ConstraintViolation):
        t.write(spark.range(5, 10), committed_at="t2")
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(5))
    assert "id < 8" in t.snapshot().constraints


def test_conflicting_partition_establishment_raises(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "vt")
    df = spark.range(0, 4).withColumn("b", (F.col("id") % 2).cast("int"))

    orig = VersionedTable._commit
    state = {"raced": False}

    def racing(self, files, operation, committed_at, **kw):
        if not state["raced"]:
            state["raced"] = True
            VersionedTable(root).write(
                df, partition_by=("b",), committed_at="rival"
            )
        return orig(self, files, operation, committed_at, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", racing)
    # we staged UNPARTITIONED files; a rival created the table
    # partitioned — the layouts are incompatible, so the write must fail
    # rather than commit files that break the table's partition invariant
    with pytest.raises(ConcurrentWriteError, match="partitioning"):
        VersionedTable(root).write(df, committed_at="t1")


def test_history_and_files_metadata_frames(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    df = spark.range(0, 10).withColumn("b", (F.col("id") % 2).cast("int"))
    t.write(df, partition_by=("b",), committed_at="t1")
    t.write(
        df.filter("b = 1").withColumn("id", F.col("id") + 100),
        mode="overwrite_partitions",
        committed_at="t2",
    )
    h = [t.snapshot(v) for v in t.versions()]
    assert [(s.version, s.operation, s.committed_at) for s in h] == [
        (1, "append", "t1"),
        (2, "overwrite_partitions", "t2"),
    ]
    assert all(s.files and sum(f["bytes"] for f in s.files) > 0 for s in h)
