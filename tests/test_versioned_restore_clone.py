"""RESTORE / OPTIMIZE ZORDER on versioned tables.

Delta-parity surface the reference's platform provides natively
(RESTORE TABLE, OPTIMIZE ZORDER BY — the reference invokes OPTIMIZE at
src/silver/silver_demographics.py:93); here re-expressed over the
manifest log: restore re-publishes an old file list by reference,
z-order rewrites the layout so min/max skipping works on two columns at
once.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.versioned import VersionedTable


def _ids(df):
    return sorted(r["id"] for r in df.collect())


# -- restore ---------------------------------------------------------------


def test_restore_rolls_back_by_reference(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 10), committed_at="t1")
    t.write(spark.range(10, 20), mode="append", committed_at="t2")
    t.delete_where(spark, "id >= 15", committed_at="t3")
    assert _ids(t.read(spark)) == list(range(15))

    before = {f["path"] for v in t.versions() for f in t.snapshot(v).files}
    out = t.restore(2, committed_at="t4")
    assert out == {"restored": True, "version": 4, "restored_to": 2}
    # the delete is undone; nothing was rewritten (no new data files)
    assert _ids(t.read(spark)) == list(range(20))
    after = {f["path"] for f in t.snapshot(4).files}
    assert after <= before
    # history intact: the rolled-back state is still time-travel readable
    assert _ids(t.read(spark, version=3)) == list(range(15))
    assert t.snapshot(4).operation == "restore"


def test_restore_to_current_is_noop(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(5), committed_at="t1")
    assert t.restore(1) == {"restored": False, "version": 1}
    assert t.versions() == [1]


def test_restore_brings_back_constraints_and_spec(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    df = spark.range(10).withColumn("part", (F.col("id") % 2).cast("int"))
    t.write(
        df,
        partition_by=("part",),
        constraints=("id >= 0",),
        committed_at="t1",
    )
    t.write(
        df.withColumn("id", F.col("id") + 100),
        mode="append",
        constraints=("id < 1000",),
        committed_at="t2",
    )
    t.restore(1, committed_at="t3")
    snap = t.snapshot()
    assert snap.constraints == ["id >= 0"]  # the later CHECK is gone
    assert snap.extra["partition_spec"]["cols"] == ["part"]
    assert _ids(t.read(spark)) == list(range(10))


def test_restore_after_vacuum_fails_loudly(spark, tmp_path):
    """The manifest survives but a data file it lists does not: restore
    must refuse rather than publish a snapshot that cannot be read."""
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(10).coalesce(1), committed_at="t1")
    t.write(spark.range(10, 20).coalesce(1), mode="overwrite", committed_at="t2")
    victim = t.root / t.snapshot(1).files[0]["path"]
    victim.unlink()
    with pytest.raises(FileNotFoundError, match="missing"):
        t.restore(1)


# -- optimize zorder -------------------------------------------------------


def _spans(t, col):
    """Sum of per-file stat widths for an int column — narrow = clustered."""
    return sum(
        f["stats"][col][1] - f["stats"][col][0]
        for f in t.snapshot().files
        if col in f.get("stats", {})
    )


def test_optimize_zorder_preserves_content_and_prunes_both_columns(
    spark, tmp_path
):
    t = VersionedTable(str(tmp_path / "vt"))
    n = 4096
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") * 2654435761 % n).cast("long"))
        .withColumn("y", (F.col("id") * 40503 % n).cast("long"))
        .repartition(8)  # random layout: stats are wide on both columns
    )
    t.write(df, stats_cols=("x", "y"), committed_at="t1")
    wide_x, wide_y = _spans(t, "x"), _spans(t, "y")

    out = t.optimize_zorder(spark, "x", "y", n_files=8, committed_at="t2")
    assert out["version"] == 2 and out["files_after"] >= 2

    # content is row-identical
    assert _ids(t.read(spark)) == list(range(n))
    # the z-layout narrowed per-file spans on BOTH columns (Morton
    # regions are staircase-shaped, not squares — expect clearly
    # narrower, not a fixed geometric bound)
    assert _spans(t, "x") < wide_x * 0.75
    assert _spans(t, "y") < wide_y * 0.75
    # and manifest-level skipping now actually skips on each column
    for col in ("x", "y"):
        got, report = t.read_pruned(spark, col, 0, n // 8)
        assert report["files_skipped"] > 0
        assert got.count() == df.filter(
            (F.col(col) >= 0) & (F.col(col) <= n // 8)
        ).count()
    # pre-optimize snapshot still time-travels
    assert _ids(t.read(spark, version=1)) == list(range(n))


def test_optimize_zorder_partitioned_clusters_within_partitions(
    spark, tmp_path
):
    t = VersionedTable(str(tmp_path / "vt"))
    df = (
        spark.range(1000)
        .withColumn("part", (F.col("id") % 2).cast("int"))
        .withColumn("x", (F.col("id") * 7919 % 1000).cast("long"))
        .withColumn("y", (F.col("id") * 104729 % 1000).cast("long"))
    )
    t.write(df, partition_by=("part",), committed_at="t1")
    t.optimize_zorder(spark, "x", "y", n_files=4, committed_at="t2")
    snap = t.snapshot()
    # partition layout survived, stats recorded on the z-columns only
    assert snap.extra["partition_spec"]["cols"] == ["part"]
    assert all(
        set(f.get("stats", {})) == {"x", "y"} for f in snap.files
    )
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(
        range(1000)
    )
    with pytest.raises(ValueError, match="partition columns"):
        t.optimize_zorder(spark, "part", "x")
