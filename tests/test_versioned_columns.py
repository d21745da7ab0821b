"""Metadata-only column evolution (rename via column mapping) for
VersionedTable — Iceberg column-mapping analog on plain parquet."""

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
    d = tempfile.mkdtemp(prefix="colmap_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _table(spark, root, n=20, constraints=()):
    t = VersionedTable(f"{root}/t")
    df = spark.range(0, n).select(
        "id", (F.col("id") % 5).alias("grp"), F.lit("x").alias("tag")
    )
    t.write(df, mode="overwrite", committed_at=T0, constraints=constraints)
    return t


def test_rename_is_metadata_only_and_read_resolves(spark, root):
    t = _table(spark, root)
    v1 = t.current_version()
    files_before = [f["path"] for f in t.snapshot().files]
    t.rename_column("grp", "bucket", committed_at=T1)
    assert [f["path"] for f in t.snapshot().files] == files_before
    out = t.read(spark)
    assert out.columns == ["id", "bucket", "tag"]
    assert out.filter("bucket = 2").count() == 4
    # time travel still shows the old name
    assert "grp" in t.read(spark, version=v1).columns


def test_append_after_rename_mixes_generations(spark, root):
    t = _table(spark, root)
    t.rename_column("grp", "bucket", committed_at=T1)
    extra = spark.range(100, 110).select(
        "id", (F.col("id") % 5).alias("bucket"), F.lit("y").alias("tag")
    )
    t.write(extra, mode="append", committed_at=T2)
    out = t.read(spark)
    assert out.count() == 30
    # both generations resolve under the logical name, no nulls
    assert out.filter(F.col("bucket").isNull()).count() == 0
    assert out.filter("tag = 'y'").count() == 10


def test_append_cannot_take_a_renamed_away_name(spark, root):
    """The pre-rename files still carry ``grp`` physically: an append that
    adds a new ``grp`` column would make the read resolve their stale
    values under it. The write is refused and leaves nothing behind."""
    t = _table(spark, root)
    t.rename_column("grp", "bucket", committed_at=T1)
    v = t.current_version()
    files = set(t.root.rglob("*.parquet"))
    extra = spark.range(100, 104).select(
        "id",
        (F.col("id") % 5).alias("bucket"),
        F.lit("y").alias("tag"),
        F.lit(99).cast("long").alias("grp"),
    )
    with pytest.raises(ValueError, match="collides"):
        t.write(extra, mode="append", committed_at=T2)
    assert t.current_version() == v
    assert set(t.root.rglob("*.parquet")) == files


def test_compact_materializes_logical_names(spark, root):
    t = _table(spark, root)
    t.rename_column("grp", "bucket", committed_at=T1)
    # the old physical name still sits in the data files
    with pytest.raises(ValueError, match="collides"):
        t.rename_column("tag", "grp")
    res = t.compact(spark, target_file_bytes=10**9, committed_at=T2)
    assert res["compacted"]
    snap = t.snapshot()
    assert (snap.extra.get("column_mapping") or {}) == {}
    out = t.read(spark)
    assert out.columns == ["id", "bucket", "tag"]
    assert out.count() == 20
    # post-compaction, the renamed-away physical name is purged -> reusable
    t.rename_column("tag", "grp", committed_at=T3)
    assert t.read(spark).filter("grp = 'x'").count() == 20


def test_rename_translates_stats_and_bloom_probes(spark, root):
    t = VersionedTable(f"{root}/t")
    df = spark.range(0, 100).select("id", (F.col("id") % 7).alias("g"))
    t.write(
        df.repartitionByRange(4, "id"),
        mode="overwrite",
        committed_at=T0,
        stats_cols=("id",),
        bloom_cols=("g",),
    )
    t.rename_column("id", "row_id", committed_at=T1)
    pruned, rep = t.read_pruned(spark, "row_id", 10, 15)
    assert rep["files_skipped"] > 0  # stats found under the OLD name
    assert sorted(r.row_id for r in pruned.collect()) == list(range(10, 16))
    t.rename_column("g", "grp", committed_at=T2)
    bloomed, rep2 = t.read_bloom_pruned(spark, "grp", 3)
    assert bloomed.count() == 14


def test_rename_validations(spark, root):
    t = _table(spark, root, constraints=("grp >= 0",))
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("grp", "tag")
    with pytest.raises(ValueError, match="CHECK"):
        t.rename_column("grp", "bucket")


def test_rename_partition_column_rejected(spark, root):
    t = VersionedTable(f"{root}/t")
    df = spark.range(0, 10).select("id", (F.col("id") % 2).alias("p"))
    t.write(df, mode="overwrite", committed_at=T0, partition_by=("p",))
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("p", "q")


def test_mutations_after_rename(spark, root):
    t = _table(spark, root)
    t.rename_column("grp", "bucket", committed_at=T1)
    r = t.delete_where(spark, "bucket = 2", committed_at=T2)
    assert r["rows_matched"] == 4
    assert t.read(spark).count() == 16
    r2 = t.delete_where(spark, "bucket = 3", committed_at=T3, mode="mor")
    assert r2["rows_deleted"] == 4
    out = t.read(spark)
    assert out.count() == 12
    assert out.filter("bucket in (2, 3)").count() == 0


def test_cdf_across_rename_falls_back(spark, root):
    t = _table(spark, root)
    v1 = t.current_version()
    t.rename_column("grp", "bucket", committed_at=T1)
    ch = t.changes(spark, v1)
    # the rename re-shapes every row: old-name rows deleted, new-name
    # rows inserted (full-diff fallback, mapping sets differ)
    counts = {r["change_type"]: r["count"] for r in
              ch.groupBy("change_type").count().collect()}
    assert counts == {"insert": 20, "delete": 20}


def test_restore_brings_back_mapping_state(spark, root):
    t = _table(spark, root)
    t.rename_column("grp", "bucket", committed_at=T1)
    v_renamed = t.current_version()
    t.compact(spark, target_file_bytes=10**9, committed_at=T2)
    t.restore(v_renamed, committed_at=T3)
    out = t.read(spark)
    assert out.columns == ["id", "bucket", "tag"]
    assert out.count() == 20
