"""Partitioned versioned tables: Hive-layout partitionBy writes,
manifest-level partition pruning, dynamic partition overwrite, and the
partition spec surviving every maintenance path.

Reference parity: the reference's Delta tables are written with
``partitionBy`` and read back with partition filters (Delta partition
pruning); this is that surface on the manifest-log format."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.versioned import (
    ConstraintViolation,
    VersionedTable,
)


def _df(spark, rows, schema="id bigint, day string, v bigint"):
    return spark.createDataFrame(rows, schema)


def _vals(df):
    return sorted(tuple(r) for r in df.collect())


def test_partitioned_write_roundtrip_reconstructs_columns(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    rows = [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, None, 40)]
    t.write(_df(spark, rows), partition_by=("day",), committed_at="t1")

    got = t.read(spark)
    assert got.columns == ["id", "day", "v"]  # schema order restored
    assert dict(got.dtypes)["day"] == "string"
    assert _vals(got) == sorted(rows, key=lambda r: (r[0],))
    # partition values live in the manifest, one tuple per file
    snap = t.snapshot()
    assert {f["partition"]["day"] for f in snap.files} == {"a", "b", None}
    assert t.partition_spec() == {
        "cols": ["day"],
        "types": {"day": "string"},
    }


def test_partitioned_typed_values_roundtrip(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    df = spark.createDataFrame(
        [(1, 7, dt.date(2024, 1, 1)), (2, 8, dt.date(2024, 1, 2))],
        "id bigint, bucket int, d date",
    )
    t.write(df, partition_by=("bucket", "d"), committed_at="t1")
    got = t.read(spark)
    assert dict(got.dtypes) == {"id": "bigint", "bucket": "int", "d": "date"}
    assert _vals(got) == [
        (1, 7, dt.date(2024, 1, 1)),
        (2, 8, dt.date(2024, 1, 2)),
    ]


def test_numeric_looking_string_partitions_roundtrip_unchanged(spark, tmp_path):
    """Directory names like ``day=01`` / ``day=1e3`` would infer as numbers;
    a string partition column must come back exactly as written."""
    t = VersionedTable(str(tmp_path / "vt"))
    rows = [(1, "01", 10), (2, "007", 20), (3, "1e3", 30), (4, None, 40)]
    t.write(_df(spark, rows), partition_by=("day",), committed_at="t1")
    got = t.read(spark)
    assert dict(got.dtypes)["day"] == "string"
    assert _vals(got) == rows


def test_read_partitions_prunes_from_manifest(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    rows = [(i, d, i * 10) for i, d in enumerate("aabbcc")]
    t.write(_df(spark, rows), partition_by=("day",), committed_at="t1")
    df, report = t.read_partitions(spark, {"day": "b"})
    assert report["files_skipped"] >= 1
    assert report["files_total"] == report["files_read"] + report[
        "files_skipped"
    ]
    assert _vals(df) == [(2, "b", 20), (3, "b", 30)]
    # list filter + int-typed partition column compare via str()
    df2, _ = t.read_partitions(spark, {"day": ["a", "c"]})
    assert {r["day"] for r in df2.collect()} == {"a", "c"}
    # no matching partition -> typed empty frame
    df3, rep3 = t.read_partitions(spark, {"day": "zz"})
    assert df3.count() == 0 and rep3["files_read"] == 0


def test_read_partitions_rejects_bad_usage(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(_df(spark, [(1, "a", 1)]), committed_at="t1")
    with pytest.raises(ValueError, match="not a partitioned table"):
        t.read_partitions(spark, {"day": "a"})
    t2 = VersionedTable(str(tmp_path / "vt2"))
    t2.write(
        _df(spark, [(1, "a", 1)]), partition_by=("day",), committed_at="t1"
    )
    with pytest.raises(ValueError, match="not partition columns"):
        t2.read_partitions(spark, {"v": 1})


def test_dynamic_partition_overwrite_replaces_only_written(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    rows = [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    t.write(_df(spark, rows), partition_by=("day",), committed_at="t1")
    before = {
        f["path"]: f["partition"]["day"] for f in t.snapshot().files
    }

    t.write(
        _df(spark, [(9, "b", 99)]),
        mode="overwrite_partitions",
        committed_at="t2",
    )
    assert _vals(t.read(spark)) == [(1, "a", 10), (3, "c", 30), (9, "b", 99)]
    # untouched partitions carried by reference: identical file paths
    after = {f["path"]: f["partition"]["day"] for f in t.snapshot().files}
    for p, day in before.items():
        if day in ("a", "c"):
            assert p in after
        else:
            assert p not in after
    # time travel still sees the pre-overwrite state
    assert _vals(t.read(spark, version=1)) == sorted(rows)


def test_partition_spec_is_fixed_and_validated(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(
        _df(spark, [(1, "a", 1)]), partition_by=("day",), committed_at="t1"
    )
    with pytest.raises(ValueError, match="fixed at first write"):
        t.write(
            _df(spark, [(2, "b", 2)]),
            partition_by=("v",),
            committed_at="t2",
        )
    # append without partition_by inherits the spec
    t.write(_df(spark, [(2, "b", 2)]), committed_at="t2")
    assert {f["partition"]["day"] for f in t.snapshot().files} == {"a", "b"}

    t2 = VersionedTable(str(tmp_path / "vt2"))
    with pytest.raises(ValueError, match="requires a partitioned table"):
        t2.write(
            _df(spark, [(1, "a", 1)]),
            mode="overwrite_partitions",
            committed_at="t1",
        )
    with pytest.raises(ValueError, match="need no stats"):
        t2.write(
            _df(spark, [(1, "a", 1)]),
            partition_by=("day",),
            stats_cols=("day",),
            committed_at="t1",
        )


def test_compact_partitioned_one_file_per_partition(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    rows = [(i, "ab"[i % 2], i) for i in range(40)]
    for lo in range(0, 40, 10):
        t.write(
            _df(spark, rows[lo : lo + 10]),
            partition_by=("day",),
            committed_at=f"t{lo}",
        )
    assert len(t.snapshot().files) >= 8
    stats = t.compact(spark, target_file_bytes=1 << 30, committed_at="tc")
    assert stats["compacted"]
    snap = t.snapshot()
    # one file per partition value, spec carried forward by the commit
    assert len(snap.files) == 2
    assert {f["partition"]["day"] for f in snap.files} == {"a", "b"}
    assert snap.extra["partition_spec"]["cols"] == ["day"]
    assert _vals(t.read(spark)) == sorted(rows)


def test_delete_where_on_partition_column(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    rows = [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    t.write(_df(spark, rows), partition_by=("day",), committed_at="t1")
    out = t.delete_where(spark, "day = 'a' AND v > 10", committed_at="t2")
    assert out["rows_matched"] == 1
    got = t.read(spark)
    assert _vals(got) == [(1, "a", 10), (3, "b", 30)]
    # survivors were re-staged under the Hive layout
    assert all("partition" in f for f in t.snapshot().files)


def test_merge_rows_preserves_partition_layout(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    rows = [(1, "a", 10), (2, "b", 20)]
    t.write(_df(spark, rows), partition_by=("day",), committed_at="t1")
    src = _df(spark, [(2, "b", 99), (5, "c", 50)])
    t.merge_rows(spark, src, ["id"], committed_at="t2")
    assert _vals(t.read(spark)) == [(1, "a", 10), (2, "b", 99), (5, "c", 50)]
    assert all("partition" in f for f in t.snapshot().files)
    df, rep = t.read_partitions(spark, {"day": "c"})
    assert _vals(df) == [(5, "c", 50)] and rep["files_skipped"] >= 1


def test_changes_across_partition_overwrite(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(
        _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_by=("day",),
        committed_at="t1",
    )
    t.write(
        _df(spark, [(9, "b", 99)]),
        mode="overwrite_partitions",
        committed_at="t2",
    )
    got = sorted(
        tuple(r) for r in t.changes(spark, v_from=1, v_to=2).collect()
    )
    assert got == [(2, "b", 20, "delete"), (9, "b", 99, "insert")]


def test_constraint_on_partition_column(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(
        _df(spark, [(1, "a", 1)]),
        partition_by=("day",),
        constraints=("day IN ('a', 'b')",),
        committed_at="t1",
    )
    with pytest.raises(ConstraintViolation):
        t.write(_df(spark, [(2, "zz", 2)]), committed_at="t2")
    assert _vals(t.read(spark)) == [(1, "a", 1)]
