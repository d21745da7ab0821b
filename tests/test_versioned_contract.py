"""One contract for every reader of a versioned snapshot: the pruned,
bloom-pruned and partition-pruned reads, the change feed and the
``versioned_py`` source return ``read()``'s columns in ``read()``'s order
and ``read()``'s rows under the same filter. Checked on a partitioned
table with stats and a bloom index, on a variant whose data column was
renamed and whose rows were deleted merge-on-read, and on one whose
text column arrived with a later append; plus the mutation paths that
must keep that table state (stats on merged files, none of them empty, MoR
deletes through a renamed column, NULL-predicate rows)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.pyds import register
from faers_datalakehouse_spark.sources.versioned import VersionedTable

DAY5 = "d = DATE'2024-01-05'"


def _rows(spark, lo: int, hi: int, txt: str = "txt"):
    return spark.range(lo, hi, numPartitions=1).select(
        (F.col("id") % 2).alias("grp"),
        "id",
        F.expr("date_add(DATE'2024-01-01', CAST(id AS INT))").alias("d"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias(txt),
    )


@pytest.fixture(scope="module", params=["plain", "renamed", "evolved"])
def table(request, spark, tmp_path_factory):
    """``(table, text column, version before the last append)``. Plain:
    v1 write ids 0-19, v2 append ids 20-29. Renamed: v1 write, v2
    rename ``txt`` to ``note``, v3 MoR-delete id 3 through the renamed
    column, v4 append ids 20-29 under the new name. Evolved: v1 write
    ids 0-19 without ``txt``, v2 append ids 20-29 with it."""
    root = tmp_path_factory.mktemp(request.param)
    t = VersionedTable(str(root / "t"))
    layout = dict(stats_cols=("id", "d"), partition_by=("grp",))
    if request.param == "evolved":
        t.write(_rows(spark, 0, 20).drop("txt"), **layout)
    else:
        t.write(_rows(spark, 0, 20), bloom_cols=("txt",), **layout)
    txt = "txt"
    if request.param == "renamed":
        txt = "note"
        t.rename_column("txt", txt)
        t.delete_where(spark, f"{txt} = 't3'", mode="mor")
    before = t.current_version()
    t.write(_rows(spark, 20, 30, txt), bloom_cols=(txt,), **layout)
    return t, txt, before


READERS = {
    "read_pruned": (
        lambda spark, t, txt, v: t.read_pruned(spark, "id", 2, 24)[0],
        "id BETWEEN 2 AND 24",
    ),
    "read_pruned_date": (
        lambda spark, t, txt, v: t.read_pruned(
            spark, "d", dt.date(2024, 1, 5)
        )[0],
        DAY5,
    ),
    "read_bloom_pruned": (
        lambda spark, t, txt, v: t.read_bloom_pruned(spark, txt, "t24")[0],
        "id = 24",
    ),
    "read_partitions": (
        lambda spark, t, txt, v: t.read_partitions(spark, {"grp": 1})[0],
        "grp = 1",
    ),
    "changes": (
        lambda spark, t, txt, v: t.changes(spark, v)
        .where("change_type = 'insert'")
        .drop("change_type"),
        "id >= 20",
    ),
}


@pytest.mark.parametrize("reader", sorted(READERS))
def test_every_reader_returns_reads_columns_and_rows(spark, table, reader):
    t, txt, before = table
    read, where = READERS[reader]
    got = read(spark, t, txt, before)
    want = t.read(spark).where(where)
    assert got.columns == want.columns == ["grp", "id", "d", txt]
    rows = sorted(want.collect())
    assert rows and sorted(got.collect()) == rows


def test_versioned_py_matches_read_or_refuses(spark, table):
    t, txt, _ = table
    register(spark)
    load = spark.read.format("versioned_py").option("path", str(t.root))
    if txt == "note":  # tombstoned and column-mapped: refused loudly
        with pytest.raises(Exception, match="tombstones"):
            load.load().collect()
        return
    got = load.load().where(DAY5)
    want = t.read(spark).where(DAY5)
    assert got.columns == want.columns
    rows = want.collect()
    assert len(rows) == 1 and got.collect() == rows


def test_merge_records_stats_on_every_file_it_writes(spark, tmp_path):
    import pyarrow.parquet as pq

    t = VersionedTable(str(tmp_path / "t"))
    t.write(spark.range(40, numPartitions=4), stats_cols=("id",))
    res = t.merge_rows(spark, spark.createDataFrame([(5,)], "id long"), ["id"])
    # the one-row source spans several tasks, and Spark writes a file for
    # the empty first one: that file is not committed
    assert res["files_added"] == 1
    files = t.snapshot().files
    assert all(pq.read_metadata(t.root / f["path"]).num_rows for f in files)
    assert all("id" in f.get("stats", {}) for f in files)
    got, report = t.read_pruned(spark, "id", 5)
    # only files whose recorded range holds 5 are read
    assert report["files_read"] == sum(
        lo <= 5 <= hi for lo, hi in (f["stats"]["id"] for f in files)
    )
    assert report["files_skipped"] >= 3
    assert [r["id"] for r in got.collect()] == [5]


def test_mor_delete_resolves_a_renamed_column(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.write(spark.range(10).select("id", (F.col("id") % 2).alias("grp")))
    t.rename_column("grp", "bucket")
    res = t.delete_where(spark, "bucket = 1", mode="mor")
    assert res["rows_deleted"] == 5
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 2, 4, 6, 8]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_delete_keeps_rows_whose_predicate_is_null(spark, tmp_path, mode):
    t = VersionedTable(str(tmp_path / "t"))
    t.write(
        spark.range(6, numPartitions=1).select(
            "id", F.expr("IF(id % 2 = 0, id, NULL)").alias("v")
        )
    )
    t.delete_where(spark, "v = 2", mode=mode)
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 3, 4, 5]


def test_files_under_escaped_partition_values_keep_stats(spark, tmp_path):
    """A file URI spells some partition directories differently from the
    manifest (a space and a non-ASCII letter are percent-encoded, a
    Hive-escaped ':' is escaped twice): those files still get their
    stats, pruned reads still find their rows, and a copy-on-write
    delete still finds their files."""
    t = VersionedTable(str(tmp_path / "t"))
    grps = F.array(*[F.lit(g) for g in ("a b", "a:b", "é")])
    t.write(
        spark.range(30, numPartitions=1).select(
            F.element_at(grps, (F.col("id") / 10).cast("int") + 1).alias(
                "grp"
            ),
            "id",
        ),
        stats_cols=("id",),
        partition_by=("grp",),
    )
    assert all(f["stats"]["id"][0] is not None for f in t.snapshot().files)
    for v in (5, 15, 25):
        got, report = t.read_pruned(spark, "id", v)
        assert report["files_read"] == 1
        assert [r["id"] for r in got.collect()] == [v]
    t.delete_where(spark, "id IN (5, 15, 25)")
    left = sorted(r["id"] for r in t.read(spark).collect())
    assert left == sorted(set(range(30)) - {5, 15, 25})
