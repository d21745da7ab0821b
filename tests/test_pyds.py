"""Tests: Spark 4 Python DataSource integration for versioned tables."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from faers_datalakehouse_spark.sources.pyds import (
    VersionedDataSource,
    VersionedReader,
    register,
)
from faers_datalakehouse_spark.sources.versioned import VersionedTable


@pytest.fixture()
def vt_root(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="pyds_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    vt = VersionedTable(root)
    vt.write(
        docs.repartitionByRange(8, "doc_id"),
        mode="overwrite",
        stats_cols=("doc_id",),
    )
    yield root, vt
    shutil.rmtree(root, ignore_errors=True)


def test_format_read_equals_library_read(spark, vt_root):
    root, vt = vt_root
    register(spark)
    got = (
        spark.read.format("versioned_py")
        .option("path", root)
        .load()
        .orderBy("doc_id")
        .collect()
    )
    want = vt.read(spark).orderBy("doc_id").collect()
    assert got == want


def test_format_read_time_travel(spark, vt_root):
    root, vt = vt_root
    extra = vt.read(spark).limit(5).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    vt.write(extra, mode="append", stats_cols=("doc_id",))
    register(spark)
    v1 = (
        spark.read.format("versioned_py")
        .option("path", root)
        .option("version", "1")
        .load()
    )
    v2 = spark.read.format("versioned_py").option("path", root).load()
    assert v2.count() == v1.count() + 5


def test_pushdown_prunes_files_and_keeps_rows(spark, vt_root):
    root, vt = vt_root
    register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        df = (
            spark.read.format("versioned_py")
            .option("path", root)
            .load()
            .where((F.col("doc_id") >= 100) & (F.col("doc_id") <= 199))
        )
        want = (
            vt.read(spark)
            .where((F.col("doc_id") >= 100) & (F.col("doc_id") <= 199))
            .orderBy("doc_id")
            .collect()
        )
        assert df.orderBy("doc_id").collect() == want
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_reader_prunes_partitions_directly(spark, vt_root):
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    root, vt = vt_root
    schema = VersionedDataSource({"path": root}).schema()
    reader = VersionedReader(root, schema, {"path": root})
    total = len(reader.partitions())
    assert total == 8
    leftover = reader.pushFilters(
        [
            GreaterThanOrEqual(("doc_id",), 100),
            LessThanOrEqual(("doc_id",), 199),
        ]
    )
    assert len(list(leftover)) == 2  # all filters handed back to Spark
    pruned = len(reader.partitions())
    assert pruned < total  # range-clustered: most files skipped
    assert pruned >= 1


def test_partitioned_table_roundtrip(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="pyds_part_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang"
        )
        vt = VersionedTable(root)
        vt.write(docs, mode="overwrite", partition_by=("lang",))
        register(spark)
        got = (
            spark.read.format("versioned_py")
            .option("path", root)
            .load()
            .orderBy("doc_id")
            .select("doc_id", "lang")
            .collect()
        )
        want = (
            vt.read(spark).orderBy("doc_id").select("doc_id", "lang").collect()
        )
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_refuses_tombstoned_table(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="pyds_mor_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang"
        )
        vt = VersionedTable(root)
        vt.write(docs, mode="overwrite")
        vt.delete_where(spark, "doc_id < 10", mode="mor")
        schema = VersionedDataSource({"path": root}).schema()
        with pytest.raises(ValueError, match="tombstones"):
            VersionedReader(root, schema, {"path": root})
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_writer_append_and_overwrite_roundtrip(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="pyds_w_")
    try:
        register(spark)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang"
        )
        lo = docs.where(F.col("doc_id") < 300)
        hi = docs.where(F.col("doc_id") >= 300)
        (
            lo.write.format("versioned_py")
            .option("stats_cols", "doc_id")
            .mode("append")
            .save(root)
        )
        (
            hi.write.format("versioned_py")
            .option("stats_cols", "doc_id")
            .mode("append")
            .save(root)
        )
        vt = VersionedTable(root)
        assert vt.current_version() == 2
        got = vt.read(spark).orderBy("doc_id").collect()
        want = docs.orderBy("doc_id").collect()
        assert got == want
        # footer-derived stats are present and enable pruning
        snap = vt.snapshot(2)
        stats = [f["stats"]["doc_id"] for f in snap.files if "stats" in f]
        assert stats and all(lo_ <= hi_ for lo_, hi_ in stats)
        # overwrite truncates
        lo.limit(7).write.format("versioned_py").mode("overwrite").save(root)
        assert vt.read(spark).count() == 7
        # the format can read its own commits back
        got2 = (
            spark.read.format("versioned_py").option("path", root).load()
        )
        assert got2.count() == 7
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_writer_date_stats_prune_like_the_library(spark, tmp_path):
    import datetime as dt

    register(spark)
    root = str(tmp_path / "t")
    spark.sql(
        "SELECT id, date_add(DATE'2024-01-01', CAST(id AS INT)) AS d "
        "FROM range(0, 20, 1, 2)"
    ).write.format("versioned_py").option("stats_cols", "d").mode(
        "append"
    ).save(root)
    got, report = VersionedTable(root).read_pruned(
        spark, "d", dt.date(2024, 1, 5)
    )
    assert [r["id"] for r in got.collect()] == [4]
    assert report == {"files_total": 2, "files_read": 1, "files_skipped": 1}


def test_writer_refuses_constrained_table(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="pyds_wc_")
    try:
        register(spark)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang"
        )
        vt = VersionedTable(root)
        vt.write(docs, mode="overwrite", constraints=["doc_id IS NOT NULL"])
        with pytest.raises(Exception, match="CHECK"):
            docs.limit(1).write.format("versioned_py").mode("append").save(
                root
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_reader_tails_snapshots(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="pyds_s_")
    sink = tempfile.mkdtemp(prefix="pyds_sink_")
    try:
        register(spark)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang"
        )
        vt = VersionedTable(root)
        vt.write(docs.where(F.col("doc_id") < 100), mode="overwrite")
        vt.write(
            docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)),
            mode="append",
        )
        q = (
            spark.readStream.format("versioned_py")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", f"{sink}/out")
            .option("checkpointLocation", f"{sink}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        first = spark.read.parquet(f"{sink}/out").count()
        assert first == docs.where(F.col("doc_id") < 200).count()
        # a later append streams ONLY the new files on restart
        vt.write(
            docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 250)),
            mode="append",
        )
        q2 = (
            spark.readStream.format("versioned_py")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", f"{sink}/out")
            .option("checkpointLocation", f"{sink}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        total = spark.read.parquet(f"{sink}/out").count()
        assert total == docs.where(F.col("doc_id") < 250).count()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_stream_reader_fails_on_rewrite_unless_opted_in(spark, sf_dir):
    from faers_datalakehouse_spark.sources.pyds import VersionedStreamReader

    root = tempfile.mkdtemp(prefix="pyds_sr_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang"
        )
        vt = VersionedTable(root)
        vt.write(docs.repartition(4), mode="overwrite")
        vt.write(docs.limit(5), mode="append")
        vt.compact(spark)  # rewrites earlier files
        schema = VersionedDataSource({"path": root}).schema()
        rd = VersionedStreamReader(root, schema, {"path": root})
        latest = rd.latestOffset()["version"]
        with pytest.raises(ValueError, match="rewritten"):
            rd.partitions({"version": 1}, {"version": latest})
        rd2 = VersionedStreamReader(
            root, schema, {"path": root, "ignore_changes": "true"}
        )
        assert rd2.partitions({"version": 1}, {"version": latest})
    finally:
        shutil.rmtree(root, ignore_errors=True)
